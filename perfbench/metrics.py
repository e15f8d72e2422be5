"""Turn one benchmark run's raw samples into metrics.

Pure functions over the results file the JVM side writes (ops, spans,
Spark job and stage records); no Spark, no I/O. `run.py` calls
`end_to_end` and `per_layer`.
"""
import math
import statistics

PERCENTILES = (50, 75, 90, 95, 99, 99.9)

# op kinds per workload, in cycle order
CYCLE_KINDS = {
    "etl_ticks": ("append_tick", "update_tick"),
    "crawl_lifecycle": ("crawl_tick", "takedown_tick", "domain_takedown_tick",
                        "maintenance_tick", "query_pass"),
}

PIPELINE_STEPS = ("tick_cdx", "tick_delta", "tick_ingest", "tick_filter", "tick_publish",
                  "tick_promote", "take_stage", "take_release", "take_indexes", "take_clear",
                  "maint_rebuild_mh", "maint_compact")
FAMILIES = ("relational", "operators", "graph")


# ---- statistics ------------------------------------------------------------------
def median(xs):
    return statistics.median(xs) if xs else None


def quantile(xs, p):
    """Linear-interpolated quantile, p in [0, 100]."""
    s = sorted(xs)
    if not s:
        return None
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(xs, min_beyond=10):
    """The highest of PERCENTILES with at least `min_beyond` samples strictly
    above its value, as (p, value); None when even p50 has fewer."""
    best = None
    for p in PERCENTILES:
        v = quantile(xs, p)
        if v is not None and sum(1 for x in xs if x > v) >= min_beyond:
            best = (p, v)
    return best


def summary(xs):
    tp = tail_percentile(xs)
    return {"n": len(xs), "p50": median(xs),
            "tail_p": tp[0] if tp else None, "tail_value": tp[1] if tp else None}


def geomean(xs):
    xs = [x for x in xs if x and x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else None


# ---- intervals and spans ---------------------------------------------------------
def covered(intervals, lo, hi):
    """Length of the part of [lo, hi] that the union of `intervals` covers."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Span:
    __slots__ = ("id", "parent", "op", "name", "tag", "start", "end", "children")

    def __init__(self, row):
        self.id, self.parent, self.op, self.name, self.tag, self.start, self.end = row
        self.children = []

    @property
    def dur_s(self):
        return (self.end - self.start) / 1e6


def build_spans(rows):
    spans = {r[0]: Span(r) for r in rows}
    for s in spans.values():
        if s.parent in spans:
            spans[s.parent].children.append(s)
    return spans


def self_time_s(span):
    """Span duration minus the part of it its child spans cover."""
    return (span.end - span.start - covered([(c.start, c.end) for c in span.children],
                                            span.start, span.end)) / 1e6


# ---- per-layer metrics -------------------------------------------------------------
def per_layer(res):
    """Per-layer metrics of a traced run, each normalised to one workload
    cycle (one append+update pair, one crawl cycle): the mean over traced
    ops of each kind, summed over the cycle's kinds."""
    spans = build_spans(res["spans"])
    roots = sorted((s for s in spans.values() if s.parent == 0 and s.name.startswith("op.")),
                   key=lambda s: s.start)
    kinds = {}
    for s in roots:
        kinds.setdefault(s.name[3:], []).append(s.id)
    # weight of each traced op in "per cycle" units
    weight = {oid: 1.0 / len(ids) for ids in kinds.values() for oid in ids}
    by_op = {}
    for s in spans.values():
        by_op.setdefault(s.op, []).append(s)

    def per_cycle(f):
        return sum(weight[oid] * f(oid) for oid in weight)

    def busy(pred):
        return per_cycle(lambda oid: sum(s.dur_s for s in by_op.get(oid, ()) if pred(s)))

    def calls(pred):
        return per_cycle(lambda oid: sum(1 for s in by_op.get(oid, ()) if pred(s)))

    # Spark: jobs charged to the span that submitted them; stages to their first job
    jobs = [j for j in res["jobs"] if j[1] in spans and spans[j[1]].op in weight]
    job_op = {j[0]: spans[j[1]].op for j in jobs}
    stages = [s for s in res["stages"] if s[2] in job_op]

    def jsum(f):
        acc = dict.fromkeys(weight, 0.0)
        for j in jobs:
            acc[job_op[j[0]]] += f(j)
        return per_cycle(lambda oid: acc[oid])

    def ssum(f):
        acc = dict.fromkeys(weight, 0.0)
        for s in stages:
            acc[job_op[s[2]]] += f(s)
        return per_cycle(lambda oid: acc[oid])

    def gap(oid):
        root = spans[oid]
        iv = [(j[2], j[3] if j[3] > 0 else root.end) for j in jobs if job_op[j[0]] == oid]
        return (root.end - root.start - covered(iv, root.start, root.end)) / 1e6

    cores = res.get("cores") or 1
    op_wall = per_cycle(lambda oid: spans[oid].dur_s)
    m = {}
    m["spark.jobs"] = jsum(lambda j: 1)
    m["spark.stages"] = ssum(lambda s: 1)
    m["spark.tasks"] = ssum(lambda s: s[3])
    m["spark.single_task_stages"] = ssum(lambda s: 1 if s[3] == 1 else 0)
    m["spark.executor_run_s"] = ssum(lambda s: s[4] / 1e3)
    m["spark.executor_cpu_s"] = ssum(lambda s: s[5] / 1e9)
    m["spark.core_use"] = m["spark.executor_run_s"] / (op_wall * cores) if op_wall else 0.0
    m["spark.driver_gap_s"] = per_cycle(gap)
    m["spark.shuffle_write_bytes"] = ssum(lambda s: s[6])
    m["spark.shuffle_read_bytes"] = ssum(lambda s: s[7])
    m["spark.shuffle_read_per_write"] = (m["spark.shuffle_read_bytes"] / m["spark.shuffle_write_bytes"]
                                         if m["spark.shuffle_write_bytes"] else 0.0)
    m["spark.spill_bytes"] = ssum(lambda s: s[8])
    m["spark.input_bytes"] = ssum(lambda s: s[9])
    m["spark.output_bytes"] = ssum(lambda s: s[10])
    m["spark.task_failures"] = ssum(lambda s: s[12])

    src = lambda meth: (lambda s: s.name == f"sources.{meth}")
    m["sources.upsert.calls"] = calls(src("upsert"))
    m["sources.upsert.busy_s"] = busy(src("upsert"))
    m["sources.write.busy_s"] = busy(src("write"))
    m["sources.watermark.busy_s"] = busy(src("watermark"))
    m["sources.count.busy_s"] = busy(src("count"))
    m["sources.jdbc.busy_s"] = busy(lambda s: s.name.startswith("sources.") and s.tag == "jdbc")
    # per-op extras are keyed by the op's index in res["ops"]; traced ops
    # and root spans pair up in start order
    per_op = {p["op"]: p for p in res.get("per_op", []) if "op" in p}
    traced_idx = [i for i, o in enumerate(res["ops"]) if o["traced"]]
    op_index = {s.id: i for s, i in zip(roots, traced_idx)}
    extra_of = lambda oid, k: per_op.get(op_index.get(oid), {}).get(k, 0)
    m["sources.bytes_written"] = per_cycle(lambda oid: extra_of(oid, "bytes_written"))
    delta = per_cycle(lambda oid: extra_of(oid, "delta_bytes"))
    m["sources.write_amp"] = m["sources.bytes_written"] / delta if delta else 0.0
    m["sources.live_files"] = res["extra"].get("live_files", 0)

    for name in ("incremental_pipe", "incremental_pipe_part", "incremental_import",
                 "incremental_aggregate"):
        m[f"patterns.{name}.busy_s"] = busy(lambda s, n=name: s.name == f"patterns.{n}")
    m["patterns.self_s"] = per_cycle(lambda oid: sum(
        self_time_s(s) for s in by_op.get(oid, ()) if s.name.startswith("patterns.")))

    m["plans.run.busy_s"] = busy(lambda s: s.name == "plans.run")
    m["plans.overhead_s"] = per_cycle(lambda oid: sum(
        self_time_s(s) for s in by_op.get(oid, ()) if s.name == "plans.run"))
    m["plans.sql_script.busy_s"] = busy(lambda s: s.name == "plans.sql_script")

    m["streaming.tick.busy_s"] = busy(lambda s: s.name == "streaming.tick")
    m["streaming.batches"] = per_cycle(lambda oid: extra_of(oid, "stream_batches"))

    m["entry.build_s"] = busy(lambda s: s.name == "entry.build")
    m["entry.plan_s"] = busy(lambda s: s.name == "entry.plan")
    for fam in FAMILIES:
        m[f"entry.exec_s.{fam}"] = busy(lambda s, f=fam: s.name == f"entry.exec.{f}")

    for step in PIPELINE_STEPS:
        m[f"pipelines.step.{step}.busy_s"] = busy(
            lambda s, n=step: s.name == f"pipelines.step.{n}")
    for leg, leg_kinds in (("crawl", ("crawl_tick",)),
                           ("takedown", ("takedown_tick", "domain_takedown_tick")),
                           ("maintenance", ("maintenance_tick",))):
        ids = {oid for k in leg_kinds for oid in kinds.get(k, ())}
        n = sum(1 for j in jobs if job_op[j[0]] in ids)
        m[f"pipelines.{leg}.jobs"] = n / len(ids) if ids else 0.0
    m["pipelines.index_bytes"] = res["extra"].get("index_bytes", 0)

    # tracing overhead: traced minus untraced per-kind medians, over one cycle
    tr, un = {}, {}
    for o in res["ops"]:
        if o["ok"]:
            (tr if o["traced"] else un).setdefault(o["kind"], []).append(o["seconds"])
    both = [k for k in tr if k in un]
    t_sum = sum(median(tr[k]) for k in both)
    u_sum = sum(median(un[k]) for k in both)
    m["trace.cycle_s"] = op_wall
    m["trace.overhead_s"] = t_sum - u_sum
    m["trace.overhead_ratio"] = t_sum / u_sum - 1.0 if u_sum else 0.0
    return m


def spark_by_span(res):
    """Jobs, tasks and executor time per span name, for the artifact."""
    spans = build_spans(res["spans"])
    job_name = {j[0]: spans[j[1]].name if j[1] in spans else "(none)" for j in res["jobs"]}
    out = {}
    for j in res["jobs"]:
        out.setdefault(job_name[j[0]], {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0})["jobs"] += 1
    for s in res["stages"]:
        row = out.setdefault(job_name.get(s[2], "(none)"), {"jobs": 0, "stages": 0, "tasks": 0,
                                                           "run_s": 0.0})
        row["stages"] += 1
        row["tasks"] += s[3]
        row["run_s"] += s[4] / 1e3
    return out


def self_time_by_span(res):
    """Summed self time per span name over traced ops, for the artifact."""
    spans = build_spans(res["spans"])
    out = {}
    for s in spans.values():
        out[s.name] = out.get(s.name, 0.0) + self_time_s(s)
    return out


# ---- end-to-end metrics ---------------------------------------------------------------
def op_samples(res, traced=False):
    by = {}
    for o in res["ops"]:
        if o["ok"] and o["traced"] == traced:
            by.setdefault(o["kind"], []).append(o["seconds"])
    return by


def end_to_end(res, workload, setup_s):
    """Workload metrics (named as in README.md) from the untraced ops."""
    by = op_samples(res)
    ok_ops = [o for o in res["ops"] if o["ok"] and not o["traced"]]
    m = {"setup_s": setup_s, "peak_rss_mb": res["peak_rss_mb"]}
    kinds = CYCLE_KINDS[workload]
    p50 = {k: median(by.get(k, [])) for k in kinds}
    for k in kinds:
        m[f"{k}_p50_s"] = p50[k]
    m["cycle_p50_s"] = sum(v for v in p50.values() if v)
    m["op_geomean_s"] = geomean(p50.values())
    # items: delta rows merged (etl) or delta pages crawled, per second of those ticks
    items_ops = [o for o in ok_ops if o["kind"] in kinds[:1 if workload == "crawl_lifecycle" else 2]]
    busy = sum(o["seconds"] for o in items_ops)
    m["items_per_s"] = sum(o["items"] for o in items_ops) / busy if busy else None
    if workload == "etl_ticks":
        m["etl_rows_per_s"] = m["items_per_s"]
        ex = res["extra"]
        m["stored_bytes_per_row"] = ex["stored_bytes"] / ex["live_rows"]
    else:
        m["crawl_docs_per_s"] = m["items_per_s"]
        m["query_geomean_s"] = geomean(median(v) for k, v in by_query(res).items())
    return m


def by_query(res):
    """Untraced per-query latencies of crawl_lifecycle's query passes (the
    entry.exec spans are only kept in traced runs, so this reads the pass
    records the JVM side writes)."""
    out = {}
    for p in res.get("per_op", []):
        for q, secs in p.get("query_s", {}).items():
            if not p.get("traced"):
                out.setdefault(q, []).append(secs)
    return out
