"""graft benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload etl_ticks --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The command builds graft and the
benchmark's JVM side (perfbench/build.py, cached in .bench_build), generates the
workload's inputs from the seed (perfbench/gen.py), runs the workload on
local[N] with N = the CPUs this process may use, checks every output, and
prints each metric by name and unit. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The
full artifact (every sample and the run's evidence) goes to
.bench_build/artifacts/. Exit code 0 only when every op and check passed.
See perfbench/README.md for the workloads and the metric glossary.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("etl_ticks", "crawl_lifecycle")
JVM_TIMEOUT_S = 165     # the whole command must end within 180 s

# the metrics the last JSON line carries (BENCHMARK.json), with units
E2E = {"setup_s": "s", "cycle_p50_s": "s", "op_geomean_s": "s", "items_per_s": "1/s",
       "peak_rss_mb": "MB"}
# every workload metric of the artifact, with units
E2E_ALL = dict(E2E, **{
    "failed_ratio": "ratio", "append_tick_p50_s": "s", "update_tick_p50_s": "s",
    "etl_rows_per_s": "rows/s", "stored_bytes_per_row": "B/row", "crawl_tick_p50_s": "s",
    "takedown_tick_p50_s": "s", "domain_takedown_tick_p50_s": "s",
    "maintenance_tick_p50_s": "s", "query_pass_p50_s": "s",
    "query_geomean_s": "s", "crawl_docs_per_s": "docs/s"})


def layer_units(name):
    if name.endswith("_s") or "_s." in name:
        return "s"
    if "bytes" in name:
        return "B"
    if name in ("spark.core_use", "spark.shuffle_read_per_write", "sources.write_amp",
                "trace.overhead_ratio"):
        return "ratio"
    return "count"


PER_LAYER = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.single_task_stages",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.core_use", "spark.driver_gap_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.shuffle_read_per_write",
    "spark.spill_bytes", "spark.input_bytes", "spark.output_bytes", "spark.task_failures",
    "sources.upsert.calls", "sources.upsert.busy_s", "sources.write.busy_s",
    "sources.watermark.busy_s", "sources.count.busy_s", "sources.jdbc.busy_s",
    "sources.bytes_written", "sources.write_amp", "sources.live_files",
    "patterns.incremental_pipe.busy_s", "patterns.incremental_pipe_part.busy_s",
    "patterns.incremental_import.busy_s", "patterns.incremental_aggregate.busy_s",
    "patterns.self_s", "plans.run.busy_s", "plans.overhead_s", "plans.sql_script.busy_s",
    "streaming.tick.busy_s", "streaming.batches", "entry.build_s", "entry.plan_s",
    "entry.exec_s.relational", "entry.exec_s.operators", "entry.exec_s.graph"] + [
    f"pipelines.step.{s}.busy_s" for s in metrics.PIPELINE_STEPS] + [
    "pipelines.crawl.jobs", "pipelines.takedown.jobs", "pipelines.maintenance.jobs",
    "pipelines.index_bytes", "trace.cycle_s", "trace.overhead_s", "trace.overhead_ratio"]


def proc_stat():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v  # user nice system idle iowait irq softirq steal ...


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def du(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def jvm_cmd(classes, ws, args, cores):
    jars = os.path.join(build.spark_jars(), "*")
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    # C1 only: every run is one short-lived process, where tiered C2
    # compilation competes with the N task threads for the N cores. A fixed
    # heap keeps peak RSS independent of when the heap happens to grow; no
    # perf-data file, so nothing is written outside the checkout.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={ws}/tmp", f"-Dderby.system.home={ws}/derby-home",
           f"-Dderby.stream.error.file={ws}/derby.log",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}", "graftbench.Main",
            "--workload", args.workload, "--in", f"{ws}/in", "--work", f"{ws}/work",
            "--out", f"{ws}/results.json", "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores)]
    return cmd


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    out = os.path.join(root, ".bench_build")
    classes = build.build(root, out)      # exits nonzero when the program is missing
    cores = cpu_count()
    ws = os.path.join(out, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(ws, ignore_errors=True)
    for d in ("in", "work", "tmp", "derby-home"):
        os.makedirs(os.path.join(ws, d))
    try:
        t0 = time.time()
        manifest = gen.generate(args.workload, args.seed, os.path.join(ws, "in"))
        gen_s = time.time() - t0

        load_pre, stat_pre = loadavg(), proc_stat()
        budget = JVM_TIMEOUT_S - (time.time() - t_start)
        with open(os.path.join(ws, "jvm.log"), "w") as log:
            p = subprocess.Popen(jvm_cmd(classes, ws, args, cores), stdout=log,
                                 stderr=subprocess.STDOUT, cwd=ws)
            try:
                rc = p.wait(timeout=budget)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise SystemExit(f"perfbench: the workload ran past {JVM_TIMEOUT_S}s")
        load_post, stat_post = loadavg(), proc_stat()
        if rc != 0 or not os.path.exists(os.path.join(ws, "results.json")):
            with open(os.path.join(ws, "jvm.log")) as f:
                sys.stderr.write(f.read()[-8000:])
            raise SystemExit(f"perfbench: the benchmark JVM failed ({rc})")
        with open(os.path.join(ws, "results.json")) as f:
            res = json.load(f)
        res["cores"] = cores

        # ---- checks: JVM-side ones plus the DuckDB ones
        check_rows = [(c["name"], c["ok"], c["detail"], c["op_kinds"]) for c in res["checks"]]
        if "dest_dirs" in res["extra"]:
            for name, (ok, detail) in checks.etl_destinations(
                    os.path.join(ws, "in"), res["extra"]["dest_dirs"],
                    res["extra"]["ticks_run"]).items():
                check_rows.append((name, ok, detail, ["append_tick", "update_tick"]))
        if "results_dir" in res["extra"]:
            for q, (ok, detail) in checks.query_oracles(
                    res["extra"]["tables_dir"], res["extra"]["results_dir"],
                    [q["name"] for q in manifest["queries"]]).items():
                check_rows.append((f"oracle_{q}", ok, detail, ["query_pass"]))
        bad_kinds = {k for _, ok, _, kinds in check_rows if not ok for k in kinds}
        attempted = len(res["ops"])
        failed = sum(1 for o in res["ops"] if not o["ok"] or o["kind"] in bad_kinds)
        correct = failed == 0 and all(ok for _, ok, _, _ in check_rows)

        # ---- metrics
        e2e = metrics.end_to_end(res, args.workload, res["setup_s"])
        e2e["failed_ratio"] = failed / attempted
        layer = metrics.per_layer(res) if args.trace else {}
        d = [a - b for a, b in zip(stat_post, stat_pre)]
        total = sum(d) or 1
        samples = {}
        for o in res["ops"]:
            if o["ok"]:
                samples.setdefault((o["kind"], o["traced"]), []).append(o["seconds"])
        artifact = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "master": res["master"],
            "default_parallelism": res["default_parallelism"], "host_cpus": os.cpu_count(),
            "inputs": {"bytes": du(os.path.join(ws, "in")), "gen_s": gen_s,
                       "manifest": {k: v for k, v in manifest.items() if k != "queries"}},
            "load_1m_before": load_pre, "load_1m_after": load_post,
            "steal_share": d[7] / total if len(d) > 7 else None,
            "sys_share": (d[2] + d[5] + d[6]) / total,
            "session_s": res["session_s"], "loop_s": res["loop_s"],
            "ops": {f"{k}{' (traced)' if tr else ''}": metrics.summary(v)
                    for (k, tr), v in sorted(samples.items())},
            "op_log": [[o["kind"], o["seconds"], o["traced"], o["ok"]] for o in res["ops"]],
            "op_errors": [o for o in res["ops"] if not o["ok"]],
            "checks": [{"name": n, "ok": ok, "detail": det} for n, ok, det, _ in check_rows],
            "attempted": attempted, "failed": failed,
            "end_to_end": {k: {"value": v, "unit": E2E_ALL[k]} for k, v in e2e.items()},
            "per_layer": {k: {"value": layer[k], "unit": layer_units(k)} for k in PER_LAYER}
            if args.trace else {},
            "extra": res["extra"], "per_op": res["per_op"],
        }
        if args.trace:
            artifact["spark_by_span"] = metrics.spark_by_span(res)
            artifact["self_time_by_span_s"] = metrics.self_time_by_span(res)
        os.makedirs(os.path.join(out, "artifacts"), exist_ok=True)
        art_path = os.path.join(out, "artifacts", f"{args.workload}-s{args.seed}-t{args.trace}.json")
        with open(art_path, "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True, default=str)

        # ---- report
        for n, ok, det, _ in check_rows:
            if not ok:
                print(f"CHECK FAILED {n}: {det}")
        for o in artifact["op_errors"]:
            print(f"OP FAILED {o['kind']}: {o['err']}")
        shown = artifact["per_layer"] if args.trace else artifact["end_to_end"]
        for k, v in shown.items():
            print(f"metric {k} {v['value']} {v['unit']}")
        print(f"artifact {os.path.relpath(art_path, root)}")
        units = {k: layer_units(k) for k in PER_LAYER} if args.trace else E2E
        src = layer if args.trace else e2e
        result = {"correct": correct, "attempted": attempted, "failed": failed,
                  "metrics": {k: {"value": src[k], "unit": u} for k, u in units.items()}}
        print(json.dumps(result))
        return 0 if correct else 1
    finally:
        shutil.rmtree(ws, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
