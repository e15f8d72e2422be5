"""Seeded input generator for the graft benchmark.

Every input a workload reads is produced here from `--seed`: the same seed
gives byte-identical files, a different seed gives different ones. The
program under test never sees anything else.

    python3 perfbench/gen.py --workload etl_ticks --seed 7 --out /tmp/in
"""
import argparse
import datetime as dt
import gzip
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes -----------------------------------------------------------------
# etl_ticks: a 50k-row, 30-day events table and its ticks.
ETL_EVENTS = 50_000
ETL_USERS = 1_500
ETL_DAYS = 30
ETL_DELTA_ROWS = 2_000
ETL_MAX_TICKS = 8
# crawl_lifecycle: 2,000 documents become the pages of generation 0.
CRAWL_DOCS = 2_000
CRAWL_MAX_GENS = 4
CRAWL_SITES = 97
CRAWL_FILES = 8
# crawl_lifecycle's query pass: SparkEntry queries, one per family, over
# small TPC-H-ish tables (lineitem 30k rows), a 5k-row events table and 500
# documents
REPORT_SF = 0.005
REPORT_DOCS = 500
REPORT_QUERIES = (("q_sessionize", "relational"), ("q_quality", "operators"),
                  ("q_kcore", "graph"))

EPOCH0 = dt.datetime(2024, 1, 1)
TICK0 = dt.datetime(2024, 2, 1)      # first delta tick; base rows predate it

CONTENT = ("spark window merge table column vector stream value data small "
           "join filter big group hash customer sort order slow line part "
           "fast row agg key query scan batch index page crawl release").split()
STOPWORDS = {
    "en": "the and of to in is that it for was with are this they".split(),
    "de": "der die und das ist nicht von sie mit ein eine auf den dem zu".split(),
    "fr": "le la les de des et est une dans que pour qui sur pas au".split(),
    "es": "el la los las de que y en un una es por con para del".split(),
    "zh": [],
}
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def rng_for(seed, stream):
    """Independent, reproducible stream per input family."""
    return np.random.Generator(np.random.PCG64([int(seed), stream]))


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # fixed writer settings: identical data -> identical bytes
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def ts_array(micros):
    return pa.array(np.asarray(micros, dtype="int64"), type=pa.timestamp("us"))


def micros(d):
    return int((d - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)


# ---- TPC-H-ish tables --------------------------------------------------------
def tpch(out, seed, sf, which):
    r = rng_for(seed, 1)
    n_cust, n_ord, n_line = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[r.integers(0, 5, n_cust)]})
    d0, d1 = micros(dt.datetime(1995, 1, 1)), micros(dt.datetime(2001, 8, 1))
    day = 86_400_000_000
    odates = d0 + r.integers(0, (d1 - d0) // day + 1, n_ord) * day
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": ts_array(odates),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[r.integers(0, 5, n_ord)]})
    okeys = r.integers(0, n_ord, n_line)
    qty = r.integers(1, 51, n_line).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(r.integers(0, int(200_000 * sf), n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, int(10_000 * sf), n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(r.uniform(900, 105_000, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": ts_array(odates[okeys] + r.integers(1, 122, n_line) * day)})
    for name in which:
        write(t[name], os.path.join(out, f"{name}.parquet"))


def events_table(seed, n, users, stream=2):
    """`events` rows: ids 0..n-1, ts spread over 30 days from 2024-01-01."""
    r = rng_for(seed, stream)
    span = ETL_DAYS * 86_400_000_000
    ts = np.sort(micros(EPOCH0) + r.integers(0, span, n))
    return {
        "event_id": np.arange(n, dtype="int64"),
        "ts": ts,
        "user_id": r.integers(0, users, n).astype("int64"),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[r.integers(0, 5, n)],
        "value": np.round(r.exponential(40.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    }


def events_arrow(cols, with_updated=False):
    t = {
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": ts_array(cols["ts"]),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    }
    if with_updated:
        upd = np.asarray(cols["updated_at"], dtype="int64")
        t["updated_at"] = ts_array(upd)
        # the rollup's group key: the UTC day of the change
        t["change_day"] = pa.array(upd.astype("datetime64[us]").astype("datetime64[D]")
                                   .astype(str), pa.string())
    return pa.table(t)


# ---- documents ----------------------------------------------------------------
def doc_text(r, lang, n_words):
    sw = STOPWORDS[lang]
    words = []
    for _ in range(n_words):
        if sw and r.random() < 0.4:
            words.append(sw[r.integers(0, len(sw))])
        else:
            words.append(CONTENT[r.integers(0, len(CONTENT))])
    return " ".join(words)


def documents(seed, n, stream=3):
    """Word-bag documents in five languages ('zh' carries no stopwords, so
    the language gate rejects it), with a few planted exact duplicates."""
    r = rng_for(seed, stream)
    langs, texts = [], []
    for i in range(n):
        lang = LANGS[r.integers(0, len(LANGS))]
        langs.append(lang)
        texts.append(doc_text(r, lang, int(r.integers(12, 96))))
    for i in r.choice(n, size=max(1, n // 500), replace=False):
        texts[i] = texts[(i + 1) % n]   # exact duplicate of the next doc
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def documents_arrow(d):
    return pa.table({"doc_id": pa.array(d["doc_id"], pa.int64()),
                     "text": pa.array(d["text"], pa.string()),
                     "lang": pa.array(d["lang"], pa.string()),
                     "source": pa.array(d["source"], pa.string()),
                     "n_chars": pa.array(d["n_chars"], pa.int64())})


# ---- workloads --------------------------------------------------------------------
def gen_etl(out, seed):
    tpch(out=os.path.join(out, "tables"), seed=seed, sf=0.01, which=["customer", "orders"])
    base = events_table(seed, ETL_EVENTS, ETL_USERS)
    base["updated_at"] = base["ts"].copy()      # created at event time
    write(events_arrow(base, True), os.path.join(out, "events_base.parquet"))
    r = rng_for(seed, 6)
    # each key's current event time and user: updates keep them
    cur_ts = dict(zip(base["event_id"].tolist(), base["ts"].tolist()))
    cur_user = dict(zip(base["event_id"].tolist(), base["user_id"].tolist()))
    tail_ts = int(base["ts"].max())
    manifest = []
    for k in range(ETL_MAX_TICKS):
        kind = "append" if k % 2 == 0 else "update"
        n = ETL_DELTA_ROWS
        if kind == "append":
            # new keys at the tail: event times just past the current max
            ids = np.arange(len(cur_ts), len(cur_ts) + n, dtype="int64")
            ts = tail_ts + np.sort(r.integers(1, 3_600_000_000, n))
            tail_ts = int(ts.max())
            users = r.integers(0, ETL_USERS, n)
            cur_ts.update(zip(ids.tolist(), ts.tolist()))
            cur_user.update(zip(ids.tolist(), users.tolist()))
        else:
            # existing keys scattered over all 30 days move past the watermark
            ids = np.sort(r.choice(len(cur_ts), size=n, replace=False)).astype("int64")
            ts = np.array([cur_ts[i] for i in ids], dtype="int64")
            users = np.array([cur_user[i] for i in ids], dtype="int64")
        cols = {
            "event_id": ids,
            "ts": ts,
            "user_id": users,
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[r.integers(0, 5, n)],
            "value": np.round(r.exponential(40.0, n), 2),
            "props": np.array([f'{{"k": {v}}}' for v in r.integers(0, 100, n)]),
            "updated_at": micros(TICK0) + k * 3_600_000_000 + np.arange(n, dtype="int64") * 1_000,
        }
        path = os.path.join(out, "deltas", f"tick_{k:04d}.parquet")
        write(events_arrow(cols, True), path)
        manifest.append({"tick": k, "kind": kind, "rows": n, "bytes": os.path.getsize(path),
                         "since_us": int(cols["updated_at"][0])})
    return {"ticks": manifest}


# ---- WARC pages ----------------------------------------------------------------------
def html_page(url, title, text):
    return (f"<html><head><title>{title}</title></head><body><h1>{title}</h1>"
            f"<p>{text}</p><!-- {url} --></body></html>")


def warc_record(kind, uri, body):
    head = f"WARC/1.0\r\nWARC-Type: {kind}\r\n"
    if uri:
        head += f"WARC-Target-URI: {uri}\r\n"
    head += f"Content-Length: {len(body)}\r\n\r\n"
    return head.encode("ascii") + body + b"\r\n\r\n"


def write_warc(path, pages, gzip_members):
    recs = [warc_record("warcinfo", None, b"software: graft-perfbench\r\n")]
    for url, html in pages:
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
        recs.append(warc_record("response", url, http + html.encode("utf-8")))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        for rec in recs:
            # per-record gzip members, the .warc.gz convention; mtime=0 keeps bytes stable
            f.write(gzip.compress(rec, mtime=0) if gzip_members else rec)


def gen_crawl(out, seed):
    docs = documents(seed, CRAWL_DOCS)
    write(documents_arrow(docs), os.path.join(out, "documents.parquet"))
    tables = os.path.join(out, "tables")
    tpch(out=tables, seed=seed, sf=REPORT_SF, which=["orders", "lineitem"])
    write(events_arrow(events_table(seed, int(1_000_000 * REPORT_SF), int(15_000 * REPORT_SF))),
          os.path.join(tables, "events.parquet"))
    write(documents_arrow(documents(seed, REPORT_DOCS, stream=8)),
          os.path.join(tables, "documents.parquet"))
    r = rng_for(seed, 7)
    # page key -> (url, text); every documents row is one page of generation 0
    pages = {}
    for i in range(CRAWL_DOCS):
        site = i % CRAWL_SITES
        pages[i] = (f"http://site{site:02d}.example.org/p/{i}", docs["text"][i], docs["lang"][i])
    next_key = CRAWL_DOCS
    gens = []
    for g in range(CRAWL_MAX_GENS):
        stats = {"gen": g, "changed": 0, "added": 0, "near_dup": 0, "exact_dup": 0, "gone": 0}
        if g > 0:
            keys = sorted(pages)
            # a seeded share of pages is rewritten (a changed page, not a near-dup)
            for k in r.choice(keys, size=len(keys) * 3 // 100, replace=False):
                url, _, lang = pages[k]
                pages[k] = (url, doc_text(r, lang, int(r.integers(30, 96))), lang)
                stats["changed"] += 1
            for k in r.choice(keys, size=len(keys) // 200, replace=False):
                if k in pages:
                    del pages[k]
                    stats["gone"] += 1
            keys = sorted(pages)
            for _ in range(len(keys) // 100):                     # fresh pages
                lang = LANGS[r.integers(0, len(LANGS))]
                pages[next_key] = (f"http://site{next_key % CRAWL_SITES:02d}.example.org/p/{next_key}",
                                   doc_text(r, lang, int(r.integers(30, 96))), lang)
                next_key += 1
                stats["added"] += 1
            long_keys = [k for k in keys if pages[k][1].count(" ") >= 40]
            for _ in range(len(keys) // 100):                     # near-duplicates
                # one word changed in a 40+ word page keeps its MinHash
                # Jaccard estimate above the 0.7 threshold
                src = pages[long_keys[r.integers(0, len(long_keys))]]
                words = src[1].split(" ")
                words[int(r.integers(0, len(words)))] = "crawl"
                pages[next_key] = (f"http://mirror{next_key % 7}.example.net/c/{next_key}",
                                   " ".join(words), src[2])
                next_key += 1
                stats["near_dup"] += 1
            for _ in range(len(keys) // 400):                     # exact duplicates
                src = pages[keys[r.integers(0, len(keys))]]
                pages[next_key] = (f"http://mirror{next_key % 7}.example.net/x/{next_key}",
                                   src[1], src[2])
                next_key += 1
                stats["exact_dup"] += 1
        keys = sorted(pages)
        shards = [[] for _ in range(CRAWL_FILES)]
        for k in keys:
            url, text, _ = pages[k]
            shards[k % CRAWL_FILES].append((url, html_page(url, f"page {k}", text)))
        for j, shard in enumerate(shards):
            name = f"part-{j:02d}.warc" + (".gz" if j % 2 == 0 else "")
            write_warc(os.path.join(out, "warc", f"gen_{g:04d}", name), shard, j % 2 == 0)
        stats["pages"] = len(keys)
        gens.append(stats)
    # takedown notices, two per cycle: 25 doc ids (as positions in the
    # sorted release) and one site's domain
    notices = [{"cycle": c, "positions": [float(x) for x in np.round(r.random(25), 6)],
                "domain": f"site{int(r.integers(0, CRAWL_SITES)):02d}.example.org"}
               for c in range(CRAWL_MAX_GENS)]
    r = rng_for(seed, 5)
    return {"generations": gens, "notices": notices,
            "order_seed": int(r.integers(0, 2**31 - 1)),
            "queries": [{"name": q, "family": f} for q, f in REPORT_QUERIES]}


GENERATORS = {"etl_ticks": gen_etl, "crawl_lifecycle": gen_crawl}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    meta = GENERATORS[workload](out, seed)
    meta.update({"workload": workload, "seed": int(seed)})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
