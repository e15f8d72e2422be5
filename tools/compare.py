#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Reads verify output dir (per-query parquet + oracle_sql.json), runs each
oracle against DuckDB over the same sf tables, and compares values
column-name-sorted, row-sorted, with EXACT equality (the driver hashes).
"""
import duckdb, json, sys, math

sfdir = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
outdir = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_out'

con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")

import os
oracles = json.load(open(f'{outdir}/oracle_sql.json'))
# graft.Verify's manifest: whether it ran a name-filtered pass, and which
# queries threw. Without one (an older dump) the run counts as unfiltered.
manifest_path = f'{outdir}/verify_manifest.json'
manifest = json.load(open(manifest_path)) if os.path.exists(manifest_path) else {}
filtered = manifest.get('filtered', False)
threw = manifest.get('failed', {})
ok, bad = [], []
skipped = 0
for name, sql in sorted(oracles.items()):
    if name in threw:
        bad.append((name, f"Verify threw: {threw[name]}")); continue
    if not os.path.isdir(f'{outdir}/{name}'):
        if filtered:
            skipped += 1; continue  # query not run in this filtered Verify pass
        bad.append((name, "no output (missing from an unfiltered Verify pass)")); continue
    try:
        exp = con.execute(sql).fetch_arrow_table()
        got = duckdb.connect().execute(f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')").fetch_arrow_table()
        ecols, gcols = sorted(exp.column_names), sorted(got.column_names)
        if ecols != gcols:
            bad.append((name, f"schema: oracle={ecols} spark={gcols}")); continue
        e = exp.select(ecols).to_pylist()
        g = got.select(gcols).to_pylist()
        key = lambda r: tuple(str(r[c]) for c in ecols)
        e.sort(key=key); g.sort(key=key)
        if len(e) != len(g):
            bad.append((name, f"rows: oracle={len(e)} spark={len(g)}")); continue
        mismatch = None
        for i, (re_, rg) in enumerate(zip(e, g)):
            for c in ecols:
                a, b = re_[c], rg[c]
                if a != b and not (isinstance(a, float) and isinstance(b, float) and (math.isnan(a) and math.isnan(b))):
                    mismatch = (i, c, a, b); break
            if mismatch: break
        if mismatch:
            i, c, a, b = mismatch
            bad.append((name, f"value row {i} col {c}: oracle={a!r} spark={b!r}"))
            continue
        # Driver-equivalent rendering check: the driver reads both sides
        # through DuckDB's .df() mapping, where DECIMAL/HUGEINT columns
        # become float64 while BIGINT stays int64 — so an oracle HUGEINT
        # against a Spark long renders "78100.0" vs "78100" (r15's
        # q_epoch_alloc hash-red) while decimal-vs-double is fine. Value
        # equality above passes either way (Decimal == int), so mimic
        # the mapping (decimal -> float64) and compare str() of cells.
        import pyarrow as pa
        def dfy(tbl, cols):
            p = tbl.select(cols).to_pandas()
            for c, f in zip(tbl.select(cols).column_names, tbl.select(cols).schema):
                if pa.types.is_decimal(f.type):
                    p[c] = p[c].astype("float64")
            return p
        ep = dfy(exp, ecols)
        gp = dfy(got, gcols)
        ep = ep.sort_values(ecols, key=lambda s: s.map(str)).reset_index(drop=True)
        gp = gp.sort_values(gcols, key=lambda s: s.map(str)).reset_index(drop=True)
        render = None
        for c in ecols:
            ev, gv = ep[c].map(str).tolist(), gp[c].map(str).tolist()
            if ev != gv:
                i = next(i for i in range(len(ev)) if ev[i] != gv[i])
                render = (i, c, ev[i], gv[i]); break
        if render:
            i, c, a, b = render
            bad.append((name, f"RENDER row {i} col {c}: oracle={a!r} spark={b!r} (pandas dtype {ep[c].dtype} vs {gp[c].dtype})"))
        else:
            ok.append((name, len(e)))
    except Exception as ex:
        bad.append((name, f"EXC: {ex}"))

for name in sorted(threw):
    if name not in oracles:
        bad.append((name, f"Verify threw (no oracle): {threw[name]}"))

# rows-only queries (no oracle): just report counts
rows_only = [d for d in sorted(os.listdir(outdir))
             if os.path.isdir(f'{outdir}/{d}') and d not in oracles]
for name in rows_only:
    try:
        n = duckdb.connect().execute(f"SELECT count(*) FROM read_parquet('{outdir}/{name}/*.parquet')").fetchone()[0]
        print(f"ROWSONLY {name}: {n} rows")
    except Exception as ex:
        print(f"ROWSONLY {name}: EXC {ex}")
for name, n in ok: print(f"OK   {name} ({n} rows)")
for name, why in bad: print(f"FAIL {name}: {why}")
print(f"\n{len(ok)} ok, {len(bad)} fail, {len(rows_only)} rows-only" +
      (f", {skipped} skipped (not run)" if skipped else ""))
