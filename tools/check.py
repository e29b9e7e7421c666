#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the sf tables and compare (sorted rows, columns sorted by name)
to the parquet Verify dumped. Usage: check.py <sfdir> <outdir>."""
import sys, os, json, glob, atexit, shutil, tempfile
import duckdb
import pandas as pd
import numpy as np

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
# Resources only, never the comparison: the heaviest oracle (q125's IVF-PQ
# re-rank) exhausts DuckDB's default memory limit. Rows are compared sorted,
# so insertion order is free to go; a spill directory alone is not enough,
# and q125 still runs out of memory at 3 threads (16 GB, 4-core host) but
# not at 2.
spill = tempfile.mkdtemp(prefix="check-duckdb-")
atexit.register(shutil.rmtree, spill, True)
con.execute("SET preserve_insertion_order = false")
con.execute(f"SET temp_directory = '{spill}'")
con.execute("SET threads = 2")
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
ok = fail = 0
for name in sorted(os.listdir(outdir)):
    d = os.path.join(outdir, name)
    if not os.path.isdir(d):
        continue
    files = glob.glob(f"{d}/*.parquet")
    got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
    if name not in oracle:
        print(f"{name}: NO-ORACLE rows={len(got)}")
        continue
    try:
        exp = con.execute(oracle[name]).df()
    except Exception as e:
        print(f"{name}: ORACLE-ERROR {e}")
        fail += 1
        continue
    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        return df.sort_values(list(df.columns)).reset_index(drop=True)
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        print(f"{name}: COLS-MISMATCH got={list(g.columns)} exp={list(e.columns)}")
        fail += 1
        continue
    if len(g) != len(e):
        print(f"{name}: ROWS-MISMATCH got={len(g)} exp={len(e)}")
        fail += 1
        continue
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
        # Values match, but the driver's hash is serialization-sensitive:
        # an engine int64 column vs an oracle float64 column (e.g. DuckDB
        # HUGEINT from SUM(BIGINT) landing in pandas as float) hashes
        # differently even with identical values. Fail loudly here so the
        # class is caught locally, not in the driver round (q75 lesson).
        dtype_bad = []
        for c in g.columns:
            gk = g[c].dtype.kind
            ek = e[c].dtype.kind
            if gk != ek and {gk, ek} & {"i", "u", "f"} and {gk, ek} != {"i", "u"}:
                dtype_bad.append((c, str(g[c].dtype), str(e[c].dtype)))
        if dtype_bad:
            print(f"{name}: DTYPE-CLASS-MISMATCH (values equal; driver hash would FAIL)")
            for c, gd, ed in dtype_bad:
                print(f"   col={c} engine={gd} oracle={ed}")
            fail += 1
            continue
        print(f"{name}: OK rows={len(g)}")
        ok += 1
    except AssertionError as ex:
        msg = str(ex).splitlines()
        print(f"{name}: VALUE-MISMATCH {msg[0] if msg else ''}")
        # show a few differing cells
        for c in g.columns:
            neq = ~((g[c] == e[c]) | (g[c].isna() & e[c].isna()))
            if neq.any():
                i = neq.idxmax()
                print(f"   col={c} row={i} got={g[c][i]!r} exp={e[c][i]!r} ndiff={int(neq.sum())}")
        fail += 1
print(f"== {ok} ok, {fail} fail, {len(oracle)} oracles")
