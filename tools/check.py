#!/usr/bin/env python3
"""Dev-only local replica of the driver's correctness gate.

Runs graft.Verify at a given sf dir, then replays each oracle SQL in
DuckDB against the same parquet tables and compares row count, column
names, and exact values (sorted by all columns, column-name order).

Usage: python3 tools/check.py [sfdir] [outdir] [--skip-verify] [names...]
"""
import json, math, re, sys, subprocess, glob, os

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
args = sys.argv[3:]
skip = "--skip-verify" in args
# --timeout=N: per-oracle DuckDB wall cap in seconds (the 100x
# campaign's guard — one intractable oracle must not hang the sweep;
# a timed-out oracle reports TIMEOUT, distinct from FAIL)
timeout = next((float(a.split("=", 1)[1]) for a in args
                if a.startswith("--timeout=")), None)
# --mem=N: DuckDB memory cap (e.g. --mem=40GB). Without it DuckDB
# defaults to ~80% of RAM and a campaign-scale oracle can OOM-kill
# the PROCESS (the kernel took a 108 GB replay at 1000x) instead of
# spilling — a silent ERROR in the sweep, not a TIMEOUT.
mem = next((a.split("=", 1)[1] for a in args
            if a.startswith("--mem=")), None)
# validate BEFORE the per-key loop: a malformed value (e.g. "40G B",
# a stray quote) otherwise crashes inside SET memory_limit with a
# DuckDB traceback per key, far from its cause (r18 advice). The
# pattern mirrors what DuckDB itself accepts (r19 advice: the first
# cut was case-sensitive and rejected '40gb', '1G', '80%', plain
# byte counts): unit suffix optional (bare bytes), B optional after
# the magnitude letter, percent-of-RAM form, any case.
if mem is not None and not re.fullmatch(
        r"[0-9]+(\.[0-9]+)?\s*([KMGTP]i?B?|B|%)?", mem.strip(),
        re.IGNORECASE):
    sys.exit(f"config error: --mem={mem!r} is not a DuckDB memory "
             "size (expected e.g. 40GB, 1.5GiB, 80%, or bytes)")
# --threads=N: DuckDB core cap (campaign sweeps run beside Spark
# dumps; uncapped DuckDB grabs every core)
threads = next((a.split("=", 1)[1] for a in args
                if a.startswith("--threads=")), None)
only = [a for a in args if not a.startswith("--")]

if not skip:
    # run Verify in the checkout this script belongs to, wherever it
    # is started from
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(["sbt", f'runMain graft.Verify {sf} {out}'],
                       capture_output=True, text=True, cwd=root)
    if r.returncode != 0:
        print(r.stdout[-4000:]); print(r.stderr[-4000:]); sys.exit(1)

import duckdb
con = duckdb.connect()
# per-process spill dir: concurrent sweeps sharing the cwd-relative
# default ".tmp" delete each other's temp blocks mid-query (r19 —
# p_queue_rotate failed on a vanished temp block while another lane's
# DuckDB cleaned up). --no-spill disables the temp dir entirely (r20):
# DuckDB's external join partitions BOTH sides to disk once the build
# exceeds its per-operator budget — a campaign-decade oracle can write
# 35GB+ of temp and take the shared disk down; with spilling off it
# either fits the memory cap or fails with a clean OOM error.
if "--no-spill" in args:
    con.execute("SET temp_directory=''")
else:
    con.execute(f"SET temp_directory='/tmp/duckdb_tmp_{os.getpid()}'")
if mem:
    con.execute(f"SET memory_limit='{mem}'")
if threads:
    con.execute(f"SET threads={int(threads)}")
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    # a table may be a single file (driver testdata) or a directory of
    # part files (replicated 10x corpora) — glob the directory case
    p = f"{sf}/{t}.parquet"
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")

oracle = json.load(open(f"{out}/oracle_sql.json"))
# --alts: overlay the volume-tractable ALT oracles (array-native
# rewrites of the embedding-pair family — semantically identical,
# validated against the canonical output at the 1× dir) for N×-volume
# runs where the canonical flat-join formulation is intractable. The
# CLOSURE replays below read the overlaid map, so d_sem_clusters
# union-finds over the ALT pair SQL automatically.
if "--alts" in args and os.path.exists(f"{out}/oracle_alt.json"):
    oracle.update(json.load(open(f"{out}/oracle_alt.json")))

# Connected-components queries: the recursive-CTE walk oracle is
# quadratic in the giant component (at 10x volume the semantic pair
# graph sits at the percolation threshold and the walk enumerates
# every (node, reachable-label) pair — hours, not seconds). Replace it
# with an exact union-find over the PAIR oracle's output: same
# fixpoint (min id per component), linear in the edge count. The
# recursive SQL stays in oracle_sql.json for the driver gate at
# sf0.01, where the walk is cheap.
CLOSURE = {"d_sem_clusters": "d_semdedup", "d_dup_clusters": "d_minhash_lsh"}

# d_dedup_apply's oracle embeds the same recursive walk (its kept set
# is "docs that are not a non-keeper cluster member") — at N× volume
# derive the drop set from the SAME union-find over the pair oracle
# and project the surviving corpus directly (r19; the canonical SQL
# stays in oracle_sql.json for the sf0.01 driver gate).
CLOSURE_APPLY = {"d_dedup_apply": "d_minhash_lsh"}

# d_cluster_purity: same walk, different projection — clusters from
# the union-find, then the per-cluster source-purity aggregation over
# the documents table (the canonical SQL's cs/r stages verbatim).
CLOSURE_PURITY = {"d_cluster_purity": "d_minhash_lsh"}

class OracleTimeout(Exception):
    pass

def run_oracle(sql):
    if timeout is None:
        return con.execute(sql).df()
    import threading
    t = threading.Timer(timeout, con.interrupt)
    t.start()
    try:
        return con.execute(sql).df()
    except Exception as e:
        if "INTERRUPT" in str(e).upper() or "interrupted" in str(e).lower():
            raise OracleTimeout(f"oracle exceeded {timeout:.0f}s")
        raise
    finally:
        t.cancel()

def closure_find(pair_key):
    """Union-find over the pair oracle's output; returns (find, nodes)."""
    pairs = run_oracle(oracle[pair_key])
    parent = {}
    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:      # path compression
            parent[x], x = r, parent[x]
        return r
    for a, b in zip(pairs["id1"].tolist(), pairs["id2"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # root stays the component MIN
    nodes = sorted(set(pairs["id1"].tolist()) | set(pairs["id2"].tolist()))
    return find, nodes

def closure_want(pair_key):
    import pandas as pd
    find, nodes = closure_find(pair_key)
    return pd.DataFrame({"id": nodes,
                         "cluster": [find(n) for n in nodes]}).astype("int64")

def closure_apply_want(pair_key):
    find, nodes = closure_find(pair_key)
    drops = sorted(n for n in nodes if find(n) != n)
    # empty drop set: `NOT IN (NULL)` is NULL for every row (zero
    # rows back) where the canonical SQL's NOT IN (empty subquery)
    # keeps ALL documents — skip the predicate entirely (r19 advice)
    where = (f"WHERE doc_id NOT IN ({', '.join(str(d) for d in drops)}) "
             if drops else "")
    return con.execute(
        "SELECT doc_id, lang, n_chars FROM documents "
        f"{where}ORDER BY doc_id").df()

def closure_purity_want(pair_key):
    import pandas as pd
    find, nodes = closure_find(pair_key)
    cl = pd.DataFrame({"id": nodes,
                       "cluster": [find(n) for n in nodes]}).astype("int64")
    con.register("walk_clusters", cl)
    return con.execute("""
        WITH cs AS (SELECT w.cluster, d.source, COUNT(*) AS c
                    FROM walk_clusters w JOIN documents d ON d.doc_id = w.id
                    GROUP BY w.cluster, d.source),
        r AS (SELECT *,
               ROW_NUMBER() OVER (PARTITION BY cluster
                 ORDER BY c DESC, source DESC) AS rn,
               CAST(SUM(c) OVER (PARTITION BY cluster) AS BIGINT) AS n_docs,
               CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_sources
              FROM cs)
        SELECT cluster, n_docs, n_sources, source AS top_source,
         FLOOR(CAST(c AS DOUBLE) / CAST(n_docs AS DOUBLE) * 1000000 + 0.5)
           / 1000000 AS top_frac
        FROM r WHERE rn = 1 ORDER BY cluster""").df()

# Outputs past this row count skip the pandas value-by-value compare
# (100M-row frames OOM/underspeed python) for a DuckDB-side multiset
# hash: row count + SUM(hash(cols sorted by name)) on both sides,
# with column names AND DuckDB types still compared via DESCRIBE —
# the same count+typed-value-hash standard the driver gate applies,
# exact up to 64-bit hash collisions (~1e-4 at 1e8 rows). (r19 — the
# p_envelope key's 100M-row envelope frame at 1000×.)
BIGHASH_ROWS = 5_000_000

def bighash_verdict(name, pdir, sql):
    gd = con.execute(
        f"DESCRIBE SELECT * FROM read_parquet('{pdir}/*.parquet')").df()
    wd = run_oracle(f"DESCRIBE ({sql})")
    gt = dict(zip(gd["column_name"], gd["column_type"]))
    wt = dict(zip(wd["column_name"], wd["column_type"]))
    if sorted(gt) != sorted(wt):
        return f"columns differ: spark={sorted(gt)} oracle={sorted(wt)}"
    mism = [(c, gt[c], wt[c]) for c in sorted(gt) if gt[c] != wt[c]]
    if mism:
        return f"dtype differ: {mism}"
    # float columns hash via (+0): -0.0 and 0.0 are == (the pandas
    # path and the driver gate treat them equal) but hash differently
    # bitwise; +0 canonicalizes -0.0 → 0.0 and passes NaN through.
    # Nested floats need the same treatment (r19 advice): a LIST of
    # float canonicalizes element-wise via list_transform; deeper
    # float-bearing nests (struct/map) have no cheap rewrite — report
    # them as unsupported-by-bighash rather than risk a false
    # sign-of-zero hash FAIL the pandas path would accept.
    def hash_expr(c):
        t = gt[c]
        if t in ("DOUBLE", "FLOAT"):
            return f'("{c}" + 0)'
        if t in ("DOUBLE[]", "FLOAT[]"):
            return f'list_transform("{c}", x -> x + 0)'
        if "DOUBLE" in t or "FLOAT" in t:
            raise ValueError(
                f"column {c} type {t}: nested float beyond LIST is not "
                "bighash-safe (-0.0 vs 0.0); compare this key below "
                f"{BIGHASH_ROWS} rows or add a flattening ALT oracle")
        return f'"{c}"'
    try:
        cols = ", ".join(hash_expr(c) for c in sorted(gt))
    except ValueError as e:
        return str(e)
    # the hash sum is HUGEINT — fetch as VARCHAR (pandas would coerce
    # a HUGEINT column to float64 and silently lose low bits)
    gn, gh = con.execute(
        f"SELECT COUNT(*), CAST(SUM(hash({cols})) AS VARCHAR) "
        f"FROM read_parquet('{pdir}/*.parquet')").fetchone()
    row = run_oracle(
        f"SELECT CAST(COUNT(*) AS VARCHAR) AS n, "
        f"CAST(SUM(hash({cols})) AS VARCHAR) AS h FROM ({sql})")
    wn, wh = row["n"].iloc[0], row["h"].iloc[0]
    if int(gn) != int(wn):
        return f"rowcount differ: spark={gn} oracle={wn}"
    if str(gh) != str(wh):
        return f"multiset hash differ over {gn} rows"
    return None

fails, passes, rows_only, timeouts = [], [], [], []
names = only or sorted(os.listdir(out))
for name in names:
    pdir = f"{out}/{name}"
    if not os.path.isdir(pdir):
        continue
    files = glob.glob(f"{pdir}/*.parquet")
    if not files:
        fails.append((name, "no parquet written")); continue
    nrows = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{pdir}/*.parquet')").fetchone()[0]
    if (nrows > BIGHASH_ROWS and name in oracle
            and name not in CLOSURE and name not in CLOSURE_APPLY
            and name not in CLOSURE_PURITY):
        try:
            bad = bighash_verdict(name, pdir, oracle[name])
        except OracleTimeout as e:
            timeouts.append((name, str(e))); continue
        except Exception as e:
            fails.append((name, f"oracle SQL error: {e}")); continue
        print(f"BIGHASH: {name} rows={nrows} (count+typed-hash compare)")
        if bad: fails.append((name, bad))
        else: passes.append(name)
        continue
    got = con.execute(f"SELECT * FROM read_parquet('{pdir}/*.parquet')").df()
    if name not in oracle:
        rows_only.append((name, len(got))); continue
    try:
        if name in CLOSURE:
            want = closure_want(CLOSURE[name])
        elif name in CLOSURE_APPLY:
            want = closure_apply_want(CLOSURE_APPLY[name])
        elif name in CLOSURE_PURITY:
            want = closure_purity_want(CLOSURE_PURITY[name])
        else:
            want = run_oracle(oracle[name])
    except OracleTimeout as e:
        timeouts.append((name, str(e))); continue
    except Exception as e:
        fails.append((name, f"oracle SQL error: {e}")); continue
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        fails.append((name, f"columns differ: spark={gc} oracle={wc}")); continue
    # dtype divergence is a FAIL, not a note — the driver gate hashes
    # typed values, so a local dtype mismatch predicts a driver miss
    dt_mismatch = [(c, str(got[c].dtype), str(want[c].dtype)) for c in gc
                   if str(got[c].dtype) != str(want[c].dtype)]
    if dt_mismatch:
        fails.append((name, f"dtype differ: {dt_mismatch}")); continue
    got, want = got[gc], want[wc]
    if len(got) != len(want):
        fails.append((name, f"rowcount differ: spark={len(got)} oracle={len(want)}")); continue
    g = got.sort_values(by=gc, ignore_index=True)
    w = want.sort_values(by=wc, ignore_index=True)
    bad = None
    for c in gc:
        gv, wv = g[c].tolist(), w[c].tolist()
        for i, (a, b) in enumerate(zip(gv, wv)):
            eq = (a == b) or (a is None and b is None)
            try:
                if not eq and isinstance(a, float) and isinstance(b, float):
                    eq = (math.isnan(a) and math.isnan(b)) or a == b
            except Exception:
                pass
            if not eq:
                bad = f"col {c} row {i}: spark={a!r} oracle={b!r}"
                break
        if bad: break
    if bad: fails.append((name, bad))
    else: passes.append(name)

print(f"PASS ({len(passes)}):", " ".join(passes))
for n, c in rows_only:
    print(f"ROWS-ONLY: {n} rows={c}")
for n, m in timeouts:
    print(f"TIMEOUT: {n}: {m}")
for n, m in fails:
    print(f"FAIL: {n}: {m}")
sys.exit(1 if fails else 0)
