#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Runs graft.Verify at a scale factor, then replays each oracle SQL in
DuckDB over the same parquet tables and diffs against the Spark parquet
output (columns sorted by name, values compared row-by-row after the
query's own ORDER BY).

Usage: tools/check.py [sfdir] [--no-run] [--only q01,...] [--time]
                      [--hashes FILE]

--time prints per-oracle DuckDB wall seconds and a slowest-10 table so
oracle-cost regressions (the round-4 driver-timeout killer) are visible.

--hashes FILE writes one `name<TAB>rows<TAB>sha256` line for every Verify
output, oracled or rows-only (columns sorted by name, rows sorted by
value), so two checkouts' outputs compare with `diff` on two such files.
"""
import duckdb, hashlib, json, math, os, subprocess, sys, glob, time

# sbt runs in this script's own checkout, whatever the caller's cwd
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sf_dir = "/root/testdata/sf0.01"
only = None
run = True
timing = False
hashes = None
args = iter(sys.argv[1:])
for a in args:
    if a == "--no-run":
        run = False
    elif a == "--time":
        timing = True
    elif a == "--hashes":
        hashes = next(args)
    elif a == "--only":
        only = set(next(args).split(","))
    elif a.startswith("--only="):
        only = set(a.split("=", 1)[1].split(","))
    else:
        sf_dir = a
# keyed by scale factor: a shared dir serves stale other-SF outputs to
# subset runs (--only/GRAFT_ONLY rewrite only their queries)
out = "/tmp/verify_out_" + os.path.basename(sf_dir.rstrip("/"))

if run:
    r = subprocess.run(["sbt", "--batch", f"runMain graft.Verify {sf_dir} {out}"],
                       cwd=REPO, capture_output=True, text=True)
    sys.stdout.write(r.stdout[-4000:])
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        sys.exit("sbt runMain graft.Verify failed")

con = duckdb.connect()
for t in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(t)[: -len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")

oracle = json.load(open(f"{out}/oracle_sql.json"))

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v

n_pass = n_fail = 0
oracle_secs = {}
for name in sorted(oracle):
    if only and name not in only:
        continue
    sql = oracle[name]
    res_glob = f"{out}/{name}/*.parquet"
    try:
        got_tbl = con.execute(f"SELECT * FROM read_parquet('{res_glob}')").arrow()
        got_cols = got_tbl.column_names
    except Exception as e:
        print(f"FAIL {name}: spark output unreadable: {e}")
        n_fail += 1
        continue
    t0 = time.time()  # oracle cost only — result-parquet read is above
    try:
        exp_tbl = con.execute(sql).arrow()
        exp_cols = exp_tbl.column_names
    except Exception as e:
        print(f"FAIL {name}: oracle sql error: {e}")
        n_fail += 1
        continue
    oracle_secs[name] = time.time() - t0
    if timing:
        print(f"  [oracle {oracle_secs[name]:7.2f}s] {name}")
    if oracle_secs[name] > 30:
        # the round-4 failure class: slow oracles eat the driver's
        # correctness budget and the whole round records {} — keep every
        # oracle in seconds (MATERIALIZED CTEs, bounded recursion)
        print(f"WARNING {name}: oracle took {oracle_secs[name]:.1f}s "
              f"(>30s risks the driver-side correctness timeout)")
    gi = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
    ei = sorted(range(len(exp_cols)), key=lambda i: exp_cols[i])
    if sorted(got_cols) != sorted(exp_cols):
        print(f"FAIL {name}: columns {sorted(got_cols)} vs {sorted(exp_cols)}")
        n_fail += 1
        continue
    # The driver hashes TYPED values — a DuckDB sum() coming out HUGEINT
    # (arrow decimal128) against a Spark BIGINT parquet column is a
    # driver-red hash even when every value compares equal (the round-5
    # 14-query failure class). Assert arrow schema equality by column.
    tmis = [(got_cols[i], str(got_tbl.schema.field(i).type),
             str(exp_tbl.schema.field(j).type))
            for i, j in zip(gi, ei)
            if got_tbl.schema.field(i).type != exp_tbl.schema.field(j).type]
    if tmis:
        for c, gt, et in tmis:
            print(f"FAIL {name}: column '{c}' type spark={gt} vs oracle={et}"
                  " (driver hash compares typed values — CAST in oracleSql)")
        n_fail += 1
        continue
    g = [tuple(norm(v) for v in r)
         for r in zip(*(got_tbl.column(i).to_pylist() for i in gi))] \
        if len(got_cols) else []
    e = [tuple(norm(v) for v in r)
         for r in zip(*(exp_tbl.column(j).to_pylist() for j in ei))] \
        if len(exp_cols) else []
    if len(g) != len(e):
        print(f"FAIL {name}: rows {len(g)} vs {len(e)}")
        n_fail += 1
        continue
    bad = next((k for k in range(len(g)) if g[k] != e[k]), None)
    if bad is not None:
        print(f"FAIL {name}: first diff at row {bad}:")
        print(f"  spark : {g[bad]}")
        print(f"  duckdb: {e[bad]}")
        n_fail += 1
    else:
        print(f"PASS {name} ({len(g)} rows)")
        n_pass += 1

def output_hash(name):
    """(rows, sha256) of one output: the column names and types, then
    every row as JSON text, the rows sorted by that text."""
    tbl = con.execute(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").arrow()
    order = sorted(range(tbl.num_columns), key=lambda i: tbl.column_names[i])
    head = json.dumps([(tbl.column_names[i], str(tbl.schema.field(i).type))
                       for i in order])
    rows = sorted(json.dumps([norm(v) for v in r], default=str)
                  for r in zip(*(tbl.column(i).to_pylist() for i in order)))
    return len(rows), hashlib.sha256("\n".join([head] + rows).encode()).hexdigest()

if hashes:
    names = sorted(d for d in os.listdir(out)
                   if glob.glob(f"{out}/{d}/*.parquet")
                   and (not only or d in only))
    with open(hashes, "w") as f:
        for name in names:
            n, h = output_hash(name)
            f.write(f"{name}\t{n}\t{h}\n")
    print(f"wrote {len(names)} output hashes to {hashes}")

if timing and oracle_secs:
    worst = sorted(oracle_secs.items(), key=lambda kv: -kv[1])[:10]
    total = sum(oracle_secs.values())
    print(f"\nDuckDB oracle wall total: {total:.1f}s; slowest 10:")
    for k, v in worst:
        print(f"  {v:7.2f}s  {k}")

print(f"\n{n_pass} passed, {n_fail} failed, {len(oracle)} oracles total")
sys.exit(1 if n_fail else 0)
