#!/usr/bin/env python3
"""graft benchmark: two closed-loop workloads with a traced per-layer run.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):
  graph_build  fvecs -> MRDF (divide, NN-Descent, merge) -> graph text
  queries      declared batch queries (latency-bound: planning, scheduling)
               plus a streaming replay (commit-bound)

The first run in a checkout compiles the program (`sbt compile`) and the
Scala runner in perfbench/src, and generates the query testdata; later
runs reuse them. The last line of stdout is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). A detail file with per-call walls,
spans and stamps goes to perfbench/.work/out/.

--smoke runs graph_build at 600 vectors, with its own state, for quick
checks and the self-test.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(WORK, "classes")
HEAP = "4g"
MAX_CPUS = 4

# The query workload's fixed list: seven batch queries (latency-bound:
# planning, codegen, job scheduling) and one stateful streaming replay
# (commit-bound: state store, checkpoint/WAL). The seed only permutes
# the order; the first entry is also the set-up's warm-up call. sf0.001
# keeps a run within its budget: neither regime's per-call latency grows
# much with the scale factor.
DATA_SF = 0.001
QUERIES = [
    "q01_pricing_summary", "q03_join_agg", "q09b_approx_distinct", "q26_lang_id",
    "q30_cosine_topk", "q95_mutual_knn", "q75_sql_api", "q183_stream_dedup"]

# graph_build: k=30, rho=15, tau=0.01 (Mrdf.Params defaults), alpha below
# n so every round divides, and the rounds capped to fit the run budget.
# recall_floor sits below the lowest sampled recall seen over ten seeds.
SHAPES = {
    False: {"graph_build": {"n": 1500, "alpha": 500, "rounds": 2, "samples": 200,
                            "recall_floor": 0.30}, "key": "full"},
    True: {"graph_build": {"n": 600, "alpha": 200, "rounds": 2, "samples": 100,
                           "recall_floor": 0.20}, "key": "smoke"},
}

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}
ENGINE = ["plan.s", "sched.jobs", "sched.stages", "sched.tasks",
          "sched.task_failures", "sched.gap_s", "exec.run_s", "exec.cpu_s",
          "exec.gc_s", "shuffle.write_bytes", "shuffle.read_bytes",
          "shuffle.spill_bytes", "commit.bytes_written", "stream.batches",
          "stream.add_batch_s", "stream.wal_commit_s",
          "stream.commit_offsets_s", "stream.state_commit_s"]
MODULES = ["knn", "relational", "text", "similarity", "streaming",
           "multimodal", "mrdf", "sql"]
GRAPH = ["io.read_s", "io.write_s", "mrdf.rounds", "mrdf.divide_s",
         "mrdf.descent_merge_s", "mrdf.delta_s", "mrdf.final_change_ratio",
         "mrdf.recall", "knn.truth_s"]
SHARES = ["share.gap", "share.plan", "share.exec_cpu", "share.stream"]
# end-to-end figures too unsteady at this run length to carry a bound
UNBOUNDED = {"call_p50_s": "s", "call_tail_s": "s", "heap_peak_mb": "MB"}


def unit_of(name):
    if "bytes" in name:
        return "bytes"
    if name.endswith("_s") or name == "plan.s":
        return "s"
    if name.startswith("share.") or name.endswith("_ratio") or name == "mrdf.recall":
        return "ratio"
    return "count"


PER_LAYER_UNITS = {n: unit_of(n) for n in
                   ENGINE + [f"{m}.busy_s" for m in MODULES] +
                   [f"{m}.calls" for m in MODULES] + GRAPH + SHARES +
                   ["trace.overhead_s"]}
PER_LAYER_UNITS.update(UNBOUNDED)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it. Returns the exit code, None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


# ------------------------------------------------------------------- build

def spark_jars():
    """The Spark jar directory the program's build.sbt compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("perfbench: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def _tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program with its own sbt build and the Scala runner
    against its classes; skipped when neither source tree changed. Returns
    the program's source hash and whether anything was compiled."""
    prog = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties",
                                            "src/main")]
    src_hash = _tree_hash(prog)
    drv_hash = _tree_hash([os.path.join(HERE, "src")])
    stamp = os.path.join(WORK, "build.stamp")
    want = f"{src_hash} {drv_hash}"
    classes = os.path.join(ROOT, "target", "scala-2.13", "classes")
    if os.path.isdir(CLASSES) and os.path.isfile(stamp) and open(stamp).read() == want:
        return src_hash, False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g -XX:-UsePerfData" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.isfile(repos) else ""))
    build_log = os.path.join(WORK, "build.log")
    log("compiling the program (sbt compile)")
    with open(build_log, "w") as f:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], 700,
                       cwd=ROOT, env=env, stdout=f, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.isdir(classes):
        sys.exit(f"perfbench: sbt compile failed, see {build_log}")
    log("compiling the Scala runner")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    srcs = sorted(os.path.join(HERE, "src", f) for f in os.listdir(os.path.join(HERE, "src")))
    with open(build_log, "a") as f:
        rc = run_group(["java", "-XX:-UsePerfData", "-cp", f"{spark_jars()}/*:{classes}",
                        "scala.tools.nsc.Main",
                        "-usejavacp", "-d", CLASSES] + srcs, 300,
                       stdout=f, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.exit(f"perfbench: Scala runner compile failed, see {build_log}")
    with open(stamp, "w") as f:
        f.write(want)
    return src_hash, True


# ------------------------------------------------------------------- JVM

JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", f"-Xmx{HEAP}",
    # no hsperfdata file in /tmp: the benchmark writes only inside its checkout
    "-XX:-UsePerfData"]


def run_jvm(args, run_dir, timeout):
    """Run the Scala runner; returns its exit code, None on timeout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_STREAM_SCRATCH"] = os.path.join(run_dir, "stream")
    os.makedirs(env["SPARK_GRAFT_STREAM_SCRATCH"], exist_ok=True)
    cp = ":".join([CLASSES, os.path.join(ROOT, "target", "scala-2.13", "classes"),
                   f"{spark_jars()}/*"])
    cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                  "graftbench.GraftBench"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        return run_group(cmd, timeout, stdout=logf, stderr=subprocess.STDOUT, env=env)


# ------------------------------------------------------------------- checks

def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def duck_compare(con, sql, path):
    """tools/check.py semantics: columns sorted by name, typed equality,
    then row by row. Returns None when equal, else a reason."""
    got = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").arrow()
    exp = con.execute(sql).arrow()
    gc, ec = got.column_names, exp.column_names
    if sorted(gc) != sorted(ec):
        return f"columns {sorted(gc)} vs {sorted(ec)}"
    gi = sorted(range(len(gc)), key=lambda i: gc[i])
    ei = sorted(range(len(ec)), key=lambda i: ec[i])
    for i, j in zip(gi, ei):
        if got.schema.field(i).type != exp.schema.field(j).type:
            return f"column {gc[i]} type {got.schema.field(i).type} vs {exp.schema.field(j).type}"
    g = [tuple(_norm(v) for v in r) for r in zip(*(got.column(i).to_pylist() for i in gi))]
    e = [tuple(_norm(v) for v in r) for r in zip(*(exp.column(j).to_pylist() for j in ei))]
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    bad = next((k for k in range(len(g)) if g[k] != e[k]), None)
    return None if bad is None else f"row {bad}: {g[bad]} vs {e[bad]}"


def check_queries(detail, state, data_dir, run_dir):
    """Mark every wrong call. Oracled results are compared with DuckDB the
    first time their content hash is seen, oracle-less ones against the
    hash recorded on their first run; every call must also match the
    first call of the same query in this run."""
    wrong = {}
    pend = detail["oracle_pending"]
    if pend:
        import duckdb
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(run_dir, 'duckdb')}'")
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(data_dir, f)}')")
        for p in pend:
            try:
                why = duck_compare(con, p["sql"], p["path"])
            except Exception as e:  # an oracle or result that cannot be read
                why = f"{type(e).__name__}: {e}"
            if why is None:
                state["verified"].setdefault(p["name"], []).append(p["hash"])
            else:
                wrong[p["name"]] = f"oracle mismatch: {why}"
    first = {}
    for c in detail["calls"]:
        name, h = c["name"], c["hash"]
        if c["error"]:
            c["wrong"] = c["error"]
            continue
        first.setdefault(name, h)
        if h != first[name]:
            c["wrong"] = "result differs from this run's first call"
        elif name in wrong:
            c["wrong"] = wrong[name]
        elif c["oracle"] and h not in state["verified"].get(name, []):
            c["wrong"] = "oracled result not verified"
        elif not c["oracle"]:
            exp = state["expected"].setdefault(name, h)
            if h != exp:
                c["wrong"] = f"hash {h[:12]} differs from first-run hash {exp[:12]}"


def check_graph(detail, state, key, floor):
    """Mark every wrong call: each build's edge-set hash must equal the one
    first recorded for this seed and shape, and the sampled recall must
    reach the floor."""
    for c in detail["calls"]:
        if c["error"]:
            c["wrong"] = c["error"]
    hashes = detail.get("edge_hashes", [])
    exp = state["graph"].setdefault(key, hashes[0] if hashes else "")
    builds = [c for c in detail["calls"] if c["name"] == "mrdf.build" and not c["error"]]
    for c, h in zip(builds, hashes):
        if h != exp:
            c["wrong"] = f"edge-set hash {h} differs from {exp}"
    if detail.get("recall", 0.0) < floor:
        for c in builds:
            c.setdefault("wrong", f"recall {detail.get('recall')} below {floor}")


# ------------------------------------------------------------------- metrics

def tail(values):
    """The highest percentile with ten calls beyond it: the eleventh
    largest value. With fewer than eleven calls, the median."""
    s = sorted(values)
    n = len(s)
    if n < 11:
        return statistics.median(s), 50.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(detail):
    units = [u for u in detail["units"] if not u["traced"]]
    if detail["workload"] == "graph_build":
        # the user-visible call is the whole pipeline
        walls = [u["wall_s"] for u in units]
    else:
        walls = [c["wall_s"] for c in detail["calls"]
                 if any(u["index"] == c["unit"] for u in units)]
    t, p, n = tail(walls)
    detail["call_tail"] = {"value_s": t, "percentile": p, "calls": n}
    return {
        "setup_s": statistics.median(detail["setup_s"]),
        "wall_s": statistics.median(u["wall_s"] for u in units),
        "cpu_s": statistics.median(u["cpu_s"] for u in units),
        "call_p50_s": statistics.median(walls),
        "call_tail_s": t,
        "heap_peak_mb": max(u["heap_after_gc_mb"] for u in units),
    }


def per_layer(detail):
    traced = [u for u in detail["units"] if u["traced"]]
    plain = [u for u in detail["units"] if not u["traced"]]
    idx = {u["index"] for u in traced}
    per_unit = []
    for u in traced:
        rows = [r for r in detail["layers"] if r["unit"] == u["index"]]
        m = {k: sum(r[k] for r in rows) for k in ENGINE}
        for mod in MODULES:
            calls = [r for r in rows if r["module"] == mod]
            m[f"{mod}.busy_s"] = sum(r["wall_s"] for r in calls)
            m[f"{mod}.calls"] = float(len(calls))
        w = u["wall_s"]
        stream = m["stream.add_batch_s"] + m["stream.wal_commit_s"] + m["stream.commit_offsets_s"]
        m.update({"share.gap": m["sched.gap_s"] / w, "share.plan": m["plan.s"] / w,
                  "share.exec_cpu": m["exec.cpu_s"] / (detail["cpus"] * w),
                  "share.stream": stream / w})
        per_unit.append(m)
    out = {k: statistics.median(m[k] for m in per_unit) for k in per_unit[0]}
    graph = {k: 0.0 for k in GRAPH}
    if detail["workload"] == "graph_build":
        calls = [c for c in detail["calls"] if c["unit"] in idx]
        its = [s for u, s in zip([c for c in detail["calls"] if c["name"] == "mrdf.build"],
                                 detail["iter_stats"]) if u["unit"] in idx]

        def med_call(name):
            return statistics.median(c["wall_s"] for c in calls if c["name"] == name)
        graph.update({
            "io.read_s": med_call("io.read"), "io.write_s": med_call("io.write"),
            "mrdf.rounds": statistics.median(len(s) for s in its),
            "mrdf.divide_s": statistics.median(sum(r["divide_s"] for r in s) for s in its),
            "mrdf.descent_merge_s": statistics.median(
                sum(r["descent_merge_s"] for r in s) for s in its),
            "mrdf.delta_s": statistics.median(sum(r["delta_s"] for r in s) for s in its),
            "mrdf.final_change_ratio": statistics.median(s[-1]["ratio"] for s in its),
            "mrdf.recall": detail["recall"], "knn.truth_s": detail["knn.truth_s"]})
    out.update(graph)
    out["trace.overhead_s"] = (statistics.median(u["wall_s"] for u in traced) -
                               statistics.median(u["wall_s"] for u in plain))
    untraced = end_to_end(detail)
    out.update({k: untraced[k] for k in UNBOUNDED})
    return out


# ------------------------------------------------------------------- main

def load_state(path):
    if os.path.isfile(path):
        with open(path) as f:
            return json.load(f)
    return {"verified": {}, "expected": {}, "graph": {}}


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else ""
    except OSError:
        return ""


def run_all(a):
    """Every workload, untraced then traced, each metric printed by name
    and unit; exit status 1 if any run failed or was wrong."""
    bad = 0
    for workload in ("graph_build", "queries"):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(trace)]
            cmd += ["--smoke"] * a.smoke
            r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            if r.returncode != 0:
                print(f"{workload} trace={trace}: FAILED (exit {r.returncode})")
                bad += 1
                continue
            out = json.loads(r.stdout.strip().splitlines()[-1])
            bad += not out["correct"]
            print(f"{workload} trace={trace}: correct={out['correct']} "
                  f"attempted={out['attempted']} failed={out['failed']}")
            for k, v in out["metrics"].items():
                print(f"  {k:26s} {v['value']:.6g} {v['unit']}")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["graph_build", "queries", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if a.workload == "all":
        sys.exit(run_all(a))
    t_start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("perfbench: not a graft checkout (build.sbt or src/main/scala/graft missing)")

    os.makedirs(WORK, exist_ok=True)
    src_hash, built = build()
    shape = SHAPES[a.smoke]
    key = shape["key"]
    run_dir = os.path.join(WORK, "run", key)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    state_path = os.path.join(WORK, f"state-{key}-sf{DATA_SF}.json")
    state = load_state(state_path)
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    detail_path = os.path.join(run_dir, "detail.json")
    cpus = min(MAX_CPUS, os.cpu_count() or 1)

    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", run_dir, "--cpus", str(cpus),
            "--out", detail_path]
    data_dir = None
    if a.workload == "graph_build":
        g = shape["graph_build"]
        args += ["--n", str(g["n"]), "--alpha", str(g["alpha"]), "--rounds", str(g["rounds"]),
                 "--samples", str(g["samples"])]
    else:
        data_dir = os.path.join(WORK, "data", f"sf{DATA_SF}")
        if not os.path.isfile(os.path.join(data_dir, "done")):
            sys.path.insert(0, HERE)
            import gendata
            shutil.rmtree(data_dir, ignore_errors=True)
            gendata.write(data_dir, DATA_SF)
            open(os.path.join(data_dir, "done"), "w").close()
        verified = [f"{q}={h}" for q, hs in state["verified"].items() for h in hs]
        args += ["--data", data_dir, "--queries", ",".join(QUERIES),
                 "--verified", ",".join(verified) or "-"]

    budget = (880 if built else 170) - (time.time() - t_start)
    rc = run_jvm(args, run_dir, budget)
    if rc != 0 or not os.path.isfile(detail_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit(f"perfbench: Scala runner {'timed out' if rc is None else f'failed (rc={rc})'}")
    with open(detail_path) as f:
        detail = json.load(f)

    if a.workload == "graph_build":
        g = shape["graph_build"]
        check_graph(detail, state, f"{a.seed}:{g['n']}:{g['alpha']}:{g['rounds']}",
                    g["recall_floor"])
    else:
        check_queries(detail, state, data_dir, run_dir)
    with open(state_path, "w") as f:
        json.dump(state, f, indent=1, sort_keys=True)

    calls = detail["calls"]
    failed = sum(1 for c in calls if c.get("wrong"))
    if a.trace:
        values = per_layer(detail)
        units = PER_LAYER_UNITS
    else:
        values = end_to_end(detail)
        units = E2E_UNITS
    detail.update({"git_sha": git_sha(), "source_sha": src_hash, "nproc": os.cpu_count(),
                   "load1_python_end": os.getloadavg()[0], "fail_frac": failed / len(calls),
                   "metrics": values, "wrong": {c["name"]: c["wrong"] for c in calls
                                                if c.get("wrong")}})
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}" + ("-smoke" if a.smoke else "")
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    for name, why in detail["wrong"].items():
        log(f"WRONG {name}: {why}")
    print(json.dumps({"correct": failed == 0, "attempted": len(calls), "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
