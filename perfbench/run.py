#!/usr/bin/env python3
"""graft benchmark: one command per workload run, outputs checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the engine
with its own sbt build, compiles the harness in perfbench/src, and
writes the fixed input tables; later runs reuse all three (cached under
$CARGO_TARGET_DIR, default .bench_build). The last stdout line is one
JSON object: correct, attempted, failed and the metrics (end-to-end
ones untraced, per-layer ones with --trace 1). A human-readable report
with every metric goes to stderr and to <build>/results/. See
perfbench/README.md for the workloads and every metric's definition.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build    # noqa: E402
import gen      # noqa: E402
from build import Failure, log  # noqa: E402
import layers   # noqa: E402
import live     # noqa: E402

BUILD = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
DATA_SEED = 42          # the batch inputs are fixed; --seed orders the keys
RUN_LIMIT_S = 170       # a run must end within 180 s
HEAP = "2g"

# The batch workload: kassette-pipeline and warehouse keys on the 10x
# replica; the job ledger, the curation stores and keys on the base tables. Each
# list is a family-spanning subset sized so several passes fit a run
# (see README.md, "Sizing").
X10_KEYS = ["q1_pricing_summary", "p_sessionize"]
BASE_STORES = ["_store_minhash", "_store_kmeans", "_store_pq"]
BASE_KEYS = ["p_ack_ledger", "d_minhash_lsh", "d_semdedup", "s_pq_topk", "t_dsir_weight",
             "m_phash_dup"]
# live_ingest: offered request rates (envelopes/s of 1-50 events, 25.5 on
# average), frozen from the calibration sweeps in README.md ("Calibration"):
# visible_p99 passed LIVE_VISIBLE_P99_LIMIT_MS at 50-85 envelopes/s. The
# rates are well under that, about half of it (the reference rate) and
# above it; each runs for its share of --seconds, then LIVE_PROBES
# closed-loop probes follow.
LIVE_RATES = [8.0, 25.0, 120.0]
LIVE_SHARES = [0.3, 0.4, 0.3]
LIVE_PROBES = 5
LIVE_VISIBLE_P99_LIMIT_MS = 6000.0
WRITE_KEYS = [f"wk-{i}" for i in range(8)]
DISABLED_KEY = "wk-7"

WORKLOADS = ["live_ingest", "batch"]

END_TO_END = [("setup_s", "s"), ("batch_s", "s"), ("op_geomean_ms", "ms"),
              ("op_tail_ms", "ms"), ("peak_heap_mb", "MB")]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


# --------------------------------------------------------------- inputs

def parquet_rows(path):
    import pyarrow.dataset as ds
    return ds.dataset(path, format="parquet").count_rows()


def base_inputs():
    d = os.path.join(BUILD, "data", f"base{DATA_SEED}")
    if not os.path.exists(os.path.join(d, "_READY")):
        shutil.rmtree(d, ignore_errors=True)
        counts = gen.write(d, DATA_SEED)
        with open(os.path.join(d, "_READY"), "w") as f:
            json.dump(counts, f)
    return d


def check_x10(base, x10):
    """The 10x replica must hold exactly 10x each replicated fact."""
    for t in gen.TABLES:
        want = parquet_rows(os.path.join(base, f"{t}.parquet"))
        if t in ("lineitem", "orders", "events"):
            want *= 10
        got = parquet_rows(os.path.join(x10, f"{t}.parquet"))
        if got != want:
            raise Failure(f"10x input: {t} has {got} rows, want {want}")


def input_sizes(d):
    out = {}
    for t in gen.TABLES:
        p = os.path.realpath(os.path.join(d, f"{t}.parquet"))
        size = (sum(os.path.getsize(os.path.join(p, f)) for f in os.listdir(p))
                if os.path.isdir(p) else os.path.getsize(p))
        out[t] = {"rows": parquet_rows(p), "mb": round(size / 1048576, 3)}
    return out


# ------------------------------------------------------------------ jvm

def java_cmd(cp, mode, opts, run_dir):
    return (["java"] + ADD_OPENS +
            # a fixed, pre-touched heap: no heap growth or first-touch page
            # faults inside timed work (they made early passes slower)
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Dspark.ui.enabled=false",
             f"-Djava.io.tmpdir={run_dir}/tmp",
             f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
             "-cp", os.path.join(BUILD, "classes") + os.pathsep + cp,
             "perfbench.Harness", mode] + [f"--{k}={v}" for k, v in opts.items()])


def run_jvm(cmd, run_dir):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        return p


def wait_jvm(p, deadline, run_dir):
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise Failure("harness exceeded the run's time limit")
    if rc != 0:
        tail = open(os.path.join(run_dir, "jvm.log"), errors="replace").read()[-3000:]
        sys.stderr.write(tail)
        raise Failure(f"harness exited with {rc}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


# ------------------------------------------------------------ workloads

def check_outputs(data, verify, keys, errors, deadline):
    """Verdict per key ('PASS', 'ROWS-ONLY ...' or 'FAIL ...') from graft's
    own correctness gate, tools/check.py: each oracle SQL replayed in
    DuckDB over `data`, then columns, dtypes, row count and every value
    compared with the key's parquet output in `verify`."""
    verdicts = {k: f"FAIL raised: {errors[k]}" for k in keys if k in errors}
    rest = [k for k in keys if k not in errors]
    if not rest:
        return verdicts
    cmd = [sys.executable, os.path.join(ROOT, "tools", "check.py"), data, verify,
           "--skip-verify", "--no-spill", f"--threads={os.cpu_count()}"] + rest
    try:
        out = subprocess.run(cmd, cwd=verify, capture_output=True, text=True,
                             timeout=max(1.0, deadline - time.time())).stdout
    except subprocess.TimeoutExpired:
        raise Failure("output check exceeded the run's time limit")
    for line in out.splitlines():
        if line.startswith("PASS ("):
            verdicts.update((k, "PASS") for k in line.split(":", 1)[1].split())
        elif line.startswith("ROWS-ONLY: "):
            verdicts[line.split()[1]] = line
        elif line.startswith(("FAIL: ", "TIMEOUT: ")):
            tag, k, msg = line.split(": ", 2)
            verdicts[k] = f"FAIL {tag.lower()}: {msg}"
    for k in rest:      # the gate skips a key whose output directory is missing
        verdicts.setdefault(k, "FAIL no output checked")
    return verdicts


def batch_workload(args, cp, run_dir, deadline):
    base = base_inputs()
    x10 = os.path.join(BUILD, "data", f"x10_{DATA_SEED}")
    keys = X10_KEYS + BASE_KEYS
    opts = {"data": base, "x10": x10, "out": run_dir, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "keys": ",".join(BASE_KEYS),
            "x10-keys": ",".join(X10_KEYS), "stores": ",".join(BASE_STORES)}
    r = wait_jvm(run_jvm(java_cmd(cp, "batch", opts, run_dir), run_dir), deadline, run_dir)
    check_x10(base, x10)

    # correctness: each key's output against its DuckDB oracle, on its own input
    verify = os.path.join(run_dir, "verify")
    with open(os.path.join(verify, "oracle_sql.json"), "w") as f:
        json.dump(r["oracle"], f)
    verdicts = check_outputs(x10, verify, X10_KEYS, r["failed"], deadline)
    verdicts.update(check_outputs(base, verify, BASE_KEYS, r["failed"], deadline))
    timed = [p for p in r["passes"] if not p["traced"]]
    runs = sum(len(p["keys"]) for p in r["passes"])
    failed_runs = sum(1 for p in r["passes"] for k in p["keys"] if k in r["failed"])
    stores = BASE_STORES
    attempted = runs + len(stores) + len(keys)
    failed = (failed_runs + sum(1 for s in stores if s in r["failed"]) +
              sum(1 for v in verdicts.values() if not v.startswith(("PASS", "ROWS-ONLY"))))

    per_key = {k: statistics.median(p["keys"][k] for p in timed) for k in keys}
    samples = [p["keys"][k] for p in timed for k in keys]   # every (key, pass)
    m = {
        "setup_s": statistics.median(r["setup_s"]),
        "batch_s": statistics.median(p["wall_s"] for p in timed),
        # every key weighs the same, whatever its scale; a key's noise is
        # damped by the median over passes, a run's by the mean over keys
        "op_geomean_ms": live.geomean(per_key.values()) * 1e3,
        "op_tail_ms": live.pct(samples, 85) * 1e3,
        "peak_heap_mb": r["peak_heap_mb"],
    }
    x10_s = [sum(p["keys"][k] for k in X10_KEYS) for p in timed]
    base_s = [sum(p["keys"][k] for k in BASE_KEYS) for p in timed]
    report = {
        "setup_s": m["setup_s"], "failed_ratio": failed / attempted,
        "peak_heap_mb": m["peak_heap_mb"], "batch_s": m["batch_s"],
        "query_p50_s": live.pct(samples, 50), "query_p85_s": m["op_tail_ms"] / 1e3,
        "query_geomean_s": m["op_geomean_ms"] / 1e3,
        "x10_keys_s": statistics.median(x10_s), "base_keys_s": statistics.median(base_s),
        "store_build_s": sum(r["stores"].values()),
    }
    detail = {"keys": per_key, "passes": [p["wall_s"] for p in r["passes"]],
              "setups": r["setup_s"], "stores": r["stores"], "shapes": r["shapes"],
              "verdicts": verdicts, "errors": r["failed"], "engine_stores": r["engine_stores"]}
    per_layer = None
    if args.trace:
        per_layer = layers.batch(r, os.path.join(run_dir, "spans.jsonl"), keys)
    return m, report, per_layer, detail, attempted, failed, {"data": [base, x10], "cpus": r["cpus"]}


def live_workload(args, cp, run_dir, deadline):
    base = base_inputs()
    rates = [float(x) for x in args.rates.split(",")] if args.rates else LIVE_RATES
    shares = [1.0 / len(rates)] * len(rates) if args.rates else LIVE_SHARES
    durations = [round(args.seconds * s, 3) for s in shares]
    gen_cmd = [sys.executable, os.path.join(HERE, "loadgen.py"), "--out", run_dir,
               "--events", os.path.join(base, "events.parquet"), "--seed", str(args.seed),
               "--rates", ",".join(map(str, rates)), "--durations", ",".join(map(str, durations)),
               "--keys", ",".join(WRITE_KEYS), "--disabled", DISABLED_KEY,
               "--probes", str(LIVE_PROBES), "--threads", str(os.cpu_count())]
    with open(os.path.join(run_dir, "loadgen.log"), "w") as glog:
        g = subprocess.Popen(gen_cmd, stdout=subprocess.DEVNULL, stderr=glog,
                             start_new_session=True)
    procs = [g]
    try:
        ready = os.path.join(run_dir, "gen_ready")
        while not os.path.exists(ready):
            if g.poll() is not None or time.time() > deadline:
                raise Failure("traffic generator did not start")
            time.sleep(0.02)
        port = open(ready).read().strip()
        opts = {"out": run_dir, "dest": f"http://127.0.0.1:{port}",
                "write-keys": ",".join(WRITE_KEYS), "disabled": DISABLED_KEY,
                "trace": args.trace}
        j = run_jvm(java_cmd(cp, "live", opts, run_dir), run_dir)
        procs.append(j)
        while j.poll() is None and time.time() < deadline:
            if g.poll() is not None:     # the generator never ends before the harness
                raise Failure(f"traffic generator exited early with {g.returncode}")
            time.sleep(0.1)
        r = wait_jvm(j, deadline, run_dir)
        open(os.path.join(run_dir, "stop"), "w").close()
        try:
            g.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise Failure("traffic generator did not finish")
        if g.returncode != 0:
            raise Failure(f"traffic generator exited with {g.returncode}")
    finally:
        for p in procs:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    with open(os.path.join(run_dir, "loadgen.json")) as f:
        lg = json.load(f)
    res = live.analyse(r, lg, run_dir, DISABLED_KEY, LIVE_VISIBLE_P99_LIMIT_MS, ref_phase=1)
    per_layer = None
    if args.trace:
        per_layer, res["detail"]["trace_ms"] = live.per_layer(res, r, run_dir)
        # tracing overhead against this seed's untraced run, when there is one
        plain = os.path.join(BUILD, "results", f"live_ingest-seed{args.seed}-trace0.json")
        if os.path.exists(plain):
            with open(plain) as f:
                base_s = json.load(f)["end_to_end"]["batch_s"]
            per_layer["trace.overhead_ratio"] = res["metrics"]["batch_s"] / base_s - 1
    return (res["metrics"], res["report"], per_layer, res["detail"], res["attempted"],
            res["failed"], {"data": [base], "cpus": r["cpus"]})


# ----------------------------------------------------------------- main

def load1():
    return os.getloadavg()[0]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rates", help="live_ingest calibration: offered rates (envelopes/s) "
                    "in place of the frozen ones, each for an equal share of --seconds")
    args = ap.parse_args()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no graft sources under {ROOT}: run from the root of a graft checkout")
        return 2
    started = time.time()
    load_start = load1()
    cpus = os.cpu_count()
    try:
        cp, src = build.build(BUILD)
        deadline = time.time() + RUN_LIMIT_S
        run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        if args.workload == "live_ingest":
            out = live_workload(args, cp, run_dir, deadline)
        else:
            out = batch_workload(args, cp, run_dir, deadline)
    except (Failure, subprocess.TimeoutExpired, OSError, KeyError, ValueError) as e:
        log(f"FAILED: {e}")
        return 1
    metrics, named, per_layer, detail, attempted, failed, extra = out
    header = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cpus, "spark_cores": extra["cpus"], "heap": HEAP,
        "commit": git_commit() or f"source-{src}",
        "inputs": {os.path.basename(d): input_sizes(d) for d in extra["data"]},
        "load1_start": load_start, "load1_end": load1(),
        "loaded_start": load_start > cpus / 4, "wall_s": time.time() - started,
    }
    report = {"header": header, "end_to_end": metrics, "report_metrics": named,
              "per_layer": per_layer, "detail": detail,
              "attempted": attempted, "failed": failed}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(BUILD, "results", name), "w") as f:
        json.dump(report, f, indent=1, default=str)
    if args.trace and os.path.exists(os.path.join(run_dir, "spans.jsonl")):
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                    os.path.join(BUILD, "traces", name.replace(".json", ".spans.jsonl")))
    shutil.rmtree(run_dir, ignore_errors=True)
    print_report(header, named, detail)

    if args.trace:
        shown = {k: {"value": v, "unit": layers.unit(k)} for k, v in per_layer.items()}
    else:
        shown = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": shown}))
    return 0


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def print_report(header, named, detail):
    h = header
    log(f"{h['workload']} seed={h['seed']} trace={h['trace']} nproc={h['nproc']} "
        f"spark_cores={h['spark_cores']} heap={h['heap']} commit={h['commit']}")
    log(f"load1 start={h['load1_start']:.2f} end={h['load1_end']:.2f}"
        + ("  ** started above cpus/4: timings taken under load **" if h["loaded_start"] else ""))
    for d, sizes in h["inputs"].items():
        log(f"inputs {d}: " + ", ".join(f"{t}={v['rows']}" for t, v in sizes.items()))
    for k, v in named.items():
        log(f"  {k:<22} {v:.4f}")
    errs = {k: v for k, v in detail.get("verdicts", {}).items()
            if not v.startswith(("PASS", "ROWS-ONLY"))}
    for k, v in errs.items():
        log(f"  CHECK FAIL {k}: {v}")
    for k, v in detail.get("errors", {}).items():
        log(f"  ERROR {k}: {v}")
    for p in detail.get("phases", []):
        log(f"  phase {p['rate']:g} envelopes/s: {p['events_per_s']:.0f} events/s, "
            f"visible_p99 {p['visible_p99_ms']:.0f} ms, backlog mean {p['backlog_mean']:.0f} "
            f"slope {p['backlog_slope']:.1f}/s, triggers {p.get('triggers', '?')}, "
            f"sustained {p['sustained']}")


if __name__ == "__main__":
    sys.exit(main())
