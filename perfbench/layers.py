"""Per-layer metrics of a traced run.

Spans come from the harness (keys, store builds, foreachBatch steps),
from Spark's listeners (planning phases, jobs, stages, tasks, trigger
phases) and from the traffic generator (requests). Layer self times
are computed by a sweep over each root span (a pass, the store builds,
a trigger): every instant goes to the deepest span open at that
instant, split evenly when several are open at the same depth. The self
times of a root therefore add up to its wall time exactly; stage and
task spans run in parallel on executor threads and are kept out of the
sweep (their totals are the engine.task_* counters instead).

Every workload prints every metric below. Times (unit s) are kept to
layers both workloads exercise; a layer that only one workload has is
reported as its share of the traced wall time, so it reads 0 where the
layer is absent. The absolute per-trigger times of the live
path go to the run's report and trace files.
"""
import json
import statistics

# layers every workload has: self time in seconds, per unit of work
# (a batch pass; the whole live run)
SECONDS = [
    ("queries.construct", "queries.construct_s"),
    ("engine.optimize", "engine.optimize_s"),
    ("engine.plan", "engine.plan_s"),
    ("engine.exec", "engine.exec_s"),
]
# the other layers: self time as a share of the traced wall time
SHARES = [
    ("bench", "bench.harness_share"),
    ("engine.analyze", "engine.analyze_share"),
    ("engine.driver", "engine.driver_share"),
    ("operators.store", "operators.store_share"),
    ("streaming.trigger", "streaming.trigger_share"),
    ("streaming.latest_offset", "streaming.latest_offset_share"),
    ("streaming.get_batch", "streaming.get_batch_share"),
    ("streaming.wal_commit", "streaming.wal_commit_share"),
    ("streaming.query_planning", "streaming.query_planning_share"),
    ("streaming.add_batch", "streaming.add_batch_share"),
    ("streaming.commit", "streaming.commit_share"),
    ("streaming.sink", "streaming.sink_share"),
    ("streaming.intake", "streaming.intake_share"),
    ("operators.batch", "operators.batch_share"),
    ("sinks.egress", "sinks.egress_share"),
]
COUNTERS = [
    ("engine.jobs", "count"), ("engine.stages", "count"), ("engine.tasks", "count"),
    ("engine.task_wait_s", "s"), ("engine.task_run_s", "s"), ("engine.task_cpu_s", "s"),
    ("engine.task_gc_share", "ratio"), ("engine.shuffle_read_mb", "MB"),
    ("engine.shuffle_write_mb", "MB"), ("engine.spill_mb", "MB"),
    ("engine.peak_exec_mem_mb", "MB"), ("sources.scan_mb", "MB"),
    ("sources.scan_rows", "count"), ("engine.untagged_job_share", "ratio"),
]
PLAN = ["scans", "exchanges", "reused_exchanges", "broadcasts", "window_nopart"]
# inclusive key time per query family, as a share of the pass
FAMILIES = [("p_", "queries.pipeline_share"), ("q", "queries.relational_share"),
            ("d_", "operators.dedup_share"), ("s_", "operators.similarity_share"),
            ("m_", "operators.multimodal_share"), ("t_", "functions.text_share")]
# inclusive store-build time per operator family, as a share of all store builds
STORES = [("operators.store.dedup", "operators.store.dedup_share"),
          ("operators.store.ann", "operators.store.ann_share"),
          ("operators.store.classifier", "operators.store.classifier_share")]
LIVE = [
    ("streaming.triggers", "count"), ("streaming.rows_per_trigger", "count"),
    ("streaming.tasks_per_trigger", "count"), ("streaming.trigger_tail_ratio", "ratio"),
    ("streaming.state_rows", "count"), ("streaming.state_mem_mb", "MB"),
    ("streaming.dup_drop_ratio", "ratio"), ("streaming.backlog_events", "count"),
    ("sources.ingress.accepted", "count"), ("sources.ingress.refused_401", "count"),
    ("sources.ingress.shed_429", "count"), ("sources.ingress.error_5xx", "count"),
    ("sources.ingress.accept_ratio", "ratio"), ("sources.spool.files", "count"),
    ("sources.spool.mb", "MB"), ("sinks.egress.posts", "count"),
    ("sinks.egress.non2xx", "count"), ("sinks.egress.mb", "MB"),
    ("loadgen.sent", "count"), ("loadgen.late_ratio", "ratio"),
]
# counters that are a share or a maximum, so not divided per pass
NOT_SUMS = ("engine.untagged_job_share", "engine.task_gc_share", "engine.peak_exec_mem_mb")
TRACE = [("trace.wall_s", "s"), ("trace.overhead_ratio", "ratio"), ("trace.spans", "count")]


def metric_units():
    out = {name: "s" for _, name in SECONDS}
    out.update({name: "ratio" for _, name in SHARES})
    out.update(dict(COUNTERS))
    out.update({f"engine.plan.{p}": "count" for p in PLAN})
    out.update({name: "ratio" for _, name in FAMILIES})
    out.update({name: "ratio" for _, name in STORES})
    out.update(dict(LIVE))
    out.update(dict(TRACE))
    return out


UNITS = metric_units()


def unit(name):
    return UNITS[name]


def empty():
    return {k: 0.0 for k in UNITS}


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def sweep(roots, spans):
    """Self time per layer (seconds) over the given root spans."""
    out = {}
    tree = [s for s in spans if s["layer"] not in ("engine.stage", "engine.task", "loadgen")]
    for root in roots:
        a0, b0 = root["start"], root["end"]
        inside = [s for s in tree if s is not root and s["depth"] > root["depth"]
                  and s["end"] > a0 and s["start"] < b0]
        bounds = sorted({a0, b0} | {min(max(s["start"], a0), b0) for s in inside}
                        | {min(max(s["end"], a0), b0) for s in inside})
        for lo, hi in zip(bounds, bounds[1:]):
            if hi <= lo:
                continue
            open_ = [s for s in inside if s["start"] <= lo and s["end"] >= hi]
            if not open_:
                out[root["layer"]] = out.get(root["layer"], 0.0) + (hi - lo) / 1e3
                continue
            d = max(s["depth"] for s in open_)
            top = [s for s in open_ if s["depth"] == d]
            for s in top:
                out[s["layer"]] = out.get(s["layer"], 0.0) + (hi - lo) / 1e3 / len(top)
    return out


def fold(m, by_layer, wall, per=1.0):
    """Self times into the metric dict: seconds for SECONDS layers (divided
    by `per` units of work), shares of `wall` for the rest."""
    for layer, name in SECONDS:
        m[name] = by_layer.get(layer, 0.0) / per
    for layer, name in SHARES:
        m[name] = sum(v for k, v in by_layer.items()
                      if k == layer or k.startswith(layer + ".")) / wall if wall else 0.0


def batch(r, spans_path, keys):
    spans = load(spans_path)
    m = empty()
    traced = [p for p in r["passes"] if p["traced"]]
    # the first pass still carries JIT warm-up, so it is no baseline
    untraced = [p for p in r["passes"][1:] if not p["traced"]]
    passes = [s for s in spans if s["depth"] == 0 and s["name"].startswith("pass ")]
    stores = [s for s in spans if s["depth"] == 0 and s["name"] == "stores"]
    n = max(1, len(passes))
    wall = sum((s["end"] - s["start"]) / 1e3 for s in passes)
    fold(m, sweep(passes, spans), wall, per=n)
    store_wall = sum((s["end"] - s["start"]) / 1e3 for s in stores)
    if store_wall:
        store_self = sweep(stores, spans)
        m["operators.store_share"] = sum(v for k, v in store_self.items()
                                         if k.startswith("operators.store")) / store_wall
        for layer, name in STORES:
            m[name] = sum((s["end"] - s["start"]) / 1e3 for s in spans
                          if s["layer"] == layer and s["depth"] == 1) / store_wall
    # engine counters of the traced passes, per pass (the store builds
    # are counted apart, under engine_stores in the run's report)
    for k, v in r["engine"].items():
        if k in m:
            m[k] = v if k in NOT_SUMS else v / n
    for p in PLAN:
        m[f"engine.plan.{p}"] = float(sum(s.get(p, 0) for s in r["shapes"].values()))
    pass_wall = sum(p["wall_s"] for p in traced)
    for prefix, name in FAMILIES:
        fam = [k for k in keys if k.startswith(prefix) and not (prefix == "q" and k[1:2] == "_")]
        m[name] = sum(p["keys"][k] for p in traced for k in fam) / pass_wall if pass_wall else 0.0
    m["trace.wall_s"] = wall / n
    if untraced and traced:
        m["trace.overhead_ratio"] = (statistics.median(p["wall_s"] for p in traced) /
                                     statistics.median(p["wall_s"] for p in untraced) - 1)
    m["trace.spans"] = float(len(spans))
    return m
