"""Metrics and exactly-once accounting for `live_ingest`.

Joins the traffic generator's records (due time, response, receipts at
the destinations) with the harness's visibility log and the stream's
trigger progress. Times from both processes share the host clock.
"""
import collections
import json
import os
import statistics

import layers

PENALTY_MS = 10_000.0   # a 429, 5xx or timeout misses every latency limit
WARM_IDS = 9_000_000_000_000   # ids of the harness's own warm-up events


def pct(values, q):
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def geomean(values):
    """Geometric mean; 0 for no values (a run with nothing measured also
    fails its correctness check)."""
    v = [max(x, 1e-6) for x in values]
    return statistics.geometric_mean(v) if v else 0.0


def _read_batches(run_dir):
    """Micro-batch id -> the time (s) its foreachBatch began."""
    out = {}
    with open(os.path.join(run_dir, "batches.csv")) as f:
        for line in f:
            if line.strip():
                b, t = line.strip().split(",")
                out[int(b)] = float(t) / 1e3
    return out


def _read_triggers(run_dir):
    with open(os.path.join(run_dir, "triggers.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def _backlog(accepted_at, visible_at, lo, hi, step=0.05):
    """Accepted-but-not-yet-visible events, sampled over [lo, hi)."""
    acc = sorted(accepted_at)
    vis = sorted(visible_at)
    out, i, j, t = [], 0, 0, lo
    while t < hi:
        while i < len(acc) and acc[i] <= t:
            i += 1
        while j < len(vis) and vis[j] <= t:
            j += 1
        out.append((t, i - j))
        t += step
    return out


def _slope(points):
    if len(points) < 3:
        return 0.0
    xs = [p[0] for p in points]
    ys = [p[1] for p in points]
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    den = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den if den else 0.0


def analyse(r, lg, run_dir, disabled, limit_ms, ref_phase):
    reqs = lg["requests"]
    phases = lg["phases"]
    batches = _read_batches(run_dir)
    triggers = _read_triggers(run_dir)

    # exactly-once accounting
    failures = collections.Counter()
    due_of = {}            # event id -> due time of the first accepted copy
    phase_of = {}
    accepted_at = []       # time the gateway answered 200, per event
    for q in reqs:
        if q["key"] == disabled:
            if q["code"] != 401:
                failures["disabled key not refused"] += 1
            continue
        if q["code"] != 200:
            failures[f"enabled key answered {q['code']}"] += 1
            continue
        for mid in q["ids"]:
            if mid not in due_of or q["due"] < due_of[mid]:
                due_of[mid] = q["due"]
                phase_of[mid] = q["phase"]
            if not q["dup"]:
                accepted_at.append(q["done"])
    dests = collections.defaultdict(collections.Counter)
    recv_t = {}
    trig_of = collections.defaultdict(set)
    for dest, mid, trig, t in lg["receipts"]:
        mid = int(mid) if mid is not None else None
        if mid is not None and mid >= WARM_IDS:
            continue
        dests[dest][mid] += 1
        recv_t.setdefault((dest, mid), t)
        trig_of[mid].add(trig)
    # an event is visible from the start of the micro-batch that carried it
    vis_t = {m: batches[next(iter(ts))] for m, ts in trig_of.items()
             if len(ts) == 1 and next(iter(ts)) in batches}
    seen = collections.Counter({m: len(ts) for m, ts in trig_of.items()})
    for mid in due_of:
        if seen[mid] != 1:
            failures["accepted event not in exactly one micro-batch"] += 1
    n_dest = 3
    if len(dests) != n_dest and due_of:
        failures["destination never reached"] += n_dest - len(dests)
    for dest, got in dests.items():
        for mid in due_of:
            if got[mid] != 1:
                failures["event not delivered exactly once"] += 1
        failures["delivery of an unknown event"] += sum(1 for mid in got if mid not in due_of)
    most = collections.Counter()    # highest delivery count of each event
    for got in dests.values():
        for mid, c in got.items():
            most[mid] = max(most[mid], c)
    failures["egress non-2xx"] += r["egress_non2xx"]
    attempted = len(reqs) + len(due_of) * (1 + n_dest) + r["egress_posts"]
    failed = sum(failures.values())

    # latencies at the reference rate, timed from each request's due time
    ref = [q for q in reqs if q["phase"] == ref_phase and q["key"] != disabled and not q["dup"]]
    accept = [(q["done"] - q["due"]) * 1e3 if q["code"] == 200 else PENALTY_MS for q in ref]
    ref_ids = [m for m, p in phase_of.items() if p == ref_phase]
    vis_ms = [(vis_t[m] - due_of[m]) * 1e3 if m in vis_t else PENALTY_MS for m in ref_ids]
    del_ms = [(recv_t[(d, m)] - due_of[m]) * 1e3 if (d, m) in recv_t else PENALTY_MS
              for d in dests for m in ref_ids]

    # per phase: visibility tail and backlog trend -> sustained rate
    per_phase = []
    for i, (lo, hi) in enumerate(phases):
        ids = [m for m, p in phase_of.items() if p == i]
        v = [(vis_t[m] - due_of[m]) * 1e3 if m in vis_t else PENALTY_MS for m in ids]
        bl = _backlog(accepted_at, [t for t in vis_t.values()], lo, hi)
        slope = _slope(bl)
        eps = len(ids) / (hi - lo) if hi > lo else 0.0
        # sustained: visibility tail within the limit, and less than half
        # of the offered events piling up as backlog
        ok = bool(ids) and pct(v, 99) <= limit_ms and slope <= 0.5 * eps
        per_phase.append({"rate": lg["rates"][i], "events_per_s": eps,
                          "visible_p99_ms": pct(v, 99), "backlog_mean": statistics.fmean(
                              [b for _, b in bl]) if bl else 0.0,
                          "backlog_slope": slope, "sustained": ok,
                          "triggers": sum(1 for t in triggers if lo <= t["start"] / 1e3 < hi)})
    sustained = max([p["events_per_s"] for p in per_phase if p["sustained"]], default=0.0)

    # closed-loop probes on the idle path (phase index after the rates)
    probe_ids = [m for m, p in phase_of.items() if p == len(phases)]
    probe_ms = [(recv_t[(d, m)] - due_of[m]) * 1e3 if (d, m) in recv_t else PENALTY_MS
                for d in dests for m in probe_ids]
    by_batch = {t["batch"]: t for t in triggers}
    probe_batches = {b for m in probe_ids for b in trig_of[m] if b in by_batch}
    probe_trig = [by_batch[b]["durations"].get("triggerExecution", 0) / 1e3
                  for b in sorted(probe_batches)] or [0.0]
    lo, hi = phases[ref_phase]
    metrics = {
        "setup_s": statistics.median(r["setup_s"]),
        "batch_s": statistics.median(probe_trig),
        "op_geomean_ms": geomean(probe_ms),
        "op_tail_ms": pct(probe_ms, 99),
        "peak_heap_mb": r["peak_heap_mb"],
    }
    report = {
        "setup_s": metrics["setup_s"], "failed_ratio": failed / max(1, attempted),
        "peak_heap_mb": metrics["peak_heap_mb"], "sustained_eps": sustained,
        "accept_p50_ms": pct(accept, 50), "accept_p99_ms": pct(accept, 99),
        "visible_p50_ms": pct(vis_ms, 50), "visible_p99_ms": pct(vis_ms, 99),
        "delivered_p50_ms": pct(del_ms, 50), "delivered_p99_ms": pct(del_ms, 99),
        "probe_trigger_s": metrics["batch_s"], "probe_delivered_p50_ms": pct(probe_ms, 50),
        "probe_delivered_geomean_ms": metrics["op_geomean_ms"],
        "probe_delivered_p99_ms": metrics["op_tail_ms"],
        "heap_after_traffic_mb": r["heap_after_traffic_mb"],
    }
    detail = {"phases": per_phase, "failures": dict(failures), "setups": r["setup_s"],
              "drain_ms": r["drain_ms"], "triggers": len(triggers)}
    return {"metrics": metrics, "report": report, "detail": detail, "attempted": attempted,
            "failed": failed, "triggers": triggers, "reqs": reqs, "ref": (lo, hi),
            "accepted_at": accepted_at, "vis_t": vis_t, "delivered": most,
            "egress_bytes": lg["egress_bytes"]}


def per_layer(res, r, run_dir):
    """Per-layer metrics of a traced live run, plus the absolute
    per-trigger times (ms) that go to the report only."""
    m = layers.empty()
    path = os.path.join(run_dir, "spans.jsonl")
    spans = layers.load(path)
    # the generator's requests join the trace (layer loadgen, outside the sweep)
    with open(path, "a") as f:
        for q in res["reqs"]:
            f.write(json.dumps({"name": "request", "layer": "loadgen", "start": q["sent"] * 1e3,
                                "end": q["done"] * 1e3, "group": "", "depth": 0,
                                "attrs": {"due": q["due"] * 1e3, "code": q["code"]}}) + "\n")
    roots = [s for s in spans if s["depth"] == 0 and s["layer"] == "streaming.trigger"]
    wall = sum((s["end"] - s["start"]) / 1e3 for s in roots)
    layers.fold(m, layers.sweep(roots, spans), wall)
    m["trace.wall_s"] = wall
    m["trace.spans"] = float(len(spans) + len(res["reqs"]))
    trig = res["triggers"]
    lo, hi = res["ref"]
    busy = [t for t in trig if t["rows"] > 0]
    ref = [t for t in busy if lo + 0.5 < t["start"] / 1e3 <= hi + 0.5] or busy

    def avg(key):
        return statistics.fmean(t["durations"].get(key, 0) for t in ref) if ref else 0.0
    te = [t["durations"].get("triggerExecution", 0) for t in ref]
    p50 = pct(te, 50)
    m["streaming.trigger_tail_ratio"] = pct(te, 99) / p50 if p50 else 0.0
    m["streaming.triggers"] = float(len(busy))
    m["streaming.rows_per_trigger"] = statistics.fmean(t["rows"] for t in busy) if busy else 0.0
    for k, v in r["engine"].items():
        if k in m:
            m[k] = v
    m["streaming.tasks_per_trigger"] = r["engine"].get("engine.tasks", 0) / max(1, len(busy))
    m["streaming.state_rows"] = float(max((t["state_rows"] for t in trig), default=0))
    m["streaming.state_mem_mb"] = max((t["state_mem"] for t in trig), default=0) / 1048576
    # re-sent copies that the stream dropped: a copy that got through
    # would reach a destination twice
    copies = [m_id for q in res["reqs"] if q["dup"] and q["code"] == 200 for m_id in q["ids"]]
    leaked = sum(1 for m_id in copies if res["delivered"][m_id] > 1)
    m["streaming.dup_drop_ratio"] = 1 - leaked / len(copies) if copies else 1.0
    bl = _backlog(res["accepted_at"], list(res["vis_t"].values()), lo, hi)
    m["streaming.backlog_events"] = statistics.fmean(b for _, b in bl) if bl else 0.0
    codes = collections.Counter(q["code"] for q in res["reqs"])
    m["sources.ingress.accepted"] = float(codes[200])
    m["sources.ingress.refused_401"] = float(codes[401])
    m["sources.ingress.shed_429"] = float(codes[429])
    m["sources.ingress.error_5xx"] = float(sum(v for c, v in codes.items() if c >= 500))
    m["sources.ingress.accept_ratio"] = codes[200] / max(1, len(res["reqs"]))
    m["sources.spool.files"] = float(r["spool_files"])
    m["sources.spool.mb"] = r["spool_bytes"] / 1048576
    m["sinks.egress.posts"] = float(r["egress_posts"])
    m["sinks.egress.non2xx"] = float(r["egress_non2xx"])
    m["sinks.egress.mb"] = res["egress_bytes"] / 1048576
    m["loadgen.sent"] = float(len(res["reqs"]))
    late = [(q["sent"] - q["due"]) * 1e3 for q in res["reqs"]]
    m["loadgen.late_ratio"] = sum(1 for x in late if x > 5.0) / max(1, len(late))

    def span_ms(name):
        v = [s["end"] - s["start"] for s in spans if s["name"] == name]
        return statistics.fmean(v) if v else 0.0
    times_ms = {
        "streaming.query_planning_ms": avg("queryPlanning"),
        "streaming.latest_offset_ms": avg("latestOffset"),
        "streaming.wal_commit_ms": avg("walCommit"),
        "streaming.add_batch_ms": avg("addBatch"),
        "streaming.trigger_p50_ms": p50, "streaming.trigger_p99_ms": pct(te, 99),
        "operators.batch_ms": span_ms("RestBatcher.envelopes"),
        "sinks.egress.post_ms": span_ms("postEnvelopes"),
        "loadgen.late_p99_ms": pct(late, 99),
    }
    return m, times_ms
