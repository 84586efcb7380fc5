"""Open-loop traffic generator and destination endpoint for `live_ingest`.

Runs as its own process. It serves the three egress destinations on an
ephemeral port (answering 200 and noting when each event arrives),
then replays `events` rows as gateway envelopes against the ingress on
a fixed, seeded schedule. Every request carries its due time and is
timed from it, so a late generator shows up as latency instead of
hiding it. Once the stream has drained, it sends `--probes` single
envelopes in a closed loop, each after the previous one was delivered.
Hand-shake files live in `--out`:

  gen_ready     written here: the destination port
  ingress_port  written by the harness once its stream is up
  gen_done      written here when the last request has been answered
  drained       written by the harness once the stream has caught up
  probes_done   written here after the closed-loop probes
  stop          written by run.py once the harness has finished
  loadgen.json  written here on exit: requests, receipts, phases
"""
import argparse
import http.client
import http.server
import json
import os
import random
import socket
import threading
import time

import pyarrow.parquet as pq

PROBE_EVENTS = 20


def iso(t):
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(t)) + f".{int(t * 1000) % 1000:03d}Z"


def schedule(seed, rates, durations, keys, disabled, events, dup_share=0.02):
    """Requests of every phase, by due time (seconds from the start):
    dicts of phase, due, write key, batch [(message id, event row)], dup.

    Envelope sizes (1-50), write keys and re-sends are drawn from the
    seed; event rows replay `events` in order, so user skew follows the
    batch data. About 1 % of requests use the disabled key; about
    `dup_share` of envelopes are sent a second time, a quarter period
    later, with the same message ids."""
    rng = random.Random(seed)
    enabled = [k for k in keys if k != disabled]
    reqs, row, next_id, start = [], 0, 1, 0.0
    for phase, (rate, dur) in enumerate(zip(rates, durations)):
        n = max(1, int(round(rate * dur)))
        for i in range(n):
            size = rng.randint(1, 50)
            batch = []
            for _ in range(size):
                batch.append((next_id, events[row % len(events)]))
                next_id += 1
                row += 1
            key = disabled if rng.random() < 0.01 else rng.choice(enabled)
            at = start + i / rate
            reqs.append({"phase": phase, "due": at, "key": key, "batch": batch, "dup": False})
            if key != disabled and rng.random() < dup_share:
                reqs.append({"phase": phase, "due": at + 0.25 / rate, "key": key, "batch": batch,
                             "dup": True})
        start += dur
    reqs.sort(key=lambda r: r["due"])
    return reqs


def body(req, due):
    items = []
    for mid, (user, kind, value) in req["batch"]:
        items.append({"messageId": str(mid), "userId": f"u{user}", "event": kind,
                      "originalTimestamp": iso(due), "sentAt": iso(due),
                      "properties": json.dumps({"value": value})})
    return json.dumps({"writeKey": req["key"], "requestIP": "10.0.0.1",
                       "receivedAt": iso(due), "batch": items})


class Receipts(http.server.BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    got = []          # (dest, message_id, trigger, t)
    bytes = [0]
    watch = {}        # message_id -> receipts, for the probe in flight
    lock = threading.Condition()

    def do_POST(self):
        t = time.time()
        raw = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        dest = self.path.rsplit("/", 1)[-1]
        try:
            items = [(e.get("message_id"), e.get("trigger"))
                     for e in json.loads(raw).get("payload", [])]
        except ValueError:
            items = [(None, None)]
        with Receipts.lock:
            Receipts.got.extend((dest, i, b, t) for i, b in items)
            Receipts.bytes[0] += len(raw)
            for i, _ in items:
                if i in Receipts.watch:
                    Receipts.watch[i] += 1
            Receipts.lock.notify_all()
        self.send_response(200)
        self.send_header("Content-Length", "0")
        self.end_headers()

    def log_message(self, *a):
        pass


def wait_for(path, timeout):
    end = time.time() + timeout
    while not os.path.exists(path):
        if time.time() > end:
            raise SystemExit(f"loadgen: timed out waiting for {path}")
        time.sleep(0.01)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--events", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rates", required=True)
    ap.add_argument("--durations", required=True)
    ap.add_argument("--keys", required=True)
    ap.add_argument("--disabled", required=True)
    ap.add_argument("--probes", type=int, required=True)
    ap.add_argument("--threads", type=int, default=os.cpu_count())
    a = ap.parse_args()
    out = a.out
    tbl = pq.read_table(a.events, columns=["user_id", "event_type", "value"]).to_pydict()
    events = list(zip(tbl["user_id"], tbl["event_type"], tbl["value"]))
    rates = [float(x) for x in a.rates.split(",")]
    durations = [float(x) for x in a.durations.split(",")]
    reqs = schedule(a.seed, rates, durations, a.keys.split(","), a.disabled, events)

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Receipts)
    server.daemon_threads = True
    threading.Thread(target=server.serve_forever, daemon=True).start()
    with open(os.path.join(out, "gen_ready.tmp"), "w") as f:
        f.write(str(server.server_address[1]))
    os.replace(os.path.join(out, "gen_ready.tmp"), os.path.join(out, "gen_ready"))

    wait_for(os.path.join(out, "ingress_port"), 170)
    port = int(open(os.path.join(out, "ingress_port")).read())
    t0 = time.time() + 0.2
    bodies = [body(r, t0 + r["due"]) for r in reqs]
    nxt = [0]
    lock = threading.Lock()
    results = [None] * len(reqs)

    def connect():
        c = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
        c.connect()
        c.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        return c

    def worker():
        conn = connect()
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(reqs):
                break
            due = t0 + reqs[i]["due"]
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            sent = time.time()
            try:
                conn.request("POST", "/v1/batch", bodies[i],
                             {"Content-Type": "application/json"})
                resp = conn.getresponse()
                resp.read()
                code = resp.status
            except OSError:
                code = 599
                conn.close()
                conn = connect()
            results[i] = (due, sent, time.time(), code)
        conn.close()

    threads = [threading.Thread(target=worker) for _ in range(max(1, a.threads))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    open(os.path.join(out, "gen_done"), "w").close()

    # closed-loop probes on the drained, idle path: one envelope at a
    # time, the next once every destination has received the last
    wait_for(os.path.join(out, "drained"), 170)
    conn = connect()
    key = next(k for k in a.keys.split(",") if k != a.disabled)
    probes, next_id = [], max((m for r in reqs for m, _ in r["batch"]), default=0) + 1
    for p in range(a.probes):
        batch = [(next_id + j, events[j % len(events)]) for j in range(PROBE_EVENTS)]
        next_id += PROBE_EVENTS
        req = {"phase": len(rates), "due": 0.0, "key": key, "batch": batch, "dup": False}
        with Receipts.lock:
            Receipts.watch = {str(m): 0 for m, _ in batch}
        due = time.time()
        conn.request("POST", "/v1/batch", body(req, due), {"Content-Type": "application/json"})
        resp = conn.getresponse()
        resp.read()
        done = time.time()
        end = time.time() + 30
        with Receipts.lock:
            while time.time() < end and sum(Receipts.watch.values()) < 3 * PROBE_EVENTS:
                Receipts.lock.wait(0.05)
        probes.append((req, (due, due, done, resp.status)))
    conn.close()
    open(os.path.join(out, "probes_done"), "w").close()

    wait_for(os.path.join(out, "stop"), 170)
    server.shutdown()
    phases, start = [], t0
    for d in durations:
        phases.append([start, start + d])
        start += d
    with Receipts.lock:
        receipts = list(Receipts.got)
    json.dump({
        "phases": phases, "rates": rates, "egress_bytes": Receipts.bytes[0],
        "requests": [{"phase": r["phase"], "key": r["key"], "dup": r["dup"],
                      "ids": [m for m, _ in r["batch"]], "due": res[0], "sent": res[1],
                      "done": res[2], "code": res[3]}
                     for r, res in list(zip(reqs, results)) + probes],
        "receipts": receipts,
    }, open(os.path.join(out, "loadgen.json"), "w"))


if __name__ == "__main__":
    main()
