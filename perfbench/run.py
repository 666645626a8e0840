#!/usr/bin/env python3
"""graft benchmark: one workload per run, each in its own JVM.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload serve|ingest --seed N \\
      --seconds S --trace 0|1

The last stdout line is one JSON object with the keys correct,
attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json; with --trace 1 (a separate run
with Spark listeners registered) the per-layer metrics. Earlier lines
carry the run's diagnostics: warm-up times, sample counts,
/proc/loadavg before and after and the run's CPU steal share. See
perfbench/README.md.
"""
import argparse
import http.client
import json
import os
import queue
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import checks  # noqa: E402

# ---- workload settings (see perfbench/README.md) --------------------------
CLIENTS = 4                 # closed-loop connections in serve's loaded phase
SERVE_EVENTS = 100_000      # sf0.1 events, made by graft.GenData.events
SERVE_ROUNDS = 12           # distinct request rounds generated from the seed
SERVE_WARM = 2              # untimed rounds before the one-client phase
CHART = 25                  # windows per chart: CandleHttpServer's default `recent` n
INGEST_TICKS = 3600         # ticks per trigger = 1 h of event time (1 tick/s)
INGEST_WARM = 4             # triggers discarded as warm-up
INGEST_S_PER_TRIGGER = 4    # kept triggers = max(3, --seconds // this)
JVM_HEAP = "2g"
DEADLINE_S = 170            # a run never outlives this
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

END_TO_END = {"setup_s": "s", "latency_ms": "ms", "throughput_per_s": "1/s"}
ENGINE_LAYERS = {  # per operation: a request on serve, a kept trigger on ingest
    "engine.jobs_per_op": "count", "engine.stages_per_op": "count",
    "engine.tasks_per_op": "count", "engine.executor_run_ms_per_op": "ms",
    "engine.executor_cpu_ms_per_op": "ms", "engine.gc_ms_per_op": "ms",
    "engine.core_busy": "ratio", "engine.codegen_compiles_per_op": "count",
    "engine.codegen_ms_per_op": "ms", "engine.unattributed_ms_per_op": "ms",
    "engine.shuffle_bytes_per_op": "bytes", "engine.spill_bytes_per_op": "bytes"}
PER_LAYER = {
    "serving.gateway_ms": "ms", "serving.queue_ms": "ms", "store.open_ms": "ms",
    "operators.construct_ms": "ms", "engine.plan_ms": "ms", "store.exec_ms": "ms",
    "sources.read_jobs_per_req": "count", "store.files_per_req": "count",
    "store.rows_scanned_per_row_returned": "ratio",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms", "streaming.plan_ms": "ms",
    "streaming.commit_log_ms": "ms", "streaming.state_rows": "rows",
    "store.records_written_per_batch": "rows", "store.write_amplification": "ratio",
    "store.files_total": "count", "store.batch_growth": "ratio",
    **ENGINE_LAYERS}


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat: time the
    hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def info(event, **fields):
    """A diagnostics line (never the last line of stdout)."""
    print(json.dumps({"event": event, **fields}), flush=True)


def engine_layers(counters, ops, wall_s, cpus, construct_ms):
    """Spark runtime work per operation from counter deltas over `ops`
    operations that took `wall_s`. Unattributed time is the mean
    operation's wall time less its DataFrame construction and its
    executor run time spread over the cores."""
    run_ms = counters.get("executor_run_ms", 0) / ops
    return {
        "engine.jobs_per_op": counters.get("jobs", 0) / ops,
        "engine.stages_per_op": counters.get("stages", 0) / ops,
        "engine.tasks_per_op": counters.get("tasks", 0) / ops,
        "engine.executor_run_ms_per_op": run_ms,
        "engine.executor_cpu_ms_per_op": counters.get("executor_cpu_ms", 0) / ops,
        "engine.gc_ms_per_op": counters.get("gc_ms", 0) / ops,
        "engine.core_busy": run_ms * ops / 1000 / (wall_s * cpus),
        "engine.codegen_compiles_per_op": counters.get("codegen_compiles", 0) / ops,
        "engine.codegen_ms_per_op": counters.get("codegen_ms", 0) / ops,
        "engine.unattributed_ms_per_op": wall_s * 1000 / ops - construct_ms - run_ms / cpus,
        "engine.shuffle_bytes_per_op": counters.get("shuffle_bytes", 0) / ops,
        "engine.spill_bytes_per_op": counters.get("spill_bytes", 0) / ops,
    }


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Jvm:
    """One workload JVM; its JSON stdout lines arrive on a queue."""

    def __init__(self, cp, workload, work, opts):
        os.makedirs(f"{work}/tmp", exist_ok=True)
        cmd = (["java"] + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
                  "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main", workload]
               + [f"{k}={v}" for k, v in opts.items()])
        self.log = open(f"{work}/jvm.log", "w")
        self.launched = time.time()
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True, bufsize=1)
        self.lines = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self):
        for line in self.proc.stdout:
            if line.startswith("{"):
                self.lines.put(json.loads(line))
        self.lines.put(None)

    def next(self, event, deadline):
        """The first `event` line; earlier lines are dropped."""
        while True:
            left = deadline - time.time()
            if left <= 0:
                raise RuntimeError(f"timed out waiting for {event}")
            try:
                d = self.lines.get(timeout=left)
            except queue.Empty:
                continue
            if d is None:
                raise RuntimeError(f"workload JVM exited (code {self.proc.wait()}) "
                                   f"before {event}; see {self.log.name}")
            if d["event"] == event:
                return d

    def send(self, line):
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def close(self):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.log.close()


# ---- serve ----------------------------------------------------------------

def serve_requests(con, rng, rounds):
    """Rounds of 21 requests: each route of CandleHttpServer once at each
    of the four timeframes (point, range, range + fill, recent, keys)
    and /symbols once. No record of real chart traffic exists to weight
    the routes by, so every (route, timeframe) pair the gateway serves
    gets the same share. Each request asks for one chart's worth:
    a range spans CHART windows, recent uses the server's default n
    (= CHART), and keys asks for a page of CHART keys after an existing
    key. Every round has the same shape, so any number of whole rounds
    has the same mix; the seed picks the symbols and the existing
    candles (from `exp`) that anchor point, range and keys requests."""
    rows = con.execute("SELECT symbol, timeframe, window_start FROM exp "
                       "ORDER BY timeframe, symbol, window_start").fetchall()
    by_tf = {}
    for r in rows:
        by_tf.setdefault(r[1], []).append(r)
    symbols = sorted({r[0] for r in rows})

    def pick(xs):
        return xs[int(rng.integers(0, len(xs)))]

    out = []
    for _ in range(rounds):
        rnd = []
        for tf in checks.TFS:
            sym, _, ws = pick(by_tf[tf])
            rnd.append(f"/candles/{sym}/{tf}/point?key={ws.strftime(checks.KEY_FMT[tf])}")
            for fill in ("", "&fill=true"):
                sym, _, ws = pick(by_tf[tf])
                to = con.execute(f"SELECT strftime(TIMESTAMP '{ws}' + INTERVAL {CHART} "
                                 f"{checks.UNIT[tf]}, '%Y-%m-%d+%H:%M:%S')").fetchone()[0]
                rnd.append(f"/candles/{sym}/{tf}?from={ws:%Y-%m-%d+%H:%M:%S}&to={to}{fill}")
            rnd.append(f"/candles/{pick(symbols)}/{tf}/recent")
            sym, _, ws = pick(by_tf[tf])
            after = f"candle:{sym}:{tf}:{ws.strftime(checks.KEY_FMT[tf])}"
            rnd.append(f"/keys/{sym}/{tf}?limit={CHART}&after={after}")
        rnd.append("/symbols")
        out.append(rnd)
    return out


def route(req):
    """The route a request takes: point, range, range_fill, recent,
    keys or symbols."""
    path, _, query = req.partition("?")
    parts = path.strip("/").split("/")
    if parts[0] in ("keys", "symbols"):
        return parts[0]
    if len(parts) == 4:
        return parts[3]
    return "range_fill" if "fill=true" in query else "range"


def route_p50(results):
    """p50 latency and sample count per route."""
    by = {}
    for req, _, _, ms in results:
        by.setdefault(route(req), []).append(ms)
    return {r: {"p50_ms": round(median(xs), 1), "samples": len(xs)} for r, xs in sorted(by.items())}


def http_phase(port, rounds, start, n_rounds_min, seconds, clients):
    """Closed loop: `clients` connections take requests in order from
    whole rounds until `seconds` pass (at least n_rounds_min rounds).
    Returns ([(req, status, body, ms)], wall_s, next_round)."""
    lock = threading.Lock()
    state = {"round": start, "pos": 0, "stop": False}
    t0 = time.time()
    results = []

    def take():
        with lock:
            if state["pos"] == 0 and (state["round"] - start >= n_rounds_min
                                      and time.time() - t0 >= seconds):
                state["stop"] = True
            if state["stop"]:
                return None
            req = rounds[state["round"] % len(rounds)][state["pos"]]
            state["pos"] += 1
            if state["pos"] == len(rounds[0]):
                state["round"], state["pos"] = state["round"] + 1, 0
            return req

    def client():
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        try:
            while (req := take()) is not None:
                t = time.perf_counter()
                try:
                    conn.request("GET", req)
                    resp = conn.getresponse()
                    status, body = resp.status, resp.read()
                except (OSError, http.client.HTTPException) as e:
                    # a request that got no response counts as status 0
                    status, body = 0, repr(e).encode()
                    conn.close()
                ms = (time.perf_counter() - t) * 1000
                with lock:
                    results.append((req, status, body, ms))
        finally:
            conn.close()

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results, time.time() - t0, state["round"]


def run_serve(args, cp, work):
    import numpy as np
    deadline = time.time() + DEADLINE_S
    jvm = Jvm(cp, "serve", work, {"cpus": args.cpus, "work": work, "data": f"{work}/data",
                                 "events": SERVE_EVENTS, "store": f"{work}/store",
                                 "trace": args.trace})
    try:
        # the expected candles and the request rounds are computed while
        # the JVM builds the store
        con = checks.connect()
        gen = jvm.next("events", deadline)
        checks.expected_store(con, gen["path"])
        rounds = serve_requests(con, np.random.default_rng(args.seed), SERVE_ROUNDS)
        req_file = f"{work}/requests.txt"
        with open(req_file, "w") as f:
            f.write("\n".join(r for rnd in rounds for r in rnd) + "\n")
        ready = jvm.next("ready", deadline)
        ready_s = time.time() - jvm.launched
        marks = {}

        def mark(name):
            if args.trace:
                jvm.send(f"MARK {name}")
                marks[name] = jvm.next("mark", deadline)["counters"]

        half = args.seconds / 2
        warm, _, nxt = http_phase(ready["port"], rounds, 0, SERVE_WARM, 0, 1)
        setup_s = time.time() - jvm.launched
        mark("solo0")
        solo, solo_s, nxt = http_phase(ready["port"], rounds, nxt, 1, half, 1)
        mark("solo1")
        loaded, load_s, nxt = http_phase(ready["port"], rounds, nxt, 1, half, CLIENTS)
        mark("load1")
        direct = None
        if args.trace:
            jvm.send(f"DIRECT {req_file} {len(rounds[0])}")
            direct = jvm.next("direct", deadline)["requests"]
        jvm.send("STOP")
        done = jvm.next("done", deadline)
    finally:
        jvm.close()
    expected = {}

    def bad(results):
        n = 0
        for req, status, body, _ in results:
            if req not in expected:
                expected[req] = checks.expected_response(con, req)
            if not checks.check_response(expected[req], status, body):
                n += 1
                info("bad_response", request=req, status=status,
                     body=body[:300].decode("utf-8", "replace"))
        return n

    # failed: timed requests answered wrongly; correct: the untimed
    # warm-up rounds were answered rightly
    warm_ok = bad(warm) == 0
    failed = bad(solo + loaded)
    solo_ms = [r[3] for r in solo]
    load_ms = [r[3] for r in loaded]
    info("serve", ready_s=ready_s, events_gen_ms=gen["gen_ms"],
         store_build_ms=ready["store_build_ms"], warm_ms=[round(r[3], 1) for r in warm],
         solo_samples=len(solo_ms), loaded_samples=len(load_ms),
         solo_p50_ms=median(solo_ms), loaded_p50_ms=median(load_ms),
         loaded_p90_ms=statistics.quantiles(load_ms, n=10)[-1] if len(load_ms) >= 10 else None,
         solo_ms=[round(x, 1) for x in solo_ms], loaded_ms=[round(x, 1) for x in load_ms],
         solo_wall_s=solo_s, loaded_wall_s=load_s,
         solo_by_route=route_p50(solo), loaded_by_route=route_p50(loaded),
         distinct_requests=len(expected),
         peak_rss_mb=done["peak_rss_mb"], live_heap_mb=done["live_heap_mb"])
    # the gateway answers one request at a time and stays busy while any
    # client waits, so completed requests ÷ phase wall time is its rate
    e2e = {"setup_s": setup_s, "latency_ms": median(solo_ms),
           "throughput_per_s": len(load_ms) / load_s}
    layers = {}
    if args.trace:
        # Spark work per request in the one-client phase; GC over both phases
        d_solo = {k: v - marks["solo0"].get(k, 0) for k, v in marks["solo1"].items()}
        gc_all = marks["load1"]["gc_ms"] - marks["solo0"]["gc_ms"]
        layers = {
            "serving.gateway_ms": median(solo_ms) - median([d["total_ms"] for d in direct]),
            "serving.queue_ms": median(load_ms) - median(solo_ms),
            "store.open_ms": median([d["open_ms"] for d in direct]),
            "operators.construct_ms": median([d["construct_ms"] for d in direct]),
            "engine.plan_ms": median([d["plan_ms"] for d in direct]),
            "store.exec_ms": median([d["exec_ms"] for d in direct]),
            "sources.read_jobs_per_req": statistics.mean(d["read_jobs"] for d in direct),
            "store.files_per_req": statistics.mean(d["files"] for d in direct),
            "store.rows_scanned_per_row_returned":
                sum(d["rows_scanned"] for d in direct)
                / max(1, sum(d["rows_returned"] for d in direct)),
            **engine_layers(d_solo, len(solo), solo_s, args.cpus,
                            statistics.mean(d["construct_ms"] for d in direct)),
            "engine.gc_ms_per_op": gc_all / (len(solo) + len(loaded)),
        }
    return len(solo) + len(loaded), failed, warm_ok, e2e, layers


# ---- ingest ----------------------------------------------------------------

def changed_candles(start, ticks, batch, n_symbols=5):
    """Candle rows (all four timeframes) a trigger's ticks fall into."""
    import datetime as dt
    lo = start + batch * ticks
    hi = lo + ticks - 1
    t = lambda s: dt.datetime.fromtimestamp(s, dt.timezone.utc)  # noqa: E731
    n = (hi // 60 - lo // 60 + 1) + (hi // 3600 - lo // 3600 + 1) + (hi // 86400 - lo // 86400 + 1)
    n += (t(hi).year * 12 + t(hi).month) - (t(lo).year * 12 + t(lo).month) + 1
    return n * n_symbols


def run_ingest(args, cp, work):
    import calendar
    # the seed picks the month; a run spans hours, so it never crosses one
    start = calendar.timegm((2024, 1 + args.seed % 12, 1, 0, 0, 0))
    kept_n = max(3, int(args.seconds // INGEST_S_PER_TRIGGER))
    deadline = time.time() + DEADLINE_S
    jvm = Jvm(cp, "ingest", work, {
        "cpus": args.cpus, "work": work, "store": f"{work}/store",
        "checkpoint": f"{work}/checkpoint", "txns": f"{work}/txns", "ticks": INGEST_TICKS,
        "warm": INGEST_WARM, "kept": kept_n, "start": start, "trace": args.trace})
    try:
        res = jvm.next("ingest", deadline)
        done = jvm.next("done", deadline)
    finally:
        jvm.close()
    batches = res["batches"]
    kept = batches[INGEST_WARM:]
    # failed: kept triggers whose candles are wrong; correct: no candle
    # of a warm-up trigger is wrong
    bad_batches = set()
    for p in checks.check_store(f"{work}/store", f"{work}/txns", res["ticks"]):
        info("store_mismatch", **p)
        bad_batches.add(checks.trigger_of(p, start, INGEST_TICKS, len(batches)))
    trig = [b["trigger_ms"] for b in kept]
    info("ingest", warm_trigger_ms=[b["trigger_ms"] for b in batches[:INGEST_WARM]],
         kept_trigger_ms=trig, samples=len(kept), ticks_per_trigger=INGEST_TICKS,
         ticks_total=res["ticks"], store_files=res["store_files"],
         peak_rss_mb=done["peak_rss_mb"], live_heap_mb=done["live_heap_mb"])
    e2e = {"setup_s": kept[0]["start_ms"] / 1000 - jvm.launched,
           "latency_ms": median(trig),
           "throughput_per_s": 5 * INGEST_TICKS * len(kept) / (sum(trig) / 1000)}
    layers = {}
    if args.trace:
        q = max(1, len(kept) // 4)
        add = [b["add_batch_ms"] for b in kept]
        written = [b["counters"].get("records_written", 0) for b in kept]
        changed = [changed_candles(start, INGEST_TICKS, b["batch"]) for b in kept]
        counters = dict(res["kept_jvm"])
        for b in kept:
            for k, v in b["counters"].items():
                counters[k] = counters.get(k, 0) + v
        layers = {
            "streaming.trigger_ms": median(trig),
            "streaming.add_batch_ms": median(add),
            "streaming.plan_ms": median([b["plan_ms"] for b in kept]),
            "streaming.commit_log_ms": median([b["commit_log_ms"] for b in kept]),
            "streaming.state_rows": median([b["state_rows"] for b in kept]),
            "store.records_written_per_batch": statistics.mean(written),
            "store.write_amplification": sum(written) / sum(changed),
            "store.files_total": res["store_files"],
            "store.batch_growth": statistics.mean(add[-q:]) / statistics.mean(add[:q]),
            **engine_layers(counters, len(kept), sum(trig) / 1000, args.cpus, 0.0),
        }
    failed = len({b for b in bad_batches if b >= INGEST_WARM})
    return len(kept), failed, not any(b < INGEST_WARM for b in bad_batches), e2e, layers


WORKLOADS = {"serve": run_serve, "ingest": run_ingest}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    args.cpus = len(os.sched_getaffinity(0))
    cp = build.build()
    root = build.build_dir()
    work = os.path.join(root, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before, ticks_before = loadavg(), cpu_ticks()
    try:
        attempted, failed, correct, e2e, layers = WORKLOADS[args.workload](args, cp, work)
    except Exception:
        log = os.path.join(work, "jvm.log")
        if os.path.exists(log):
            sys.stderr.write("".join(open(log).readlines()[-40:]))
        raise
    finally:
        steal, total = (a - b for a, b in zip(cpu_ticks(), ticks_before))
        info("loadavg", before=load_before, after=loadavg(), cpu_steal_share=steal / max(1, total))
        shutil.rmtree(work, ignore_errors=True)
    results = os.path.join(root, "results")
    os.makedirs(results, exist_ok=True)
    timed_file = os.path.join(results, f"{args.workload}-e2e.json")
    if args.trace:
        # tracing overhead: traced end-to-end numbers vs the last timed run
        overhead = {}
        if os.path.exists(timed_file):
            base = json.load(open(timed_file))
            overhead = {k: v / base[k] - 1 for k, v in e2e.items() if base.get(k)}
        with open(os.path.join(results, f"{args.workload}-layers.json"), "w") as f:
            json.dump({"seed": args.seed, "layers": layers, "traced_e2e": e2e,
                       "overhead_vs_last_timed": overhead}, f, indent=1)
        info("trace_overhead", traced_e2e=e2e, overhead_vs_last_timed=overhead)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        with open(timed_file, "w") as f:
            json.dump(e2e, f)
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
