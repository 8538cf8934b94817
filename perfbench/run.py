#!/usr/bin/env python3
"""qcachespark benchmark: seeded workloads against the shipped HTTP server
(`read_hot`, `churn`) and the in-process query suite (`suite`).

    python3 perfbench/run.py --workload read_hot --seed 1 --seconds 10 --trace 0

Run from the checkout root. The first run builds the library and the
benchmark's JVM package with sbt. The last stdout line is one JSON object
{correct, attempted, failed, metrics}: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. Everything else a run writes lands under
.bench_build/. See perfbench/README.md.
"""
import argparse
import json
import os
import signal
import statistics
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import host  # noqa: E402
import httpload  # noqa: E402
import jvmproc  # noqa: E402
import workload  # noqa: E402

CLIENTS = jvmproc.cpus()          # read_hot connections: one per core
READ_HOT_BUDGET = 1_000_000_000   # the server's default --size


# --- statistics helpers -----------------------------------------------------

def pct(xs, p):
    """Linear-interpolated percentile of a non-empty sample."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs):
    """The highest of p99/p95/p90 with at least 10 samples beyond it (p90
    when none has), with the percentile and the count beyond it."""
    for p in (99, 95, 90):
        if len(xs) * (100 - p) / 100.0 >= 10:
            break
    v = pct(xs, p)
    return v, p, sum(1 for x in xs if x > v)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Tally:
    """Thread-safe record of completed operations in the timed window."""

    def __init__(self):
        self.lock = threading.Lock()
        self.lat = {"query": [], "store": [], "update": []}
        self.attempted = self.failed = self.bad_status = self.wrong = 0
        self.queries_ok = self.stores_ok = self.updates_ok = 0
        self.gaps = []
        self.sample = None            # (expected, records) for the control

    def add(self, kind, ms, ok, status_ok, gap=None, expect=None, records=None):
        with self.lock:
            self.attempted += 1
            self.lat[kind].append(ms)
            if gap is not None:
                self.gaps.append(gap)
            if not ok:
                self.failed += 1
                if status_ok:
                    self.wrong += 1
                else:
                    self.bad_status += 1
            elif kind == "query":
                self.queries_ok += 1
                if records:
                    self.sample = (expect, records)
            elif kind == "store":
                self.stores_ok += 1
            else:
                self.updates_ok += 1


def negative_control(tally):
    """A deliberately corrupted expected answer must not match."""
    if tally.sample is None:
        return False
    expect, records = tally.sample
    return not httpload.matches(workload.corrupt(expect), records)


class Harness:
    """A run's JVMs: the calibration probe, started first so its start-up
    overlaps input generation, then the server. Leaving the block stops the
    server and, when the run succeeded, takes the post-run host stamps."""

    def __init__(self, cp):
        self.cp, self.server, self.stamps = cp, None, {}
        self.calib = host.Calibrator(cp)

    def __enter__(self):
        return self

    def start_server(self, budget):
        self.calib.pre()
        self.server = httpload.Server(self.cp, budget)
        self.server.wait_ready()
        self.t_ready = time.perf_counter()
        return self.server

    def __exit__(self, exc_type, *_):
        try:
            if self.server is not None:
                self.server.stop()
                if exc_type is None:
                    self.stamps = self.calib.finish([self.server.proc.pid])
        finally:
            self.calib.stop()


def execute(client, key, op, check=True):
    """One planned operation under `key`, as (ok, status, records, t_send,
    t_done); a query is ok when it returns the expected rows (or, without
    `check`, any 200)."""
    records = None
    if op["op"] == "store":
        status, _, _, t0, t1 = client.store(key, op["body"], op["fmt"], op["enc"])
        ok = status == 201
    elif op["op"] == "update":
        status, _, _, t0, t1 = client.update(key, op["text"])
        ok = status == 200
    elif op["op"] == "delete":
        status, _, _, t0, t1 = client.delete(key)
        ok = status == 200
    else:
        status, cenc, data, t0, t1 = client.query(key, op["text"])
        if check:
            ok, records, _ = httpload.check_query(op["expect"], status, cenc, data)
        else:
            ok = status == 200
    return ok, status, records, t0, t1


def run_threads(fn, n):
    ts = [threading.Thread(target=fn, args=(c,)) for c in range(n)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()


# --- read_hot -----------------------------------------------------------------

def read_hot(seed, seconds, cp):
    out = {"setup_ops": 0, "setup_failures": 0}
    lock = threading.Lock()

    def failed(bad):
        with lock:
            out["setup_ops"] += 1
            out["setup_failures"] += bool(bad)

    with Harness(cp) as h:
        plan = workload.read_hot_plan(seed)
        pool = plan["pool"]
        bodies = {d["key"]: workload.csv_body(d["df"]) for d in plan["datasets"]}
        prime = workload.prime_ops(seed)
        server = h.start_server(READ_HOT_BUDGET)
        client = httpload.Client(server.port)
        for op in prime:
            failed(not execute(client, op["key"], op)[0])
        setup_stores = []
        for key, body in bodies.items():
            status, _, _, t0, t1 = client.store(key, body, "csv", None)
            failed(status != 201)
            setup_stores.append((t1 - t0) * 1000)
        client.close()
        t_stored = time.perf_counter()

        def warm(c):
            cl = httpload.Client(server.port)
            for p in pool[c::CLIENTS]:
                status, enc, data, _, _ = cl.query(p["key"], p["text"])
                failed(not httpload.check_query(p["expect"], status, enc, data)[0])
            cl.close()
        run_threads(warm, CLIENTS)
        stats0 = server.statistics()
        setup_s = time.perf_counter() - server.t_launch
        out["setup_phases_s"] = {"start": h.t_ready - server.t_launch,
                                 "stores": t_stored - h.t_ready,
                                 "warm_up": server.t_launch + setup_s - t_stored}

        tally = Tally()
        streams = [workload.client_stream(seed, c, pool) for c in range(CLIENTS)]
        issued = [[] for _ in range(CLIENTS)]
        cpu0, t_start = time.process_time(), time.perf_counter()
        deadline = t_start + seconds

        def worker(c):
            cl = httpload.Client(server.port)
            last = None
            while time.perf_counter() < deadline:
                i, enc = next(streams[c])
                issued[c].append((i, enc))
                status, cenc, data, t0, t1 = cl.query(pool[i]["key"], pool[i]["text"], enc)
                ok, records, _ = httpload.check_query(pool[i]["expect"], status, cenc, data)
                tally.add("query", (t1 - t0) * 1000, ok, status == 200,
                          None if last is None else (t0 - last) * 1000,
                          pool[i]["expect"], records)
                last = time.perf_counter()
            cl.close()
        run_threads(worker, CLIENTS)
        window = time.perf_counter() - t_start
        cpu = time.process_time() - cpu0
        stats1 = server.statistics()
        rss = host.rss_peak_mb(server.proc.pid)
    expect_stats = {"hit_count": tally.queries_ok, "store_count": 0, "miss_count": 0}
    return dict(out, plan=plan, prime=prime, bodies=bodies, issued=issued, tally=tally,
                window_s=window, client_cpu_s=cpu, setup_s=setup_s,
                setup_stores_ms=setup_stores, stats0=stats0, stats=[stats1],
                expect_stats=[expect_stats], rss_mb=rss, budget=READ_HOT_BUDGET,
                host=h.stamps)


# --- churn --------------------------------------------------------------------

def churn(seed, seconds, cp):
    out = {"setup_ops": 0, "setup_failures": 0}
    with Harness(cp) as h:
        plan = workload.churn_plan(seed)
        ops = plan["ops"]
        warm = workload.warmup_ops(
            seed, sorted({o["text"] for o in ops if o["op"] == "query"}),
            next(o["text"] for o in ops if o["op"] == "update"))
        server = h.start_server(plan["budget"])
        client = httpload.Client(server.port)
        for op in warm:
            out["setup_ops"] += 1
            out["setup_failures"] += not execute(client, op["key"], op, check=False)[0]
        stats0 = server.statistics()
        setup_s = time.perf_counter() - server.t_launch
        out["setup_phases_s"] = {"start": h.t_ready - server.t_launch,
                                 "warm_up": server.t_launch + setup_s - h.t_ready}

        tally = Tally()
        cycle_stats, cycle_expect = [], []
        cpu0, t_start = time.process_time(), time.perf_counter()
        cycle = 0
        while cycle == 0 or time.perf_counter() - t_start < seconds:
            counts = {"hit_count": 0, "store_count": 0, "miss_count": 0}
            last = None
            for op in ops:
                ok, status, records, t0, t1 = execute(client, f"c{cycle}{op['key']}", op)
                counts["store_count"] += op["op"] == "store" and ok
                counts["hit_count"] += op["op"] == "query" and status == 200
                counts["miss_count"] += status == 404
                tally.add(op["op"], (t1 - t0) * 1000, ok, status in (200, 201),
                          None if last is None else (t0 - last) * 1000,
                          op.get("expect"), records)
                last = time.perf_counter()
            cycle_stats.append(server.statistics())
            cycle_expect.append(counts)
            for step in range(plan["steps"]):
                client.delete(f"c{cycle}s{step}")
            cycle += 1
        window = time.perf_counter() - t_start
        cpu = time.process_time() - cpu0
        rss = host.rss_peak_mb(server.proc.pid)
        client.close()
    return dict(out, plan=plan, tally=tally, window_s=window, client_cpu_s=cpu,
                setup_s=setup_s, stats0=stats0, stats=cycle_stats,
                expect_stats=cycle_expect, rss_mb=rss, budget=plan["budget"],
                host=h.stamps, cycles=cycle, warm=warm)


# --- metrics --------------------------------------------------------------------

def stats_crosscheck(run):
    """Server statistics of each window segment against the client's own
    counts; keys the server has not incremented read as 0."""
    bad = []
    for got, want in zip(run["stats"], run["expect_stats"]):
        for k, v in want.items():
            if got.get(k, 0) != v:
                bad.append(f"{k}: server {got.get(k, 0)} client {v}")
    return bad


def end_to_end(run):
    t = run["tally"]
    q = t.lat["query"]
    qt, qt_p, qt_n = tail(q)
    stores = t.lat["store"] or run.get("setup_stores_ms", [])
    st, st_p, st_n = tail(stores) if stores else (0.0, 0, 0)
    ops = t.queries_ok + t.stores_ok + t.updates_ok
    m = {
        "setup_s": (run["setup_s"], "s"),
        "query_p50_ms": (median(q), "ms"),
        "query_tail_ms": (qt, "ms"),
        "store_p50_ms": (median(stores), "ms"),
        "store_tail_ms": (st, "ms"),
        "update_p50_ms": (median(t.lat["update"]), "ms"),
        "ops_per_s": (ops / run["window_s"], "ops/s"),
        "error_rate": ((t.failed + run["setup_failures"]) /
                       (t.attempted + run["setup_ops"]), "ratio"),
        "rss_peak_mb": (run["rss_mb"], "MB"),
        "rss_budget_ratio": (run["rss_mb"] * 1024 * 1024 / run["budget"], "ratio"),
    }
    notes = {
        "query_tail_ms": f"p{qt_p}, {qt_n} samples beyond, n={len(q)}",
        "store_tail_ms": f"p{st_p}, {st_n} samples beyond, n={len(stores)}"
        + (" (set-up stores)" if not t.lat["store"] else ""),
        "store_p50_ms": "set-up stores" if not t.lat["store"] else "",
        "error_rate": f"{t.failed + run['setup_failures']} failed of "
                      f"{t.attempted + run['setup_ops']} attempted "
                      f"({t.bad_status} non-2xx, {t.wrong} wrong answers, "
                      f"{run['setup_failures']} in set-up)",
        "update_p50_ms": "" if t.lat["update"] else "no updates in this workload",
    }
    return m, notes


def client_health(run):
    t = run["tally"]
    share = run["client_cpu_s"] / run["window_s"]
    return {"client.cpu_share": (share, "ratio"),
            "client.send_gap_ms": (median(t.gaps), "ms"),
            "client.saturated": (1 if share > 0.85 else 0, "flag")}


def server_layer(run, e2e):
    """server.* per-layer metrics from /qcache/statistics."""
    qd = [x for s in run["stats"] for x in s.get("query_durations", [])]
    sd = [x for s in run["stats"] for x in s.get("store_durations", [])] or \
        run["stats0"].get("store_durations", [])
    q50 = median(qd) * 1000
    return {"server.stat_query_p50_ms": (q50, "ms"),
            "server.stat_store_p50_ms": (median(sd) * 1000, "ms"),
            "server.outside_handler_ms": (e2e["query_p50_ms"][0] - q50, "ms")}


def cache_stats(run):
    per_cycle = [s.get("size_evict_count", 0) for s in run["stats"]]
    dur = [x for s in run["stats"] for x in s.get("durations_until_eviction", [])]
    return per_cycle, dur


# --- output ---------------------------------------------------------------------

def emit(correct, attempted, failed, metrics):
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed),
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))


def report_lines(workload_name, seed, e2e, notes, extra):
    print(f"# perfbench {workload_name} seed={seed}")
    for k, (v, u) in e2e.items():
        n = notes.get(k)
        print(f"{k:<18} {v:>12.4f} {u:<6} {n or ''}".rstrip())
    for k, v in extra.items():
        print(f"{k:<18} {v}")


def main():
    # a terminated run still stops its JVMs (the `finally` blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["read_hot", "churn", "suite"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf-dir", help="suite only: directory of the sf tables")
    args = ap.parse_args()
    if args.workload == "suite" and not args.sf_dir:
        ap.error("--workload suite needs --sf-dir")
    cp = jvmproc.build()
    if args.workload == "suite":
        import suite
        return suite.main(args, cp, emit)
    run = (read_hot if args.workload == "read_hot" else churn)(args.seed, args.seconds, cp)
    e2e, notes = end_to_end(run)
    t = run["tally"]
    crosscheck = stats_crosscheck(run)
    control = negative_control(t)
    evictions, until_evict = cache_stats(run)
    health = client_health(run)
    extra = {
        "setup_phases_s": {k: round(v, 2) for k, v in run["setup_phases_s"].items()},
        "window_s": round(run["window_s"], 3),
        "statistics_crosscheck": "ok" if not crosscheck else "; ".join(crosscheck),
        "negative_control": "caught" if control else "MISSED",
        "size_evict_count": evictions,
        "durations_until_eviction_p50_s": round(median(until_evict), 3),
        "client": {k: round(v, 4) for k, (v, _) in health.items()},
        "host": run["host"],
    }
    if args.workload == "churn":
        extra["cycles"] = run["cycles"]
        extra["steps_per_cycle"] = run["plan"]["steps"]
    report_lines(args.workload, args.seed, e2e, notes, extra)
    failed = t.failed + run["setup_failures"]
    correct = failed == 0 and not crosscheck and control and \
        (args.workload != "churn" or (len(set(evictions)) == 1 and evictions[0] > 0))
    if args.trace:
        import layers
        metrics, replay_ok = layers.per_layer(args, cp, run)
        metrics.update(server_layer(run, e2e))
        metrics["cache.size_evict_count"] = (evictions[0], "count")
        metrics["jvm.rss_peak_mb"] = (run["rss_mb"], "MB")
        metrics.update(health)
        metrics = dict(sorted(metrics.items()))
        correct = correct and replay_ok
    else:
        keep = ["setup_s", "query_p50_ms", "query_tail_ms", "store_p50_ms",
                "ops_per_s"]
        metrics = {k: e2e[k] for k in keep}
    emit(correct, t.attempted + run["setup_ops"], failed, metrics)


if __name__ == "__main__":
    main()
