"""Traced mode: replay a workload's seeded operation sequence in one JVM
(graft.perfbench.Replay) and reduce its spans to per-layer metrics."""
import json
import os
import shutil
import statistics
import subprocess
import sys

import httpload
import jvmproc
import workload

REPLAY_TIMED_OPS = 120      # read_hot queries replayed after set-up + warm-up
OVERHEAD_OPS = 20           # resident-key queries timed with spans off / on


def _write_plan(plan_dir, ops):
    """ops.jsonl plus one wire-body file per store."""
    shutil.rmtree(plan_dir, ignore_errors=True)
    os.makedirs(os.path.join(plan_dir, "bodies"))
    with open(os.path.join(plan_dir, "ops.jsonl"), "w") as f:
        for i, op in enumerate(ops):
            rec = {k: v for k, v in op.items() if k != "wire"}
            rec["id"] = i
            if op["op"] == "store":
                rec["body"] = f"bodies/{i}.bin"
                with open(os.path.join(plan_dir, rec["body"]), "wb") as b:
                    b.write(op["wire"])
            f.write(json.dumps(rec) + "\n")


def _replayed(op, key, phase):
    """A planned operation as the replay reads it: stores carry their wire
    body and the headers' content."""
    rec = {"op": op["op"], "key": key, "phase": phase}
    if op["op"] == "store":
        rec.update(enc=op["enc"], wire=httpload.encode(op["body"], op["enc"]),
                   ct="text/csv" if op["fmt"] == "csv" else "application/json",
                   types=workload.TYPES_HEADER if op["fmt"] == "csv" else None)
    elif "text" in op:
        rec["text"] = op["text"]
    return rec


def read_hot_ops(run):
    pool = run["plan"]["pool"]
    ops = [_replayed(op, op["key"], "warmup") for op in run["prime"]]
    ops += [_replayed({"op": "store", "fmt": "csv", "enc": None, "body": b}, k, "setup")
            for k, b in run["bodies"].items()]
    ops += [{"op": "query", "key": p["key"], "text": p["text"],
             "phase": "warmup"} for p in pool]
    issued, timed = run["issued"], []
    for k in range(max(len(x) for x in issued)):
        for stream in issued:
            if k < len(stream) and len(timed) < REPLAY_TIMED_OPS:
                i, enc = stream[k]
                timed.append({"op": "query", "key": pool[i]["key"],
                              "text": pool[i]["text"], "accept_enc": enc,
                              "phase": "timed"})
    return ops + timed


def churn_ops(run):
    return ([_replayed(op, op["key"], "warmup") for op in run["warm"]] +
            [_replayed(op, "c0" + op["key"], "timed") for op in run["plan"]["ops"]])


# --- span reduction -----------------------------------------------------------

def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def _dur(s):
    return s["end_ms"] - s["start_ms"]


def reduce_spans(spans, replay):
    """Per-layer metrics of the measured (set-up and timed) requests."""
    req_of = {s["req"]: s for s in spans if s["parent"] == -1 and
              s.get("phase") in ("setup", "timed")}
    by_req = {}
    for s in spans:
        if s["req"] in req_of and s["parent"] != -1:
            by_req.setdefault(s["req"], []).append(s)

    def named(name, kind=None):
        return [s for rq, ss in by_req.items() for s in ss if s["name"] == name
                and (kind is None or req_of[rq]["name"] == kind)]

    def total(ss, k):
        return sum(s[k] for s in ss)

    stores = [r for r in req_of.values() if r["name"] == "request.store"]
    queries = [r for r in req_of.values() if r["name"] == "request.query"]
    updates = [r for r in req_of.values() if r["name"] == "request.update"]
    nq, ns, nu = max(1, len(queries)), max(1, len(stores)), max(1, len(updates))

    decode, encode = named("codec.decode"), named("codec.encode")
    coded = [s for s in decode + encode if "wire_bytes" in s]
    parse, mat = named("ingest.parse"), named("store.materialize")
    evict, put = named("cache.evict"), named("cache.put")
    compile_, ser = named("engine.compile"), named("serialize")
    upd_b, upd_m = named("update.build"), named("update.materialize")
    q_spans = [s for q in queries for s in by_req.get(q["req"], [])] + queries
    rows_stored = sum(s.get("rows", 0) for s in mat)
    ingest_s = (total(parse, "end_ms") - total(parse, "start_ms") +
                total(mat, "end_ms") - total(mat, "start_ms")) / 1000.0

    # first query of each measured store's key, whatever its phase: was
    # its plan pre-warmed by the shape warmer?
    keys = replay["req_keys"]
    stored = {keys[str(r["req"])] for r in stores}
    first, seen = [], set()
    for s in sorted((s for s in spans if s["name"] == "engine.compile"),
                    key=lambda x: x["start_ms"]):
        k = keys.get(str(s["req"]))
        if k in stored and k not in seen:
            seen.add(k)
            first.append(bool(s["memo_hit"]))

    floor = replay["action_floor_ms"]
    job_floor = floor / max(1.0, replay["floor_jobs"])
    jobs_pq = total(q_spans, "jobs") / nq
    q_wall = _mean([_dur(q) for q in queries])
    m = {
        "codec.decode_ms": (_mean([_dur(s) for s in decode]), "ms"),
        "codec.encode_ms": (_mean([_dur(s) for s in encode]), "ms"),
        "codec.bytes_ratio": (total(coded, "wire_bytes") / total(coded, "bytes")
                              if coded else 1.0, "ratio"),
        "ingest.parse_ms": (_mean([_dur(s) for s in parse]), "ms"),
        "ingest.jobs": (total(parse, "jobs") / ns, "jobs/store"),
        "ingest.rows_per_s": (rows_stored / ingest_s if ingest_s else 0.0, "rows/s"),
        "store.materialize_ms": (_mean([_dur(s) for s in mat]), "ms"),
        "store.jobs": (total(mat, "jobs") / ns, "jobs/store"),
        "store.shuffle_bytes": (total(mat, "shuffle_write") / ns, "B/store"),
        "cache.evict_ms": (_mean([_dur(s) for s in evict if s["evicted"] > 0]), "ms"),
        "cache.evictions": (sum(s["evicted"] for s in evict), "count"),
        "cache.bytes_peak": (max([s["cache_bytes"] for s in put] or [0]), "B"),
        "cache.memo_hit_ratio": (_mean([1.0 if s["memo_hit"] else 0.0
                                        for s in compile_]), "ratio"),
        "warmer.first_contact_hit_ratio": (_mean([1.0 if h else 0.0 for h in first]),
                                           "ratio"),
        "query.parse_ms": (_mean([_dur(s) for s in named("query.parse", "request.query")]),
                           "ms"),
        "engine.compile_ms": (_mean([_dur(s) for s in compile_]), "ms"),
        "catalyst.analysis_ms": (total(ser, "catalyst_analysis") / nq, "ms"),
        "catalyst.optimization_ms": (total(ser, "catalyst_optimization") / nq, "ms"),
        "catalyst.planning_ms": (total(ser, "catalyst_planning") / nq, "ms"),
        "spark.jobs_per_query": (jobs_pq, "jobs"),
        "spark.stages_per_query": (total(q_spans, "stages") / nq, "stages"),
        "spark.tasks_per_query": (total(q_spans, "tasks") / nq, "tasks"),
        "spark.job_wall_ms_per_query": (total(q_spans, "job_wall_ms") / nq, "ms"),
        "spark.executor_run_ms_per_query": (total(q_spans, "run_ms") / nq, "ms"),
        "spark.executor_cpu_ms_per_query": (total(q_spans, "cpu_ms") / nq, "ms"),
        "spark.shuffle_read_bytes_per_query": (total(q_spans, "shuffle_read") / nq, "B"),
        "spark.shuffle_write_bytes_per_query": (total(q_spans, "shuffle_write") / nq, "B"),
        "spark.action_floor_ms": (floor, "ms"),
        "spark.floor_jobs": (replay["floor_jobs"], "jobs"),
        "spark.floor_share": (jobs_pq * job_floor / q_wall if q_wall else 0.0, "ratio"),
        "serialize.ms": (_mean([_dur(s) for s in ser]), "ms"),
        "serialize.format_ms": (_mean([_dur(s) - s["job_wall_ms"] for s in ser]), "ms"),
        "serialize.rows": (_mean([s["rows"] for s in ser]), "rows"),
        "serialize.bytes_per_row": (total(ser, "chars") / max(1, total(ser, "rows")),
                                    "B/row"),
        "update.build_ms": (_mean([_dur(s) for s in upd_b]), "ms"),
        "update.materialize_ms": (_mean([_dur(s) for s in upd_m]), "ms"),
        "update.jobs": (total(upd_m + upd_b, "jobs") / nu if updates else 0.0,
                        "jobs/update"),
        "jvm.gc_ms": (replay["gc_ms"], "ms"),
        "jvm.heap_peak_mb": (replay["heap_peak_mb"], "MB"),
        "trace.overhead_ms_per_op": (replay["overhead_on_ms_per_op"] -
                                     replay["overhead_off_ms_per_op"], "ms"),
        "trace.replay_query_ms": (q_wall, "ms"),
    }
    return m


def per_layer(args, cp, run):
    """Replay the run's operations traced; per-layer metrics, and whether
    every replayed operation succeeded."""
    ops = read_hot_ops(run) if args.workload == "read_hot" else churn_ops(run)
    base = os.path.join(jvmproc.WORK, "trace", f"{args.workload}-seed{args.seed}")
    plan_dir, out_dir = os.path.join(base, "plan"), os.path.join(base, "out")
    _write_plan(plan_dir, ops)
    proc = subprocess.run(
        jvmproc.java_cmd(cp, "graft.perfbench.Replay",
                         [plan_dir, out_dir, str(run["budget"]), str(OVERHEAD_OPS)]),
        cwd=jvmproc.run_dir(), env=jvmproc.jvm_env(), stdin=subprocess.DEVNULL,
        stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True, timeout=170)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise RuntimeError("traced replay failed")
    with open(os.path.join(out_dir, "replay.json")) as f:
        replay = json.load(f)
    replay["req_keys"] = {str(i): op.get("key") for i, op in enumerate(ops)}
    with open(os.path.join(out_dir, "spans.jsonl")) as f:
        spans = [json.loads(line) for line in f]
    m = reduce_spans(spans, replay)
    print(f"spans              {os.path.relpath(os.path.join(out_dir, 'spans.jsonl'), jvmproc.ROOT)}"
          f" ({len(spans)} spans, replay failures {replay['failures']})")
    return m, replay["failures"] == 0
