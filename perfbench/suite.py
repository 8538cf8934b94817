"""`suite` workload: the 149 SparkEntry queries in-process over an sf
directory (graft.perfbench.Suite), each result checked against
SparkEntry.oracleSql in DuckDB by row count and a row-multiset fingerprint.

Its inputs are the generated sf tables (TESTDATA.md), which live outside the
checkout, so this workload runs only when given `--sf-dir`.
"""
import glob
import json
import os
import shutil
import statistics
import subprocess
import threading
import time

import duckdb

import host
import jvmproc


def _fingerprint(con, sql, cols, tolerant):
    """Order-insensitive digest of a relation: row count plus the sum of
    per-row hashes of the name-sorted, text-rendered columns (doubles at 9
    significant digits when tolerant)."""
    parts = []
    for name, typ in sorted(cols):
        q = f'"{name}"'
        if tolerant and typ in ("DOUBLE", "FLOAT"):
            q = f"printf('%.8e', {q}::DOUBLE)"
        parts.append(f"coalesce(CAST({q} AS VARCHAR), chr(1))")
    row = f"concat_ws(chr(31), {', '.join(parts)})"
    return con.execute(f"SELECT count(*), sum(hash({row})) FROM ({sql})").fetchone()


def check(out_dir, sf_dir):
    """Per-query status of the queries with oracle SQL: exact / tolerant /
    FAIL. (The approximate-similarity families have none; they are checked
    only for running.)"""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    status = {}
    for name in sorted(oracle):
        files = sorted(glob.glob(os.path.join(out_dir, "results", name, "*.parquet")))
        if not files:
            status[name] = "FAIL: no result"
            continue
        spark_sql = "SELECT * FROM read_parquet([" + ",".join(f"'{f}'" for f in files) + "])"
        try:
            cols = [(r[0], r[1]) for r in con.execute(f"DESCRIBE {spark_sql}").fetchall()]
            n_spark = con.execute(f"SELECT count(*) FROM ({spark_sql})").fetchone()[0]
            n_oracle = con.execute(f"SELECT count(*) FROM ({oracle[name]})").fetchone()[0]
            if n_spark != n_oracle:
                status[name] = f"FAIL: rows {n_spark} vs {n_oracle}"
                continue
            # the oracle's columns cast to the Spark side's types
            cast = ", ".join(f'CAST("{c}" AS {t}) AS "{c}"' for c, t in cols)
            oracle_sql = f"SELECT {cast} FROM ({oracle[name]})"
            for mode, tolerant in (("exact", False), ("tolerant", True)):
                if _fingerprint(con, spark_sql, cols, tolerant) == \
                        _fingerprint(con, oracle_sql, cols, tolerant):
                    status[name] = mode
                    break
            else:
                status[name] = "FAIL: fingerprint"
        except duckdb.Error as e:
            status[name] = "FAIL: " + str(e).splitlines()[0][:120]
    con.close()
    return status


class PeakRss:
    """Samples a process's VmHWM until it exits."""

    def __init__(self, pid):
        self.pid, self.peak = pid, 0.0
        self.thread = threading.Thread(target=self._run, daemon=True)
        self.thread.start()

    def _run(self):
        while True:
            try:
                self.peak = max(self.peak, host.rss_peak_mb(self.pid))
            except (OSError, RuntimeError):
                return
            time.sleep(0.2)


def main(args, cp, emit):
    out_dir = os.path.join(jvmproc.WORK, "suite", f"seed{args.seed}")
    shutil.rmtree(out_dir, ignore_errors=True)
    calib = host.Calibrator(cp)
    calib.pre()
    proc = subprocess.Popen(
        jvmproc.java_cmd(cp, "graft.perfbench.Suite",
                         [os.path.abspath(args.sf_dir), out_dir, str(args.trace)],
                         heap="4g"),
        cwd=jvmproc.run_dir(), env=jvmproc.jvm_env(), stdin=subprocess.DEVNULL,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    rss = PeakRss(proc.pid)
    try:
        proc.wait()
    finally:
        jvmproc.stop(proc)
    rss.thread.join()
    stamps = calib.finish([proc.pid])
    calib.stop()
    if proc.returncode != 0:
        raise SystemExit("perfbench: suite JVM failed")
    with open(os.path.join(out_dir, "suite.json")) as f:
        suite = json.load(f)
    status = check(out_dir, args.sf_dir)
    thrown = [q for q in suite["failed"].split(",") if q]
    bad = sorted(set(thrown) | {q for q, s in status.items() if s.startswith("FAIL")})
    med = suite["median_ms"]
    e2e = {
        "setup_s": (suite["setup_s"], "s"),
        "suite_total_s": (sum(med.values()) / 1000.0, "s"),
        "suite_query_p50_ms": (statistics.median(med.values()), "ms"),
        "error_rate": (len(bad) / len(med), "ratio"),
        "rss_peak_mb": (rss.peak, "MB"),
    }
    print(f"# perfbench suite sf={args.sf_dir}")
    for k, (v, u) in e2e.items():
        print(f"{k:<18} {v:>12.4f} {u}")
    counts = {}
    for s in status.values():
        counts[s.split(":")[0]] = counts.get(s.split(":")[0], 0) + 1
    print(f"oracle             {counts} failed: {bad}")
    print(f"host               {stamps}")
    metrics = e2e
    if args.trace:
        metrics = per_layer(out_dir, suite)
    emit(not bad, len(med), len(bad), metrics)


def per_layer(out_dir, suite):
    with open(os.path.join(out_dir, "suite_trace.json")) as f:
        tr = json.load(f)
    qs = tr["queries"]
    floor = suite["action_floor_ms"]
    job_floor = floor / max(1.0, tr["floor_jobs"])

    def tot(k, pred=lambda n: True):
        return sum(v[k] for n, v in qs.items() if pred(n))

    def ms(v):
        return v["build_ms"] + v["exec_ms"]
    total_ms = sum(ms(v) for v in qs.values())
    m = {
        "suite.build_ms_total": (tot("build_ms"), "ms"),
        "suite.catalyst_ms_total": (tot("catalyst_ms"), "ms"),
        "suite.exec_ms_total": (tot("exec_ms"), "ms"),
        "suite.jobs_total": (tot("jobs"), "jobs"),
        "suite.shuffle_bytes_total": (tot("shuffle_bytes"), "B"),
        "suite.floor_share": (tot("jobs") * job_floor / total_ms if total_ms else 0.0, "ratio"),
        "spark.action_floor_ms": (floor, "ms"),
        "spark.floor_jobs": (tr["floor_jobs"], "jobs"),
    }
    for fam in ("q", "x"):
        pred = (lambda n, f=fam: n.startswith(f))
        m[f"suite.{fam}.total_ms"] = (sum(ms(v) for n, v in qs.items() if pred(n)), "ms")
        m[f"suite.{fam}.jobs"] = (tot("jobs", pred), "jobs")
    for short in ("q1", "x91"):
        name = next(n for n in qs if n.split("_")[0] == short)
        v = qs[name]
        m[f"suite.{short}.ms"] = (ms(v), "ms")
        m[f"suite.{short}.jobs"] = (v["jobs"], "jobs")
        m[f"suite.{short}.floor_ms"] = (v["jobs"] * job_floor, "ms")
        m[f"suite.{short}.data_ms"] = (ms(v) - v["jobs"] * job_floor, "ms")
    return m
