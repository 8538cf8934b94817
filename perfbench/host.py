"""Host stamps and process sampling: fixed-work calibration (the method of
graft.Bench, run by the benchmark's own Calib main), competing JVMs, load
average and peak RSS from /proc."""
import json
import os
import subprocess

import jvmproc

# Healthy-box references, measured on an otherwise idle 4-core x86-64 box
# (three stamps each: calib_cpu_ms 269-343, calib_spark_ms 233-340 for the
# 64M-row hash-sum job over 4 cores). A run is host_suspect when even the
# faster Spark stamp is >25% over the reference, or when the stamp taken
# after the timed window is >25% over the one before (graft.Bench's rule),
# or when the single-core CPU stamp is >25% over its reference.
HEALTHY_CALIB_CPU_MS = 300.0
HEALTHY_CALIB_SPARK_MS = 290.0


class Calibrator:
    """A small JVM that stamps the host before the server starts and again
    after the timed window. It starts as soon as it is constructed, so its
    start-up overlaps the caller's input generation; it idles (blocked on
    stdin) until each stamp is asked for."""

    def __init__(self, classpath):
        self.proc = subprocess.Popen(
            jvmproc.java_cmd(classpath, "graft.perfbench.Calib", [], heap="1g"),
            cwd=jvmproc.run_dir(), env=jvmproc.jvm_env(), text=True,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL)
        self.stamps = {}

    def _read(self):
        for line in self.proc.stdout:
            if line.startswith("{"):
                return json.loads(line)
        raise RuntimeError("calibration JVM exited early")

    def pre(self):
        """The pre-run stamps; call with the host otherwise idle."""
        for line in self.proc.stdout:
            if line.strip() == "ready":
                break
        self.stamps["competing_jvms_start"] = competing_jvms({self.proc.pid})
        self.proc.stdin.write("pre\n")
        self.proc.stdin.flush()
        self.stamps.update(self._read())
        self.cpu_ticks = _cpu_ticks()

    def finish(self, own_pids):
        """The post-run stamp and the verdict; the JVM exits."""
        self.stamps["competing_jvms"] = max(
            self.stamps.pop("competing_jvms_start"),
            competing_jvms(set(own_pids) | {self.proc.pid}))
        self.proc.stdin.write("post\n")
        self.proc.stdin.flush()
        self.stamps.update(self._read())
        self.proc.wait(30)
        s = self.stamps
        s["load1"] = round(os.getloadavg()[0], 2)
        # share of CPU time the hypervisor gave to others during the run
        ticks = [b - a for a, b in zip(self.cpu_ticks, _cpu_ticks())]
        s["steal_share"] = round(ticks[7] / max(1, sum(ticks)), 4) if len(ticks) > 7 else 0.0
        pre, post = s["calib_spark_ms"], s["calib_spark_ms_post"]
        s["host_suspect"] = bool(
            min(pre, post) > HEALTHY_CALIB_SPARK_MS * 1.25 or
            post > pre * 1.25 or
            s["calib_cpu_ms"] > HEALTHY_CALIB_CPU_MS * 1.25)
        return s

    def stop(self):
        jvmproc.stop(self.proc)


def _cpu_ticks():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def competing_jvms(own):
    """Java processes on the host that are neither ours nor an ancestor."""
    ancestors, pid = set(), os.getpid()
    while pid > 1:
        ancestors.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as f:
                pid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            break
    n = 0
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in own or int(d) in ancestors:
            continue
        try:
            exe = os.readlink(f"/proc/{d}/exe")
        except OSError:
            continue
        if os.path.basename(exe) == "java":
            n += 1
    return n


def rss_peak_mb(pid):
    """Peak resident set (VmHWM) of a live process, MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for {pid}")
