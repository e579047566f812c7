#!/usr/bin/env python3
"""Run one perfbench workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark program with sbt (perfbench/build.sbt), reading the toolchain's
offline caches; later runs reuse the build while no source is newer than it. Every file a run writes goes under
.perfbench/ at the root: a work directory removed at the end, and the
run's full record in .perfbench/results/ (the JVM's result, the per-op
samples, the spans of a traced run, and the host-contention samples).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSPATH_FILE = os.path.join(HERE, "target", "runtime-classpath.txt")
# the engine build's --add-opens flags, written next to the classpath
OPTIONS_FILE = os.path.join(HERE, "target", "jvm-options.txt")
# the JVM's own limit, counted from the end of the build
RUN_LIMIT_S = 170
# a run that builds must end within 900 s, JVM included
BUILD_LIMIT_S = 700
HEAP = "3g"


CHILD = None
WORK = None


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout.
    Returns the exit code, or None after a timeout."""
    global CHILD
    CHILD = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return CHILD.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()
        return None
    finally:
        CHILD = None


def on_signal(signum, _frame):
    if CHILD is not None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()
    if WORK is not None:
        shutil.rmtree(WORK, ignore_errors=True)
    sys.exit(128 + signum)


def sources():
    """Every file whose change requires a rebuild."""
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(d, f)
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        for base in (ROOT, HERE):
            p = os.path.join(base, f)
            if os.path.exists(p):
                yield p


def build():
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(OPTIONS_FILE):
        built = os.path.getmtime(CLASSPATH_FILE)
        if all(os.path.getmtime(p) <= built for p in sources()):
            return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # sbt's global state (boot jars, compiler runtime) lives under
    # .perfbench/ too, so a build writes only inside the checkout
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(ROOT, '.perfbench', 'sbt-global')}", "writeClasspath"]
    print("perfbench: building with sbt", file=sys.stderr)
    rc = run_child(cmd, BUILD_LIMIT_S, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if rc is None:
        fail("build timed out", 3)
    if rc != 0 or not (os.path.exists(CLASSPATH_FILE) and os.path.exists(OPTIONS_FILE)):
        fail("build failed", 3)


class HostSampler(threading.Thread):
    """Samples /proc/stat and /proc/loadavg every half second."""

    def __init__(self):
        super().__init__(daemon=True)
        self.samples = []
        self.stop = threading.Event()

    @staticmethod
    def read():
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        user, nice, system, idle, iowait, irq, softirq, steal = (vals + [0] * 8)[:8]
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        total = user + nice + system + idle + iowait + irq + softirq + steal
        return {"t_ms": int(time.time() * 1000), "total": total, "idle": idle + iowait,
                "steal": steal, "load1": load1}

    def run(self):
        while True:
            try:
                self.samples.append(self.read())
            except OSError:
                return
            if self.stop.wait(0.5):
                return


def host_summary(samples, start_ms=None, end_ms=None):
    s = [x for x in samples if (start_ms is None or x["t_ms"] >= start_ms - 500)
         and (end_ms is None or x["t_ms"] <= end_ms + 500)]
    if len(s) < 2:
        return {"samples": len(s)}
    dt = s[-1]["total"] - s[0]["total"] or 1
    return {
        "samples": len(s),
        "busy_pct": 100.0 * (dt - (s[-1]["idle"] - s[0]["idle"])) / dt,
        "steal_pct": 100.0 * (s[-1]["steal"] - s[0]["steal"]) / dt,
        "load1_max": max(x["load1"] for x in s),
        "load1_mean": sum(x["load1"] for x in s) / len(s),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("engine sources (build.sbt, src/main/scala/graft) not found next to perfbench/")
    build()

    global WORK
    base = os.path.join(ROOT, ".perfbench")
    work = WORK = os.path.join(base, f"work-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    results = os.path.join(base, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    out = os.path.join(work, "result.json")
    with open(CLASSPATH_FILE) as f:
        cp = f.read().strip()
    with open(OPTIONS_FILE) as f:
        opens = [x for x in f.read().split("\n") if x]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # a fixed-size heap and a stop-the-world collector keep GC threads
    # from competing with the task threads for the cores between pauses;
    # touching the heap at start-up keeps first-touch page faults out of
    # the loop; lower JIT thresholds bring Spark's planning code to C2
    # sooner (round latency was still falling 30 s into a 45 s loop with
    # the defaults, and 15 s in with these)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    cmd += opens + ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work, "--out", out]

    sampler = HostSampler()
    sampler.start()
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        rc = run_child(cmd, RUN_LIMIT_S, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
    sampler.stop.set()
    sampler.join()

    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        shutil.rmtree(work, ignore_errors=True)
        fail("run timed out" if rc is None else f"JVM exited with {rc}", 1)

    with open(out) as f:
        res = json.load(f)
    res["host"] = {
        "available_processors": res.get("cores"),
        "whole_run": host_summary(sampler.samples),
        "measured_loop": host_summary(sampler.samples, res["measure_start_ms"], res["measure_end_ms"]),
        "samples": sampler.samples,
    }
    if a.trace:
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            with open(spans) as f:
                res["spans"] = json.load(f)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}.json"), "w") as f:
        json.dump(res, f)
    shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        figures = dict(res["figures"])
        whole = res["host"]["whole_run"]
        figures["host.busy_pct"] = whole.get("busy_pct", 0.0)
        figures["host.steal_pct"] = whole.get("steal_pct", 0.0)
        listed = spec["per_layer"]
        unknown = sorted(set(figures) - {m["name"] for m in listed})
        if unknown:
            fail(f"figures missing from BENCHMARK.json per_layer: {unknown}", 4)
    else:
        figures = res["end_to_end"]
        listed = spec["end_to_end"]
    missing = [m["name"] for m in listed if m["name"] not in figures]
    if not a.trace and missing:
        fail(f"end-to-end metrics not measured: {missing}", 4)
    metrics = {m["name"]: {"value": float(figures.get(m["name"], 0.0)), "unit": m["unit"]} for m in listed}
    h = res["host"]["measured_loop"]
    print(f"perfbench: {a.workload} seed {a.seed}: {res['rounds']} rounds, "
          f"host busy {h.get('busy_pct', 0):.0f}% steal {h.get('steal_pct', 0):.1f}% "
          f"load1 max {h.get('load1_max', 0):.1f}", file=sys.stderr)
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
