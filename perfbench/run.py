#!/usr/bin/env python3
"""Pipeline-engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the program from source (perfbench/build.py), starts SETUP_LAUNCHES
JVMs one after another, each timed from process start until its timed
section can begin (setup_s is their median), and lets only the last one go
on: it measures for --seconds and checks every output. Prints each metric
with its unit and, as the last line, one JSON object. Exits 1 when a check
fails.

Workload sizes, pinned output digests and the notes on what each metric
should move live in perfbench/spec.json. Everything the benchmark writes
goes under .bench_build/perfbench/ of the checkout.
"""
import argparse
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

SPEC = os.path.join(HERE, "spec.json")
WORK = os.path.join(ROOT, ".bench_build", "perfbench", "work")
DEADLINE_S = 172.0
SETUP_LAUNCHES = 3
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
SPARK_ONLY = ("ops.", "spark.", "streaming.")


def jvm(main, args, flags, work):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-XX:-UsePerfData"] + flags + [f"-Djava.io.tmpdir={work}/tmp",
             f"-Dderby.system.home={work}/derby", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", build.classpath(), main] + args)


class Jvm:
    """One benchmark JVM; stdout lines are read on a thread and timestamped."""

    def __init__(self, cmd, log):
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                     text=True, bufsize=1)
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.proc.stdout:
            self.lines.put((time.perf_counter(), line.rstrip("\n")))
        self.lines.put((time.perf_counter(), None))

    def read(self, deadline):
        """Next stdout line, or None at EOF; kills the JVM past the deadline."""
        try:
            return self.lines.get(timeout=max(0.0, deadline - time.perf_counter()))
        except queue.Empty:
            self.kill()
            raise SystemExit("perfbench: run exceeded its time budget")

    def kill(self):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


def run_jvm(cmd, log, deadline):
    """Run to the end; returns (seconds from process start to READY, RESULT object)."""
    j = Jvm(cmd, log)
    setup, result = None, None
    try:
        while True:
            t, line = j.read(deadline)
            if line is None:
                break
            if line == "READY":
                setup = t - j.t0
            elif line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
    finally:
        j.kill()
    if j.proc.returncode != 0:
        raise SystemExit(f"perfbench: benchmark JVM exited with {j.proc.returncode}")
    if setup is None:
        raise SystemExit("perfbench: benchmark JVM never finished its set-up")
    return setup, result


def main():
    start = time.perf_counter()
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(SPEC) as fh:
        spec = json.load(fh)
    build.build()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    log = sys.stderr

    if a.selftest:
        r = subprocess.run(jvm("perfbench.SelfTest", [], ["-Xmx1g"], WORK), cwd=ROOT)
        shutil.rmtree(WORK, ignore_errors=True)
        sys.exit(r.returncode)

    names = list(spec["workloads"])  # BENCHMARK.json lists the gated subset
    if a.workload not in names:
        raise SystemExit(f"perfbench: unknown workload {a.workload!r}; one of {names}")
    flags = spec["workloads"][a.workload]["jvm_flags"]
    deadline = start + DEADLINE_S
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--spec", SPEC, "--work", WORK]

    setups = [run_jvm(jvm("perfbench.Main", args + ["--setup-only", "1"], flags, WORK), log,
                      deadline)[0] for _ in range(SETUP_LAUNCHES - 1)]
    setup, result = run_jvm(jvm("perfbench.Main", args, flags, WORK), log, deadline)
    setups.append(setup)
    if result is None:
        raise SystemExit("perfbench: benchmark JVM printed no result")
    shutil.rmtree(os.path.join(WORK, "derby"), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)

    got = dict(result["metrics"])
    got["setup_s"] = {"value": statistics.median(setups), "unit": "s"}
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] not in got and a.workload != "spark_pipeline" and m["name"].startswith(SPARK_ONLY):
            got[m["name"]] = {"value": 0.0, "unit": m["unit"]}  # Spark is idle here
        if m["name"] not in got:
            raise SystemExit(f"perfbench: metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}

    print(f"workload {a.workload} seed {a.seed}: {result['units']} units, "
          f"{result['attempted']} jobs, {result['edges_per_unit']:.0f} edges per unit, "
          f"{result['threads']} worker threads, {result['dispatch_samples']} dispatch samples, "
          f"setup runs {', '.join(f'{x:.3f}' for x in setups)} s, "
          f"unit makespans {', '.join(str(x) for x in result['unit_makespans_s'])} s")
    shown = dict(metrics)
    shown.setdefault("error_rate", got["error_rate"])
    for name, m in shown.items():
        print(f"  {name:<40} {m['value']:>16.6f} {m['unit']}")
    out = {"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
           "failed": int(result["failed"]), "metrics": metrics}
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
