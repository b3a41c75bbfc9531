#!/usr/bin/env python3
"""Benchmark of the streaming fan-out and the batch query path.

Usage (from the repository root):

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--size full|tiny]

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed, runs the workload in one JVM for about S
measured seconds after its set-up, checks the outputs, and prints one JSON
line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. Every file a run writes lives under .bench_build/ in the current
directory; the run's own directory is deleted when it ends, and the traced
run's spans are kept in .bench_build/traces/.

Workloads (see perfbench/README.md):
  stream     the six-query fan-out: a backlog of wire files is drained once
             under Trigger.AvailableNow, then for S seconds an open-loop
             generator process publishes files on a schedule
  batch_mix  a fixed roster of SparkEntry queries over a committed fixture
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
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("stream", "batch_mix")

SIZES = {
    "full": {
        "fixture": "sf0.01",
        # backlog phase: 4 files of 10,000 events, 2 files per trigger
        "events_per_file": 10000, "backlog_files": 4, "files_per_trigger": 2,
        "baseline_files": 1,
        # paced phase: 250 events/s as one 50-event file every 200 ms
        "paced_events_per_file": 50, "paced_interval_ms": 200, "paced_warm_ms": 3000,
        # the set-up's warm-up drain, one file per trigger
        "warm_files": 2, "warm_events_per_file": 5000,
    },
    "tiny": {
        "fixture": "sf0.001",
        "events_per_file": 500, "backlog_files": 4, "files_per_trigger": 1,
        "baseline_files": 1,
        "paced_events_per_file": 25, "paced_interval_ms": 100, "paced_warm_ms": 1000,
        "warm_files": 1, "warm_events_per_file": 200,
    },
}

# Spark 4 on JDK 17 needs these outside spark-submit; the list build.sbt
# passes to forked runs.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

RUN_LIMIT_S = 170


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def declared_metrics(trace):
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def jvm_command(classes, work, args):
    jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"] + opens +
            ["-cp", os.pathsep.join([classes, jars]), "perfbench.Main"] +
            [x for k, v in args.items() for x in (f"--{k}", str(v))])


def main():
    # a terminated run still stops its processes and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    opt = p.parse_args()
    cfg = SIZES[opt.size]
    root = os.getcwd()

    classes = os.path.abspath(build.build(root))
    base = os.path.join(root, build.BUILD_ROOT)
    work = os.path.join(base, f"run-{opt.workload}-{opt.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    procs = []
    try:
        for d in ("in", "paced", "warm", "tmp"):
            os.makedirs(os.path.join(work, d))
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        fixture = os.path.join(HERE, "fixture")
        # Inputs are generated before the JVM starts, so set-up time
        # excludes them. Warm-up events come from another seed.
        gen.write_backlog(os.path.join(work, "warm"), opt.seed + 1, cfg["warm_files"], cfg["warm_events_per_file"])
        epf = cfg["events_per_file"]
        if opt.workload == "stream":
            gen.write_backlog(os.path.join(work, "in"), opt.seed, cfg["backlog_files"], epf)
            gen.write_backlog(os.path.join(work, "baseline"), opt.seed, cfg["baseline_files"], epf)
        args = {
            "workload": opt.workload, "seed": opt.seed, "seconds": opt.seconds, "trace": opt.trace,
            "size": opt.size, "work": work, "in": os.path.join(work, "in"),
            "warm": os.path.join(work, "warm"), "baseline": os.path.join(work, "baseline"),
            "fixture": os.path.join(fixture, cfg["fixture"]),
            "events-per-file": epf, "files-per-trigger": cfg["files_per_trigger"],
            "paced-in": os.path.join(work, "paced"), "paced-events-per-file": cfg["paced_events_per_file"],
            "paced-warm-ms": cfg["paced_warm_ms"], "expected": os.path.join(HERE, "expected.json"),
            "spans": os.path.join(base, "traces", f"{opt.workload}-{opt.seed}.jsonl"),
        }
        deadline = time.time() + RUN_LIMIT_S
        log = open(os.path.join(work, "jvm.log"), "w")
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
        jvm = subprocess.Popen(jvm_command(classes, work, args), stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                               stderr=log, text=True, env=env, cwd=work)
        procs.append(jvm)
        # a run that overstays its limit is killed, and prints no result
        watchdog = threading.Timer(RUN_LIMIT_S, jvm.kill)
        watchdog.daemon = True
        watchdog.start()
        result = None
        for line in jvm.stdout:
            line = line.strip()
            if line == "READY":
                files = (cfg["paced_warm_ms"] + opt.seconds * 1000) // cfg["paced_interval_ms"]
                gen_log = os.path.join(work, "gen.json")
                t0_ms = int(time.time() * 1000) + 200
                g = subprocess.Popen([sys.executable, os.path.join(HERE, "gen.py"), "paced",
                                      os.path.join(work, "paced"), os.path.join(work, "stage"), str(opt.seed),
                                      str(files), str(cfg["paced_events_per_file"]),
                                      str(cfg["paced_interval_ms"]), str(t0_ms), gen_log])
                procs.append(g)
                if g.wait(timeout=max(1, deadline - time.time())) != 0:
                    fail("the paced generator failed")
                jvm.stdin.write(f"DONE {gen_log}\n")
                jvm.stdin.flush()
            elif line.startswith("{"):
                result = line
        code = jvm.wait(timeout=max(1, deadline - time.time()))
        watchdog.cancel()
        log.close()
        if code != 0 or result is None:
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail(f"the benchmark JVM exited with code {code}")
        parsed = json.loads(result)
        want = declared_metrics(opt.trace)
        got = {k: v["unit"] for k, v in parsed["metrics"].items()}
        if got != want:
            fail(f"metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}")
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write("".join(l for l in fh if "[perfbench]" in l))
        print(result)
    finally:
        for proc in procs:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
