"""Benchmark entry point.

    python3 perfbench/run.py --workload hw12_points --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark (see build.py), runs one workload in a
fresh JVM on local[2], checks every op's output, and prints the metrics.
With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics, and the spans of the traced run
are written to .bench_build/perfbench/trace-<workload>-<seed>.json. Every
run also leaves its raw record and host-contention meter in
.bench_build/perfbench/runs/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import benchmath  # noqa: E402
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("hw12_points", "hw3_stream")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def run_jvm(classes, workload, seed, seconds, trace, out):
    work = os.path.join(build.build_dir(), "perfbench", "work-%d" % os.getpid())
    os.makedirs(work, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Xms2g", "-Xmx2g",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Djava.io.tmpdir=" + work,
        "-Dspark.ui.enabled=false",
        "-Dspark.local.dir=" + work,
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dspark.sql.streaming.forceDeleteTempCheckpointLocation=true",
        "-cp", classes + os.pathsep + build.spark_jars(),
        "graft.perfbench.Main", workload, str(seed), str(seconds), str(trace), out,
    ]
    p = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {workload} did not finish within {JVM_TIMEOUT_S} s")
    finally:
        # also on SIGTERM or Ctrl-C: never leave the JVM behind
        if p.poll() is None:
            p.kill()
            p.wait()
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        raise SystemExit(f"perfbench: {workload} JVM exited with {rc}")


def main(argv=None):
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    classes = build.build()
    runs = os.path.join(build.build_dir(), "perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}"
    raw_path = os.path.join(runs, tag + ".raw.json")
    run_jvm(classes, a.workload, a.seed, a.seconds, a.trace, raw_path)
    with open(raw_path) as f:
        rec = json.load(f)

    attempted, failed = metrics.counts(rec)
    if a.trace:
        rows = metrics.per_op_layers(rec)
        values, units = metrics.per_layer(rec, rows)
        trace_path = os.path.join(build.build_dir(), "perfbench", f"trace-{a.workload}-{a.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "spans": metrics.spans(rec),
                       "per_op": rows}, f)
    else:
        values, units = metrics.end_to_end(rec)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    with open(os.path.join(runs, tag + ".json"), "w") as f:
        json.dump({"result": result, "meter": rec["phases"]}, f)

    for k, m in result["metrics"].items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(f"op_fail_ratio {benchmath.fail_ratio(attempted, failed):.6g} fraction"
          f" ({failed} of {attempted} ops failed)")
    for ph in rec["phases"]:
        print("meter {phase}: {ops} ops in {seconds:.2f} s, foreign {foreign_cores:.2f} cores,"
              " iowait {iowait_cores:.2f} cores, loadavg {loadavg_start:.2f}->{loadavg_end:.2f}".format(**ph))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
