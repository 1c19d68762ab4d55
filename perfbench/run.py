#!/usr/bin/env python3
"""graft ingest benchmark.

Runs one ingest workload against graft's public API in a fresh JVM and
prints its metrics; the last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics.

    python3 perfbench/run.py --workload bulk_zipf --seed 1 --seconds 15 --trace 0

Workloads, sizes, rates and the metrics each layer should move are in
perfbench/design.json; recorded input pins in perfbench/pins.json.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
(and writes the spans to .bench_build/graftbench/traces/).

Extra modes:
    --self-test               flip one token in a finished table and show
                              that the oracle check fails
    --pin-seeds A-B           print the input pins of seeds A..B; with
                              --write-pins, record them in pins.json

The first run compiles the engine and the benchmark (perfbench/build.py).
Everything the run writes stays under .bench_build/ in the checkout.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

RUN_TIMEOUT_S = 170
HEAP = "2560m"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classes, work, main_args):
    jars = os.path.join(build.spark_jars(), "*")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work + "-tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: peak RSS is then the heap plus native
    # memory (threads, buffers, metaspace, code), not an artefact of when
    # the collector grew the heap; heap use shows as jvm.heap_peak_mb
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
             "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
            + opens + ["-cp", f"{classes}{os.pathsep}{jars}", "graftbench.Main"] + main_args)


def run_jvm(cmd, timeout):
    """Run the JVM, relay its stdout; returns (exit code, stdout lines)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[perfbench] run exceeded {timeout} s; killed", file=sys.stderr)
        return 124, []
    lines = out.splitlines()
    return proc.returncode, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="bulk_zipf")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--pin-seeds")
    ap.add_argument("--write-pins", action="store_true")
    a = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    out = build.out_dir()
    work = os.path.join(out, f"work-{a.workload}-{os.getpid()}")
    mode = "selftest" if a.self_test else ("pin" if a.pin_seeds else "run")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--workdir", work,
            "--tracedir", os.path.join(out, "traces"),
            "--design", os.path.join(HERE, "design.json"),
            "--pins", os.path.join(HERE, "pins.json"), "--mode", mode]
    if a.pin_seeds:
        args += ["--pin-seeds", a.pin_seeds]
    timeout = 3600 if a.pin_seeds else RUN_TIMEOUT_S
    try:
        code, lines = run_jvm(java_cmd(classes, work, args), timeout)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(work + "-tmp", ignore_errors=True)
    for line in lines:
        print(line)
    sys.stdout.flush()
    if code != 0:
        return code or 1
    if a.pin_seeds and a.write_pins:
        path = os.path.join(HERE, "pins.json")
        pins = json.load(open(path)) if os.path.exists(path) else {}
        for line in lines:
            if line.startswith('{"pin"'):
                p = json.loads(line)["pin"]
                pins.setdefault(p["workload"], {})[str(p["seed"])] = {
                    "rows": p["rows"], "hash": p["hash"]}
        with open(path, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")
    if mode == "run":
        return check_result(lines, a.trace)
    return 0


def check_result(lines, trace):
    """The result line must carry every metric BENCHMARK.json lists for the
    mode, with its unit."""
    last = json.loads(lines[-1]) if lines else {}
    if set(last) != {"correct", "attempted", "failed", "metrics"}:
        print("[perfbench] the run printed no result line", file=sys.stderr)
        return 1
    spec_path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if os.path.exists(spec_path):
        spec = json.load(open(spec_path))["per_layer" if trace else "end_to_end"]
        got = last["metrics"]
        bad = [m["name"] for m in spec
               if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]]
        if bad:
            print(f"[perfbench] result lacks metrics or units: {bad}", file=sys.stderr)
            return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
