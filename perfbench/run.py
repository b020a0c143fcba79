"""Benchmark runner for the graft search engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and harness from source (perfbench/build.py), runs one
workload in a fresh JVM on a local Spark session, and prints the harness's
measurements (`perfbench: <name> <value> <unit>` lines) followed, as the
last line, by one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with
--trace 1 they are its per_layer metrics, and the spans of the run are
written to <build dir>/traces/<workload>-<seed>.jsonl. The JVM's stderr
goes to <build dir>/logs/<workload>-<seed>.log. Exits non-zero,
without a result line, when the build or the run fails.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
MAX_CORES = 4
HEAP = "2g"
RUN_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg: str) -> None:
    print(f"perfbench: error: {msg}", file=sys.stderr)
    sys.exit(2)


def load_spec() -> dict:
    try:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    return spec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = load_spec()
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    try:
        classpath = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(str(e))

    out_dir = build.build_dir()
    work = out_dir / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spans = out_dir / "traces" / f"{args.workload}-{args.seed}.jsonl"
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    cmd = (["java", f"-Xmx{HEAP}", "-XX:G1HeapRegionSize=16m", "-XX:-UsePerfData",
            "-Dfile.encoding=UTF-8",
            f"-Djava.io.tmpdir={work / 'tmp'}"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", os.pathsep.join([str(c) for c in classpath] + [str(jars / "*")]),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--spans", str(spans), "--cores", str(cores)])
    (work / "tmp").mkdir()
    log = out_dir / "logs" / f"{args.workload}-{args.seed}.log"
    log.parent.mkdir(exist_ok=True)
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                    cwd=work, start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        tail = log.read_text(errors="replace")[-3000:]
        fail(f"harness exited {proc.returncode}; log tail:\n{tail}")

    result = None
    for line in stdout.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.startswith("perfbench: "):
            print(line)
    if result is None:
        fail("harness printed no result")
    measured = result["metrics"]
    metrics = {}
    for m in wanted:
        got = measured.get(m["name"])
        if got is None or got["value"] is None or not math.isfinite(got["value"]):
            fail(f"metric {m['name']} missing from the {args.workload} run")
        if got["unit"] != m["unit"]:
            fail(f"metric {m['name']}: unit {got['unit']} != {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    attempted, failed = int(result["attempted"]), int(result["failed"])
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
