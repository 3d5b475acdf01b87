"""Benchmark of the extraction job and the curation pipeline.

Run from the root of the repository:

    python3 perfbench/run.py --workload extract_large --seed 1 --seconds 5 --trace 0

Builds the program and the benchmark from source (perfbench/build.py),
runs one workload in one local[4] Spark JVM, and prints as its last line
one JSON object: correct, attempted, failed, and the metrics named in
BENCHMARK.json with their units (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# Same module opens as build.sbt: Spark 4 on JDK 17 outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A fixed heap: a heap that grows with use lands on a different size in
# each run, and with it GC time and pass times spread more from run to run.
HEAP = "3g"
RUN_LIMIT_S = 175  # a run must end within 180 s, or 900 s when it builds
BUILD_LIMIT_S = 895


def main():
    start = time.monotonic()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    a = p.parse_args()

    built_before = os.path.exists(os.path.join(root, build.OUT, "classes.stamp"))
    classes = build.build(root)
    limit = RUN_LIMIT_S if built_before else BUILD_LIMIT_S

    tmp = os.path.join(root, build.OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", build.classpath(classes), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace])
    # a SIGTERM to this script ends the JVM too, through the handler below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    def kill():
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        # the JVM names its work directory after its pid and deletes it
        # only when it ends by itself
        shutil.rmtree(os.path.join(root, build.OUT, f"work-{a.workload}-{a.seed}-{proc.pid}"),
                      ignore_errors=True)

    try:
        out, _ = proc.communicate(timeout=max(10, limit - (time.monotonic() - start)))
    except subprocess.TimeoutExpired:
        kill()
        raise SystemExit("perfbench: run timed out")
    except BaseException:
        kill()
        raise
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: benchmark JVM exited {proc.returncode}")

    res = json.loads(lines[-1])
    metrics = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in metrics}
    if set(res["values"]) != set(units):
        raise SystemExit("perfbench: measured metrics differ from BENCHMARK.json: "
                         f"{sorted(set(res['values']) ^ set(units))}")
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": res["values"][k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
