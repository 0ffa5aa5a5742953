#!/usr/bin/env python3
"""PDQ pipeline benchmark: one workload, one run, one JSON line of metrics.

Run from the root of a checkout of this repository:

    python3 perfbench/run.py --workload pdq_month --seed 1 --seconds 40 --trace 0

The first run builds the program from `src/main/scala` and the harness
from `perfbench/src` with the Scala compiler shipped in Spark's jars
(`$SPARK_HOME/jars`, else the `unmanagedBase` that `build.sbt` names),
into `$CARGO_TARGET_DIR` (default `.bench_build`). Later runs reuse the
build while the sources are unchanged. Inputs are generated from `--seed`
by `gen_pdq.py`.

Workloads (one client sends one month load at a time):

- pdq_month: a one-month export of 30k lease rows, loaded into an empty
  warehouse once untimed, then twice timed; work grows with the rows;
- pdq_backfill: a 12-month export of 3k-row months; month 1 is loaded,
  then replayed over itself three times, timed; fixed per-month costs,
  dim merges and whole-export re-scans dominate.

`month_s` is the median of a run's timed operations.

With `--trace 0` the last line holds the end-to-end metrics; with
`--trace 1`, the per-layer metrics of a traced run. Outputs are checked
on every run; a mismatch makes the operation count as failed.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_pdq  # noqa: E402
import metrics  # noqa: E402

# generator sizes per workload and the timed operation: `load` loads the
# export's first month into an empty warehouse, `replay` re-runs the last
# of the first `preload` months over a warehouse holding them. Set-up ends
# after the first, untimed load of that month; a run's `ops` timed
# operations take 20-30 s in all on a 4-core machine.
WORKLOADS = {
    "pdq_month": dict(months=1, leases=30000, operators=750,
                      preload=0, op="load", ops=2),
    "pdq_backfill": dict(months=12, leases=3000, operators=150,
                         preload=1, op="replay", ops=3),
}
# A month load is a short batch job in a fresh JVM. With C2, each replay
# ran faster than the one before for five or more replays while C2
# compiled, and C2's threads kept the cores busy; with C1 alone, times
# level off after an operation's first run. The parallel collector does
# no concurrent work.
JVM = ["-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC", "-Xmx3g", "-Xss8m"]
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory `build.sbt` compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    if os.path.exists("build.sbt"):
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    return ""


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(root)
                  for f in fs if f.endswith(".scala"))


def scalac(jars, classpath, out, files, log):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-classpath", classpath, "-d", out] + files
    with open(log, "w") as f:
        if subprocess.call(cmd, stdout=f, stderr=subprocess.STDOUT) != 0:
            fail(f"compile failed, see {log}")


def build(build_dir, jars):
    """Compile program and harness unless a build of these sources exists."""
    prog = sources("src/main/scala")
    harness = sources(os.path.join(HERE, "src"))
    h = hashlib.sha256()
    for f in prog + harness:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(build_dir, "stamp")
    classes = os.path.join(build_dir, "program")
    hclasses = os.path.join(build_dir, "harness")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes, hclasses
    if os.path.exists(stamp):
        os.remove(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    shutil.rmtree(hclasses, ignore_errors=True)
    os.makedirs(classes)
    scalac(jars, classes, classes, prog, os.path.join(build_dir, "program.log"))
    scalac(jars, classes, hclasses, harness, os.path.join(build_dir, "harness.log"))
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes, hclasses


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    # a SIGTERM raises SystemExit, so the compiler or harness JVM running
    # at the time is stopped and waited for on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir("src/main/scala"):
        fail("no src/main/scala here; run from the repository root")
    jars = spark_jars()
    if not os.path.isdir(jars):
        fail("no Spark jars; set SPARK_HOME")
    build_dir = os.path.abspath(
        os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
    os.makedirs(build_dir, exist_ok=True)
    classes, hclasses = build(build_dir, jars)

    spec = WORKLOADS[a.workload]
    work = os.path.join(build_dir, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "inputs")
    gen_pdq.generate(a.seed, data, spec["months"], spec["leases"], spec["operators"])
    out = os.path.join(work, "result.json")
    cmd = (["java", "-XX:-UsePerfData"] + JVM +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + work, "-Dspark.local.dir=" + work,
            "-cp", os.pathsep.join([hclasses, classes, os.path.join(jars, "*")]),
            "perfbench.Main", "--workload", a.workload, "--inputs", data,
            "--work", work, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--preload", str(spec["preload"]),
            "--op", spec["op"], "--ops", str(spec["ops"]), "--out", out])
    log_path = os.path.join(build_dir, f"{a.workload}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc is None:
        fail(f"run exceeded its time limit, see {log_path}")
    if rc != 0 or not os.path.exists(out):
        fail(f"harness exited with {rc}, see {log_path}")

    with open(out) as f:
        result = json.load(f)
    with open(os.path.join(data, "expected.json")) as f:
        expected = json.load(f)
    values, attempted, failed = metrics.derive(result, expected, a.trace == 1)
    for o in result["ops"]:
        for e in o["errors"]:
            print(f"check failed: {o['kind']} {o['month']}: {e}", file=sys.stderr)
    print("operations (s): " + " ".join(
        f"{o['kind']}:{o['month']}:{o['s']:.2f}" for o in result["ops"]),
        file=sys.stderr)
    for name, v in values.items():
        print(f"{name} = {v['value']} {v['unit']}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": values}))


if __name__ == "__main__":
    main()
