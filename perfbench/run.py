"""One run of the graft benchmark, in a fresh JVM.

    python3 perfbench/run.py --workload etl_synthea --seed 1 --seconds 20 --trace 0

Builds the program from source if needed (perfbench/build.py), runs
perfbench.Main for the workload, and prints the run's result as the last
line of standard output:

    {"correct": true, "attempted": 28, "failed": 0, "metrics": {...}}

--trace 1 attaches Spark listeners and prints the per-layer metrics
instead of the end-to-end ones; the full span record goes to
.bench_build/perfbench/traces/<workload>-seed<N>.json.
--record rewrites perfbench/expected/ from this run instead of checking
against it. --self-test runs the benchmark's own tests. The exit code is
non-zero when an output does not match its expectation or the run fails.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

WORKLOADS = ("etl_synthea", "suite_mixed")
HEAP = "4g"
# the sf0.1 tables the suite reads, copied from the project's test data;
# they take no seed
DATA = build.HERE / "data" / "sf0.1"
JVM_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def java(main, args, scratch):
    """Runs `main` on the built classes; its scratch (Spark local dir,
    temp dir, warehouse) lives under `scratch`, which starts empty."""
    classes = build.build()
    shutil.rmtree(scratch, ignore_errors=True)
    (scratch / "tmp").mkdir(parents=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS,
           "-cp", f"{classes}:{build.spark_jars()}/*",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={scratch / 'spark-local'}",
           f"-Djava.io.tmpdir={scratch / 'tmp'}",
           main, *args]
    # Spark prefers these over spark.local.dir; unset, it keeps its shuffle
    # and spill files in the checkout
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    try:
        return subprocess.run(cmd, stdout=sys.stderr, cwd=scratch, env=env,
                              timeout=JVM_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        print(f"run: {main} did not finish in {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 124


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", choices=("0", "1"), default="0")
    p.add_argument("--record", action="store_true")
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args()

    work = build.BUILD / "work"
    if a.self_test:
        sys.exit(java("perfbench.SelfTest", ["--work", str(work / "selftest")], work / "run"))
    if not a.workload:
        p.error("--workload is required")

    result = work / "result.json"
    result.unlink(missing_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--out", str(result), "--work", str(work), "--data", str(DATA),
            "--expected", str(build.HERE / "expected"),
            "--trace-out", str(build.BUILD / "traces" / f"{a.workload}-seed{a.seed}.json")]
    if a.record:
        args.append("--record")
    code = java("perfbench.Main", args, work / "run")
    if code != 0 or not result.is_file():
        sys.exit(code or 1)
    res = json.loads(result.read_text())
    print(json.dumps(res), flush=True)
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
