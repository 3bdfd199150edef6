#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (perfbench/build.sh) into .bench_build/perfbench;
later runs reuse the build while the sources are unchanged. Every file a
run creates lives under .bench_run/<workload>-<pid>, removed at exit;
the JVM's temporary directory points there too, so temp entries the
engine leaves behind are counted (workspace.tmp_entries_leaked) and then
removed with the run directory.

The last line of stdout is the result object; the line before it is a
detail object (sample counts, tail percentiles, host markers).
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402

WORKLOADS = ("dashboard", "ingest_refresh")
RUN_LIMIT_S = 170
JVM_HEAP = "-Xmx3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def spark_home():
    """The Spark distribution to build and run against: $SPARK_HOME, else
    the one holding the spark-submit on PATH, else the installed pyspark
    package; the first whose jars/ carries the Scala compiler."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent)
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        candidates.append(Path(spec.origin).parent)
    for home in candidates:
        if any((home / "jars").glob("scala-compiler-*.jar")):
            return home
    raise SystemExit("perfbench: set SPARK_HOME to a Spark distribution")


def source_files():
    files = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    files += sorted((HERE / "src").rglob("*.scala"))
    return files + [HERE / "build.sh"]


def build():
    """Compile when the sources changed since the last build; return the
    classes directory."""
    out = ROOT / ".bench_build" / "perfbench"
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = out / "stamp"
    classes = out / "classes"
    if stamp.exists() and stamp.read_text() == digest.hexdigest() and classes.is_dir():
        return classes
    out.mkdir(parents=True, exist_ok=True)
    subprocess.run(["bash", str(HERE / "build.sh"), str(classes)], check=True,
                   stdout=sys.stderr, timeout=800,
                   env=dict(os.environ, SPARK_HOME=str(spark_home())))
    stamp.write_text(digest.hexdigest())
    return classes


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (empty where unavailable)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests in between:
    a contended run reads high here, a merely slow one does not."""
    if len(before) < 8 or len(after) < 8:
        return None
    total = sum(after) - sum(before)
    return (after[7] - before[7]) / total if total > 0 else None


def run_jvm(classes, args, run_dir, deadline):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", JVM_HEAP]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            "-cp", f"{classes}{os.pathsep}{spark_home() / 'jars'}/*",
            "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", str(run_dir / "raw.json"), "--work", str(run_dir / "work")]
    log_path = run_dir / "jvm.log"
    with open(log_path, "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "work" / "spark-local"))
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                                env=env)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        tail = log_path.read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + f"\nharness JVM exited with {code}\n")
        return None
    leaked = len(list(tmp.iterdir()))
    return json.loads((run_dir / "raw.json").read_text()), leaked


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "src" / "main" / "scala").is_dir() or not spec_path.is_file():
        sys.stderr.write("perfbench: run from a checkout that holds src/main/scala "
                         "and BENCHMARK.json\n")
        return 2
    spec = json.loads(spec_path.read_text())
    classes = build()

    deadline = time.monotonic() + RUN_LIMIT_S
    run_dir = ROOT / ".bench_run" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        cpu_start = cpu_times()
        got = run_jvm(classes, args, run_dir, deadline)
        if got is None:
            return 1
        raw, leaked = got
        raw["host"]["cpu_steal_share"] = steal_share(cpu_start, cpu_times())
        if args.trace:
            values, detail = metrics.per_layer(raw, leaked), {}
        else:
            values, detail = metrics.end_to_end(raw)
        detail.update(workload=args.workload, seed=args.seed, traced=bool(args.trace),
                      host=raw["host"], run=raw["detail"], failures=raw["failures"])
        result = metrics.result_line(raw, values, spec, bool(args.trace))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
