"""Benchmark entry point: builds the program from source (see build.py), then
runs one workload in one JVM and relays its result.

  python3 perfbench/run.py --workload mesh_etl --seed 1 --seconds 20 --trace 0

The last line of stdout is one JSON object (correct, attempted, failed,
metrics); the full artifact (every pass, span and Spark count) is written to
perfbench/.out/<workload>-s<seed>-t<trace>.json. Spark's log goes to the .log
file beside it. Exit code 0 only when every output check passed.

Extra flags, for the benchmark's own tests: --size tiny shrinks every input,
--corrupt 1 damages the output after the first timed pass (the run must
then fail).
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("mesh_etl", "dedup")
TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    out = os.path.join(build.HERE, ".out")
    work = os.path.join(build.HERE, ".work", a.workload)
    tmp = os.path.join(build.HERE, ".tmp")
    for d in (out, tmp):
        os.makedirs(d, exist_ok=True)
    stem = os.path.join(out, f"{a.workload}-s{a.seed}-t{a.trace}")
    cpus = min(4, os.cpu_count() or 1)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--size", a.size, "--corrupt", str(a.corrupt), "--cpus", str(cpus),
            "--work", work, "--artifact", stem + ".json"])
    with open(stem + ".log", "w") as log:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                               timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"benchmark timed out after {TIMEOUT_S} s; log: {stem}.log",
                  file=sys.stderr)
            return 3
    lines = r.stdout.strip().splitlines()
    try:
        summary = json.loads(lines[-1])
    except (IndexError, ValueError):
        summary = None
    if r.returncode != 0 or summary is None:
        sys.stderr.write(r.stdout)
        with open(stem + ".log") as f:
            log_lines = f.readlines()
        sys.stderr.write("".join([l for l in log_lines if "[perfbench]" in l] + log_lines[-20:]))
        print(f"benchmark failed (exit {r.returncode}); log: {stem}.log", file=sys.stderr)
        return r.returncode or 4
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
