"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <maint_steady|maint_backlog|query_suite> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds first if a source changed (see build.py). The JVM's stderr goes to
<build dir>/out/<workload>-seed<n>-trace<t>.log; the per-key, per-layer
record and the span file land next to it, tagged with the run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

# Spark on JDK 17 outside spark-submit needs these (the program's sbt build
# passes the same set).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TIMEOUT_S = 170


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", choices=["0", "1"], default="0")
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and (not a.workload or not a.seconds):
        p.error("--workload and --seconds are required")

    classes = build.build()
    out = build.build_dir()
    # Scratch space of earlier runs (temp dirs some query keys create, the
    # work dir of a killed run) is not carried into this one.
    for d in ("tmp", "work"):
        shutil.rmtree(out / d, ignore_errors=True)
        (out / d).mkdir(parents=True)
    (out / "out").mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={out / 'tmp'}",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([str(classes), str(build.spark_jars() / "*")]),
            "graftbench.Main", "--work", str(out / "work"), "--out", str(out / "out"),
            "--fixture", str(build.BENCH / "fixture")]
    if a.selftest:
        cmd.append("--selftest")
        log = out / "out" / "selftest.log"
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace]
        log = out / "out" / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    with open(log, "w") as err:
        try:
            r = subprocess.run(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, stderr=err,
                               text=True, timeout=TIMEOUT_S * (3 if a.selftest else 1))
        except subprocess.TimeoutExpired:
            print(f"run: timed out; see {log}", file=sys.stderr)
            return 1
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    last = None
    for ln in reversed(lines):
        try:
            last = json.loads(ln)
            break
        except ValueError:
            continue
    if r.returncode != 0 or last is None:
        print(f"run: failed with code {r.returncode}; see {log}", file=sys.stderr)
        sys.stderr.write("".join(open(log).readlines()[-20:]))
        if last is not None and a.selftest:
            print(json.dumps(last, separators=(",", ":")))
        return r.returncode or 1
    print(json.dumps(last, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
