"""graft link-graph benchmark: builds the program from source, runs one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload scc-web|code-pipeline \
      --seed N --seconds S --trace 0|1

The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it is a
detail object (environment, input shape, samples). Both, and the span JSONL
of a traced run, are also written under <build dir>/perfbench-out/.
Exits non-zero, printing no result, when the build or the run fails.
See perfbench/README.md for the workloads and metrics.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # keep perfbench/ free of build output
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit (as in the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["scc-web", "code-pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        classpath, sources = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    out = os.path.join(build.BUILD_DIR, "perfbench-out")
    scratch = os.path.join(build.BUILD_DIR, f"run-{os.getpid()}")
    os.makedirs(out, exist_ok=True)
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={scratch}/tmp",
           f"-Dspark.local.dir={scratch}/local",
           f"-Dspark.sql.warehouse.dir={scratch}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", scratch, "--sources", sources]
    commit = git_commit()
    if commit:
        cmd += ["--commit", commit]

    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)
    try:
        stdout, stderr = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        stdout, stderr = proc.communicate()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
        shutil.rmtree(scratch, ignore_errors=True)
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    for f in (f"{tag}.json", f"{tag}.spans.jsonl"):
        if os.path.isfile(os.path.join(scratch, f)):
            shutil.move(os.path.join(scratch, f), os.path.join(out, f))
    shutil.rmtree(scratch, ignore_errors=True)

    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or \
            set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(stderr[-4000:])
        print(f"perfbench: no result (exit code {proc.returncode})", file=sys.stderr)
        return 1
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
