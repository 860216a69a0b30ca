"""Pipeline benchmark entry point.

    python3 perfbench/run.py --workload <ingest|table_upsert|curate>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness (see
build.py), generates the workload's inputs from the seed (gen.py), runs
the harness JVM, and prints the run report (a line starting with REPORT)
followed by the result line: one JSON object with `correct`, `attempted`,
`failed` and `metrics`. Everything it writes stays under .bench_build,
.bench_data, .bench_work and .bench_out in the current directory.
"""
import argparse
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen    # noqa: E402

DEADLINE_S = 175          # per run, after the build
HEAP = "3g"
# what Spark 4 needs opened on JDK 17 when not launched by spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    build.build()
    started = time.time()

    data = os.path.abspath(os.path.join(".bench_data", a.workload))
    work = os.path.abspath(os.path.join(".bench_work", a.workload))
    report = os.path.abspath(".bench_out")
    for d in (data, work):
        shutil.rmtree(d, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    gen.generate(a.workload, a.seed, data)
    print(f"[perfbench] inputs generated in {time.time() - started:.1f} s",
          file=sys.stderr)

    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dfile.encoding=UTF-8",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", build.classpath(), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work, "--report", report])
    # a clean environment: the engine reads no settings from it here
    env = {k: os.environ[k] for k in ("PATH", "HOME", "JAVA_HOME")
           if k in os.environ}
    env["LANG"] = "C.UTF-8"
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            env=env, text=True)
    try:
        out, _ = proc.communicate(
            timeout=max(10, DEADLINE_S - (time.time() - started)))
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        (sys.stdout if ln.startswith("REPORT ") else sys.stderr).write(ln + "\n")
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        raise SystemExit(f"benchmark JVM failed (exit {proc.returncode})")
    for d in (data, work):
        shutil.rmtree(d, ignore_errors=True)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
