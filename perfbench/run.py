#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload er_natural|catalog \
        --seed N --seconds S --trace 0|1 [--smoke]

The first run builds the engine's main sources together with the harness
(perfbench/build.py) into perfbench/target; later runs reuse that build
until a source file changes. Each run is one fresh JVM with its own scratch
directory under perfbench/work, removed when the run ends (span traces of
traced runs are kept in perfbench/work).

The last line of stdout is the result object; the line before it starts
with "detail " and holds every number under its name and unit. Exits
non-zero without a result if the engine's sources are missing, the build
fails, or the JVM fails or overruns.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402  (the package's build, next to this file)

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, "work")
RUN_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["er_natural", "catalog"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf0.001 catalog, a few hundred docs)")
    a = ap.parse_args()

    try:
        cp = build.classpath()
        jvm = build.java()
    except build.BuildError as e:
        die(str(e))
    started = time.time()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [jvm] + [x for p in ADD_OPENS
                      for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--data", os.path.join(HERE, "data"),
            "--pins", os.path.join(HERE, "pins.json")]
    if a.smoke:
        cmd.append("--smoke")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"),
               SPARK_LOCAL_IP="127.0.0.1")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        for t in glob.glob(os.path.join(work, "trace-*.json")):
            shutil.move(t, os.path.join(WORK, os.path.basename(t)))
        shutil.rmtree(work, ignore_errors=True)
    sys.stderr.write(f"[perfbench] run took {time.time() - started:.1f} s\n")
    lines = out.splitlines()
    if proc.returncode != 0 or len(lines) < 2 or not lines[-2].startswith("detail "):
        sys.stdout.write(out)
        die(f"run failed (java exit {proc.returncode})")
    result = json.loads(lines[-1])
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
