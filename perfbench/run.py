#!/usr/bin/env python3
"""Runs one workload of the repository benchmark and prints its result.

    python3 perfbench/run.py --workload medallion|queries \
        --seed 1 --seconds 1 --trace 0|1

Run from the repository root. The first run compiles the engine
(`src/main/scala`) and the harness (`perfbench/src`) with the Scala
compiler shipped in Spark's jars, and generates the input tables; both
are cached under the build directory (`$CARGO_TARGET_DIR`, default
`.bench_build`) keyed by a hash of their sources. The last line of
standard output is the JSON result.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = 0.1
DATA_SEED = 42
JVM_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the sbt build declares."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        text = open(sbt).read() if os.path.exists(sbt) else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark jars found; set SPARK_HOME")
    return jars


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def publish(tmp, out):
    """Moves a finished build into place; a concurrent run may have won."""
    try:
        os.rename(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def build(build_dir, jars):
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        fail("engine sources (src/main/scala) not found; run from the repository root")
    sources = engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    out = os.path.join(build_dir, "classes-" + digest(sources))
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(tmp, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(sources) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={build_dir}",
           "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp, "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        fail("compilation failed")
    publish(tmp, out)
    return out


def gen_data(build_dir):
    gen = os.path.join(HERE, "gendata.py")
    out = os.path.join(build_dir, f"data-sf{SF}-{digest([gen])}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, gen, tmp, "--sf", str(SF), "--seed", str(DATA_SEED)],
                       check=True, stdout=sys.stderr)
        publish(tmp, out)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["medallion", "queries"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--record", help="write observed fingerprints here instead of checking")
    a = ap.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                os.path.join(ROOT, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars()
    classes = build(build_dir, jars)
    data = gen_data(build_dir)
    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)

    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dorg.xerial.snappy.tempdir={tmp}"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.PerfBench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work,
            "--expected", os.path.join(HERE, "expected", "fingerprints.json")]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=work)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"workload did not finish within {JVM_TIMEOUT_S} s; see {log}")
    shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write(stdout)
        fail(f"workload exited with code {proc.returncode} and no result; see {log}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
