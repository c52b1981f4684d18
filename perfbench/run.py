#!/usr/bin/env python3
"""graft's benchmark: build graft and the benchmark program from source, run
one workload, and print its result as the last line of stdout.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 6 --trace 0

Run it from the root of a checkout. Everything it writes goes under
$CARGO_TARGET_DIR (default .bench_build) inside that checkout. It needs a
JDK 17 and a Spark 4 distribution ($SPARK_HOME, or spark-submit on PATH),
whose jars also carry the Scala compiler. See perfbench/DESIGN.md.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("olap", "corpus", "gp")
DATA = HERE / "data" / "sf0.01"
REFS = HERE / "refs.json"
RUN_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution: set SPARK_HOME")
    jars = Path(home) / "jars"
    if not list(jars.glob("scala-compiler-2.13*.jar")):
        fail(f"no Scala 2.13 compiler among {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = str(Path(home) / "bin" / "java") if home else shutil.which("java")
    if not exe or not Path(exe).exists():
        fail("no java: set JAVA_HOME or put java on PATH")
    return exe


def build_dir():
    base = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return (base if base.is_absolute() else ROOT / base) / "perfbench"


def sources():
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        fail(f"graft sources not found at {lib}")
    return sorted(lib.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def build():
    """Compiles graft and the benchmark program into one class directory,
    unless the sources are unchanged since the last build."""
    jars, srcs = spark_jars(), sources()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp = digest.hexdigest()
    out = build_dir() / "classes"
    if (out / ".stamp").is_file() and (out / ".stamp").read_text() == stamp:
        return jars, out
    tmp = build_dir() / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = tmp / "sources.txt"
    args.write_text("\n".join(str(f) for f in srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    rc = subprocess.call([java(), "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", f"{jars}/*",
                          "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
                          "-d", str(tmp), f"@{args}"], stdout=sys.stderr)
    if rc != 0:
        fail("compilation failed")
    args.unlink()
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return jars, out


def run_jvm(work, jvm_args, timeout=RUN_TIMEOUT_S):
    """Runs the benchmark program in its own JVM, with all its files under
    `work`, and returns its exit code. On timeout the JVM is killed and
    reaped."""
    jars, classes = build()
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "local"))
    cmd = [java(), *ADD_OPENS, "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{classes}:{jars}/*", "graftbench.Main",
           "--data", str(DATA), "--work", str(work), *jvm_args]
    with open(work / "jvm.log", "wb") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"perfbench: run exceeded {timeout} s", file=sys.stderr)
            return 124
        finally:
            for d in ("tmp", "local", "warehouse"):
                shutil.rmtree(work / d, ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()
    if not DATA.is_dir() or not REFS.is_file():
        fail("benchmark inputs missing: perfbench/data and perfbench/refs.json")
    work = build_dir() / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    rc = run_jvm(work, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", a.trace,
                        "--refs", str(REFS)])
    result = work / "result.json"
    if rc != 0 or not result.is_file():
        sys.stderr.write((work / "jvm.log").read_text(errors="replace")[-4000:])
        fail(f"benchmark JVM exited with {rc}; log in {work / 'jvm.log'}")
    print((work / "record.json").read_text().strip())
    print(result.read_text().strip())


if __name__ == "__main__":
    main()
