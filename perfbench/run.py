#!/usr/bin/env python3
"""Build the engine from source and run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--cores <n>]
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The engine sources (src/main/scala) and
the benchmark's own Scala files are compiled with the Scala compiler that
ships in Spark's jars directory into .bench_build/classes; the build is
reused while no source changes. The last line of stdout is the result
object; the run detail (context, per-operation latencies, spans) is
written to .bench_build/out/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit") or shutil.which("spark-shell")
        if exe:
            home = str(Path(exe).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if not jars or not any(jars.glob("spark-sql_*.jar")):
        die("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def java():
    exe = shutil.which("java")
    if not exe:
        die("java not found on PATH")
    return exe


def sources():
    if not ENGINE_SRC.is_dir():
        die(f"engine sources not found at {ENGINE_SRC.relative_to(ROOT)}")
    files = sorted(ENGINE_SRC.rglob("*.scala"))
    files += sorted((HERE / "src").glob("*.scala"))
    files += sorted((HERE / "tests").glob("*.scala"))
    if not files:
        die("no Scala sources found")
    return files


def build(jars):
    """Compile into .bench_build/classes unless its stamp matches."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update(" ".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    stamp = h.hexdigest()
    out = BUILD / "classes"
    if (out / ".stamp").is_file() and (out / ".stamp").read_text() == stamp:
        return out
    tmp = BUILD / "classes.new"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-cp", cp] + [str(f) for f in files]
    print(f"perfbench: compiling {len(files)} Scala files", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr)
    if r.returncode != 0:
        die(f"compilation failed (exit {r.returncode})")
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def jvm(classes, jars, main, args, work):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed-size heap and the stop-the-world parallel collector: with the
    # default growing G1 heap, batch latency spread 24% across seeds
    # against 5% with these, on a 4-core host
    return [java(), "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] + opens + [
        "-cp", f"{classes}:{jars}/*", main] + args


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def run(a):
    jars = spark_jars()
    classes = build(jars)
    work = BUILD / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = BUILD / "out" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work), "--out", str(out)]
    if a.cores:
        args += ["--cores", str(a.cores)]
    proc = subprocess.Popen(jvm(classes, jars, "perfbench.Main", args, work),
                            cwd=work, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if last is not None:
                print(last, flush=True)
            last = line
        code = proc.wait()
    finally:
        watchdog.cancel()
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code < 0:
        die(f"the benchmark JVM was killed after {RUN_TIMEOUT_S} s")
    if code == 2:
        if last is not None:
            print(last)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        die("a correctness gate failed; no metric is reported")
    if code != 0 or last is None:
        if last is not None:
            print(last)
        die(f"the benchmark JVM exited with code {code}")
    result = json.loads(last)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die(f"malformed result line: {last}")
    want = expected_metrics(a.trace)
    if set(result["metrics"]) != want:
        die(f"result metrics {sorted(result['metrics'])} differ from BENCHMARK.json {sorted(want)}")
    print(json.dumps(result))


def selftest():
    jars = spark_jars()
    classes = build(jars)
    work = BUILD / "work" / f"selftest-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        code = subprocess.run(
            jvm(classes, jars, "perfbench.SelfTest", [str(work), str(ROOT / "BENCHMARK.json")], work),
            cwd=work).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


def main():
    # a terminated run still stops and reaps its JVM (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1))
    p.add_argument("--cores", type=int, default=0,
                   help="Spark local cores (default: all processors)")
    p.add_argument("--selftest", action="store_true",
                   help="run the benchmark's own tests")
    a = p.parse_args()
    if a.selftest:
        selftest()
    for k in ("workload", "seed", "seconds", "trace"):
        if getattr(a, k) is None:
            p.error(f"--{k} is required")
    run(a)


if __name__ == "__main__":
    main()
