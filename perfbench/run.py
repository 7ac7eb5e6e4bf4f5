#!/usr/bin/env python3
"""Run one workload of the engine benchmark and print its result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload iterative --pin

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse the
build until a source file changes. The workload runs in one JVM, whose last
stdout line is the result; this script checks that line against
BENCHMARK.json and prints it last. Everything the run writes stays under
perfbench/ (build output in target/, inputs, Spark scratch and traces in
work/).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
CLASSPATH = BENCH / "target" / "perfbench-classpath.txt"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for base in (ROOT / "src" / "main" / "scala", BENCH / "src" / "main" / "scala"):
        yield from base.rglob("*.scala")
    yield BENCH / "build.sbt"
    yield BENCH / "project" / "build.properties"


def build():
    """Compile with sbt unless the exported classpath is newer than every source."""
    if CLASSPATH.exists():
        stamp = CLASSPATH.stat().st_mtime
        if all(p.stat().st_mtime < stamp for p in sources()):
            return CLASSPATH.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    CLASSPATH.write_text(lines[-1] + "\n")
    return lines[-1]


def check_result(line, trace):
    """The result must carry exactly the metrics BENCHMARK.json declares."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result keys {sorted(res)}")
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        fail(f"metrics differ from BENCHMARK.json: missing {missing}, extra {extra}, "
             f"units {[(k, got[k], want[k]) for k in got if k in want and got[k] != want[k]]}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=None,
                    help="measuring window; defaults to BENCHMARK.json's run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="print the iterative items' result fingerprints")
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources under {ROOT / 'src/main/scala/graft'}")
    if not (ROOT / "BENCHMARK.json").is_file():
        fail("no BENCHMARK.json at the checkout root")
    if args.seconds is None:
        args.seconds = json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]
    cp = build()
    work = BENCH / "work"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java), "-Xmx2g", "-Xms2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--root", str(ROOT), "--workload", args.workload]
    if args.pin:
        cmd += ["--pin", "1"]
    else:
        cmd += ["--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(args.trace)]
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited {proc.returncode}")
    if args.pin:
        print("\n".join(l for l in lines if "\t" in l))
        return
    for l in lines[:-1]:
        print(l)
    check_result(lines[-1], args.trace == 1)
    print(lines[-1])


if __name__ == "__main__":
    main()
