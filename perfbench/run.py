#!/usr/bin/env python3
"""End-to-end benchmark of graft's shipped entry points.

    python3 perfbench/run.py --workload ingest|graph \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program from source (first
run only), starts one JVM that sets up the workload from the seed and
runs its ops back to back for S seconds, checks every op's output, and
prints as its last line one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the `end_to_end` metrics of BENCHMARK.json with
`--trace 0`, its `per_layer` metrics with `--trace 1`). The line before
it carries sample counts and input sizes. Everything it writes stays in
`.bench_build/` and `.perfbench_work/` under the checkout; the work
directory is removed on exit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import stats  # noqa: E402

ROOT = HERE.parent
WORKLOADS = ("ingest", "graph")
# each ingest op reads MONTHS monthly dumps of GAMES_PER_MONTH games
MONTHS = 2
GAMES_PER_MONTH = 10000
# the harness starts no new op after this many seconds of its own
HARNESS_BUDGET_S = 140
# and is killed if it runs longer than this
HARNESS_DEADLINE_S = 170

JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# C1 only. Each op loads ~200 freshly generated classes; under the default
# tiered JIT their C2 compiles take ~15 CPU-s per op, keep the compiler
# threads busy for the whole op, and leave each JVM at its own speed, up to
# ~20% apart from one run to the next. C1 compiles take 1-2 CPU-s per op.
# The code cache is sized as tiered mode sizes it: with C1's default 48 MB
# the fifth op spent seconds recompiling. A fixed-size heap with the
# parallel collector makes an op's CPU-s repeat: with G1 and a growing heap
# they spread several times as wide from run to run. perfbench/README.md
# has the measurements.
JVM = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
       "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn1g"]


def cpus():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def per_layer_names():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


def run_harness(cp, work, args, n):
    env = dict(os.environ)
    env.update(SPARK_GRAFT_CPUS=str(n),
               GRAFT_STAGING_DIR=str(work / "op" / "staging"),
               # IngestMain fetches the monthly dumps from this local mirror,
               # which the harness writes before the first op
               GRAFT_DUMP_BASE_URL=(work / "input0" / "mirror").as_uri(),
               SPARK_LOCAL_DIRS=str(work / "spark-local"))
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # a class-data archive of the loaded classes, written by the first run
    # and mapped by later ones: a fresh JVM then loads Spark faster
    jsa = build.OUT / "classes.jsa"
    cds = ([f"-XX:SharedArchiveFile={jsa}"] if jsa.is_file()
           else [f"-XX:ArchiveClassesAtExit={jsa}"])
    cmd = (["java", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
            f"-Djava.io.tmpdir={work / 'tmp'}"] + cds + JVM + [
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}", "-Dspark.ui.enabled=false"]
           + JDK17_OPENS
           + ["-cp", cp, "graft.perfbench.Harness", "run",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(work), "--data", str(HERE / "data"),
              "--min-ops", str(3 * stats.MIN_TRACE_CYCLES if args.trace else stats.MIN_SAMPLES),
              "--months", str(MONTHS),
              "--games-per-month", str(GAMES_PER_MONTH), "--budget", str(HARNESS_BUDGET_S)])
    log = work / "harness.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=HARNESS_DEADLINE_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"harness exceeded {HARNESS_DEADLINE_S} s")
        finally:
            # on every way out, the harness JVM ends before this does
            if proc.poll() is None:
                proc.kill()
            proc.wait()
    if proc.returncode != 0:
        tail = log.read_text(errors="replace").splitlines()[-40:]
        raise RuntimeError(f"harness exited {proc.returncode}:\n" + "\n".join(tail))
    failures = [l for l in log.read_text(errors="replace").splitlines() if "[perfbench]" in l]
    for l in failures:
        print(l, file=sys.stderr)
    return [json.loads(l[len("PERFBENCH "):]) for l in out.splitlines()
            if l.startswith("PERFBENCH ")]


def main(argv=None):
    # a SIGTERM unwinds like an exception, so the harness JVM is stopped
    # and the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        names = per_layer_names()
        t0 = time.monotonic()
        cp = build.build()
        build_s = time.monotonic() - t0
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        print(f"perfbench: cannot build: {e}", file=sys.stderr)
        return 2
    n = cpus()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        records = run_harness(cp, work, args, n)
        result, detail = stats.summarize(records, args.trace == 1, n, names)
        if args.trace:
            spans = work / "spans.jsonl"
            keep = ROOT / ".perfbench_work" / f"spans-{args.workload}-{args.seed}.jsonl"
            if spans.is_file():
                shutil.copyfile(spans, keep)
                detail["spans"] = str(keep.relative_to(ROOT))
    except (RuntimeError, stats.SampleError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail.update(workload=args.workload, seed=args.seed, cpus=n, build_s=round(build_s, 3))
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
