"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program from source (first run
only), generates the workload's inputs from the seed, then runs the JVM
harness, which sets up, measures for S seconds and checks every output.
The last line of standard output is the result object; the line before it
records the environment (cores, heap, Spark version, seed, input sizes).
Traced runs also write their spans to `.bench_build/traces/`.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

import build
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("etl_amplitude", "load_wan", "query_mix")

# Stated input sizes. Each E-T-L must fit several times in a run's window.
SIZES = {"amp_events": 50_000, "wan_events": 100_000, "wan_profiles": 20_000}
CORPUS = os.path.join(HERE, "corpus", "sf0.01")

JVM_TIMEOUT_S = 170

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def heap_gb():
    """Half of MemTotal in whole GB, clamped to 2..8 GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return min(8, max(2, kb // 2097152))


def heap():
    return f"{heap_gb()}g"


def young():
    return f"{heap_gb() * 256}m"


def generate(workload, seed, work, sizes):
    """Writes the inputs under `work/input`, before any timing starts."""
    inp = os.path.join(work, "input")
    if workload == "etl_amplitude":
        return {"main": gen.amplitude(os.path.join(inp, "main"), seed, sizes["amp_events"])}
    if workload == "load_wan":
        return {"main": gen.mixpanel(os.path.join(inp, "main"), seed, sizes["wan_events"], sizes["wan_profiles"])}
    with open(os.path.join(CORPUS, "expected.json")) as f:
        return {"corpus": CORPUS, "corpus_name": os.path.basename(CORPUS), "queries": json.load(f)}


def java(classes, work, main, *main_args):
    cp = os.pathsep.join([classes] + build.spark_jars())
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # fixed heap and young generation: no resizing phases to drift through
    # during a run, and a resident set that follows the live data instead
    # of how far G1 happened to grow its young generation
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    return (["java", f"-Xms{heap()}", f"-Xmx{heap()}", f"-Xmn{young()}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false"] + opens + ["-cp", cp, main] + [str(a) for a in main_args])


def jvm_env(work):
    """Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep both inside the checkout."""
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))


def record(classes, work):
    """Re-records the corpus's expected query outputs (after a deliberate
    change of the corpus or of a row's semantics)."""
    out = os.path.join(CORPUS, "expected.json")
    subprocess.run(java(classes, work, "perfbench.Record", CORPUS, out, cores(), 3),
                   check=True, cwd=work, env=jvm_env(work))
    print(out)


def run(workload, seed, seconds, trace, sizes=SIZES):
    """Builds if needed, generates inputs, runs the harness. Returns the
    exit code and the harness's output lines."""
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2, []
    work = os.path.join(build.BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if workload is None:
            record(classes, work)
            return 0, []
        expect_file = os.path.join(work, "expect.json")
        with open(expect_file, "w") as f:
            json.dump(generate(workload, seed, work, sizes), f)
        trace_out = os.path.join(build.BUILD, "traces", f"{workload}-seed{seed}.json")
        cmd = java(classes, work, "perfbench.Main", "--workload", workload, "--seed", seed,
                   "--seconds", seconds, "--trace", trace, "--work", work,
                   "--expect", expect_file, "--cores", cores(), "--trace-out", trace_out)
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work, env=jvm_env(work))
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"perfbench: harness exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
            return 3, []
        lines = [line for line in out.splitlines() if line.strip()]
        if proc.returncode != 0 or not lines:
            print(out + f"perfbench: harness exited with {proc.returncode}", file=sys.stderr)
            return 4, []
        if set(json.loads(lines[-1])) != {"correct", "attempted", "failed", "metrics"}:
            print("perfbench: malformed result line", file=sys.stderr)
            return 5, []
        return 0, lines
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="re-record the query corpus's expected outputs and exit")
    args = ap.parse_args()
    if not args.record and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")
    rc, lines = run(None if args.record else args.workload, args.seed, args.seconds, args.trace)
    for line in lines:
        print(line)
    return rc


if __name__ == "__main__":
    sys.exit(main())
