#!/usr/bin/env python3
"""Layer-traced benchmark of pkel.app.Pipeline.run, one JVM per invocation.

    python3 perfbench/run.py --workload fresh_noisy --seed 1 --seconds 10 --trace 0

Builds the library and perfbench/src with scalac (from the Spark image's
jars) into .bench_build/, then starts one JVM at local[min(nproc, 4)] that
generates the seeded transcript corpus and times Pipeline.run on it: the
first, fresh run on fresh_noisy; resumes of that run's output, each in a new
SparkSession, for --seconds on resume_cc. Every run's output is checked.
Prints each metric by name and unit; the last stdout line is one JSON
object: correct, attempted, failed, metrics. --trace 0 reports the
end-to-end metrics; --trace 1 adds traced runs and reports the per-layer
metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build" / "perfbench"

CONVS = 4000          # conversations × 8 turns per corpus
CORPUS_FILES = 16     # parquet files the corpus is written as
MIN_RUNS = 1          # timed runs per invocation (each kind, with --trace 1)
TIME_LIMIT_S = 170    # after the build, an invocation's JVM ends within this

# Generator rates of the corpus both workloads run on
CORPUS = {"typo": 0.3, "multi": 0.3, "table": 0.3}
# workload -> (whether the timed runs resume the first run's stages up to
# edges, least number of timed runs)
WORKLOADS = {"fresh_noisy": (False, 1), "resume_cc": (True, 4)}
# (mentions, pairs, edges, clusters) at seed 42 and CONVS conversations
PINNED_SEED = 42
PINNED = (27332, 709351, 91106, 91)

END_TO_END = [
    ("pipeline_s", "s"), ("mentions_per_s", "1/s"), ("setup_s", "s"),
    ("retained_heap_mb", "MB"), ("success_frac", "ratio"),
]
LAYERS = ["app.mentions", "link.keyed", "link.cascade", "scoring.pairs", "app.edges",
          "cluster.cc", "app.clusters", "app.summary", "io.store", "eval.pairwise"]
LAYER_METRICS = [
    ("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("task_skew", "ratio"),
]
PER_LAYER = [(f"{layer}.{m}", unit) for layer in LAYERS for m, unit in LAYER_METRICS] + [
    ("scoring.pairs.pairs_per_s", "1/s"), ("scoring.pairs.edge_yield", "ratio"),
    ("scoring.pairs.lsh_dropped_members", "count"), ("link.cascade.assigned_frac", "ratio"),
    ("cluster.cc.iterations", "count"), ("trace.coverage", "ratio"), ("trace.overhead_s", "s"),
]

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def cores():
    return min(len(os.sched_getaffinity(0)), 4)


def heap():
    """Half of MemTotal in GiB, clamped to 2..8 (the repo's test-run formula)."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def spark_jars():
    """$SPARK_HOME/jars, else the directory build.sbt's unmanagedBase names."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = sbt.exists() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if not m:
            raise BenchError("no SPARK_HOME, and no unmanagedBase in build.sbt")
        jars = Path(m.group(1))
    if not (jars / "scala-compiler-2.13.17.jar").exists():
        raise BenchError(f"no Spark/Scala jars at {jars}; set SPARK_HOME")
    return jars


def sources():
    lib = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not lib:
        raise BenchError("no library sources under src/main/scala: run from a repo checkout")
    return lib + sorted((BENCH / "src").rglob("*.scala"))


def source_hash():
    h = hashlib.sha256()
    for p in sources() + sorted((ROOT / "src" / "main" / "resources").rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compile the library and the benchmark once per source tree."""
    jars = spark_jars()
    tree = source_hash()
    classes = BUILD / f"classes-{tree}"
    if not classes.exists():
        BUILD.mkdir(parents=True, exist_ok=True)
        for old in BUILD.glob("classes-*"):
            shutil.rmtree(old)
        tmp = BUILD / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        print(f"building {tree} ...", file=sys.stderr, flush=True)
        cp = f"{jars}/*"
        rc = run_proc(["java", "-Xmx2g", "-Xss4m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                       "-classpath", cp, "-d", str(tmp)] + [str(p) for p in sources()],
                      timeout=850)
        if rc != 0:
            raise BenchError(f"scalac failed with exit code {rc}")
        tmp.rename(classes)
    cp = [str(classes), str(ROOT / "src" / "main" / "resources"), f"{jars}/*"]
    return os.pathsep.join(cp), tree


def run_proc(cmd, timeout):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def jvm_opts(work):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return opens + [
        f"-Xmx{heap()}", f"-Xms{heap()}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
    ]


def run_jvm(classpath, work, mode, deadline, **args):
    """One JVM running perfbench.Main <mode>; returns its result dict."""
    result = work / "result.json"
    argv = ["java"] + jvm_opts(work) + ["-cp", classpath, "perfbench.Main", mode,
                                        "--work", str(work), "--cores", str(cores()),
                                        "--result", str(result)]
    for k, v in args.items():
        argv += [f"--{k.replace('_', '-')}", str(v)]
    try:
        rc = run_proc(argv, timeout=deadline - time.monotonic())
    except subprocess.TimeoutExpired:
        raise BenchError(f"{mode} JVM killed at the time limit")
    if not result.exists():
        raise BenchError(f"{mode} JVM exited {rc} without a result")
    res = json.loads(result.read_text())
    if rc != 0:
        res["ok"] = False
    return res


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def git_sha():
    try:
        return subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def aggregate(res, trace):
    """(attempted, failed, metrics) of one bench JVM's result."""
    runs = res["runs"]
    attempted = len(runs)
    failed = sum(1 for r in runs if not r.get("ok"))
    timed = [r for r in runs if r["timed"] and r.get("ok")]
    plain = [r for r in timed if not r["traced"]]
    if not trace:
        metrics = {
            "pipeline_s": median([r["pipeline_s"] for r in plain]),
            "mentions_per_s": median([r["mentions"] / r["pipeline_s"] for r in plain]),
            "setup_s": res.get("setup_s", float("nan")),
            "retained_heap_mb": median([r["retained_heap_mb"] for r in plain]),
            "success_frac": 1.0 - failed / attempted,
        }
        units = dict(END_TO_END)
    else:
        traced = [r for r in timed if r["traced"]]
        metrics = {name: median([r[name] for r in traced]) for name, _ in PER_LAYER
                   if name != "trace.overhead_s"}
        # against untraced runs in the same state: the first run is cold
        metrics["trace.overhead_s"] = (median([r["pipeline_s"] for r in traced])
                                       - median([r["pipeline_s"] for r in plain if not r["cold"]]))
        units = dict(PER_LAYER)
    return attempted, failed, {k: {"value": None if v != v else v, "unit": units[k]}
                               for k, v in metrics.items()}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=PINNED_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds through run_proc, which kills the running JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        classpath, tree = build()
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + TIME_LIMIT_S
    work = BUILD / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    resume, min_runs = WORKLOADS[args.workload]
    try:
        res = run_jvm(classpath, work, "bench", deadline, **CORPUS, seed=args.seed, convs=CONVS,
                      files=CORPUS_FILES, resume=str(resume).lower(),
                      seconds=args.seconds, trace=args.trace, min_runs=min_runs,
                      budget_s=TIME_LIMIT_S - 20,
                      **({"pin": ",".join(map(str, PINNED))} if args.seed == PINNED_SEED else {}))
        if not res.get("runs"):
            raise BenchError(f"bench JVM failed before its first run: {res.get('error')}")
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed, metrics = aggregate(res, args.trace)
    all_runs = res["runs"]
    env = dict(res.get("env", {}))
    env.update({"cores": cores(), "heap": heap(), "git_sha": git_sha(), "source_tree": tree,
                "corpus_convs": CONVS})
    probes = res.get("probe_s", [])
    artifact = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                "seconds": args.seconds, "env": env, "noise_probe_s": probes,
                "phases_s": {k: res.get(k) for k in ("inputs_s", "setup_s", "timed_s")},
                "runs": all_runs, "metrics": metrics}
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    path = results / f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    path.write_text(json.dumps(artifact, indent=1))

    for r in all_runs:
        for why in r.get("failures", []) + ([r["error"]] if "error" in r else []):
            print(f"FAILED: {why}")
    print("env " + json.dumps(env, sort_keys=True))
    print("noise_probe_s " + " ".join(f"{p:.3f}" for p in probes))
    print("phases_s " + json.dumps(artifact["phases_s"]))
    print("runs (timed, traced, pipeline_s) " + json.dumps(
        [(r["timed"], r["traced"], r.get("pipeline_s")) for r in all_runs]))
    print("full_gcs_in_run " + json.dumps([r["full_gcs_in_run"] for r in all_runs
                                           if "full_gcs_in_run" in r]))
    for name, m in metrics.items():
        print(f"{name:40s} {m['value']!s:>20} {m['unit']}")
    print(f"artifact {path.relative_to(ROOT)}")
    correct = failed == 0 and attempted > 0 and res.get("ok") is True
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
