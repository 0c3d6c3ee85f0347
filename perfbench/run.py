#!/usr/bin/env python3
"""The daily-run benchmark: one workload, end to end.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload end to end and prints, as its last stdout line, one JSON
object: {"correct", "attempted", "failed", "metrics"}.  With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer
census (see README.md).

Steps, all inside the checkout (scratch space is perfbench/.work/):
 1. build the harness and the engine from source with sbt (skipped when a
    stamp of the sources matches the last build);
 2. generate the seeded inputs (gen.py);
 3. daily_incremental's day 1-29 lakehouse is built once per checkout and
    engine version, into perfbench/.work/cache/, by the first run after the
    build, whatever its workload;
 4. one fresh JVM: the untimed preparation (daily workloads: serve the API
    pages), the untimed warm-up runs (WARM_UPS), then the timed runs, at
    least one and more while fewer than --seconds are measured, each from a
    restored starting state and each checked outside the timed region;
 5. untraced runs: start SETUP_SAMPLES - 1 more JVMs that only set up;
 6. compare the outputs with the DuckDB references (golden.py).
setup_s is the median over those JVMs of JVM start until the SparkSession
is ready.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "bench-build.stamp")
CORES = 4
BUDGET_S = 165  # a run must end within 180 s of its build (the first may take 900 s)

HEAP = "4g"  # the reference's 4096 MiB task
# workload -> input scale (gen.py copies): the largest that keep the
# benchmark's whole time budget with a margin (README.md, Sizes)
WORKLOADS = {"daily_full": 0.2, "daily_incremental": 0.2, "corpus_dedup": 0.4}
# workload -> untimed warm-up runs before the timed ones. A cold daily run
# spread over 18-26% of its median across ten seeds (JIT and class loading
# race the four task threads), one warm run after one warm-up over 5-9%.
# The corpus run is timed cold: its warm runs are short (~10 s) and their
# CPU time is bimodal (~21 s or ~26 s), so after two warm-ups they spread
# over 10% and 18% in two sets, the cold run over 9-11% in three.
# README.md, "What one run does".
WARM_UPS = {"daily_full": 1, "daily_incremental": 1, "corpus_dedup": 0}
SETUP_SAMPLES = 2  # JVM starts per untraced run: the run JVM and one that only starts
END_TO_END = [("run_s", "s"), ("setup_s", "s"), ("cpu_s", "s"), ("peak_rss_mb", "MiB")]
LAYERS = ["sources", "stage", "analytics", "features", "quality", "commit", "serve",
          "incremental", "corpus_clean", "dedup", "suffix"]
LAYER_METRICS = [("s", "s"), ("jobs", "count"), ("tasks", "count"), ("task_s", "s"),
                 ("driver_s", "s"), ("shuffle_mb", "MiB"), ("spill_mb", "MiB"),
                 ("rows_out", "count"), ("task_retries", "count")]
PER_LAYER = [(f"{l}.{m}", u) for l in LAYERS for m, u in LAYER_METRICS] + [
    ("analytics.kept_ratio", "ratio"), ("serve.batch_retries", "count"),
    ("run.s", "s"), ("run.uncovered_s", "s"), ("run.cold_s", "s")]
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    exe = shutil.which("spark-submit")
    if not exe:
        sys.exit("Spark not found: set SPARK_HOME")
    return os.path.dirname(os.path.dirname(os.path.realpath(exe)))


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Build the harness and the engine unless the sources are unchanged;
    returns the sources' stamp."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("engine sources not found next to perfbench/ (run from a full checkout)")
    stamp = source_stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return stamp
    log("building harness + engine with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "Compile/products"], cwd=HERE,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return stamp


def history_dir(stamp, copies):
    """daily_incremental's day 1-29 lakehouse at `copies`, built by this
    engine version from this generator's fixed history; other versions'
    are removed."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f"{stamp}:".encode() + f.read()).hexdigest()[:16]
    cache = os.path.join(WORK, "cache")
    os.makedirs(cache, exist_ok=True)
    for d in os.listdir(cache):
        if not d.startswith(key + "-"):
            shutil.rmtree(os.path.join(cache, d), ignore_errors=True)
    return os.path.join(cache, f"{key}-{copies}")


def ensure_history(stamp, copies):
    """Build daily_incremental's day 1-29 lakehouse at `copies` if it is
    missing. It is called for the default scale on every run, so the first
    run after a build pays for it, whatever its workload, and no later run
    does."""
    history = history_dir(stamp, copies)
    if os.path.exists(history):
        return
    log("building the day 1-29 lakehouse")
    work = os.path.join(WORK, "history-build")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload",
                        "daily_incremental", "--seed", "0", "--out", work,
                        "--copies", str(copies)],
                       stdout=subprocess.DEVNULL, check=True)
        jvm("history", "daily_incremental", work, history)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def jvm(mode, workload, work, history, extra=()):
    """Run one harness JVM; returns (its JSON result, its launch time)."""
    result = os.path.join(work, f"{mode}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else "java"
    # the heap is fixed at the task's reservation (-Xms = -Xmx) and the
    # throughput collector runs it: a batch job's settings, and the peak
    # RSS then varies far less from run to run than under G1's resizing
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "graftbench.Main", mode, f"workload={workload}", f"work={work}",
            f"cores={CORES}", f"history={history}", f"result={result}", *extra]
    logf = os.path.join(work, f"{mode}.log")
    t0 = time.time()
    with open(logf, "w") as lf:
        p = subprocess.run(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
    if p.returncode != 0:
        with open(logf) as lf:
            sys.stderr.write(lf.read()[-6000:])
        raise RuntimeError(f"{mode} JVM exited with {p.returncode}")
    with open(result) as f:
        return json.load(f), t0


def reference_failures(workload, work, oracles):
    """Compare the run's outputs with the DuckDB references (golden.py)."""
    import duckdb
    sys.path.insert(0, HERE)
    import golden
    con = duckdb.connect()
    con.execute(f"SET threads TO {CORES}")
    inp = os.path.join(work, "input")
    out = os.path.join(work, "out")
    if workload == "corpus_dedup":
        want = golden.corpus_oracles(con, inp, oracles)
        pairs = {"pipeline_corpus_clean": "clean", "dedup_suffix_spans": "spans"}
        diffs = {n: golden.compare(golden.read_parquet_dir(con, os.path.join(out, d)), want[n])
                 for n, d in pairs.items()}
    else:
        want = golden.features_golden(con, inp, oracles["feature_assembly"])
        have = golden.read_parquet_dir(con, os.path.join(out, "features"))
        diffs = {"features golden": golden.compare(have, want, golden.FEATURE_RTOL,
                                                   golden.FEATURE_ATOL)}
    for n, (_, tolerated, worst) in diffs.items():
        if tolerated:
            log(f"{n}: {tolerated} float cells differ within the tie-hazard tolerance "
                f"(largest difference {worst:.3g})")
    return [f"{n} != DuckDB reference: {d}" for n, (d, _, _) in diffs.items() if d]


def terminate(signum, _frame):
    # unwind, so the child process is killed and the scratch space removed
    raise SystemExit(f"terminated by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, terminate)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--copies", type=float, default=0, help="override the input scale")
    ap.add_argument("--perturb", choices=("feature", "document", "golden", "pairs", "clean"),
                    help="self-test: damage one output after each run")
    a = ap.parse_args()
    start = time.time()
    copies = a.copies or WORKLOADS[a.workload]
    stamp = build()
    ensure_history(stamp, WORKLOADS["daily_incremental"])
    if a.workload == "daily_incremental":
        ensure_history(stamp, copies)  # a rescaled run (--copies) needs its own
    history = history_dir(stamp, copies) if a.workload == "daily_incremental" else "-"
    built = time.time()

    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        g = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                            "--workload", a.workload, "--seed", str(a.seed), "--out", work,
                            "--copies", str(copies)],
                           stdout=subprocess.PIPE, text=True, check=True)
        log(f"inputs {g.stdout.strip()}")
        phases = {"gen": time.time() - built}
        deadline_ms = int((built + BUDGET_S) * 1000)
        res, t0 = jvm("run", a.workload, work, history,
                      [f"seconds={a.seconds}", f"warm_ups={WARM_UPS[a.workload]}",
                       f"trace={a.trace}", f"deadline_ms={deadline_ms}"]
                      + ([f"perturb={a.perturb}"] if a.perturb else []))
        setups = [res["ready_ms"] / 1e3 - t0]
        phases["run"] = time.time() - t0
        if not a.trace:
            t0 = time.time()
            for _ in range(SETUP_SAMPLES - 1):
                more, t1 = jvm("setup", a.workload, work, history)
                setups.append(more["ready_ms"] / 1e3 - t1)
            phases["setup"] = time.time() - t0
        setup_s = statistics.median(setups)
        t0 = time.time()
        if not res["run_s"]:
            sys.stderr.write("\n".join(res["failures"][:5]) + "\n")
            sys.exit("no run completed")
        failures = list(res["failures"])
        failed = res["failed"]
        if not failures:
            # the outputs every run reproduced must also equal the reference
            bad = reference_failures(a.workload, work, res["oracles"])
            if bad:
                failures += bad
                failed = res["attempted"]
        phases["reference"] = time.time() - t0
        for f in failures:
            log(f"CHECK FAILED {f}")
        if a.trace:
            layers = res["layers"]
            metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
            trace_dir = os.path.join(WORK, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{a.workload}-{a.seed}.json"), "w") as f:
                json.dump({"spans": res["spans"], "layers": layers}, f, indent=1)
        else:
            values = {"run_s": statistics.median(res["run_s"]),
                      "setup_s": setup_s,
                      "cpu_s": statistics.median(res["cpu_s"]),
                      "peak_rss_mb": statistics.median(res["peak_rss_mb"])}
            metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
        log(f"{res['attempted']} runs, setup {[round(x, 2) for x in setups]} s, prep {res['prep_s']:.2f} s, "
            f"cold run {res['cold_s']:.2f} s, run_s {res['run_s']}, cpu_s {res['cpu_s']}, "
            f"peak_rss_mb {res['peak_rss_mb']}, gc {res['gc_s']:.2f} s, phases "
            + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items())
            + f", {time.time() - start:.1f} s total")
        print(json.dumps({"correct": not failures, "attempted": res["attempted"],
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
