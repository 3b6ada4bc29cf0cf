#!/usr/bin/env python3
"""graft benchmark: `Pipeline.run` over two seeded corpora, one JVM per run.

    python3 perfbench/run.py --workload pipeline_unique --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline) into `.bench_build/`; later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from the seed, starts one JVM that warms up and then times whole
rounds of `Pipeline.run` for `--seconds`, checks every round's outputs with
DuckDB and prints one JSON object as its last line. `--trace 1` attaches a
listener and reports per-stage figures instead of the end-to-end ones.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = {
    # corpus kind, size argument (base docs / distinct files), minimum rounds
    "pipeline_unique": ("unique", 18000, 3),
    "pipeline_forks": ("forks", 2600, 3),
}
SPARK_JARS = "/opt/spark/jars"
BUILD_TIMEOUT_S = 840
RUN_DEADLINE_S = 170  # a run must end within 180 s once built
STAGES = ["snapshot", "uniq", "signatures", "candidates", "near_pairs",
          "substring_pairs", "clusters"]
STAGE_FIGURES = [("wall_s", "s"), ("task_s", "s"), ("shuffle_write_mb", "MB"),
                 ("spill_mb", "MB"), ("skew", "ratio"), ("jobs", "count"),
                 ("rows_out", "rows")]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest(root):
    h = hashlib.sha256()
    for top in ("src/main/scala", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile the program and the harness unless this source tree is built."""
    classes = os.path.join(build_dir, "target", "scala-2.13", "classes")
    stamp = os.path.join(build_dir, "BUILT")
    digest = source_digest(root)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    # a clean compile every time: incremental state copied along with a
    # checkout would point at another tree's class files
    shutil.rmtree(os.path.join(build_dir, "target"), ignore_errors=True)
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "-batch", *opts, "compile"], cwd=os.path.join(root, "perfbench"),
                           env=env, stdout=out, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail(f"build failed (exit {r.returncode}); see {log}", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def run_jvm(classes, args, tmp_dir, log_path, timeout):
    # the program's defaults are what gets measured, and Spark keeps its
    # temporary files inside the checkout
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    # a fixed heap, so peak RSS moves with off-heap and native memory rather
    # than with how far the collector happened to grow the heap
    os.makedirs(tmp_dir, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp_dir}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{SPARK_JARS}/*", "graftbench.PerfRun", *map(str, args)]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def metric(value, unit):
    return {"value": value, "unit": unit}


def main():
    # SIGTERM unwinds like an exception, so the JVM is stopped and the work
    # dir removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/Pipeline.scala")):
        fail("run from the root of a graft checkout (src/main/scala/graft/Pipeline.scala not found)")
    build_dir = os.path.join(root, ".bench_build")
    classes = build(root, build_dir)
    t_start = time.time()

    kind, size, min_rounds = WORKLOADS[a.workload]
    work = os.path.join(build_dir, "work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        corpus_dir, n_rows, pairs = gen.make(kind, a.seed, size, os.path.join(work, "input"))
        # warm-up corpus: same shape at a tenth of the size, from another
        # seed, so nothing the warm-up leaves behind can serve the timed rounds
        warm_dir, _, _ = gen.make(kind, a.seed + 7919, size // 10,
                                  os.path.join(work, "warm"), 4)
        result_path = os.path.join(work, "result.json")
        trace_dir = os.path.join(build_dir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        spans_path = os.path.join(trace_dir, f"{a.workload}-s{a.seed}-t{a.trace}.json")
        log_path = os.path.join(work, "jvm.log")
        gen_s = time.time() - t_start
        rc = run_jvm(classes, [corpus_dir, warm_dir, os.path.join(work, "spark"), a.seconds,
                               min_rounds, a.trace, result_path, spans_path],
                     os.path.join(work, "tmp"), log_path, RUN_DEADLINE_S - gen_s)
        if rc != 0:
            with open(log_path, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail("JVM timed out" if rc is None else f"JVM exited with {rc}", 4)
        with open(result_path) as fh:
            res = json.load(fh)

        t_check = time.time()
        checker = check.Checker(corpus_dir, os.path.join(work, "input", "families.parquet"),
                                pairs, os.path.join(work, "duckdb_tmp"))
        failures = set()
        rounds = res["rounds"]
        for r in rounds:
            if r["ok"]:
                failures.update(checker.check_round(r["run_dir"]))
        good = [r for r in rounds if r["ok"]]
        if res["input_rows"] != n_rows:
            failures.add("input.row_count")
        if not good:
            failures.add("no_round_succeeded")
        for name in sorted(failures):
            print(f"perfbench: CHECK FAILED {name}", file=sys.stderr)

        med = lambda xs: statistics.median(xs) if xs else 0.0
        mean = lambda xs: statistics.fmean(xs) if xs else 0.0
        walls = [r["wall_s"] for r in good]
        print(f"perfbench: {a.workload} seed={a.seed} trace={a.trace} rows={n_rows} "
              f"rounds={len(rounds)} walls={[round(w, 3) for w in walls]} "
              f"setup_s={res['setup_s']:.2f} gen_s={gen_s:.1f} "
              f"check_s={time.time() - t_check:.1f} "
              f"recall_pairs={checker.n_recall_pairs}", file=sys.stderr)
        if a.trace:
            metrics = {}
            for s in STAGES:
                for fig, unit in STAGE_FIGURES:
                    k = f"stage.{s}.{fig}"
                    metrics[k] = metric(med([r["stages"][k] for r in good]), unit)
            for k, unit in (("near.verify_yield", "ratio"), ("near.dropped_bucket_rows", "rows"),
                            ("substring.dropped_gram_rows", "rows")):
                metrics[k] = metric(med([r["stages"][k] for r in good]), unit)
        else:
            # per round over the whole measured window: every round's noise
            # counts, which the median of three would throw away
            metrics = {
                "wall_s": metric(mean(walls), "s"),
                "files_per_s": metric(n_rows * len(walls) / sum(walls) if walls else 0.0, "files/s"),
                "setup_s": metric(res["setup_s"], "s"),
                "cpu_s": metric(mean([r["cpu_s"] for r in good]), "s"),
                "peak_rss_mb": metric(res["peak_rss_mb"], "MB"),
                "checkpoint_mb": metric(mean([r["checkpoint_bytes"] for r in good]) / 2 ** 20, "MB"),
            }
        print(json.dumps({"correct": not failures, "attempted": int(res["attempted"]),
                          "failed": int(res["failed"]), "metrics": metrics}))
        return 1 if failures else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
