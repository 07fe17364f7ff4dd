"""Benchmark of the shipped extraction job and the dedup/ANN queries.

    python3 jobbench/run.py --workload crawl_mix --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  One run generates the workload's
inputs from ``--seed``, starts the shipped session
(``ragflow_spark.session.get_spark`` at ``local[nproc]``), warms up,
repeats the workload until ``--seconds`` of repetitions have been timed,
checks every repetition's outputs outside the timed window, and prints
one JSON object as the last line of stdout.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` alternates traced and untraced
repetitions and reports every per-layer metric, with a ``layers`` block
before the JSON line: its own workload's layers from those repetitions,
and the other workload's layers from a short probe of that workload
(``probe``).  Exits nonzero on any wrong output.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "BENCHMARK.json")
WORK = os.path.join(ROOT, ".jobbench_work")
# at least three repetitions, so every run's median sits at the same
# place on the warm-up trend; a traced run takes four, two traced and
# two untraced
MIN_REPS = 3
MIN_TRACED_REPS = 4
MAX_REPS = 40
END_TO_END = (
    "docs_per_s", "setup_s", "ok_share", "truth_rate", "worker_peak_rss_mb", "out_bytes_per_doc"
)
# per-layer metrics every traced run reports besides its workloads' own
RUN_LAYER_METRICS = ("mem.jvm_peak_rss_mb", "mem.workers_peak_rss_mb")
# the workload whose layers a traced run probes after its own repetitions
OTHER = {"crawl_mix": "near_dup", "near_dup": "crawl_mix"}


def metric_spec() -> dict:
    with open(BENCH) as f:
        return json.load(f)


def _environment(work: str) -> int:
    """Point Spark and its Python workers at this checkout and keep
    every scratch file inside ``work``; returns the task slots."""
    slots = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return slots


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit: the
    gateway process ends when its stdin closes."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    """One benchmark run; returns the result object."""
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    slots = _environment(work)
    try:
        return _run(workload, seed, seconds, traced, work, slots)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _kind(workload: str):
    from jobbench.extraction import ExtractionWorkload
    from jobbench.neardup import NearDupWorkload

    return NearDupWorkload if workload == "near_dup" else ExtractionWorkload


def probe(spark, workload: str, seed: int, work: str, tracer, slots: int):
    """Per-layer metrics of ``workload`` from a short traced pass over
    its own seeded inputs: warm-up, then one traced and one untraced
    repetition, checked like timed ones.  A traced run probes the other
    workload this way, so it reports the layers of both.  Returns
    (metrics, layers block, problems)."""
    from jobbench import inputs

    kind = _kind(workload)
    work = os.path.join(work, "probe")
    data = inputs.generate(workload, seed)
    kind.prepare(data, work)
    wl = kind(spark, data, work, tracer)
    wl.warm_up()
    # indices past the run's own keep the repetitions' Spark job groups apart
    reps = [wl.rep(MAX_REPS + i, i == 0) for i in range(2)]
    layer, block = wl.per_layer(reps, slots)
    problems = [f"{workload} probe rep {r.index}: {p}" for r in reps for p in r.problems]
    return layer, [f"{workload} probe, {block[0]}", *block[1:]], problems


def _run(workload, seed, seconds, traced, work, slots) -> dict:
    from jobbench import inputs, trace

    kind = _kind(workload)
    t0 = time.perf_counter()
    data = inputs.generate(workload, seed)
    kind.prepare(data, work)
    gen_s = time.perf_counter() - t0

    from ragflow_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("jobbench")
    try:
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = trace.Tracer(f"{workload}-{seed}") if traced else None
        wl = kind(spark, data, work, tracer)
        wl.warm_up()
        setup_s = time.perf_counter() - T_START - gen_s
        reps = []
        timed = 0.0
        jvm_pid = spark.sparkContext._gateway.proc.pid
        mem = []
        min_reps = MIN_TRACED_REPS if traced else MIN_REPS
        while len(reps) < MAX_REPS and (timed < seconds or len(reps) < min_reps):
            with trace.RssSampler(jvm_pid, slots) as m:
                # traced and untraced repetitions in ABBA order, so a
                # warm-up trend does not bias trace.overhead_share
                r = wl.rep(len(reps), traced and len(reps) % 4 in (0, 3))
            mem.append(m)
            reps.append(r)
            timed += r.wall
        problems = [f"rep {r.index}: {p}" for r in reps for p in r.problems]
        attempted = wl.per_rep * len(reps)
        failed = sum(r.failed for r in reps)
        metrics = {
            "setup_s": setup_s,
            "ok_share": 1.0 - failed / attempted,
            "worker_peak_rss_mb": statistics.median(m.busy_workers_peak for m in mem),
            **wl.end_to_end(reps),
        }
        section = "end_to_end"
        print(f"inputs {gen_s:.2f} s, setup {setup_s:.2f} s (session {session_s:.2f} s),"
              " repetitions "
              + " ".join(f"{r.wall:.2f}" for r in reps)
              + f" s, run {time.perf_counter() - T_START:.1f} s; peak rss jvm "
              + f"{statistics.median(m.jvm_peak for m in mem):.0f} workers "
              + f"{statistics.median(m.busy_workers_peak for m in mem):.0f} MB (all "
              + f"{statistics.median(m.workers_peak for m in mem):.0f} MB); " + wl.describe(reps))
        if traced:
            layer, block = wl.per_layer(reps, slots)
            layer["mem.jvm_peak_rss_mb"] = statistics.median(m.jvm_peak for m in mem)
            layer["mem.workers_peak_rss_mb"] = statistics.median(m.workers_peak for m in mem)
            # the metrics both workloads report (spark.*, trace quality)
            # stay those of this run's own repetitions
            other, other_block, other_problems = probe(
                spark, OTHER[workload], seed, work, tracer, slots
            )
            metrics = {**other, **layer}
            problems += other_problems
            section = "per_layer"
            print("\n".join(block + other_block))
            tracer.write(os.path.join(ROOT, ".jobbench_work", f"spans-{workload}-{seed}.jsonl"))
    finally:
        _stop(spark)
    units = {m["name"]: m["unit"] for m in metric_spec()[section]}
    wanted = tuple(units) if section == "per_layer" else END_TO_END
    check_metric_names(metrics, wanted, units)
    for p in problems[:20]:
        print(f"WRONG {p}")
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": float(metrics[name]), "unit": units[name]} for name in wanted},
    }


def check_metric_names(metrics: dict, wanted: tuple, units: dict) -> None:
    """Every metric the run must report is produced and listed in
    BENCHMARK.json, and the run produces no other."""
    missing = [n for n in wanted if n not in metrics]
    if missing:
        raise KeyError(f"run produced no value for {missing}")
    extra = sorted(set(metrics) - set(wanted))
    if extra:
        raise KeyError(f"run produced unlisted metrics {extra}")
    unknown = [n for n in wanted if n not in units]
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {unknown}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("crawl_mix", "near_dup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(res), flush=True)
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
