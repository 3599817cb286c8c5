"""Product-path benchmark for anzlic_validator_spark.

    python3 perfbench/run.py --workload audio_full --seed 1 --seconds 12 --trace 0

Runs from the root of a source checkout on local[nproc]: generates the
workload's inputs from ``--seed``, runs one untimed warm-up rep (the first
rep in the process), then timed reps for ``--seconds`` seconds, checking the
output of every rep. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
the host block and the per-rep detail. A run makes at least
``MIN_TIMED_REPS`` timed reps, so ``run_s`` is always a median of several.

``--trace 0`` reports the end-to-end metrics (``END_TO_END``); ``--trace 1``
alternates untraced and traced reps (at least ``MIN_TRACE_PAIRS`` pairs),
then runs the per-layer probes, and reports the per-layer metrics
(``PER_LAYER``). Spans are kept in memory and
written once, at the end, under ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
    "pass_frac": "ratio",
}

# first_run_s is one cold sample per process: over 10-run sets its spread
# was 0.16-0.29, too wide for an end-to-end bound; setup_s includes it
PER_LAYER = {
    "session.start_s": "s",
    "synth.inputs_s": "s",
    "first_run_s": "s",
    "run.jobs": "count",
    "run.stages": "count",
    "run.tasks": "count",
    "run.failed_tasks": "count",
    "run.violations_write_s": "s",
    "run.verdicts_write_s": "s",
    "run.global_rules_s": "s",
    "run.metrics_s": "s",
    "run.self_s": "s",
    "run.output_files": "count",
    "run.output_bytes": "bytes",
    "manifest.snapshot_s": "s",
    "manifest.io_s": "s",
    "manifest.pending_buckets": "count",
    "resume.run_s": "s",
    "engine.plan_s": "s",
    "engine.scan_pass_s": "s",
    "engine.verdicts_s": "s",
    "engine.violation_rows": "count",
    "operators.uniqueness.s": "s",
    "operators.referential.s": "s",
    "operators.drift.s": "s",
    "functions.audio.sample_clips": "count",
    "functions.audio.decode_us.pcm_s16le": "us",
    "functions.audio.decode_us.wav": "us",
    "functions.audio.decode_us.flac": "us",
    "functions.audio.snr_us": "us",
    "functions.audio.udf_self_s": "s",
    "functions.audio.udf_share": "ratio",
    "dedup.fingerprint_us": "us",
    "dedup.batch_first_s": "s",
    "dedup.batch_last_s": "s",
    "dedup.jobs_per_batch": "count",
    "dedup.store_dirs": "count",
    "dedup.pairs": "count",
    "dedup.planted_recall": "ratio",
    "dedup.udf_self_s": "s",
    "trace.run_s_untraced": "s",
    "trace.run_s_traced": "s",
    "trace.overhead_s": "s",
}

JVM_HEAP = "2g"
# reps are several seconds long, so --seconds alone would leave one or two;
# the warm-up trend over the first reps then decides the median
MIN_TIMED_REPS = 3
MIN_TRACE_PAIRS = 3
RESUME_PENDING = 8  # buckets of 64 made pending in the traced resume reps
RESUME_REPS = 2


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    return ap.parse_args(argv)


def build_session(cpus: int, work: str):
    """The session of the repo's headline harness (``bench.build_session``:
    the spark-submit job's settings plus one shuffle partition per core) on
    local[cpus], with every scratch path kept inside ``work``."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    # before JVM launch: the JVM and its Python workers inherit these
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(128 * 1024 * 1024))
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", JVM_HEAP)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # initial heap = max heap: a heap that grows during the first reps
        # makes them slower than later ones (measured: 9.9 s → 6.6 s over six
        # reps with the default initial heap, flat at 7.4-8.4 s with -Xms)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{JVM_HEAP} -Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Reps:
    """Runs reps of one workload and keeps the attempted / failed count: a
    rep fails if it raises or its output check reports an error. A checked
    rep's output is discarded unless ``keep``."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.log: list[dict] = []

    def run(self, kind: str, fn, check=None, keep: bool = False):
        self.attempted += 1
        result = wall = None
        try:
            result, wall = fn()
            errs = (check or self.wl.check)(result)
        except Exception as exc:  # a rep that raises is a failed rep; keep measuring
            traceback.print_exc()
            errs = [f"raised {type(exc).__name__}: {exc}"]
        if result is not None and not keep:
            self.wl.discard(result)
        if errs:
            self.failed += 1
        self.log.append({"kind": kind, "wall_s": wall, "errors": errs})
        return (result, wall) if not errs else (None, None)


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def _span_s(spans, name) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def audio_rep_layers(spans: list[dict], out: str) -> dict:
    """Per-layer numbers of one traced ``run_validation`` rep."""
    from spans import self_time

    top = next(s for s in spans if s["name"] == "run_validation")
    m = {k: sum(s.get(k.split(".")[1], 0) for s in spans) for k in
         ("run.jobs", "run.stages", "run.tasks", "run.failed_tasks")}
    m["run.violations_write_s"] = _span_s(spans, "action.write.violations")
    m["run.verdicts_write_s"] = _span_s(spans, "action.write.verdicts")
    m["run.global_rules_s"] = _span_s(spans, "action.write.global_violations") + _span_s(
        spans, "action.count"
    )
    m["run.metrics_s"] = _span_s(spans, "action.collect")
    m["run.self_s"] = self_time(top, spans)
    m["manifest.snapshot_s"] = _span_s(spans, "manifest.snapshot")
    m["manifest.io_s"] = sum(
        _span_s(spans, n) for n in ("manifest.load", "manifest.pending", "manifest.record")
    )
    files = nbytes = 0
    for part in ("violations", "verdicts"):
        for root, _dirs, names in os.walk(os.path.join(out, part)):
            for f in names:
                if f.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(root, f))
    m["run.output_files"] = files
    m["run.output_bytes"] = nbytes
    return m


def end_to_end(wl, reps: Reps, seconds: float) -> tuple[dict, dict]:
    import host

    walls, rows = [], 0
    deadline = time.perf_counter() + seconds
    for n in itertools.count(1):
        res, wall = reps.run("timed", wl.rep)
        if res is not None:
            walls.append(wall)
            rows = wl.rows(res)
        if n >= MIN_TIMED_REPS and time.perf_counter() >= deadline:
            break
    run_s = median(walls)
    metrics = {
        "run_s": run_s,
        "rows_per_s": rows / run_s if run_s else 0.0,
        "peak_rss_mb": host.peak_rss_mb(),
        "pass_frac": (reps.attempted - reps.failed) / reps.attempted,
    }
    return metrics, {"timed_walls_s": walls}


def per_layer(wl, reps: Reps, seconds: float, tracer, seed: int, work: str) -> tuple[dict, dict]:
    """Untraced and traced reps in turn for ``seconds`` (at least
    ``MIN_TRACE_PAIRS`` pairs), then the probes. The tracing overhead is the
    median over pairs of traced minus untraced wall time."""
    from spans import patched_run_layers

    is_audio = wl.name == "audio_full"

    def traced_rep():
        if not is_audio:
            return wl.rep(tracer)
        mark = len(tracer.spans)
        with patched_run_layers(tracer):
            with tracer.span("run_validation", job_group=True):
                summary, wall = wl.rep()
        summary["layers"] = audio_rep_layers(tracer.since(mark), summary["output"])
        return summary, wall

    plain, traced, results = [], [], []
    deadline = time.perf_counter() + seconds
    for n in itertools.count(1):
        # swap the order every pair, so the warm-up trend over the first
        # reps does not favour either side
        if n % 2:
            plain.append(reps.run("untraced", wl.rep)[1])
        res, wall = reps.run("traced", traced_rep)
        traced.append(wall)
        if res is not None:
            results.append(res)
        if not n % 2:
            plain.append(reps.run("untraced", wl.rep)[1])
        if n >= MIN_TRACE_PAIRS and time.perf_counter() >= deadline:
            break
    m = {k: 0.0 for k in PER_LAYER}
    m["trace.run_s_untraced"] = median(plain)
    m["trace.run_s_traced"] = median(traced)
    m["trace.overhead_s"] = median(
        [t - p for p, t in zip(plain, traced) if p is not None and t is not None]
    )
    layers = audio_layers if is_audio else neardup_layers
    m.update(layers(wl, reps, tracer, results, seed, os.path.join(work, "udf-profile")))
    return m, {"untraced_walls_s": plain, "traced_walls_s": traced}


def audio_layers(wl, reps, tracer, results, seed, profile_dir) -> dict:
    import numpy as np

    import probes
    from workloads import output_digest

    m = {}
    for k in results[0]["layers"] if results else ():
        m[k] = median([r["layers"][k] for r in results])
    # staged partial resume over the completed output of a fresh full run
    wl.stage_resume_input()
    full, _ = reps.run("resume-base", lambda: wl.rep(bucketed=True), keep=True)
    if full is not None:
        ref = output_digest(full["output"])
        rng = np.random.default_rng(seed)
        walls = []
        for _ in range(RESUME_REPS):
            res, wall = reps.run(
                "resume",
                lambda: wl.resume_rep(full["output"], rng, RESUME_PENDING, ref),
                check=lambda s: s["errors"],
                keep=True,
            )
            walls.append(wall)
            if res is not None:
                m["manifest.pending_buckets"] = len(res["pending_buckets"])
        m["resume.run_s"] = median(walls)
        wl.discard(full)
    m.update(probes.isolated_layers(tracer, wl))
    m.update(probes.kernel_probes(probes.payload_sample(wl.clips_path, seed), seed, with_snr=True))
    wall = []
    m["functions.audio.udf_self_s"] = probes.udf_self_seconds(
        wl.spark, lambda: wall.append(reps.run("udf-profile", wl.rep)[1]), profile_dir
    )
    # the UDF's share of the profiled rep's core-seconds (self time is
    # summed over the workers, which run on every core at once)
    if wall[0]:
        cores = wl.spark.sparkContext.defaultParallelism
        m["functions.audio.udf_share"] = m["functions.audio.udf_self_s"] / (cores * wall[0])
    return m


def neardup_layers(wl, reps, tracer, results, seed, profile_dir) -> dict:
    import probes

    m = {
        "dedup.batch_first_s": median([r["batch_s"][0] for r in results]),
        "dedup.batch_last_s": median([r["batch_s"][-1] for r in results]),
        "dedup.jobs_per_batch": median(
            [statistics.mean(sp["jobs"] for sp in r["batch_spans"]) for r in results]
        ),
        "dedup.store_dirs": median([r["store_dirs"] for r in results]),
        "dedup.pairs": median([len(r["pairs"]) for r in results]),
        "dedup.planted_recall": min((wl.recall(r) for r in results), default=0.0),
    }
    sample = probes.payload_sample(os.path.dirname(wl.batch_paths[0]), seed)
    m.update(probes.kernel_probes(sample, seed, with_snr=False))
    m["dedup.udf_self_s"] = probes.udf_self_seconds(
        wl.spark, lambda: reps.run("udf-profile", wl.rep), profile_dir
    )
    return m


def run_workload(args, spark, work, tracer):
    """→ (metrics, Reps, detail)."""
    from workloads import SIZES, WORKLOADS

    wl = WORKLOADS[args.workload](spark, work, args.seed, SIZES[args.workload][args.size])
    reps = Reps(wl)
    t0 = time.perf_counter()
    wl.setup()
    inputs_s = time.perf_counter() - t0
    first_s = reps.run("first", wl.rep)[1] or 0.0
    if args.trace:
        metrics, detail = per_layer(wl, reps, args.seconds, tracer, args.seed, work)
        metrics.update({"synth.inputs_s": inputs_s, "first_run_s": first_s})
    else:
        metrics, detail = end_to_end(wl, reps, args.seconds)
    detail.update(inputs_s=inputs_s, first_run_s=first_s)
    return metrics, reps, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # the program under test: outside a source checkout this import fails,
    # and the benchmark exits non-zero before printing any result
    import anzlic_validator_spark  # noqa: F401

    import host
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    cpus = len(os.sched_getaffinity(0))
    run_id = uuid.uuid4().hex[:12]
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{run_id}")
    hostb = {"nproc": cpus, "load_before": host.loadavg(), "calibration_before_s": host.calibration_s()}
    jiffies = host.cpu_jiffies()

    t0 = time.perf_counter()
    spark = build_session(cpus, work)
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark, run_id)
    try:
        metrics, reps, detail = run_workload(args, spark, work, tracer)
    finally:
        host.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    hostb.update(
        load_after=host.loadavg(),
        calibration_after_s=host.calibration_s(),
        steal_share=host.steal_share(jiffies, host.cpu_jiffies()),
    )

    if args.trace:
        metrics["session.start_s"] = session_s
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        tracer.dump(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}-{run_id}.json"))
        units = PER_LAYER
    else:
        metrics["setup_s"] = session_s + detail["inputs_s"] + detail["first_run_s"]
        units = END_TO_END
    detail.update(host=hostb, session_s=session_s, reps=reps.log, run_id=run_id)
    print(json.dumps({"detail": detail}, default=str))
    print(
        json.dumps(
            {
                "correct": reps.failed == 0,
                "attempted": reps.attempted,
                "failed": reps.failed,
                "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
