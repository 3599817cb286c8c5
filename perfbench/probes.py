"""Per-layer probes for the traced run.

- Kernel probes: single-process timings of ``functions.audio.decode`` per
  codec, ``ref_signal`` + ``snr_db``, and
  ``audio_dedup.frame_subfingerprint_halves`` over a fixed, seed-chosen
  sample of the workload's payloads (µs per clip, plus the clip count).
- Isolated layer calls: ``engine``/``compile`` plan and scan passes and the
  ``operators`` rules, each to a noop sink under its own job group. They do
  not add up to a run: ``run_validation`` fuses them into one scan.
- UDF self time from Spark's built-in ``spark.sql.pyspark.udf.profiler``.
"""

from __future__ import annotations

import glob
import os
import pstats
import re
import statistics
import time

import numpy as np
import pyarrow.dataset as pads

PER_CODEC = 12  # sample clips per codec
PASSES = 3

_NUM = re.compile(r"(\d+)$")


def payload_sample(path: str, seed: int) -> list[tuple]:
    """Seed-chosen (clip_id, bytes, codec, sr_hz) rows, ``PER_CODEC`` of each
    codec, taken from payloads that decode (anomaly rows excluded)."""
    from anzlic_validator_spark.functions.audio import decode

    t = pads.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["clip_id", "bytes", "codec", "sr_hz"]
    )
    rows = sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)), key=lambda r: r[0])
    rng = np.random.default_rng(seed)
    out = []
    for codec in ("pcm_s16le", "wav", "flac"):
        ok = [r for r in rows if r[2] == codec and decode(r[1], r[2])[2] is None]
        for k in rng.permutation(len(ok))[:PER_CODEC]:
            out.append(ok[int(k)])
    return out


def _per_clip_us(fn, items) -> float:
    """Median over passes of the mean µs per item."""
    if not items:
        return 0.0
    passes = []
    for _ in range(PASSES):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        passes.append((time.perf_counter() - t0) / len(items) * 1e6)
    return statistics.median(passes)


def kernel_probes(sample: list[tuple], seed: int, with_snr: bool) -> dict:
    from anzlic_validator_spark.functions.audio import decode, ref_signal, snr_db
    from anzlic_validator_spark.operators.audio_dedup import frame_subfingerprint_halves

    m = {"functions.audio.sample_clips": len(sample)}
    for codec in ("pcm_s16le", "wav", "flac"):
        rows = [r for r in sample if r[2] == codec]
        m[f"functions.audio.decode_us.{codec}"] = _per_clip_us(lambda r: decode(r[1], r[2]), rows)
    decoded = []
    for cid, b, codec, sr in sample:
        pcm, sr_emb, _ = decode(b, codec)
        decoded.append((cid, pcm, int(sr_emb or sr)))
    if with_snr:
        m["functions.audio.snr_us"] = _per_clip_us(
            lambda d: snr_db(ref_signal(int(_NUM.search(d[0]).group(1)), d[2], d[1].size, seed), d[1]),
            decoded,
        )
    else:
        m["functions.audio.snr_us"] = 0.0
    m["dedup.fingerprint_us"] = _per_clip_us(lambda d: frame_subfingerprint_halves(d[1], d[2]), decoded)
    return m


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def isolated_layers(tracer, wl) -> dict:
    """engine/compile and operators calls over the workload's input, each
    timed to a noop sink in its own span (and job group)."""
    from anzlic_validator_spark.engine import single_scan_violations, validate
    from anzlic_validator_spark.operators.drift import drift_violations
    from anzlic_validator_spark.operators.referential import referential_violations_grouped
    from anzlic_validator_spark.operators.uniqueness import unique_violations
    from anzlic_validator_spark.rules import RuleCatalog, load_catalog
    from anzlic_validator_spark.run import bucket_col

    from workloads import N_BUCKETS

    catalog = load_catalog(wl.catalog_path)
    local = RuleCatalog(
        rules=tuple(r for r in catalog.rules if r.type != "drift"), version=catalog.version
    )
    df = wl.df.withColumn("bucket", bucket_col("clip_id", N_BUCKETS))
    key, refs = "clip_id", wl.refs
    m = {}

    def timed(name, fn, group=True):
        with tracer.span(name, job_group=group) as sp:
            out = fn()
        m[name] = sp["end"] - sp["start"]
        return out

    def plan():
        res = validate(df, local, key_col=key, refs=refs)
        res.violations_ranked._jdf.queryExecution().executedPlan()
        res.verdicts._jdf.queryExecution().executedPlan()
        return res

    res = timed("engine.plan_s", plan, group=False)
    timed("engine.scan_pass_s", lambda: _noop(single_scan_violations(df, local, key, refs)))
    res.violations_ranked = res.violations_ranked.persist()
    try:
        m["engine.violation_rows"] = res.violations_ranked.count()
        timed("engine.verdicts_s", lambda: _noop(res.verdicts))
    finally:
        res.violations_ranked.unpersist()
    by_type = {}
    for r in catalog.dataset_rules:
        by_type.setdefault(r.type, []).append(r)
    timed("operators.uniqueness.s", lambda: _noop(unique_violations(df, by_type["unique"][0], key)))
    ref_rules = by_type.get("referential", []) + by_type.get("referential_mapped", [])
    timed(
        "operators.referential.s",
        lambda: _noop(referential_violations_grouped(df, ref_rules, key, refs)),
    )
    timed("operators.drift.s", lambda: _noop(drift_violations(wl.df, by_type["drift"][0], key)))
    return m


def udf_self_seconds(spark, fn, dump_dir: str) -> float:
    """Run ``fn`` with the built-in Python UDF perf profiler on; return the
    summed self time of every profiled UDF (all workers)."""
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        fn()
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    spark.profile.dump(dump_dir, type="perf")
    spark.profile.clear(type="perf")
    total = 0.0
    for p in glob.glob(os.path.join(dump_dir, "*.pstats")):
        total += pstats.Stats(p).total_tt
    return total
