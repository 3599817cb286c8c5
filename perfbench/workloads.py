"""The benchmark's workloads: inputs from a seed, one timed rep, its check.

``audio_full``: ``run_validation`` (the spark-submit job's core) into a
fresh output dir, all 64 buckets pending, over ``synth.clips`` payloads
(even pcm_s16le/wav/flac mix) and their ``transcript_index``, under
``rules_default.yaml`` plus a ``dur_ms`` drift rule. For the traced run's
partial resume (``resume_rep``), ``stage_resume_input`` writes a copy of the
input bucket-partitioned with the run's own bucket function.

``incremental_neardup``: from an empty store, B batches through
``incremental_audio_neardup(commit=True)``; from the second batch on, a
fixed share of every batch is noisy copies of earlier clips under new keys.
"""

from __future__ import annotations

import collections
import contextlib
import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import census

N_BUCKETS = 64
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# inputs per size; "smoke" is the self-test's size (the smallest synth
# table that holds every anomaly category is one 1,000-row cycle)
SIZES = {
    "audio_full": {"full": {"clips": 1000}, "smoke": {"clips": 1000}},
    "incremental_neardup": {
        "full": {"batches": 2, "per_batch": 200, "copy_share": 0.2},
        "smoke": {"batches": 2, "per_batch": 20, "copy_share": 0.25},
    },
}


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _table(path: str) -> pa.Table:
    return pads.dataset(path, format="parquet", partitioning="hive").to_table()


def output_digest(out: str) -> str:
    """Order-free hash of a run's violations and verdicts outputs."""
    h = hashlib.sha256()
    for part in ("violations", "verdicts"):
        t = _table(f"{out}/{part}")
        cols = sorted(t.column_names)
        rows = sorted(zip(*(t.column(c).to_pylist() for c in cols)), key=repr)
        h.update(repr((part, cols, rows)).encode())
    return h.hexdigest()


class AudioFull:
    name = "audio_full"

    def __init__(self, spark, work: str, seed: int, size: dict):
        self.spark, self.work, self.seed = spark, work, seed
        self.n = int(size["clips"])
        self.clips_path = f"{work}/clips"
        self.bucketed_path = f"{work}/clips_bucketed"
        self.index_path = f"{work}/index"
        self.catalog_path = f"{work}/catalog.yaml"
        self._out_seq = 0
        self._mtime_bump = 0

    def setup(self) -> None:
        from anzlic_validator_spark.synth import clips, transcript_index

        spark = self.spark
        parts = spark.sparkContext.defaultParallelism
        (
            clips(spark, self.n, seed=self.seed, num_partitions=parts)
            .write.option("compression", "none")  # payloads are codec-compressed already
            .parquet(self.clips_path)
        )
        transcript_index(spark, self.n, seed=self.seed, num_partitions=parts).write.parquet(
            self.index_path
        )
        with open(os.path.join(REPO, "configs", "rules_default.yaml"), encoding="utf-8") as fh:
            base = fh.read()
        with open(self.catalog_path, "w", encoding="utf-8") as fh:
            fh.write(census.catalog_text(base, self.seed))
        self.census = census.validation_census(self.n, self.seed)
        self.expected = self.census["record_violations"] + self.census["table_violations"]
        from anzlic_validator_spark.sources.tables import read_clips

        self.df = read_clips(self.spark, self.clips_path, fmt="parquet")
        self.refs = {"transcript_index": self.spark.read.parquet(self.index_path)}

    def stage_resume_input(self) -> None:
        """Copy the input into ``bucket=N`` dirs, so the manifest's
        per-bucket snapshot can mark single buckets pending."""
        from anzlic_validator_spark.run import bucket_col
        from anzlic_validator_spark.sources.tables import read_clips

        (
            self.df.withColumn("bucket", bucket_col("clip_id", N_BUCKETS))
            .repartition(self.spark.sparkContext.defaultParallelism, "bucket")
            .write.partitionBy("bucket")
            .option("compression", "none")
            .parquet(self.bucketed_path)
        )
        self.bucketed_df = read_clips(self.spark, self.bucketed_path, fmt="parquet")

    def new_output(self) -> str:
        self._out_seq += 1
        return _fresh(f"{self.work}/out{self._out_seq}")

    def rep(self, out: str | None = None, bucketed: bool = False) -> tuple[dict, float]:
        """One ``run_validation`` call over the input (or its bucketed copy);
        returns (summary, wall seconds)."""
        from anzlic_validator_spark.run import run_validation

        out = out or self.new_output()
        df, path = (self.bucketed_df, self.bucketed_path) if bucketed else (self.df, self.clips_path)
        t0 = time.perf_counter()
        summary = run_validation(
            self.spark,
            df,
            catalog_path=self.catalog_path,
            output=out,
            key_col="clip_id",
            refs=self.refs,
            n_buckets=N_BUCKETS,
            input_paths=[path],
        )
        wall = time.perf_counter() - t0
        summary["output"] = out
        return summary, wall

    def rows(self, summary: dict) -> int:
        return int(summary.get("rows", 0))

    def check(self, summary: dict) -> list[str]:
        """Per-(key, rule_id) violation rows and the verdict totals against
        the census; the fresh run must have validated every bucket."""
        errs = []
        c = self.census
        if summary.get("pending_buckets") != list(range(N_BUCKETS)):
            errs.append(f"pending buckets {summary.get('pending_buckets')} != all {N_BUCKETS}")
        for k in ("rows", "failed_rows", "violations"):
            if summary.get(k) != c[k]:
                errs.append(f"{k}: got {summary.get(k)}, expected {c[k]}")
        if summary.get("table_violations") != sum(c["table_violations"].values()):
            errs.append(f"table_violations: got {summary.get('table_violations')}")
        t = _table(f"{summary['output']}/violations")
        got = collections.Counter(zip(t.column("key").to_pylist(), t.column("rule_id").to_pylist()))
        if got != self.expected:
            missing, extra = self.expected - got, got - self.expected
            errs.append(
                f"violation rows differ: {sum(missing.values())} missing (e.g. {list(missing)[:3]}), "
                f"{sum(extra.values())} unexpected (e.g. {list(extra)[:3]})"
            )
        return errs

    def pending_for_touch(self, rng: np.random.Generator, k: int) -> list[int]:
        """Bump the mtime of every input file of ``k`` seed-chosen buckets,
        so the manifest's per-bucket snapshot marks exactly those pending."""
        buckets = sorted(int(b) for b in rng.choice(N_BUCKETS, k, replace=False))
        self._mtime_bump += 1
        for b in buckets:
            d = f"{self.bucketed_path}/bucket={b}"
            for f in os.listdir(d):
                p = os.path.join(d, f)
                st = os.stat(p)
                os.utime(p, (st.st_atime, int(st.st_mtime) + self._mtime_bump))
        return buckets

    def resume_rep(self, out: str, rng: np.random.Generator, k: int, reference: str):
        """A partial resume into ``out``, the completed output of a full run
        over the bucketed copy: exactly ``k`` buckets pending, and the
        outputs afterwards must be hash-identical to the full run's
        (``reference`` digest). The check's errors ride in
        ``summary["errors"]``."""
        buckets = self.pending_for_touch(rng, k)
        summary, wall = self.rep(out, bucketed=True)
        errs = summary["errors"] = []
        if summary.get("pending_buckets") != buckets:
            errs.append(f"resume pending {summary.get('pending_buckets')} != touched {buckets}")
        if output_digest(out) != reference:
            errs.append("resumed outputs differ from the fresh full run")
        return summary, wall

    def discard(self, summary: dict) -> None:
        shutil.rmtree(summary["output"], ignore_errors=True)


class IncrementalNeardup:
    name = "incremental_neardup"

    def __init__(self, spark, work: str, seed: int, size: dict):
        self.spark, self.work, self.seed = spark, work, seed
        self.n_batches = int(size["batches"])
        self.per_batch = int(size["per_batch"])
        self.copy_share = float(size["copy_share"])
        self._store_seq = 0

    def setup(self) -> None:
        batches, self.planted = census.neardup_batches(
            self.seed, self.n_batches, self.per_batch, self.copy_share
        )
        self.batch_paths = []
        for b, rows in enumerate(batches):
            path = f"{self.work}/batches/b{b}"
            os.makedirs(path, exist_ok=True)
            keys, payloads, codecs, srs = zip(*rows)
            table = pa.table(
                {
                    "clip_id": pa.array(keys, pa.string()),
                    "bytes": pa.array(payloads, pa.binary()),
                    "codec": pa.array(codecs, pa.string()),
                    "sr_hz": pa.array(srs, pa.int32()),
                }
            )
            pq.write_table(table, f"{path}/part-0.parquet")
            self.batch_paths.append(path)

    def rep(self, tracer=None) -> tuple[dict, float]:
        """All B batches from an empty store; returns (result, wall)."""
        from anzlic_validator_spark.operators.audio_dedup import incremental_audio_neardup
        from anzlic_validator_spark.operators.dedup_state import store_run_dirs

        self._store_seq += 1
        store = _fresh(f"{self.work}/store{self._store_seq}")
        pairs, batch_s, spans = set(), [], []
        t0 = time.perf_counter()
        for b, path in enumerate(self.batch_paths):
            tb = time.perf_counter()
            span = tracer.span(f"dedup.batch{b}", job_group=True) if tracer else contextlib.nullcontext()
            with span as sp:
                rows = incremental_audio_neardup(self.spark.read.parquet(path), store).collect()
            batch_s.append(time.perf_counter() - tb)
            if sp is not None:
                spans.append(sp)
            pairs |= {(r.a_key, r.b_key) for r in rows}
        wall = time.perf_counter() - t0
        result = {
            "pairs": pairs,
            "batch_s": batch_s,
            "batch_spans": spans,
            "store_dirs": len(store_run_dirs(store)),
        }
        shutil.rmtree(store, ignore_errors=True)
        return result, wall

    def rows(self, result: dict) -> int:
        return self.n_batches * self.per_batch

    def discard(self, result: dict) -> None:
        """The rep already removed its store."""

    def recall(self, result: dict) -> float:
        return len(result["pairs"] & self.planted) / len(self.planted)

    def check(self, result: dict) -> list[str]:
        errs = []
        missing, extra = self.planted - result["pairs"], result["pairs"] - self.planted
        if missing:
            errs.append(f"{len(missing)} planted pairs not found, e.g. {sorted(missing)[:3]}")
        if extra:
            errs.append(f"{len(extra)} pairs beyond the planted set, e.g. {sorted(extra)[:3]}")
        if result["store_dirs"] != self.n_batches:
            errs.append(f"store holds {result['store_dirs']} runs, expected {self.n_batches}")
        return errs


WORKLOADS = {w.name: w for w in (AudioFull, IncrementalNeardup)}
