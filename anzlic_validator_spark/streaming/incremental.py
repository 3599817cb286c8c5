"""Incremental validation — Structured Streaming over the same engine.

The reference is batch-only but explicitly incremental (SURVEY §2.8): new
catalog records are validated as they appear, history is kept, completed
work is never redone (cache.py:95-102, resolve.py:150-187). The streaming
re-expression: a file-source stream over the clips table with
``foreachBatch`` running the SAME rule catalog per micro-batch — identical
rule compilation, identical violation rows.

Dataset-rule scope (VERDICT r01 #6): per-record rules evaluate identically
per micro-batch. ``unique`` rules get CROSS-BATCH state: every batch appends
its key set to an epoch-partitioned ``_seen_keys`` log, and duplicates are
detected both within the batch (the batch uniqueness aggregate) and against
all PRIOR epochs (an anti-pattern-free join on the pruned key log).
Table-global rules (``engine.is_table_global``: drift, grouped or scalar
``all_of``) are REJECTED up front — silently rescoping them to a
micro-batch would change their semantics; run them in the batch sweep.

Sink idempotence: violations/verdicts/key-log are partitioned by epoch and
written with dynamic partition overwrite (a per-write option), so a
micro-batch retried after a sink failure rewrites ITS OWN partition instead
of double-appending (at-least-once foreachBatch → effectively exactly-once
output).

``availableNow`` triggers make this a catch-up batch: process everything
new, then stop — the streaming twin of the updater's resumable sweep
(metadata_updater.py:364-465).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anzlic_validator_spark.engine import ValidationResult, is_table_global, validate
from anzlic_validator_spark.errors import InvalidConfigException
from anzlic_validator_spark.rules import Rule, RuleCatalog
from anzlic_validator_spark.schema import CLIPS_SCHEMA

_SEEN_SCHEMA = "rule_id string, k string, first_epoch long, epoch long"

# marker file inside an epoch partition dir: that partition FOLDS the entire
# seen-key history before it (see compaction protocol in validate_stream)
_COMPACTED_MARKER = "_COMPACTED"


def _path_exists(spark: SparkSession, path: str) -> bool:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def _seen_epoch_dirs(spark: SparkSession, seen_path: str) -> dict[int, bool]:
    """{epoch: is_compacted} for the existing seen-key partition dirs."""
    fs, base, jvm = _fs(spark, seen_path)
    if not fs.exists(base):
        return {}
    out: dict[int, bool] = {}
    for st in fs.listStatus(base):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("epoch=")):
            continue
        try:
            e = int(name.split("=", 1)[1])
        except ValueError:
            continue
        out[e] = fs.exists(jvm.org.apache.hadoop.fs.Path(st.getPath(), _COMPACTED_MARKER))
    return out


def _cleanup_folded_epochs(spark: SparkSession, seen_path: str, epoch_id: int) -> None:
    """Deferred delete: partitions older than the NEWEST durable fold below
    the current epoch are redundant (their keys live in the fold). Deleting
    only behind a marker written by a COMPLETED prior batch keeps retries
    safe: a retried epoch still finds every partition its first attempt saw.
    """
    dirs = _seen_epoch_dirs(spark, seen_path)
    folds = [e for e, marked in dirs.items() if marked and e < epoch_id]
    if not folds:
        return
    newest = max(folds)
    fs, base, jvm = _fs(spark, seen_path)
    for e in dirs:
        if e < newest:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{seen_path}/epoch={e}"), True)


def _commit_fold(spark: SparkSession, tmp: str, seen_path: str, epoch_id: int) -> None:
    """Atomically promote a written fold dir to ``epoch={epoch_id}`` and stamp
    its ``_COMPACTED`` marker — marker LAST, and only after verifying the fold
    landed with data files. Hadoop ``rename()`` signals failure by RETURN
    VALUE, not exception, and a bare ``create()`` of the marker makes parent
    dirs — so an unchecked rename could yield an epoch dir containing only
    the marker, licensing ``_cleanup_folded_epochs`` to delete the entire
    real history while the "fold" is empty (ADVICE r03). Raising instead
    fails the micro-batch: streaming retries it, and the retry's own delete
    clears the unmarked partial partition."""
    fs, _, jvm = _fs(spark, seen_path)
    target = jvm.org.apache.hadoop.fs.Path(f"{seen_path}/epoch={epoch_id}")
    fs.delete(target, True)  # retry: drop the attempt's own partial write
    try:
        # some FileSystem impls throw instead of returning False (e.g. local
        # fs on a missing source) — both forms are a failed fold
        renamed = fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), target)
    except Exception as e:
        raise IOError(f"seen-keys fold rename failed: {tmp} -> {target}") from e
    if not renamed:
        raise IOError(f"seen-keys fold rename failed: {tmp} -> {target}")
    has_data = fs.exists(target) and any(
        not st.getPath().getName().startswith("_")
        for st in fs.listStatus(target)
    )
    if not has_data:
        fs.delete(target, True)  # drop the empty husk; the retry re-folds
        raise IOError(
            f"seen-keys fold landed empty at {target}; refusing to stamp the "
            "compaction marker"
        )
    fs.create(jvm.org.apache.hadoop.fs.Path(target, _COMPACTED_MARKER), True).close()


def _unique_key_expr(rule: Rule) -> F.Column:
    """NULL-safe tuple encoding. concat_ws silently SKIPS NULLs, so distinct
    tuples like ('x', NULL) and (NULL, 'x') would both encode to 'x' and read
    as false cross-batch duplicates. Tuples containing any NULL encode to
    NULL instead (callers drop them), matching the in-batch path where the
    uniqueness join never pairs NULL-keyed tuples."""
    cast = [F.col(str(c)).cast("string") for c in rule.get("columns")]
    any_null = cast[0].isNull()
    for c in cast[1:]:
        any_null = any_null | c.isNull()
    return F.when(any_null, F.lit(None)).otherwise(F.concat_ws("\x1f", *cast))


def validate_stream(
    spark: SparkSession,
    input_path: str,
    catalog: RuleCatalog,
    output_path: str,
    checkpoint_path: str,
    key_col: str = "clip_id",
    refs: dict[str, DataFrame] | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    seen_log_max_partitions: int = 16,
):
    """Validate a growing parquet directory incrementally.

    Returns the started StreamingQuery; violations/verdicts land under
    ``{output_path}/`` partitioned by epoch (idempotent per-epoch
    overwrite). Use ``q.awaitTermination()`` (availableNow) or ``q.stop()``.

    Raises InvalidConfigException for table-global rules
    (``engine.is_table_global`` over the clips schema) BEFORE the stream
    starts.

    Seen-key log compaction (VERDICT r02 "missing" #4 — the streaming analog
    of resolve.py:150-187's history merge): every micro-batch used to read
    ALL prior ``_seen_keys`` epochs — O(total history) per batch, unbounded.
    Now, once more than ``seen_log_max_partitions`` prior partitions exist,
    the current epoch's seen-key write FOLDS the whole history (min
    first_epoch per key) into its own partition and stamps it with a
    ``_COMPACTED`` marker; partitions OLDER than a marked fold are deleted
    by a LATER batch (deferred delete — a retried epoch must still find
    every partition its first attempt saw). Per-batch history reads are
    thereby bounded by ~seen_log_max_partitions partitions regardless of
    stream lifetime, and ``first_epoch`` reporting survives compaction.
    """
    bad = [r.rule_id for r in catalog.dataset_rules if is_table_global(r, CLIPS_SCHEMA)]
    if bad:
        raise InvalidConfigException(
            f"rules {bad} are table-global; evaluating them per micro-batch would "
            "silently change their semantics — run them in the batch sweep (run.py), "
            "which routes them to the reserved bucket over the full input"
        )
    unique_rules = [r for r in catalog.rules if r.type == "unique"]
    local_catalog = RuleCatalog(
        rules=tuple(r for r in catalog.rules if r.type != "unique"), version=catalog.version
    )
    seen_path = f"{output_path}/_seen_keys"

    reader = spark.readStream.schema(CLIPS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from anzlic_validator_spark.operators.uniqueness import unique_violations

        s = batch_df.sparkSession
        result = validate(batch_df, local_catalog, key_col=key_col, refs=refs or {})
        ranked_parts = [result.violations_ranked]
        seen_parts = []
        prior = None
        if unique_rules and _path_exists(s, seen_path):
            # epoch < current: a RETRIED epoch never collides with itself.
            # first_epoch coalesces to the partition epoch for rows written
            # before the first_epoch column existed.
            prior = (
                s.read.schema(_SEEN_SCHEMA)
                .parquet(seen_path)
                .where(F.col("epoch") < F.lit(epoch_id))
                .withColumn("first_epoch", F.coalesce("first_epoch", "epoch"))
            )
        for rule in unique_rules:
            # intra-batch duplicates: the same aggregate as batch mode
            ranked_parts.append(unique_violations(batch_df, rule, key_col))
            kexpr = _unique_key_expr(rule)
            bk = batch_df.select(
                F.col(key_col).cast("string").alias("key"), kexpr.alias("k")
            ).where(F.col("k").isNotNull())
            if prior is not None:
                # cross-batch duplicates: batch keys seen in ANY prior epoch.
                # The log is (rule_id, key-tuple, epoch) — pruned scalars only.
                hits = (
                    bk.join(
                        prior.where(F.col("rule_id") == rule.rule_id).select(
                            "k", "first_epoch"
                        ),
                        on="k",
                    )
                    .groupBy("key", "k")
                    # min: a key may appear in several partitions until the
                    # deferred post-fold cleanup runs
                    .agg(F.min("first_epoch").alias("first_epoch"))
                )
                cols = ",".join(str(c) for c in rule.get("columns"))
                ranked_parts.append(
                    hits.select(
                        F.col("key"),
                        F.lit(f"{rule.rule_id}.incorrect").alias("rule_id"),
                        F.concat(F.lit("seen_in_epoch="), F.col("first_epoch").cast("string")).alias(
                            "observed"
                        ),
                        F.lit(f"unique ({cols})").alias("expected"),
                        F.lit(rule.order).cast("int").alias("rule_order"),
                    )
                )
            seen_parts.append(
                bk.select(F.lit(rule.rule_id).alias("rule_id"), F.col("k")).distinct()
            )
        full = ValidationResult(
            df=batch_df,
            key_col=key_col,
            catalog=catalog,
            violations_ranked=reduce(DataFrame.unionByName, ranked_parts).persist(),
        )
        (
            full.violations.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(f"{output_path}/violations")
        )
        (
            full.verdicts.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(f"{output_path}/verdicts")
        )
        full.violations_ranked.unpersist()
        if seen_parts:
            new_keys = (
                reduce(DataFrame.unionByName, seen_parts)
                .select("rule_id", "k")
                .withColumn("first_epoch", F.lit(epoch_id).cast("long"))
            )
            n_prior = len([e for e in _seen_epoch_dirs(s, seen_path) if e < epoch_id])
            fold = prior is not None and n_prior >= seen_log_max_partitions
            if fold:
                # compaction: this epoch's partition absorbs the whole
                # history (min first_epoch per key). Written via a temp dir +
                # rename because Spark refuses to overwrite a path its own
                # plan reads (prior scans seen_path).
                folded = (
                    prior.select("rule_id", "k", "first_epoch")
                    .unionByName(new_keys)
                    .groupBy("rule_id", "k")
                    .agg(F.min("first_epoch").alias("first_epoch"))
                )
                tmp = f"{output_path}/_seen_keys_fold_tmp"
                folded.write.mode("overwrite").parquet(tmp)
                _commit_fold(s, tmp, seen_path, epoch_id)
            else:
                (
                    new_keys.withColumn("epoch", F.lit(epoch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("epoch")
                    .parquet(seen_path)
                )
            # delete partitions a PREVIOUS batch's fold made redundant (never
            # this batch's own fold — retry safety)
            _cleanup_folded_epochs(s, seen_path, epoch_id)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream(
    spark: SparkSession,
    input_path: str,
    schema,
    store_dir: str,
    output_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
    **minhash_params,
):
    """STREAMING near-duplicate detection over a growing parquet corpus —
    the composition of the incremental fingerprint store (VERDICT r04 #2,
    operators/dedup_state.py) with the foreachBatch machinery here: each
    micro-batch fingerprints ONLY its own rows, pairs them against the
    persisted store (new-vs-all-history + new-vs-new), commits its
    signatures, and writes the pairs epoch-partitioned.

    Exactly-once-effective under at-least-once foreachBatch, twice over:
    the store commit is keyed by epoch (``run_id=epoch`` replaces the
    retried attempt's own run and pairs only against strictly-older runs),
    and the pair sink is the same dynamic-partition-overwrite epoch layout
    as validate_stream's sinks. ``minhash_params`` forward to
    ``incremental_minhash_pairs`` (threshold, bands, agreement...). Its
    ``max_bucket_size=10_000`` default CHANGES RESULTS: bands shared by
    more than 10,000 stored docs drop from candidate generation (advisory
    census logged), so pairs supported only by them are not reported.
    Pass ``max_bucket_size=None`` for an exhaustive stream.

    ``compact_every``: with N set, once more than N live run dirs exist
    the batch folds the store UP TO THE PREVIOUS epoch (compact_store
    ``up_to=epoch-1`` — the current epoch stays individually retryable),
    bounding every batch's store scan to ~N dirs + 1 fold regardless of
    stream lifetime — the fingerprint-store analog of the seen-keys log
    compaction above.

    Returns the started StreamingQuery; pairs land at
    ``{output_path}/pairs`` as (a_id, b_id, sig_sim, epoch).
    """
    from anzlic_validator_spark.operators.dedup import report_hot_buckets
    from anzlic_validator_spark.operators.dedup_state import (
        compact_store,
        incremental_minhash_pairs,
        store_run_dirs,
    )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        pairs = incremental_minhash_pairs(
            batch_df, store_dir, text_col, id_col,
            run_id=int(epoch_id), **minhash_params,
        )
        (
            pairs.withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(f"{output_path}/pairs")
        )
        report_hot_buckets()  # this epoch's band-cap census, if any
        # compaction AFTER the pair write consumed the store, and only up
        # to the previous epoch so this one stays retryable
        if compact_every and epoch_id > 0 and len(store_run_dirs(store_dir)) > compact_every:
            compact_store(batch_df.sparkSession, store_dir, up_to=int(epoch_id) - 1)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_unique_stream(
    stream: DataFrame, rule: Rule, key_col: str = "clip_id"
) -> DataFrame:
    """TRUE streaming cross-batch uniqueness: per-tuple-key counts live in
    Structured Streaming's checkpointed state store (RocksDB/HDFS-backed on
    a cluster) via ``applyInPandasWithState`` — the state-store alternative
    to ``validate_stream``'s seen-keys log. The log re-reads up to
    ~seen_log_max_partitions partitions every micro-batch; the state store
    touches only the keys PRESENT in the batch and checkpoints
    incrementally, which is the scale-safe shape for unbounded streams.

    Returns a STREAMING violation DataFrame (append mode): the first
    occurrence of a tuple passes; every later occurrence — same batch or
    any later one — emits (key, rule_id, observed=n_prior=<count>,
    expected, rule_order). Tuples containing NULLs are skipped, matching
    the batch path. Compose with ``.writeStream`` and a checkpoint; a
    restart resumes the counts exactly.

    Reference analog: the fetch-history pickle consulted per record
    (resolve.py:150-187), as per-key state instead of a scanned log.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    rid = f"{rule.rule_id}.incorrect"
    order = int(rule.order)
    cols = ",".join(str(c) for c in rule.get("columns"))
    expected = f"unique ({cols})"
    out_cols = ["key", "rule_id", "observed", "expected", "rule_order"]

    keyed = stream.select(
        F.col(key_col).cast("string").alias("key"), _unique_key_expr(rule).alias("k")
    ).where(F.col("k").isNotNull())

    def track(tuple_key, pdfs, state: GroupState):
        n_prior = state.get[0] if state.exists else 0
        rows = []
        for pdf in pdfs:
            for key in pdf["key"]:
                if n_prior > 0:
                    rows.append((key, rid, f"n_prior={n_prior}", expected, order))
                n_prior += 1
        state.update((n_prior,))
        if rows:
            yield pd.DataFrame(rows, columns=out_cols)

    return keyed.groupBy("k").applyInPandasWithState(
        track,
        outputStructType=_SEEN_OUT_SCHEMA,
        stateStructType="n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_SEEN_OUT_SCHEMA = (
    "key string, rule_id string, observed string, expected string, rule_order int"
)


def violation_rate_stream(
    events: DataFrame,
    ts_col: str,
    predicate,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Windowed violation-rate aggregation for a streaming events source —
    the monitoring analog of the reference's per-sweep tallies (A3/A5):
    late data handled by watermark, rate = violations / rows per window.
    """
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    flag = F.when(predicate, F.lit(1)).otherwise(F.lit(0))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(flag).alias("violations"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "rows",
            "violations",
            (F.col("violations") / F.col("rows")).alias("violation_rate"),
        )
    )
