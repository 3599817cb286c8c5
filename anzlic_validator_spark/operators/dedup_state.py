"""Cross-run incremental dedup state (VERDICT r04 #2): a persisted
fingerprint store so run N+1 fingerprints ONLY its new rows and pairs them
against the existing corpus — the manifest-resume idea (reference analog:
the fetch-history merge, /root/reference/scripts/resolve.py:150-187, which
manifest.py mirrors for validation) applied to the dedup family.

Why this exists: every dedup operator here re-fingerprints the whole corpus
per run. Fine for a one-shot pass; wasteful for a growing corpus where each
ingest batch is a sliver of 10^12 accumulated rows. The store keeps
(id, minhash signature) rows — ~500 bytes/row, payload-free — and the
incremental pass:

1. computes signatures for the NEW batch only (the API takes only new
   rows; old document text is never an input, so re-fingerprinting old
   rows is impossible BY CONSTRUCTION, not by discipline);
2. emits near-dup pairs (new-vs-old and new-vs-new; old-vs-old pairs were
   already reported by the runs that introduced them) via an asymmetric
   LSH band-key join — new-batch band rows against (store ∪ new) band
   rows, so Spark can broadcast the small new side against the huge store;
3. verifies candidates DECODE-FREE by signature agreement (the fraction of
   equal minhash components, an unbiased Jaccard estimator — the store
   holds no shingles, so exact-Jaccard verify would need old text and
   break (1); callers wanting exact verify re-join texts for the emitted
   pair ids only);
4. commits the new signatures to the store ATOMICALLY (write to a temp dir
   inside the store, fsync-free same-fs rename — the manifest.py
   convention), so a crashed run never half-poisons state, and the write
   doubles as the single materialization of the signatures: the pair plan
   reads them back from parquet, computing each signature EXACTLY ONCE.

Store layout::

    store_dir/
      meta.json          # num_hashes / n_bands / shingle_k — compatibility
      run_00000/*.parquet  # (id, sig array<long>) of each committed batch
      run_00001/*.parquet

Signature parameters are pinned in meta.json and validated on every open:
mixing signatures computed under different hash counts or shingle widths
silently breaks agreement estimates, so a mismatch raises instead.
"""

from __future__ import annotations

import json
import logging
import os
import re
from functools import reduce
from operator import and_
from typing import Callable, NamedTuple

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from anzlic_validator_spark.operators.dedup import (
    band_keys,
    drop_hot_buckets,
    minhash_sig_array,
    word_shingles_from_tokens,
)

log = logging.getLogger(__name__)

# {5,}: ids are zero-padded to 5 digits but NOT capped at them — id
# 100000 formats to 6 digits, and a fixed-width pattern would make it
# invisible to the loader (next_id would stall and every later commit
# would replace the same dir — silent data loss past 10^5 runs; review
# r05). Dir LISTS are therefore sorted numerically, never lexically.
_RUN_RE = re.compile(r"^run_(\d{5,})$")
_FOLD_RE = re.compile(r"^fold_(\d{5,})$")
_FOLD_MARKER = "_FOLDED"


def _check_meta(store_dir: str, meta: dict, create: bool) -> None:
    path = os.path.join(store_dir, "meta.json")
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            existing = json.load(fh)
        if existing != meta:
            raise ValueError(
                f"fingerprint store {store_dir} was built with {existing}, "
                f"incompatible with requested {meta}"
            )
    elif create:  # a commit=False what-if probe writes nothing at all
        os.makedirs(store_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(meta, fh)
        os.replace(tmp, path)


def store_run_dirs(store_dir: str) -> list[str]:
    """Committed run directories of a fingerprint store, oldest first."""
    if not os.path.isdir(store_dir):
        return []
    out = []
    for name in os.listdir(store_dir):
        m = _RUN_RE.match(name)
        if m:
            out.append((int(m.group(1)), os.path.join(store_dir, name)))
    return [d for _, d in sorted(out)]  # numeric order ('run_100000' > 'run_99999')


def _newest_fold(store_dir: str) -> tuple[str, int] | None:
    """(path, covers) of the newest VALID fold — marker present; a fold
    dir without its marker is an aborted compaction and is ignored (the
    runs it would have covered are all still present)."""
    if not os.path.isdir(store_dir):
        return None
    best = None
    for name in os.listdir(store_dir):
        m = _FOLD_RE.match(name)
        if m and os.path.exists(os.path.join(store_dir, name, _FOLD_MARKER)):
            covers = int(m.group(1))  # numeric max, not lexicographic
            if best is None or covers > best[1]:
                best = (os.path.join(store_dir, name), covers)
    return best


def store_live_inputs(
    store_dir: str, before_run_id: int | None = None
) -> tuple[list[str], int]:
    """→ (parquet dirs holding the store's LIVE fingerprint rows, next
    auto run id). Live = the newest valid fold (which supersedes every run
    it covers) plus runs strictly newer than its coverage.

    ``before_run_id`` restricts to rows from runs strictly older (the
    retry semantics of an epoch-keyed caller) and RAISES if that horizon
    reaches into a fold — after compaction, retries of folded epochs are
    impossible to serve exactly (their rows are merged), so failing loudly
    beats silently self-matching. Compact only quiescent stores (or pass
    ``up_to`` < the oldest retryable epoch to compact_store)."""
    fold = _newest_fold(store_dir)
    runs = [(int(os.path.basename(d)[4:]), d) for d in store_run_dirs(store_dir)]
    covers = fold[1] if fold else -1
    live_runs = [(i, d) for i, d in runs if i > covers]
    next_id = max([covers] + [i for i, _ in runs]) + 1
    if before_run_id is None:
        dirs = ([fold[0]] if fold else []) + [d for _, d in live_runs]
        return dirs, next_id
    if fold and before_run_id <= covers:
        raise ValueError(
            f"run_id {before_run_id} is at or below the store's compaction "
            f"horizon (fold covers <= {covers}); a retry of a folded epoch "
            "cannot be served exactly"
        )
    dirs = ([fold[0]] if fold else []) + [
        d for i, d in live_runs if i < before_run_id
    ]
    return dirs, next_id


def compact_store(
    spark: SparkSession,
    store_dir: str,
    up_to: int | None = None,
    delete_superseded: bool = True,
) -> str | None:
    """Fold the store's run history into ONE dir — the dedup-store analog
    of the seen-keys log compaction (and of the reference's fetch-history
    merge): a long-lived store otherwise accumulates one parquet dir per
    batch and every incremental run pays an ever-growing multi-dir scan.

    Crash-safe by construction: the fold is written to a temp dir, its
    ``_FOLDED`` marker is created INSIDE the temp dir after verifying data
    files landed, and the whole dir is renamed into place atomically — a
    crash at any point leaves either no fold (all runs intact) or a
    complete fold (which supersedes them). Superseded run dirs and older
    folds are deleted only afterwards; a partial delete is harmless
    because the loader ignores anything a valid fold covers.

    ``up_to``: fold only runs with id <= up_to (an epoch-keyed caller
    passes current_epoch - 1 so ITS OWN epoch stays individually
    retryable). Full-row duplicates across runs (pre-run_id retries)
    collapse in the fold. Returns the fold path, or None when there is no
    uncovered run to fold (a lone existing fold stays as-is); a SINGLE
    live run does fold into a one-dir fold — intended behavior, relied on
    by streaming auto-compaction (ADVICE r05)."""
    import shutil

    fold = _newest_fold(store_dir)
    covers_old = fold[1] if fold else -1
    runs = [
        (int(os.path.basename(d)[4:]), d)
        for d in store_run_dirs(store_dir)
        if int(os.path.basename(d)[4:]) > covers_old
    ]
    if up_to is not None:
        runs = [(i, d) for i, d in runs if i <= up_to]
    inputs = ([fold[0]] if fold else []) + [d for _, d in runs]
    if not runs:  # nothing new to fold (a lone existing fold stays as-is)
        return None
    covers = max(i for i, _ in runs)
    final = os.path.join(store_dir, f"fold_{covers:05d}")
    tmp = os.path.join(store_dir, f".tmp_fold_{covers:05d}")
    spark.read.parquet(*inputs).dropDuplicates().write.mode("overwrite").parquet(tmp)
    if not any(not f.startswith(("_", ".")) for f in os.listdir(tmp)):
        shutil.rmtree(tmp)
        raise IOError(f"store fold landed empty at {tmp}; refusing to commit")
    open(os.path.join(tmp, _FOLD_MARKER), "w").close()  # marker BEFORE rename
    if os.path.isdir(final):
        shutil.rmtree(final)
    os.replace(tmp, final)
    if delete_superseded:
        for i, d in runs:
            shutil.rmtree(d, ignore_errors=True)
        if fold:
            shutil.rmtree(fold[0], ignore_errors=True)
    return final


def commit_store_run(df: DataFrame, store_dir: str, run_id: int) -> DataFrame:
    """Atomically commit one batch's fingerprints as ``run_<id>`` (write to
    a temp dir inside the store, then same-fs rename — a crash never leaves
    a half-visible run) and return the READ-BACK DataFrame, making the
    write the batch's single fingerprint materialization.

    Re-committing an EXISTING run id replaces that run wholesale (the
    retried-micro-batch case: an at-least-once caller re-running an epoch
    owns that epoch's run dir, exactly like the epoch-partitioned
    streaming sinks)."""
    import shutil

    spark = df.sparkSession
    final = os.path.join(store_dir, f"run_{run_id:05d}")
    tmp = os.path.join(store_dir, f".tmp_run_{run_id:05d}")
    df.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(final):  # retry: replace the attempt's own prior run
        shutil.rmtree(final)
    os.replace(tmp, final)
    return spark.read.parquet(final)


class Verify(NamedTuple):
    """Decode-free verify stage of ``incremental_step``: each side of a
    candidate pair carries the store columns ``cols``; ``score(a, b)``
    builds the pair score from the two sides (``a("sig")`` is the a-side
    ``sig``), ``keep`` tests the UNROUNDED score, and the score leaves as
    ``name`` rounded to 4 decimals."""

    cols: tuple[str, ...]
    score: Callable[[Callable[[str], Column], Callable[[str], Column]], Column]
    keep: Callable[[Column], Column]
    name: str


def incremental_step(
    new_df: DataFrame,
    store_dir: str,
    meta: dict,
    fingerprint_fn: Callable[[DataFrame], DataFrame],
    commit: bool,
    run_id: int | None,
    id_col: str,
    bucket_rows: Callable[[DataFrame], DataFrame],
    keys: list[str],
    cap: int | None,
    what: str,
    out: tuple[str, str],
    min_shared: int | None = None,
    verify: Verify | None = None,
) -> DataFrame:
    """The one incremental dedup step behind every fingerprint store (text
    minhash, audio content, audio perceptual, embedding SRP): meta guard →
    fold-aware live inputs → fingerprint ONLY the new batch → candidates
    against (store ∪ batch) → hot-bucket cap → pinned verify. Returns the
    pairs ``out`` (a < b) involving at least one new row, plus the
    ``verify.name`` score when a verify stage is given.

    - ``fingerprint_fn`` maps the new batch to its store rows (keyed by
      ``id_col``). With ``commit`` the atomic run write doubles as their
      single materialization (the plan reads them back from parquet); a
      ``commit=False`` what-if probe writes nothing and persists them
      instead, because bucketing and both verify sides consume them. That
      handle is internal: long-lived sessions running repeated probes
      should ``spark.catalog.clearCache()`` after consuming (ADVICE r05).
    - ``bucket_rows`` maps store rows to ``(id_col, *keys)`` bucket rows;
      the candidate join is new-batch bucket rows against (store ∪ batch)
      bucket rows — the small new side against a 10^12-row store.
    - ``cap`` set: when the store holds prior runs, its side is first
      semi-restricted to buckets TOUCHED by the batch (a broadcast of the
      batch's distinct keys), so the census and the join scan O(rows in
      touched buckets), never the whole store; an empty store skips it
      (every bucket is touched by construction). Buckets with more than
      ``cap`` carriers then drop via ``dedup.drop_hot_buckets``, whose
      lazy advisory census ``dedup.report_hot_buckets`` logs under
      ``what`` after the action. Only the store side is filtered:
      the candidate join is INNER on ``keys``, so that removes every pair
      a hot bucket would generate. ``cap=None`` does neither.
    - ``min_shared`` None: candidates are the distinct pairs. Set: the
      count of DISTINCT shared keys per pair must reach it (the asymmetric
      join sees both orientations of a new-new pair, which would otherwise
      double the count).
    - ``verify``: two joins against the store's ``verify.cols``, with the
      candidate side PINNED as the broadcast build of both (join 1's output
      is again candidate-bounded), so the store side only ever streams — an
      AQE fallback to sort-merge would shuffle the whole store twice
      (VERDICT r05 #2). Rows with a NULL verify column never pair."""
    spark = new_df.sparkSession
    _check_meta(store_dir, meta, create=commit)
    prior, next_id = store_live_inputs(store_dir, before_run_id=run_id)
    new_fps = fingerprint_fn(new_df)
    if commit:
        new_fps = commit_store_run(
            new_fps, store_dir, next_id if run_id is None else run_id
        )
    else:
        new_fps = new_fps.persist(StorageLevel.MEMORY_AND_DISK)
    all_fps = (
        spark.read.parquet(*prior).unionByName(new_fps) if prior else new_fps
    )

    a, b = out
    nb = bucket_rows(new_fps).withColumnRenamed(id_col, "__n")
    ab = bucket_rows(all_fps).withColumnRenamed(id_col, "__o")
    if cap is not None:
        if prior:
            touched = nb.select(*keys).distinct()
            ab = ab.join(F.broadcast(touched), keys, "left_semi")
        ab = drop_hot_buckets(ab, keys, int(cap), what)
    hits = nb.join(ab, keys).where(F.col("__n") != F.col("__o"))
    pair = (F.least("__n", "__o").alias(a), F.greatest("__n", "__o").alias(b))
    if min_shared is None:
        cand = hits.select(*pair).distinct()
    else:
        cand = (
            hits.groupBy(*pair)
            .agg(F.countDistinct(*keys).alias("__shared"))
            .where(F.col("__shared") >= int(min_shared))
            .select(a, b)
        )
    if verify is None:
        return cand

    rows = all_fps.where(reduce(and_, [F.col(c).isNotNull() for c in verify.cols]))

    def side(tag: str, id_name: str) -> DataFrame:
        return rows.select(
            F.col(id_col).alias(id_name),
            *[F.col(c).alias(f"__{tag}_{c}") for c in verify.cols],
        )

    j1 = F.broadcast(cand).join(side("a", a), a)
    joined = F.broadcast(j1).join(side("b", b), b)
    score = verify.score(lambda c: F.col(f"__a_{c}"), lambda c: F.col(f"__b_{c}"))
    return (
        joined.withColumn("__score", score)
        .where(verify.keep(F.col("__score")))
        .select(a, b, F.round("__score", 4).alias(verify.name))
    )


def minhash_sigs(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 63, shingle_k: int = 3
) -> DataFrame:
    """(id, sig array<long>) minhash signatures — the store row format.
    Pure Catalyst, zero shuffle (tokens materialized first: the no-CSE
    rule)."""
    base = df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("__toks")
    ).select("id", word_shingles_from_tokens(F.col("__toks"), shingle_k).alias("__sh"))
    return base.select(
        "id", minhash_sig_array(F.col("__sh"), num_hashes).alias("sig")
    )


def _band_rows(sigs: DataFrame, num_hashes: int, n_bands: int) -> DataFrame:
    """(id, band, bh): one row per LSH band, key = xxhash64 of the band's
    signature slice — derived from the STORED sig array, so old rows bucket
    without touching their text. Band keys via the shared nested-transform
    expression (dedup.band_keys — one expression, not n_bands structs)."""
    return sigs.select(
        "id", F.explode(band_keys(F.col("sig"), num_hashes, n_bands)).alias("bb")
    ).select("id", "bb.band", "bb.bh")


def sig_agreement(a, b, num_hashes: int):
    """Fraction of equal minhash components — the unbiased Jaccard
    estimator (Broder); ~N(j, j(1-j)/num_hashes) concentration."""
    eq = F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v))
    return eq.cast("double") / F.lit(float(num_hashes))


def incremental_minhash_pairs(
    new_docs: DataFrame,
    store_dir: str,
    text_col: str,
    id_col: str,
    num_hashes: int = 63,
    n_bands: int = 21,
    shingle_k: int = 3,
    min_agreement: float = 0.9,
    max_bucket_size: int | None = 10_000,
    commit: bool = True,
    run_id: int | None = None,
) -> DataFrame:
    """One incremental dedup step → (a_id, b_id, sig_sim) near-dup pairs
    involving AT LEAST ONE new row (a_id < b_id, sig_sim = signature
    agreement >= min_agreement, rounded to 4 decimals).

    EAGER by design (unlike the corpus-pass operators): committing the
    batch and computing its pairs are one transaction-ish step, and the
    commit write doubles as the signatures' single materialization. With
    ``commit=False`` (a what-if probe) nothing is written and the new
    signatures are computed in-plan and persisted instead.

    ``run_id``: None (default) appends the next run. An EXPLICIT id makes
    the step IDEMPOTENT under retry — the commit replaces run_<id> and the
    pairing considers only runs strictly BEFORE it as "old", so an
    at-least-once caller (streaming foreachBatch keyed by epoch) re-running
    a batch reproduces the same pairs instead of self-matching its own
    earlier attempt. Ids must be committed in increasing order.

    ID CONTRACT: ids must be unique across the store's whole history
    (outside the run_id retry mechanism, which replaces its own run). A
    re-ingested id would carry several sig rows through the verify joins
    and emit duplicate — or, with changed text, conflicting — pairs; the
    store is payload-free, so it cannot detect this itself.

    ``max_bucket_size`` (VERDICT r05 #1): bands with more than this many
    carriers drop from the band join, with the advisory census. A
    boilerplate band key shared by 10^9 stored docs (the
    near-empty-doc/template band) otherwise turns one new row into 10^9
    candidate rows — the degeneracy the batch ``lsh_candidate_pairs``
    caps. The default 10_000 CHANGES RESULTS on corpora with such bands:
    pairs supported only by them are not reported. ``None`` disables
    (small corpora / exact-oracle runs only).

    Scale shape (``incremental_step``): signatures for the new batch only
    (no shuffle); ONE band-key join of new-batch band rows (21x batch)
    against the hot-capped slice of (store ∪ batch) band rows; the
    sig-agreement verify joins are pinned broadcast-hash with the candidate
    side as build, so the (id, sig) store only streams and never shuffles.
    Document payloads are never stored, never read, never shuffled.
    """
    if num_hashes % n_bands != 0:
        raise ValueError(f"n_bands {n_bands} must divide num_hashes {num_hashes}")
    return incremental_step(
        new_docs,
        store_dir,
        {"num_hashes": num_hashes, "n_bands": n_bands, "shingle_k": shingle_k},
        lambda df: minhash_sigs(df, text_col, id_col, num_hashes, shingle_k),
        commit,
        run_id,
        id_col="id",
        bucket_rows=lambda sigs: _band_rows(sigs, num_hashes, n_bands),
        keys=["band", "bh"],
        cap=max_bucket_size,
        what="incremental_minhash_pairs",
        out=("a_id", "b_id"),
        verify=Verify(
            ("sig",),
            lambda a, b: sig_agreement(a("sig"), b("sig"), num_hashes),
            lambda s: s >= F.lit(float(min_agreement)),
            "sig_sim",
        ),
    )
