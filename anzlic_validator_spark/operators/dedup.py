"""Deduplication operators for large-scale text corpora.

Beyond the reference's duplicate-field sweep (testing-dublin-core.py:72-83 —
exact duplicates), these are the dedup primitives a training-data pipeline
needs at 10^12-row scale. All hot paths are pure Catalyst expressions
(xxhash64 / array ops inside whole-stage codegen); only SimHash uses an
Arrow pandas UDF (bit-level ops over variable-length token lists don't
compose from built-ins).

Scale notes per operator:
- exact_duplicates: hash-groupBy on a 192-bit composite fingerprint
  (md5+xxhash64+length, map-side combined); group on the fingerprint, not
  the document body, so shuffle rows stay tiny; optional exact-equality
  verify pass over candidate groups only.
- MinHash+LSH: signatures computed per-row (no shuffle), band buckets
  explode rows ×n_bands, the bucket groupBy is the only shuffle; candidate
  verification joins shingle sets back only for candidate pairs (a vanishing
  fraction of n²).
- n-gram Jaccard verify: exact, but only ever run on LSH candidates.
"""

from __future__ import annotations

import atexit
import hashlib
import logging
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

log = logging.getLogger(__name__)


# every census armed by drop_hot_buckets in this process, as
# [what, cap, acc_buckets, acc_rows, bucket count last logged]
_CENSUSES: list[list] = []


class HotBucketCensus(NamedTuple):
    """One hot-bucket census: ``buckets`` LSH buckets above ``cap`` rows,
    covering ``rows`` bucket-rows, dropped by the operator named ``what``."""

    what: str
    cap: int
    buckets: int
    rows: int


def report_hot_buckets() -> list[HotBucketCensus]:
    """Read every census armed by ``drop_hot_buckets`` and log one warning
    for each whose bucket count is nonzero and changed since it was last
    logged; returns those censuses.

    The owner of an action calls this after the action: each finished
    task's accumulator update reaches the driver before the action returns,
    so the counts are final then. It also runs at interpreter exit, so a
    driver that never calls it still logs (never silent). Accumulators, not
    ``observe``: AQE's empty-relation propagation removes CollectMetrics
    nodes whenever anything downstream goes empty (an empty candidate set
    is common), losing the metrics (observed on Spark 4.1). The counts are
    ADVISORY: task retries and speculation can inflate them."""
    out = []
    for entry in _CENSUSES:
        what, cap, acc_buckets, acc_rows, logged = entry
        n = int(round(float(acc_buckets.value)))
        if n and n != logged:
            entry[4] = n
            rec = HotBucketCensus(what, cap, n, int(acc_rows.value))
            log.warning(
                f"{what}: dropped {n} hot LSH buckets (> {cap} rows each) covering "
                f"{rec.rows} bucket-rows from candidate generation — pairs "
                "supported only by those buckets are not reported (ADVISORY "
                "count: task retries and speculation can inflate it)"
            )
            out.append(rec)
    return out


atexit.register(report_hot_buckets)


def drop_hot_buckets(
    df: DataFrame,
    bucket_cols: list[str],
    cap: int,
    what: str,
) -> DataFrame:
    """Drop every row whose bucket holds more than ``cap`` rows, with a
    LAZY advisory accumulator census (never an eager job, never silent) —
    the one hot-bucket pattern shared by the batch LSH caps and the
    incremental stores' ``dedup_state.incremental_step``.

    Shape: per-bucket sizes from a map-side-combined count aggregate (a hot
    key ships one partial-count row per map partition, never O(degree)),
    hot buckets tallied into accumulators by a vectorized pandas UDF while
    the real query's own job builds the anti-join side (one row per HOT
    BUCKET crosses into Python), then a PINNED broadcast anti-join — planned
    cold, the planner otherwise falls to a sort-merge anti join that
    shuffles and sorts the full stream twice (observed, Spark 4.1). The hot
    list is bounded by total_rows/cap and is empty on healthy corpora;
    corpora extreme enough to overflow a broadcast should raise the cap.

    The census is registered under ``what``; ``report_hot_buckets`` reads
    and logs it after the action."""
    sc = df.sparkSession.sparkContext
    acc_buckets = sc.accumulator(0.0)
    acc_rows = sc.accumulator(0)

    @F.pandas_udf(T.BooleanType())
    def tally_hot(bsz: pd.Series) -> pd.Series:
        # bucket count = row count, dropped-row count = sum of bucket sizes;
        # returns all-True so the hot rows stay in the anti-join relation
        if len(bsz):
            acc_buckets.add(float(len(bsz)))
            acc_rows.add(int(bsz.sum()))
        return pd.Series(np.ones(len(bsz), dtype=bool))

    hot = (
        df.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("__bsz"))
        .where(F.col("__bsz") > int(cap))
        .where(tally_hot(F.col("__bsz")))
        .select(*bucket_cols)
    )
    _CENSUSES.append([what, int(cap), acc_buckets, acc_rows, 0])
    return df.join(F.broadcast(hot), on=bucket_cols, how="left_anti")


def lsh_candidate_pairs(
    buckets: DataFrame,
    bucket_cols: list[str],
    payload_cols: list[str],
    max_bucket_size: int | None,
    what: str,
    counts: bool = False,
) -> DataFrame:
    """Bucketed rows → distinct candidate pairs ``(a, b)`` (payload structs,
    ``a.id < b.id``). ``payload_cols`` must include ``id``. With
    ``counts=True`` the result carries ``n_shared`` — how many buckets the
    pair co-occurred in (winnowing-style overlap counting) — instead of
    being distinct-ed.

    Two physical strategies, chosen by whether a cap bounds the buckets:

    - ``max_bucket_size`` set → per-bucket ``collect_list`` + INCREMENTAL
      pairwise expansion: ONE full shuffle on the bucket key, in-bucket
      fan-out inside codegen. Each member is posexploded out and paired
      against the remainder of its bucket, so per-row memory stays O(cap)
      — the collected bucket array — never the O(cap²) pair set (which
      streams through the second explode).
    - ``max_bucket_size=None`` → classic bucket self-join: slower (second
      shuffle + sort) but SPILL-SAFE — a degenerate bucket degrades to a
      quadratic-but-streaming join instead of materializing O(s²) pairs in
      one aggregation buffer. Uncapped is the small-scale/oracle mode;
      always set the cap at scale.

    Buckets above ``max_bucket_size`` are EXCLUDED from candidate
    generation by ``drop_hot_buckets``: per-bucket sizes come from a
    map-side-combined count aggregate (a hot key ships O(#partitions)
    partial-count rows), oversized buckets drop via a broadcast anti-join,
    and the dropped bucket/row census is tallied lazily into accumulators
    while the real query runs — no eager job at plan-construction time.
    ``report_hot_buckets`` logs it after the action (never silent).

    Run exact dedup first — a hot bucket is nearly always a pile of
    byte-identical docs the exact pass already collapses — and treat the
    logged census as a data-quality signal, not noise.
    """
    stream = buckets.select(
        *bucket_cols, F.struct(*[F.col(c) for c in payload_cols]).alias("__p")
    )
    if max_bucket_size is None:
        # spill-safe uncapped path: bucket self-join
        l, r = stream.alias("l"), stream.alias("r")
        base = (
            l.join(r, on=bucket_cols, how="inner")
            .where(F.col("l.__p.id") < F.col("r.__p.id"))
            .select(F.col("l.__p").alias("a"), F.col("r.__p").alias("b"))
        )
        if counts:
            return base.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_shared"))
        return base.distinct()

    kept = drop_hot_buckets(stream, bucket_cols, int(max_bucket_size), what)
    grouped = kept.groupBy(*bucket_cols).agg(F.collect_list("__p").alias("__ms"))

    def ordered_pair(x, y):
        return F.when(
            x["id"] < y["id"], F.struct(x.alias("a"), y.alias("b"))
        ).otherwise(F.struct(y.alias("a"), x.alias("b")))

    # INCREMENTAL pair expansion (ADVICE r03): posexplode each member out
    # first, then pair it against the remainder of its bucket. A single
    # flatten(transform(transform(...))) materialized all O(s²) pair structs
    # of a bucket inside ONE aggregation row — ~50M structs (GBs) for a
    # bucket near a 10k cap — before the explode could stream them. This
    # shape keeps per-row memory O(s): each generated row carries the bucket
    # array plus one member's pair list, and the second explode streams the
    # pairs through the generator.
    member = grouped.select(
        F.col("__ms"), F.posexplode("__ms").alias("__i", "__x")
    )
    rest = F.slice(
        F.col("__ms"),
        F.col("__i") + F.lit(2),
        F.greatest(F.size("__ms") - F.col("__i") - 1, F.lit(0)),
    )
    base = (
        member.select(
            F.explode(F.transform(rest, lambda y: ordered_pair(F.col("__x"), y))).alias("__pr")
        )
        .select("__pr.a", "__pr.b")
        .where(F.col("a.id") != F.col("b.id"))  # defend against duplicate input ids
    )
    if counts:
        return base.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_shared"))
    return base.distinct()


# ---------------------------------------------------------------- exact

def text_fingerprint(col: Column) -> Column:
    """Order/duplication-insensitive content fingerprint: md5 of the sorted
    distinct token set (rolling-hash analog with built-ins only)."""
    toks = F.array_sort(F.array_distinct(F.split(col, " ")))
    return F.md5(F.array_join(toks, " "))


def exact_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    verify: bool = False,
    fingerprint: Column | None = None,
) -> DataFrame:
    """Groups of byte-identical texts → (grp_hash, n_docs, canonical_id).

    canonical_id = min id (the survivor a dedup pass would keep).

    Group key is a 192-bit composite fingerprint (md5 + xxhash64 + length):
    a bare 64-bit hash at 10^12 docs expects ~10^4 birthday-colliding pairs
    (false duplicates); the composite drops the expectation to ~10^-34 while
    shuffle rows stay ~50 bytes. ``verify=True`` adds an exact equality pass:
    rows whose fingerprint group has >1 member are re-grouped by the text
    itself, so ONLY the candidate-duplicate fraction ever shuffles document
    bodies — use it for audits or when the fingerprint is overridden.

    ``fingerprint`` overrides the group-key expression (must be a pure
    function of the text column); used by tests to force collisions and by
    callers that precomputed a content hash at ingest.
    """
    col = F.col(text_col)
    fp = fingerprint if fingerprint is not None else F.struct(
        F.md5(col).alias("h128"), F.xxhash64(col).alias("h64"), F.length(col).alias("len")
    )
    if not verify:
        return (
            df.select(fp.alias("grp_hash"), F.col(id_col))
            .groupBy("grp_hash")
            .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("canonical_id"))
            .where(F.col("n_docs") > 1)
        )
    base = df.select(fp.alias("grp_hash"), F.col(id_col), col.alias("__text"))
    cand_groups = (
        base.groupBy("grp_hash")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > 1)
        .select("grp_hash")
    )
    candidates = base.join(cand_groups, on="grp_hash", how="inner")
    return (
        candidates.groupBy("grp_hash", "__text")  # exact: the text IS the key
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("canonical_id"))
        .where(F.col("n_docs") > 1)
        .select("grp_hash", "n_docs", "canonical_id")
    )


# ---------------------------------------------------------------- shingles

def word_shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Distinct k-word shingles from a PRE-SPLIT token array column.

    ``toks`` must be a materialized column (its own projection), not an
    inline ``split(...)`` expression: the per-shingle lambda references it
    once per element, and Catalyst inlines non-column subexpressions into
    every lambda element (no CSE across lambda bodies) — an inline split
    makes shingling O(tokens²) per row, measured ~25x slower at 54 tokens.
    """
    n = F.size(toks)
    return F.when(n >= k, F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        )
    )).otherwise(F.array(F.array_join(toks, " ")))


def word_shingles(text_col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a single-space-tokenized text column.

    Convenience wrapper; prefer ``word_shingles_from_tokens`` over a
    materialized token column in hot paths (see its docstring)."""
    return word_shingles_from_tokens(F.split(text_col, " "), k)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(a) + F.size(b) - F.size(F.array_intersect(a, b))
    return inter / union.cast("double")


# ---------------------------------------------------------------- minhash

def minhash_sig_array(shingles: Column, num_hashes: int = 64) -> Column:
    """MinHash signature as ONE array<long> column: sig[i] = min over
    shingles of xxhash64(shingle, i), expressed as a single nested-lambda
    transform (the hash index is the OUTER lambda's variable —
    ``xxhash64(s, i)`` with an int lambda variable hashes exactly like
    ``xxhash64(s, lit(i))``, verified bit-identical). Per-row Catalyst
    transforms — zero shuffle, codegen'd.

    Why (r06, guide §1.2/§7.2): one column per hash would materialize
    ``num_hashes`` separate expressions — 63 lambdas to analyze, optimize
    and code-generate PER PLAN, a fixed multi-second cost for every
    minhash-family query at any data size. One nested expression does the
    identical per-row arithmetic with a constant-size plan."""
    idx = F.sequence(F.lit(0), F.lit(int(num_hashes) - 1))
    return F.transform(
        idx, lambda i: F.array_min(F.transform(shingles, lambda s: F.xxhash64(s, i)))
    )


def band_keys(sig: Column, num_hashes: int, n_bands: int) -> Column:
    """array<struct<band:int, bh:long>>: one LSH band key per band, bh =
    xxhash64 over the band's signature slice — ONE nested transform instead
    of ``n_bands`` separate struct expressions (same plan-size rationale as
    minhash_sig_array; values identical to the per-struct form). Shared by
    the batch LSH and the incremental store's band rows."""
    r = num_hashes // n_bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(int(n_bands) - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(
                *[F.element_at(sig, b * r + i + 1) for i in range(r)]
            ).alias("bh"),
        ),
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    num_hashes: int = 63,
    n_bands: int = 21,
    shingle_k: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate generation + exact Jaccard verification.

    Returns (a_id, b_id, jac) with a_id < b_id and jac >= threshold.
    Pipeline: shingle → signature (no shuffle) → band-bucket grouping
    (the one shuffle; bucket key is (band, hash-of-band-slice)) → exact
    verify on candidates only.

    The (id, shingles) projection is consumed three times (bucketing +
    both sides of the candidate verify join). Carrying shingles through the
    LSH shuffle instead would move ~n_bands× the corpus text through the
    exchange — strictly worse at scale — so the right plan is ONE
    computation persisted (MEMORY_AND_DISK, spills gracefully; Spark evicts
    LRU). The persist is NOT auto-unpersisted (the result is lazy; the
    operator never sees the consuming action) — long-lived sessions
    invoking this repeatedly should unpersist or
    ``spark.catalog.clearCache()`` after consuming the result.

    Band tuning: with b bands of r rows, P(candidate) = 1-(1-j^r)^b.
    Defaults (b=21, r=3) give recall ≥ 0.9998 at j=0.7 and ≥ 0.99 at the
    0.6 threshold while pruning j≈0.1 pairs to ~2% candidate rate; raise r
    (and num_hashes) for higher thresholds at bigger scale.
    """
    base = df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("__toks")
    ).select("id", word_shingles_from_tokens(F.col("__toks"), shingle_k).alias("sh"))
    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    # signature as ONE array expression and band keys as ONE nested
    # transform (r06): the former 63 mh_i columns + 21 band structs were a
    # constant-size-per-row computation carried by an O(num_hashes) plan —
    # analysis + codegen paid for every expression on every run. Values are
    # bit-identical (see minhash_sig_array).
    sig = base.select("id", minhash_sig_array(F.col("sh"), num_hashes).alias("__sig"))
    buckets = sig.select(
        "id", F.explode(band_keys(F.col("__sig"), num_hashes, n_bands)).alias("bb")
    ).select("id", "bb.band", "bb.bh")
    candidates = lsh_candidate_pairs(
        buckets, ["band", "bh"], ["id"], max_bucket_size, "minhash_lsh"
    ).select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
    sh = base.select(F.col("id"), F.col("sh"))
    verified = (
        candidates.join(sh.select(F.col("id").alias("a_id"), F.col("sh").alias("sh_a")), "a_id")
        .join(sh.select(F.col("id").alias("b_id"), F.col("sh").alias("sh_b")), "b_id")
        .withColumn("jac", jaccard(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("jac") >= F.lit(threshold))
    )
    return verified.select("a_id", "b_id", F.round("jac", 4).alias("jac"))


# ---------------------------------------------------------------- simhash

@F.pandas_udf(T.LongType())
def simhash64_udf(texts: pd.Series) -> pd.Series:
    """64-bit SimHash signature — fully vectorized numpy kernel.

    Per-occurrence bit votes (duplicate tokens vote repeatedly, the standard
    Charikar weighting by term frequency). The only per-item Python is one
    md5 per DISTINCT token in the Arrow batch; the vote accumulation is a
    single ``np.add.reduceat`` over the flattened token stream. Token hash =
    first 8 md5 bytes little-endian — stable across processes/versions (and
    re-expressible in the DuckDB oracle), unlike builtin ``hash``.
    """
    n_docs = len(texts)
    if n_docs == 0:
        return pd.Series(np.zeros(0, dtype=np.int64))
    # Distinct-token inverse via a dict (an object-array np.unique sorts the
    # token multiset — measured 5.5x slower than dict insertion). One md5
    # per DISTINCT token; per-doc votes are a single (n_toks, 64) int8
    # gather + column sum, which stays cache-resident — measured 2.1x faster
    # than the r01 per-token accumulate and ~9x faster than a batch-wide
    # add.reduceat (whose (tokens, 64) temp is memory-bandwidth-bound).
    index: dict[str, int] = {}
    get = index.get
    doc_idx: list[np.ndarray] = []
    for t in texts:
        toks = (t or "").split(" ")  # never empty ('' splits to [''])
        idxs = np.empty(len(toks), dtype=np.int64)
        for m, tok in enumerate(toks):
            i = get(tok)
            if i is None:
                i = len(index)
                index[tok] = i
            idxs[m] = i
        doc_idx.append(idxs)
    h = np.fromiter(
        (int.from_bytes(hashlib.md5(u.encode()).digest()[:8], "little") for u in index),
        dtype=np.uint64,
        count=len(index),
    )
    shifts = np.arange(64, dtype=np.uint64)
    bits = (((h[:, None] >> shifts) & np.uint64(1)).astype(np.int8) * 2) - 1  # (uniq, 64)
    powers = np.uint64(1) << shifts
    sig = np.empty(n_docs, dtype=np.uint64)
    for j, idxs in enumerate(doc_idx):
        votes = bits[idxs].sum(axis=0, dtype=np.int32)
        sig[j] = np.where(votes > 0, powers, np.uint64(0)).sum(dtype=np.uint64)
    return pd.Series(sig.view(np.int64))


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    n_tables: int = 4,
    subkey_bits: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash (64-bit) near-dup pairs within a Hamming radius.

    LSH splits the 64-bit key into ``n_tables`` disjoint ``subkey_bits``-wide
    sub-keys — any pair within Hamming distance n_tables-1 shares at least
    one sub-key (pigeonhole; holds for any sub-key coverage as long as
    n_tables > max_hamming, since ≤ max_hamming differing bits can touch at
    most max_hamming of the n_tables chunks). Candidate recall is exact; the
    Hamming filter afterwards is exact; ``max_bucket_size`` bounds degenerate
    buckets (see drop_hot_buckets — capped buckets are logged, and capping
    can only lose pairs confined to dropped buckets).

    Sizing at scale: sub-key width bounds the table count (w = 64 // t), so
    a web-scale corpus tunes max_bucket_size rather than w — expected bucket
    size is n / 2^w per table for idealized uniform keys, but REAL corpora
    concentrate mass in a few buckets (near-empty docs, boilerplate), which
    is exactly what the cap handles.
    """
    base = df.select(F.col(id_col).alias("id"), simhash64_udf(F.col(text_col)).alias("sig"))
    return hamming_lsh_pairs(
        base, max_hamming, n_tables, subkey_bits, max_bucket_size, "simhash_lsh"
    )


def hamming_lsh_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    n_tables: int = 4,
    subkey_bits: int | None = None,
    max_bucket_size: int | None = None,
    what: str = "hamming_lsh",
) -> DataFrame:
    """Hamming-radius pairs over any 64-bit signature column →
    (a_id, b_id, hamming), a_id < b_id. ``sigs`` must have (id, sig long).

    The pigeonhole sub-key LSH shared by SimHash text dedup and the audio
    perceptual-hash dedup (operators/audio_dedup.py): candidate recall is
    exact whenever n_tables > max_hamming (see simhash_near_duplicates);
    the Hamming filter afterwards is exact."""
    if n_tables <= max_hamming:
        raise ValueError(
            f"pigeonhole requires n_tables > max_hamming, got {n_tables} <= {max_hamming}"
        )
    w = subkey_bits if subkey_bits is not None else 64 // n_tables
    if w < 1 or n_tables * w > 64:
        raise ValueError(f"n_tables*subkey_bits must fit in 64 bits, got {n_tables}x{w}")
    mask = (1 << w) - 1
    subkeys = [
        F.struct(
            F.lit(t).alias("tbl"),
            F.shiftright(F.col("sig"), t * w).bitwiseAND(F.lit(mask)).alias("sub"),
        )
        for t in range(n_tables)
    ]
    buckets = sigs.select("id", "sig", F.explode(F.array(*subkeys)).alias("b")).select(
        "id", "sig", "b.tbl", "b.sub"
    )
    cand = lsh_candidate_pairs(
        buckets, ["tbl", "sub"], ["id", "sig"], max_bucket_size, what
    ).select(
        F.col("a.id").alias("a_id"),
        F.col("b.id").alias("b_id"),
        F.col("a.sig").alias("sig_a"),
        F.col("b.sig").alias("sig_b"),
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )
