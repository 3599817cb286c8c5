"""Audio content deduplication — the audio-payload twin of the text dedup
family (graft cell: pyspark × audio).

A speech-training corpus accumulates the SAME recording under different
containers/codecs (pcm vs wav vs flac re-encodes) and as slightly-degraded
copies (resampled, noise-floored). Byte-level dedup misses every one of
them; these operators dedup by DECODED CONTENT:

- ``audio_fingerprints``: Arrow pandas UDF decoding each clip (the same
  codec dispatch as the validation rules, functions/audio.decode) and
  emitting (a) an EXACT content fingerprint — md5 of the canonical s16 PCM,
  identical across any lossless codec of the same signal — and (b) a
  64-bit PERCEPTUAL hash (Haitsma-Kalker-style band-energy-delta signs,
  majority-voted over frames) that survives small additive noise.
- ``audio_exact_duplicates``: groupBy on the content fingerprint →
  (canonical_key, n_clips) per duplicate group — one map-side-combined
  shuffle of ~50-byte rows, the ``exact_duplicates`` shape.
- ``audio_near_duplicates``: Hamming-radius pairs over the perceptual hash
  via the same pigeonhole sub-key LSH as SimHash (``hamming_lsh_pairs``)
  — bounded buckets, one shuffle, exact Hamming verify.
- ``audio_verify_pairs``: decode-free VERIFY stage over candidate pairs —
  best-offset bit-error-rate on the ordered per-frame subfingerprint
  sequences (the Haitsma-Kalker acceptance test), pure Catalyst.

Reference analog: the duplicate-field sweep (testing-dublin-core.py:72-83),
lifted from metadata equality to decoded-payload equality.

Scale notes: decode runs once per clip inside the Arrow UDF (the binary
never shuffles); everything downstream moves only (key, 16-byte md5,
8-byte hash) rows. At 10^12 clips the fingerprint groupBy is the one
shuffle and is trivially partial-aggregated.
"""

from __future__ import annotations

import hashlib
import logging

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

from anzlic_validator_spark.functions.audio import _to_s16, decode

_FRAME = 1024
_HOP = 512
_N_BANDS = 65  # 65 band energies -> 64 delta-sign bits


def _frame_spectra(pcm: np.ndarray) -> np.ndarray:
    """(n_frames, 513) power spectra: Hann-windowed 1024-sample frames
    (hop 512). Computed ONCE per clip and folded into however many band
    sets the fingerprints need — the rfft is the UDF's dominant cost."""
    x = np.asarray(pcm, dtype=np.float64)
    if len(x) < _FRAME:
        x = np.pad(x, (0, _FRAME - len(x)))
    frames = np.lib.stride_tricks.sliding_window_view(x, _FRAME)[::_HOP]
    win = np.hanning(_FRAME)
    return np.abs(np.fft.rfft(frames * win, axis=1)) ** 2


def _fold_bands(spec: np.ndarray, sr: int, n_bands: int) -> np.ndarray:
    """(n_frames, n_bands) band energies: spectra folded into geometrically-
    spaced bands across [sr/256, sr/2.56] (≈ the speech band)."""
    f_lo, f_hi = sr / 256.0, sr / 2.56
    edges = np.geomspace(f_lo, f_hi, n_bands + 1)
    bins = np.clip(
        (edges / (sr / 2.0) * (spec.shape[1] - 1)).astype(np.int64), 0, spec.shape[1] - 1
    )
    cs = np.concatenate([np.zeros((spec.shape[0], 1)), np.cumsum(spec, axis=1)], axis=1)
    return cs[:, bins[1:]] - cs[:, bins[:-1]]


def _band_energies(pcm: np.ndarray, sr: int, n_bands: int) -> np.ndarray:
    return _fold_bands(_frame_spectra(pcm), sr, n_bands)


def _subfps_from_bands(e: np.ndarray) -> np.ndarray:
    """Ordered per-frame 32-bit subfingerprints (33 band-energy-delta signs
    → 32 bits each), as uint32 — the Haitsma-Kalker frame hash sequence.
    Frame ORDER is preserved: the verify stage aligns two clips' sequences
    and measures bit error rate, which set semantics would destroy."""
    d = e[:, :-1] - e[:, 1:]  # (n_frames, 32)
    bits = (d > 0).astype(np.uint32)
    return (bits << np.arange(32, dtype=np.uint32)).sum(axis=1, dtype=np.uint32)


def _halves_from_subfps(full: np.ndarray) -> np.ndarray:
    lo = (full & np.uint32(0xFFFF)).astype(np.int64)
    hi = (full >> np.uint32(16)).astype(np.int64) + (1 << 16)
    return np.unique(np.concatenate([lo, hi]))


def _halves_from_bands(e: np.ndarray) -> np.ndarray:
    return _halves_from_subfps(_subfps_from_bands(e))


def frame_subfingerprint_halves(pcm: np.ndarray, sr: int) -> np.ndarray:
    """Per-frame 32-bit subfingerprints (33 band-energy-delta signs → 32
    bits, the Haitsma-Kalker frame hash), split into TAGGED 16-bit halves:
    one int64 ``tag*2^16 + half`` per (frame, half). Splitting is the
    pigeonhole move — a frame whose 32 bits suffer a flip confined to one
    half still matches exactly on the other — which lifts exact-match
    recall from ~0 to every-clip-matches at 1% noise while keeping the
    cross-signal collision rate of a 16-bit exact key. DISTINCT halves per
    clip (set semantics, as winnowing fingerprints)."""
    return _halves_from_bands(_fold_bands(_frame_spectra(pcm), sr, 33))


def _phash64_from_bands(e: np.ndarray) -> int:
    d = e[:, :-1] - e[:, 1:]  # (n_frames, 64)
    bits = (np.median(d, axis=0) > 0).astype(np.uint64)
    return int((bits << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64))


def _phash64(pcm: np.ndarray, sr: int) -> int:
    """64-bit perceptual hash: 65 geometrically-spaced band energies
    (see _band_energies), bit b = majority vote over frames of
    sign(E[b] − E[b+1]). Deterministic pure numpy; robust to low-level
    additive noise because band-energy ORDER, not magnitude, is hashed.

    SCOPE: a clip-level 64-bit majority hash is a coarse near-dup SCREEN —
    measured on the synthetic corpus, noisy-copy distance can reach ~16
    bits while unrelated-signal minimum distance can dip to ~8 at 40+
    clips, so radius tuning is corpus-dependent and candidate pairs should
    be verified (``audio_verify_pairs``). A production matcher keeps
    the PER-FRAME 32-bit subfingerprints and counts frame matches
    (Haitsma-Kalker's actual search structure) — exactly what
    ``frame_subfingerprint_halves`` + ``audio_near_duplicates_frames``
    implement; the exact content_fp path is the precise instrument for
    identical-content dedup."""
    return _phash64_from_bands(_band_energies(pcm, sr, _N_BANDS))


_FP_PARTS = ("content_fp", "phash", "frames", "subfp")


def _fingerprint_one(
    bb,
    cc,
    ss,
    registry: dict,
    want_phash: bool,
    want_frames: bool,
    want_subfp: bool = False,
    want_content: bool = True,
    spectra=_frame_spectra,
) -> tuple:
    """One clip → (content_fp, phash, frames, subfp, err). The spectra pass
    (the UDF's dominant cost after decode) runs ONLY when a perceptual part
    was requested; ``spectra`` is injectable so tests can pin that
    structurally (a worker-side call-count can't be observed from the
    driver). ``frames`` (distinct tagged halves, the LSH candidate key) and
    ``subfp`` (the ORDERED per-frame 32-bit sequence, the verify input)
    derive from the same band fold."""
    pcm, sr_emb, err = decode(bb, cc, registry)
    if err is not None or pcm is None:
        return None, None, None, None, err or "decode failed"
    s16 = _to_s16(pcm)
    # the md5 over full decoded PCM is not free — gated like the spectra
    # (review r05: a frames/subfp-only pass was paying it for nothing)
    content_fp = hashlib.md5(s16.tobytes()).hexdigest() if want_content else None
    if not (want_phash or want_frames or want_subfp):
        return content_fp, None, None, None, None
    # NULL sr_hz arrives as NaN (pandas nullable-int → float64);
    # int(NaN) would abort the task, violating the never-fail contract
    if sr_emb:
        rate = int(sr_emb)
    elif ss is None or pd.isna(ss):
        rate = 16000
    else:
        rate = int(ss)
    pcm64 = s16.astype(np.float64) / 32767.0
    # ONE rfft pass per clip, folded into both band sets (review r04)
    spec = spectra(pcm64)
    phash = frames = subfp = None
    if want_phash:
        ph = _phash64_from_bands(_fold_bands(spec, rate, _N_BANDS))
        # view as int64 (phash is a uint64 bit pattern; Spark long)
        phash = int(np.uint64(ph).view(np.int64))
    if want_frames or want_subfp:
        full = _subfps_from_bands(_fold_bands(spec, rate, 33))
        if want_frames:
            frames = _halves_from_subfps(full).tolist()
        if want_subfp:
            subfp = full.astype(np.int64).tolist()
    return content_fp, phash, frames, subfp, None


def audio_fingerprints(
    df: DataFrame,
    key_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    sr_col: str = "sr_hz",
    parts: tuple = ("content_fp", "phash", "frames"),
) -> DataFrame:
    """→ (key, content_fp, phash, frames, subfp, err): decode each clip
    once and emit the exact content fingerprint (md5 hex of canonical s16
    PCM), the clip-level perceptual hash, the per-frame tagged half
    subfingerprints (frame-match near-dup CANDIDATE input), and — when
    requested via ``parts`` — the ordered per-frame 32-bit subfingerprint
    sequence (``subfp``, the near-dup VERIFY input, see
    audio_verify_pairs); undecodable clips carry err and NULL fingerprints
    — a violation for the rule catalog, never a task failure.

    ``parts`` selects which fingerprints to compute (VERDICT r04 #4): an
    exact-only dedup pass — the most common call — should request
    ``("content_fp",)`` so the Hann-window rfft behind phash/frames (the
    dominant post-decode cost, roughly doubling the pass) is skipped
    entirely. Unrequested parts come back NULL; the output schema never
    changes, so downstream plans are parts-agnostic."""
    unknown = set(parts) - set(_FP_PARTS)
    if unknown or not parts:
        raise ValueError(f"parts must be a non-empty subset of {_FP_PARTS}, got {parts!r}")
    from anzlic_validator_spark.functions.audio import _CODEC_REGISTRY

    # creation-time snapshot (decode()'s contract): the Python workers
    # re-import this module with an EMPTY registry, so driver-side
    # register_codec() registrations must ride the UDF closure
    registry = dict(_CODEC_REGISTRY)
    want_content = "content_fp" in parts
    want_phash = "phash" in parts
    want_frames = "frames" in parts
    want_subfp = "subfp" in parts

    @F.pandas_udf(
        "content_fp string, phash long, frames array<long>, subfp array<long>, err string"
    )
    def fp(b: pd.Series, codec: pd.Series, sr: pd.Series) -> pd.DataFrame:
        out = {"content_fp": [], "phash": [], "frames": [], "subfp": [], "err": []}
        for bb, cc, ss in zip(b, codec, sr):
            content_fp, phash, frames, subfp, err = _fingerprint_one(
                bb, cc, ss, registry, want_phash, want_frames, want_subfp,
                want_content,
            )
            out["content_fp"].append(content_fp)
            out["phash"].append(phash)
            out["frames"].append(frames)
            out["subfp"].append(subfp)
            out["err"].append(err)
        return pd.DataFrame(out)

    # column metadata records which parts were COMPUTED (vs schema-stable
    # NULLs), letting composed operators fail loudly instead of silently
    # joining against all-NULL fingerprints (review r05)
    return df.select(
        F.col(key_col).alias("key"),
        fp(F.col(bytes_col), F.col(codec_col), F.col(sr_col)).alias("__fp"),
    ).select(
        "key",
        F.col("__fp.content_fp").alias("content_fp", metadata={"computed": want_content}),
        F.col("__fp.phash").alias("phash", metadata={"computed": want_phash}),
        F.col("__fp.frames").alias("frames", metadata={"computed": want_frames}),
        F.col("__fp.subfp").alias("subfp", metadata={"computed": want_subfp}),
        "__fp.err",
    )


def _require_computed_part(fps: DataFrame, part: str, op: str) -> None:
    """Raise if ``fps`` verifiably lacks a COMPUTED ``part`` column: absent
    column, or an audio_fingerprints table whose metadata says the part was
    not requested. Hand-built fingerprint tables without metadata pass (we
    cannot know). Guards against the silent-recall-0 composition where a
    verify/candidate stage inner-joins against all-NULL fingerprints."""
    if part not in fps.columns:
        raise ValueError(
            f"{op} requires a '{part}' column in fps "
            f"(audio_fingerprints parts including '{part}')"
        )
    md = fps.schema[part].metadata or {}
    if md.get("computed") is False:
        raise ValueError(
            f"{op}: fps was built WITHOUT '{part}' (audio_fingerprints "
            f"parts did not include it) — every candidate would be "
            f"silently dropped; re-fingerprint with parts including '{part}'"
        )


def audio_exact_duplicates(fps: DataFrame) -> DataFrame:
    """Duplicate-content groups → (canonical_key, n_clips), n_clips > 1.
    canonical_key = min key (the survivor). Decode failures (NULL
    fingerprint) never group."""
    return (
        fps.where(F.col("content_fp").isNotNull())
        .groupBy("content_fp")
        .agg(F.count(F.lit(1)).alias("n_clips"), F.min("key").alias("canonical_key"))
        .where(F.col("n_clips") > 1)
        .select("canonical_key", "n_clips")
    )


def audio_near_duplicates_frames(
    fps: DataFrame,
    min_matches: int = 8,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Frame-match perceptual near-dup pairs → (a_key, b_key, n_shared),
    a_key < b_key, n_shared >= min_matches shared half-subfingerprints.

    The Haitsma-Kalker search structure as a Spark plan: each clip's
    distinct tagged halves explode into bucket rows, the per-half grouping
    is the ONE shuffle (lsh_candidate_pairs counts mode — exactly the
    winnowing shape), and the shared-half tally is the score. Measured at
    1% additive noise (2 s clips): planted copies share >= 11 halves,
    unrelated signals <= 6 — min_matches=8 splits the distributions with
    margin. Prefer this over the clip-level phash radius for corpora past
    a few dozen clips (see _phash64's scope note).

    RECALL FLOOR: a clip carrying fewer than ``min_matches`` distinct
    tagged halves can never pair — at most 2 halves per frame, so clips
    shorter than ~``min_matches/2 + 1`` frames (≈ 0.35 s at the 1024/512
    framing) or heavily repetitive/silent audio (set semantics collapse
    repeated frames) fall below the bar. Lower ``min_matches`` for
    short-clip corpora, accepting more chance collisions, or route such
    clips to the exact content_fp path.

    HOT-HALF DEGENERACY (ADVICE r04): the bucket key is a single global
    16-bit half-subfingerprint — silent, constant, or heavily-clipped
    frames hash to the SAME few halves across much of a real corpus, so
    one hot half degrades the bucket join to a corpus-scale O(n²)
    self-join, exactly the boilerplate-bucket failure mode of the text
    LSH family. ``max_bucket_size`` therefore DEFAULTS to a cap (with the
    standard logged drop census): a half shared by more than ``cap`` clips
    carries no discriminative signal, the same reasoning as the
    simhash/minhash guidance. Pass ``None`` only for small corpora or
    oracle runs that must be exactly exhaustive."""
    from anzlic_validator_spark.operators.dedup import lsh_candidate_pairs

    ex = fps.where(F.col("frames").isNotNull()).select(
        F.col("key").alias("id"), F.explode("frames").alias("fp")
    )
    pairs = lsh_candidate_pairs(
        ex, ["fp"], ["id"], max_bucket_size, "audio_frame_lsh", counts=True
    )
    return (
        pairs.where(F.col("n_shared") >= min_matches)
        .select(F.col("a.id").alias("a_key"), F.col("b.id").alias("b_key"), "n_shared")
    )


def best_offset_ber(sa: Column, sb: Column, max_offset: int) -> Column:
    """Best-offset bit error rate of two ORDERED per-frame 32-bit
    subfingerprint sequences: align ``sa`` against ``sb`` at every frame
    offset in [-max_offset, max_offset] and take the lowest BER. An empty
    aligned overlap (offset exceeds a clip) scores 1.0. Pure Catalyst
    array lambdas — shared by the batch and incremental verify stages."""

    def ber_at(o):
        # overlap of sa shifted by o against sb: a[1+max(o,0) ...] vs
        # b[1+max(-o,0) ...], truncated to the common length
        sh_a = F.greatest(o, F.lit(0))
        sh_b = F.greatest(-o, F.lit(0))
        ln = F.least(F.size(sa) - sh_a, F.size(sb) - sh_b)
        bad = F.aggregate(
            F.zip_with(
                F.slice(sa, sh_a + 1, F.greatest(ln, F.lit(0))),
                F.slice(sb, sh_b + 1, F.greatest(ln, F.lit(0))),
                lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        return F.when(
            ln > 0, bad.cast("double") / (F.lit(32.0) * ln.cast("double"))
        ).otherwise(F.lit(1.0))

    return F.array_min(
        F.transform(
            F.sequence(F.lit(-int(max_offset)), F.lit(int(max_offset))),
            ber_at,
        )
    )


def audio_verify_pairs(
    cand: DataFrame,
    fps: DataFrame,
    a_col: str = "a_key",
    b_col: str = "b_key",
    max_ber: float = 0.25,
    max_offset: int = 2,
) -> DataFrame:
    """VERIFY stage for audio near-dup candidates (VERDICT r04 #3): the
    Haitsma-Kalker acceptance test the candidate stage's docstring promises.
    For each candidate pair, align the two clips' ORDERED per-frame 32-bit
    subfingerprint sequences (``subfp`` from audio_fingerprints) at every
    frame offset in [-max_offset, max_offset] and keep the pair iff the
    best alignment's bit error rate (``best_offset_ber``) is <= ``max_ber``.

    Why this threshold splits cleanly: a noisy COPY flips a small fraction
    of subfingerprint bits (measured ~0.05–0.15 BER at 1–3% additive
    noise), while UNRELATED audio agrees only by coin-flip (BER ≈ 0.5 with
    tight concentration over hundreds of frame-bits) — the 0.35 bar of
    Haitsma & Kalker 2002 sits between; 0.25 adds margin on the noise side
    for this fingerprint's band layout. Shared-half COUNTING (the candidate
    score) can be fooled by a few colliding halves; the BER over the whole
    aligned sequence cannot.

    Decode-free and pure Catalyst: one join per side moves subfp arrays
    for CANDIDATE pairs only (the verify-only-candidates discipline every
    text LSH family here follows), then the offset sweep runs as array
    lambdas inside codegen — no second decode, no Python. Pairs whose
    aligned overlap is empty (offset exceeds a clip) score BER 1.0 and are
    rejected. The incremental store path pins these joins instead
    (dedup_state.incremental_step).

    Returns (a_col, b_col, ber) with ber rounded to 4 decimals.
    """
    seqs = fps.where(F.col("subfp").isNotNull()).select(
        F.col("key"), F.col("subfp")
    )
    sa_side = seqs.select(F.col("key").alias(a_col), F.col("subfp").alias("__sa"))
    sb_side = seqs.select(F.col("key").alias(b_col), F.col("subfp").alias("__sb"))
    joined = cand.join(sa_side, a_col).join(sb_side, b_col)
    ber = best_offset_ber(F.col("__sa"), F.col("__sb"), max_offset)
    # filter on the UNROUNDED value (rounding first would admit pairs up to
    # max_ber + 5e-5 — one-sided toward acceptance; review r05), round only
    # for output
    return (
        joined.withColumn("__ber", ber)
        .where(F.col("__ber") <= F.lit(float(max_ber)))
        .select(a_col, b_col, F.round("__ber", 4).alias("ber"))
    )


def incremental_audio_dedup(
    new_clips: DataFrame,
    store_dir: str,
    key_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    sr_col: str = "sr_hz",
    commit: bool = True,
    run_id: int | None = None,
) -> DataFrame:
    """Cross-run incremental AUDIO content dedup — the audio-payload twin
    of operators/dedup_state.incremental_minhash_pairs, sharing its store
    layout (atomic run commits + meta guard + ``run_id`` retry idempotency:
    an explicit id replaces the retried attempt's own run and pairs only
    against strictly-older runs, so an at-least-once caller never
    accumulates duplicate store rows): a persisted
    (key, content_fp) store means run N+1 DECODES ONLY ITS NEW CLIPS —
    decode is the dominant cost of the audio pass, and old clips' bytes
    are structurally not an input — and matches them against stored
    fingerprints.

    Returns exact-content duplicate pairs ``(a_key, b_key)`` involving at
    least one new clip (a_key < b_key; new-vs-old and new-vs-new;
    old-vs-old was reported by the run that introduced it). Undecodable
    new clips (NULL content_fp) are committed to the store as NULL rows —
    they can never match — preserving the never-fail decode contract.

    Scale shape: one Arrow decode pass over the new batch only; the store
    read is a payload-free (key, 32-hex content_fp) parquet scan; ONE join
    on content_fp with the small new side broadcastable against a
    10^12-row store."""
    from anzlic_validator_spark.operators.dedup_state import incremental_step

    return incremental_step(
        new_clips,
        store_dir,
        {"kind": "audio_content_fp"},
        lambda df: audio_fingerprints(
            df, key_col, bytes_col, codec_col, sr_col, parts=("content_fp",)
        ).select("key", "content_fp"),
        commit,
        run_id,
        id_col="key",
        bucket_rows=lambda fps: fps.where(F.col("content_fp").isNotNull()),
        keys=["content_fp"],
        cap=None,
        what="incremental_audio_dedup",
        out=("a_key", "b_key"),
    )


def incremental_audio_neardup(
    new_clips: DataFrame,
    store_dir: str,
    key_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    sr_col: str = "sr_hz",
    min_matches: int = 2,
    max_ber: float = 0.25,
    max_offset: int = 2,
    max_bucket_size: int | None = 10_000,
    commit: bool = True,
    run_id: int | None = None,
) -> DataFrame:
    """Cross-run incremental PERCEPTUAL audio near-dup: the verified
    frame-match pipeline (candidates by shared tagged halves → best-offset
    BER accept) against a persisted (key, frames, subfp) store — run N+1
    decodes only its new clips and finds near-duplicates of anything ever
    ingested. Returns (a_key, b_key, ber) pairs involving >= 1 new clip.

    Store kind is distinct from the exact content store (the shared meta
    guard refuses to mix them). New-vs-new shared-half counts use DISTINCT
    halves per pair — the asymmetric join sees both orientations of a
    new-new pair, which would otherwise double the score.

    Hot-half degeneracy at scale: handled by the shared
    ``dedup_state.incremental_step`` cap — once the store holds prior runs,
    its side is first restricted to halves TOUCHED by the new batch (so
    the census and join scan only the relevant slice of a 10^12-clip
    store), then halves with more than ``max_bucket_size`` carriers among
    those are dropped with the advisory accumulator census of
    ``dedup.drop_hot_buckets`` (never silent, but retries can inflate it).
    The BER verify (``best_offset_ber``) is decode-free: it reads the
    stored subfp sequences through the step's pinned verify joins."""
    from anzlic_validator_spark.operators.dedup_state import Verify, incremental_step

    return incremental_step(
        new_clips,
        store_dir,
        {"kind": "audio_neardup_fp"},
        lambda df: audio_fingerprints(
            df, key_col, bytes_col, codec_col, sr_col, parts=("frames", "subfp")
        ).select("key", "frames", "subfp"),
        commit,
        run_id,
        id_col="key",
        bucket_rows=lambda fps: fps.where(F.col("frames").isNotNull()).select(
            "key", F.explode("frames").alias("fp")
        ),
        keys=["fp"],
        cap=max_bucket_size,
        what="incremental_audio_neardup",
        out=("a_key", "b_key"),
        min_shared=min_matches,
        verify=Verify(
            ("subfp",),
            lambda a, b: best_offset_ber(a("subfp"), b("subfp"), max_offset),
            lambda ber: ber <= F.lit(float(max_ber)),
            "ber",
        ),
    )


def audio_near_duplicates_verified(
    fps: DataFrame,
    min_matches: int = 2,
    max_bucket_size: int | None = 10_000,
    max_ber: float = 0.25,
    max_offset: int = 2,
) -> DataFrame:
    """Candidates → verify, composed: shared-tagged-half candidate pairs
    (``audio_near_duplicates_frames``) filtered by the best-offset BER test
    (``audio_verify_pairs``). ``fps`` must carry ``frames`` AND ``subfp``
    (audio_fingerprints ``parts=("frames", "subfp")``).

    With the verify stage on, ``min_matches`` drops from the unverified 8
    to a RECALL bar of 2: measured at 2 % additive noise (2 s clips) the
    candidate score alone no longer separates (planted copies can share as
    few as 2 halves while unrelated clips reach 8 by chance) — the BER
    margin (≤ 0.16 planted vs ≥ 0.34 unrelated) is what decides, so
    candidates only need to PROPOSE every true pair cheaply. False
    candidates cost one array comparison each, never a decode.

    The fingerprint table feeds the bucket explode and both sides of the
    verify join — three consumers of the decode UDF's output — so it is
    persisted (MEMORY_AND_DISK; rows are key + fingerprint arrays, never
    audio bytes), which keeps decode-once true. Same ownership contract as
    ``dedup.minhash_near_duplicates``: the operator never sees the
    consuming action, so long-lived sessions unpersist or
    ``spark.catalog.clearCache()`` after consuming."""
    _require_computed_part(fps, "frames", "audio_near_duplicates_verified")
    _require_computed_part(fps, "subfp", "audio_near_duplicates_verified")
    fps = fps.persist(StorageLevel.MEMORY_AND_DISK)
    cand = audio_near_duplicates_frames(fps, min_matches, max_bucket_size).select(
        "a_key", "b_key"
    )
    return audio_verify_pairs(cand, fps, max_ber=max_ber, max_offset=max_offset)


def audio_near_duplicates(
    fps: DataFrame,
    max_hamming: int = 6,
    n_tables: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Perceptual near-dup pairs → (a_key, b_key, hamming), a_key < b_key,
    Hamming(phash) <= max_hamming. Same pigeonhole sub-key LSH as SimHash
    (n_tables > max_hamming ⇒ candidate recall is exact)."""
    from anzlic_validator_spark.operators.dedup import hamming_lsh_pairs

    sigs = fps.where(F.col("phash").isNotNull()).select(
        F.col("key").alias("id"), F.col("phash").alias("sig")
    )
    return hamming_lsh_pairs(
        sigs, max_hamming=max_hamming, n_tables=n_tables,
        max_bucket_size=max_bucket_size, what="audio_phash_lsh",
    ).select(
        F.col("a_id").alias("a_key"), F.col("b_id").alias("b_key"), "hamming"
    )
