"""Expected outputs, derived without the engine.

``validation_census`` rebuilds every row of ``synth.clips`` and its
``transcript_index`` from the generator's own per-row function, applies the
catalog's rule semantics in plain Python, and returns the exact multiset of
(key, rule_id) violation rows plus rows / failed_rows / violations. The
audio rule outcomes follow from the anomaly category of each row
(``synth.CATEGORIES``), not from decoding. No count is pinned as a golden:
the drift rule's single table-level row is derived from the KS distance of
the generated ``dur_ms`` column against the catalog baseline.

``neardup_batches`` is the near-dup workload's generator: multi-tone
signals with continuous random frequencies (not ``ref_signal``'s 40 tone
classes), so the only near-duplicates in the corpus are the planted noisy
copies, and the expected pair set is exactly the planted set.
"""

from __future__ import annotations

import collections
import re

import numpy as np

from anzlic_validator_spark import synth

CATALOG_EXTRA = """
  - id: dur_ms.drift
    type: drift
    column: dur_ms
    max_ks: {max_ks}
    baseline: {{probs: {probs}, quantiles: {quantiles}}}
"""
# the drift baseline: a dur_ms profile skewed shorter than synth's uniform
# 200..2000 ms, so the table-level drift row is part of every output
DRIFT_PROBS = [0.1, 0.25, 0.5, 0.75, 0.9]
DRIFT_QUANTILES = [320.0, 500.0, 800.0, 1100.0, 1280.0]
DRIFT_MAX_KS = 0.1

_FORMAT = re.compile(r"^clip-\d{12}$")
_CODECS = set(synth.CODECS)
_SRS = set(synth.SRS)
_MAPPING = {"pcm_s16le": "pcm_s16le", "wav": "wav", "flac": "flac", "flacz": "flac"}

# audio_decode outcome per anomaly category (functions/audio.py checks)
_AUDIO_BY_CATEGORY = {
    "bad_codec": ("decode",),      # unknown codec
    "corrupt": ("decode",),        # truncated payload
    "sr_mismatch": ("sr", "dur", "snr"),  # stream rate is twice the column's
    "dur_mismatch": ("dur",),
    "low_snr": ("snr",),
}


def catalog_text(base_yaml: str, seed: int) -> str:
    """``rules_default.yaml`` with ``ref_seed`` set to the workload seed, plus
    the ``dur_ms`` drift rule (together BASELINE.json's full catalog)."""
    if "ref_seed: 42" not in base_yaml:
        raise ValueError("rules_default.yaml no longer pins ref_seed: 42")
    text = base_yaml.replace("ref_seed: 42", f"ref_seed: {int(seed)}")
    return text.rstrip("\n") + "\n" + CATALOG_EXTRA.format(
        max_ks=DRIFT_MAX_KS, probs=DRIFT_PROBS, quantiles=DRIFT_QUANTILES
    )


MISSING_EVERY, MISMATCH_EVERY = 101, 97  # synth.transcript_index defaults


def _index(n_rows: int) -> dict:
    """``synth.transcript_index`` as a dict clip_id → (transcript_ref, codec)."""
    out = {}
    for i in range(n_rows):
        if i % MISSING_EVERY == MISSING_EVERY - 1:
            continue
        t = synth._transcript(i)
        if i % MISMATCH_EVERY == MISMATCH_EVERY - 1:
            t += " extra"
        out[f"clip-{i:012d}"] = (t, synth.CODECS[i % len(synth.CODECS)])
    return out


def validation_census(n_rows: int, seed: int) -> dict:
    rows = []
    for i in range(n_rows):
        r = synth._clip_row(i, seed, with_audio=False)
        cat = synth.category_of(i)
        # a 'dup' row is a copy of the last correct row before its window
        src = i
        while synth.category_of(src) == "dup":
            src -= 1
        rows.append((r, synth.category_of(src) if cat == "dup" else cat))
    index = _index(n_rows)
    keys = collections.Counter(r["clip_id"] for r, _ in rows)

    viol: collections.Counter = collections.Counter()
    for r, cat in rows:
        key, codec, t = r["clip_id"], r["codec"], r["transcript"]
        found = []
        if keys[key] > 1:
            found.append("clip_id.unique.incorrect")
        if not _FORMAT.match(key):
            found.append("clip_id.format.incorrect")
        if codec not in _CODECS:
            found.append("codec.in_set.incorrect")
        if int(r["sr_hz"]) not in _SRS:
            found.append("sr_hz.in_set.incorrect")
        if not 100 <= int(r["dur_ms"]) <= 30000:
            found.append("dur_ms.range.incorrect")
        if t is None:
            found.append("transcript.exists.missing")
        elif not t.strip():
            found.append("transcript.exists.empty")
        ref = index.get(key)
        if ref is None:
            found.append("transcript.referential.missing_ref")
        else:
            if t != ref[0]:
                found.append("transcript.referential.incorrect")
            if codec != _MAPPING[ref[1]]:
                found.append("codec.referential_mapped.incorrect")
        found.extend(f"clips.audio.{c}" for c in _AUDIO_BY_CATEGORY.get(cat, ()))
        for rule_id in found:
            viol[(key, rule_id)] += 1

    per_key = collections.Counter()
    for (key, _rule), n in viol.items():
        per_key[key] += n
    durs = np.array([int(r["dur_ms"]) for r, _ in rows], dtype=np.float64)
    ks = max(abs(float((durs <= q).mean()) - p) for p, q in zip(DRIFT_PROBS, DRIFT_QUANTILES))
    table = collections.Counter()
    if ks > DRIFT_MAX_KS:
        table[("__table__", "dur_ms.drift.incorrect")] = 1
    return {
        "record_violations": viol,
        "table_violations": table,
        "rows": len(keys),
        "failed_rows": len(per_key),
        "violations": sum(viol.values()),
    }


# ------------------------------------------------------------ near-dup corpus

ND_SR = 8000
ND_SAMPLES = 2 * ND_SR  # 2 s clips: enough frames that every copy shares halves
ND_COPY_NOISE = 0.01


def nd_signal(seed: int, gid: int) -> np.ndarray:
    """Three tones at continuous random frequencies plus a noise floor."""
    rng = np.random.Generator(
        np.random.Philox(key=np.uint64(seed) * np.uint64(1_000_003) + np.uint64(gid))
    )
    t = np.arange(ND_SAMPLES, dtype=np.float32) / np.float32(ND_SR)
    x = np.zeros(ND_SAMPLES, dtype=np.float32)
    for f, a, ph in zip(rng.uniform(120, 3800, 3), rng.uniform(0.05, 0.3, 3), rng.uniform(0, 6.28, 3)):
        x += np.float32(a) * np.sin(np.float32(2 * np.pi * f) * t + np.float32(ph))
    x += np.float32(0.05) * rng.standard_normal(ND_SAMPLES, dtype=np.float32)
    return np.clip(x, -1.0, 1.0)


def neardup_batches(seed: int, n_batches: int, per_batch: int, copy_share: float):
    """→ (batches, planted): each batch a list of (clip_id, bytes, codec,
    sr_hz); from the second batch on, ``copy_share`` of every batch is noisy
    copies of distinct earlier originals, re-encoded under a new key and a
    different codec. ``planted`` is the set of (a_key, b_key) pairs, a < b."""
    from anzlic_validator_spark.functions.audio import encode

    codecs = synth.CODECS
    pick = np.random.default_rng(seed)
    batches, planted, originals = [], set(), []
    for b in range(n_batches):
        n_copy = int(round(per_batch * copy_share)) if b else 0
        sources = pick.choice(len(originals), n_copy, replace=False).tolist() if n_copy else []
        chosen = [originals[s] for s in sources]
        taken = set(sources)
        originals = [o for k, o in enumerate(originals) if k not in taken]
        rows = []
        for j in range(per_batch - n_copy):
            gid = b * per_batch + j
            codec = codecs[gid % len(codecs)]
            key = f"nd{seed}-b{b}-{j:05d}"
            rows.append((key, encode(nd_signal(seed, gid), ND_SR, codec), codec, ND_SR))
            originals.append((key, gid))
        for c, (okey, gid) in enumerate(chosen):
            noise = np.random.Generator(
                np.random.Philox(key=np.uint64(seed) * np.uint64(7919) + np.uint64(b * 100_000 + c))
            )
            x = nd_signal(seed, gid) + np.float32(ND_COPY_NOISE) * noise.standard_normal(
                ND_SAMPLES, dtype=np.float32
            )
            codec = codecs[(gid + 1) % len(codecs)]
            key = f"nd{seed}-b{b}-copy{c:05d}"
            rows.append((key, encode(np.clip(x, -1.0, 1.0), ND_SR, codec), codec, ND_SR))
            planted.add((min(okey, key), max(okey, key)))
        batches.append(rows)
    return batches, planted
