"""Cross-run incremental dedup state: persisted minhash fingerprint store
(VERDICT r04 #2). The load-bearing claims:

- run N+1 fingerprints ONLY new rows (old text is not even an input — the
  pair plan after commit contains no tokenization at all, it scans the
  store parquet);
- run-1 store files are never rewritten by run 2 (append-only runs);
- pairs = new-vs-old + new-vs-new, never old-vs-old re-reports;
- parameter drift against an existing store raises instead of silently
  mixing incompatible signatures.
"""

import os
import re

import pytest
from pyspark.sql import functions as F

from anzlic_validator_spark.operators.dedup import report_hot_buckets
from anzlic_validator_spark.operators.dedup_state import (
    incremental_minhash_pairs,
    minhash_sigs,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vocab_doc(d: int, n_tok: int = 20) -> str:
    return " ".join(f"t{d * 100 + j}" for j in range(n_tok))


_CLIP_SCHEMA = "clip_id string, bytes binary, codec string, sr_hz int"


def _noisy_clip(key, j, noise_key=None, sr=8000):
    """2 s pcm clip of reference signal ``j``; ``noise_key`` adds a seeded
    2% additive-noise copy."""
    import numpy as np

    from anzlic_validator_spark.functions.audio import encode, ref_signal

    pcm = ref_signal(j, sr, 2 * sr, seed=21)
    if noise_key is not None:
        rng = np.random.Generator(np.random.Philox(key=np.uint64(noise_key)))
        pcm = np.clip(
            pcm + 0.02 * rng.standard_normal(len(pcm)).astype(np.float32), -1, 1
        )
    return (key, encode(pcm, sr, "pcm_s16le"), "pcm_s16le", sr)


def _vec_df(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )


def _file_state(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def test_two_run_store_pairs_and_immutability(spark, tmp_path):
    store = str(tmp_path / "store")
    base = _docs(spark, [(d, _vocab_doc(d)) for d in range(10)])
    p1 = incremental_minhash_pairs(base, store, "text", "doc_id")
    assert p1.count() == 0  # dup-free base corpus
    assert sorted(os.listdir(store)) == ["meta.json", "run_00000"]
    state1 = _file_state(os.path.join(store, "run_00000"))

    # run 2: one copy of doc 3, two copies of doc 4, one noisy copy of
    # doc 5 (2 of 20 tokens changed -> sig agreement well below 1, above .5)
    noisy5 = _vocab_doc(5).split(" ")
    noisy5[0], noisy5[10] = "zz1", "zz2"
    new = _docs(
        spark,
        [
            (103, _vocab_doc(3)),
            (204, _vocab_doc(4)),
            (304, _vocab_doc(4)),
            (505, " ".join(noisy5)),
        ],
    )
    p2 = incremental_minhash_pairs(
        new, store, "text", "doc_id", min_agreement=0.5
    )
    got = {(r.a_id, r.b_id): r.sig_sim for r in p2.collect()}
    assert set(got) == {(3, 103), (4, 204), (4, 304), (204, 304), (5, 505)}
    assert got[(3, 103)] == 1.0 and got[(4, 204)] == 1.0
    assert 0.4 <= got[(5, 505)] <= 0.95  # the estimator path, not exact-only

    # append-only: run-1 files untouched, run-2 holds exactly the new ids
    assert _file_state(os.path.join(store, "run_00000")) == state1
    assert sorted(os.listdir(store)) == ["meta.json", "run_00000", "run_00001"]
    r2 = spark.read.parquet(os.path.join(store, "run_00001"))
    assert sorted(r.id for r in r2.select("id").collect()) == [103, 204, 304, 505]

    # the pair plan re-fingerprints nothing: after commit it reads parquet
    # signatures — no split/tokenization expression anywhere in the plan
    plan = p2._jdf.queryExecution().executedPlan().toString()
    assert "split" not in plan and "Scan parquet" in plan

    # run 3 with no genuinely new duplicates: empty, store grows by one run
    p3 = incremental_minhash_pairs(
        _docs(spark, [(900, _vocab_doc(90))]), store, "text", "doc_id"
    )
    assert p3.count() == 0
    assert "run_00002" in os.listdir(store)


def test_store_meta_guard_and_band_divisibility(spark, tmp_path):
    store = str(tmp_path / "store")
    base = _docs(spark, [(1, _vocab_doc(1))])
    incremental_minhash_pairs(base, store, "text", "doc_id")
    with pytest.raises(ValueError, match="incompatible"):
        incremental_minhash_pairs(base, store, "text", "doc_id", shingle_k=2)
    with pytest.raises(ValueError, match="divide"):
        incremental_minhash_pairs(base, store, "text", "doc_id", n_bands=20)


def test_commit_false_writes_nothing(spark, tmp_path):
    store = str(tmp_path / "store")
    docs = _docs(spark, [(1, _vocab_doc(1)), (2, _vocab_doc(1))])
    pairs = incremental_minhash_pairs(
        docs, store, "text", "doc_id", commit=False
    ).collect()
    assert [(r.a_id, r.b_id) for r in pairs] == [(1, 2)]  # new-vs-new still found
    assert not os.path.exists(store)  # a what-if probe leaves no state


def test_incremental_audio_dedup_store(spark, tmp_path):
    """Audio twin of the minhash store: run 2 decodes only its new clips
    and matches codec-invariant content against STORED fingerprints; the
    pair plan contains no decode (no ArrowEvalPython) after commit; NULL
    fingerprints (decode failures) never match; run-1 store files are
    immutable."""
    from anzlic_validator_spark.functions.audio import encode, ref_signal
    from anzlic_validator_spark.operators.audio_dedup import incremental_audio_dedup

    sr = 8000

    def clip(key, j, codec, trunc=False):
        b = encode(ref_signal(j, sr, sr // 2, seed=11), sr, codec)
        if trunc:
            b = b[: len(b) // 3]
        return (key, b, codec, sr)

    schema = "clip_id string, bytes binary, codec string, sr_hz int"
    store = str(tmp_path / "astore")
    run1 = spark.createDataFrame(
        [clip("a0", 0, "pcm_s16le"), clip("a1", 1, "wav"), clip("a2", 2, "flac")],
        schema,
    )
    assert incremental_audio_dedup(run1, store).count() == 0
    state1 = _file_state(os.path.join(store, "run_00000"))
    run2 = spark.createDataFrame(
        [
            clip("b0", 0, "flac"),       # same signal as a0, other codec
            clip("b0x", 0, "wav"),       # second re-encode -> new-vs-new too
            clip("b9", 9, "wav"),        # fresh signal: no pair
            clip("bad", 1, "flac", trunc=True),  # decode error: no pair
        ],
        schema,
    )
    p2 = incremental_audio_dedup(run2, store)
    got = sorted((r.a_key, r.b_key) for r in p2.collect())
    assert got == [("a0", "b0"), ("a0", "b0x"), ("b0", "b0x")]
    assert _file_state(os.path.join(store, "run_00000")) == state1
    plan = p2._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "Scan parquet" in plan
    # the undecodable clip was committed as a NULL row (never-fail contract)
    r1 = spark.read.parquet(os.path.join(store, "run_00001"))
    bad = [r for r in r1.collect() if r.key == "bad"]
    assert len(bad) == 1 and bad[0].content_fp is None
    # parameter-kind guard shared with the text store
    with pytest.raises(ValueError, match="incompatible"):
        incremental_minhash_pairs(
            _docs(spark, [(1, _vocab_doc(1))]), store, "text", "doc_id"
        )


def test_explicit_run_id_retry_idempotent(spark, tmp_path):
    """Epoch-keyed commits: re-running run_id=1 (the at-least-once retry)
    replaces its own run, pairs only against strictly-older runs, and
    reproduces identical output — no self-matching against the first
    attempt's store entry, no extra run dirs."""
    store = str(tmp_path / "store")
    base = _docs(spark, [(d, _vocab_doc(d)) for d in range(5)])
    incremental_minhash_pairs(base, store, "text", "doc_id", run_id=0)
    new = _docs(spark, [(103, _vocab_doc(3))])
    first = sorted(
        (r.a_id, r.b_id)
        for r in incremental_minhash_pairs(
            new, store, "text", "doc_id", run_id=1
        ).collect()
    )
    retry = sorted(
        (r.a_id, r.b_id)
        for r in incremental_minhash_pairs(
            new, store, "text", "doc_id", run_id=1
        ).collect()
    )
    assert first == retry == [(3, 103)]
    assert sorted(d for d in os.listdir(store) if d.startswith("run_")) == [
        "run_00000", "run_00001"
    ]


def test_audio_store_run_id_retry_idempotent(spark, tmp_path):
    """Review r05: the audio store honors the same epoch-keyed retry
    semantics as the text twin — re-running run_id=1 replaces its own run
    and reproduces identical pairs."""
    from anzlic_validator_spark.functions.audio import encode, ref_signal
    from anzlic_validator_spark.operators.audio_dedup import incremental_audio_dedup

    sr = 8000

    def clip(key, j, codec):
        return (key, encode(ref_signal(j, sr, sr // 2, seed=11), sr, codec), codec, sr)

    schema = "clip_id string, bytes binary, codec string, sr_hz int"
    store = str(tmp_path / "astore")
    run1 = spark.createDataFrame([clip("a0", 0, "pcm_s16le")], schema)
    incremental_audio_dedup(run1, store, run_id=0)
    run2 = spark.createDataFrame([clip("b0", 0, "wav")], schema)
    first = sorted(
        (r.a_key, r.b_key)
        for r in incremental_audio_dedup(run2, store, run_id=1).collect()
    )
    retry = sorted(
        (r.a_key, r.b_key)
        for r in incremental_audio_dedup(run2, store, run_id=1).collect()
    )
    assert first == retry == [("a0", "b0")]
    assert sorted(d for d in os.listdir(store) if d.startswith("run_")) == [
        "run_00000", "run_00001"
    ]


def test_incremental_audio_neardup_store(spark, tmp_path):
    """Perceptual incremental audio near-dup: run 2's noisy copies pair
    against STORED frames/subfp (no re-decode of run 1 — plan has no
    ArrowEvalPython on the store side); new-vs-new half counts are not
    doubled (distinct-fp counting); the store kind is isolated from the
    content-fp store."""
    from anzlic_validator_spark.operators.audio_dedup import (
        incremental_audio_dedup,
        incremental_audio_neardup,
    )

    clip, schema = _noisy_clip, _CLIP_SCHEMA
    store = str(tmp_path / "nstore")
    run1 = spark.createDataFrame([clip("a0", 0), clip("a1", 1)], schema)
    assert incremental_audio_neardup(run1, store).count() == 0
    # run 2: two independent noisy copies of signal 0 -> new-vs-old pairs
    # for both AND the new-vs-new pair between them
    run2 = spark.createDataFrame(
        [clip("b0", 0, noise_key=7), clip("c0", 0, noise_key=8)], schema
    )
    p2 = incremental_audio_neardup(run2, store)
    got = sorted((r.a_key, r.b_key) for r in p2.collect())
    assert got == [("a0", "b0"), ("a0", "c0"), ("b0", "c0")]
    assert all(r.ber <= 0.25 for r in p2.collect())
    # the incremental plan decodes only the new batch: the store side is a
    # parquet scan. The lazy hot-bucket census tally is the ONLY Python in
    # the plan (r06) — any other ArrowEvalPython would be a decode re-run
    plan = p2._jdf.queryExecution().executedPlan().toString()
    py_nodes = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert all("tally_hot" in ln for ln in py_nodes)
    assert "Scan parquet" in plan
    # kind isolation: the content-fp store API refuses this store
    with pytest.raises(ValueError, match="incompatible"):
        incremental_audio_dedup(run2, store)


def test_dedup_stream_end_to_end(spark, tmp_path):
    """dedup_stream: 3 real micro-batches through foreachBatch; per-epoch
    pair sets match the planted copies; the store holds one run per epoch."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from anzlic_validator_spark.streaming.incremental import dedup_stream

    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    store = str(tmp_path / "store")
    os.makedirs(inp)
    epochs = [
        [(d, _vocab_doc(d)) for d in range(6)],
        [(100, _vocab_doc(100)), (103, _vocab_doc(3))],
        [(203, _vocab_doc(3)), (204, _vocab_doc(100))],
    ]
    now = _time.time()
    for e, rows in enumerate(epochs):
        tbl = pa.table(
            {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]},
            schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
        )
        p = os.path.join(inp, f"epoch{e}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (now - 600 + e * 120,) * 2)
    q = dedup_stream(
        spark, inp, "doc_id long, text string", store, out, ckpt,
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(300)
    got = {
        (r.a_id, r.b_id, r.epoch)
        for r in spark.read.parquet(f"{out}/pairs").collect()
    }
    assert got == {(3, 103, 1), (3, 203, 2), (103, 203, 2), (100, 204, 2)}
    assert sorted(d for d in os.listdir(store) if d.startswith("run_")) == [
        "run_00000", "run_00001", "run_00002"
    ]


def test_compact_store_folds_and_preserves_pairs(spark, tmp_path):
    """Store compaction (the fetch-history-merge analog): folding the run
    history into one dir changes NOTHING about subsequent pairing, deletes
    superseded runs, and run ids keep increasing past the fold's
    coverage."""
    from anzlic_validator_spark.operators.dedup_state import compact_store

    store = str(tmp_path / "store")
    for i in range(3):
        incremental_minhash_pairs(
            _docs(spark, [(10 * i + k, _vocab_doc(10 * i + k)) for k in range(3)]),
            store, "text", "doc_id",
        )
    fold = compact_store(spark, store)
    assert fold and fold.endswith("fold_00002")
    names = sorted(os.listdir(store))
    assert names == ["fold_00002", "meta.json"]  # runs superseded + deleted
    # a new batch pairs against the FOLD and commits as run_00003
    pairs = incremental_minhash_pairs(
        _docs(spark, [(900, _vocab_doc(11))]), store, "text", "doc_id"
    )
    assert [(r.a_id, r.b_id) for r in pairs.collect()] == [(11, 900)]
    assert "run_00003" in os.listdir(store)
    # re-compacting folds fold+run into fold_00003
    assert compact_store(spark, store).endswith("fold_00003")
    rows = spark.read.parquet(os.path.join(store, "fold_00003")).count()
    assert rows == 10  # 9 base + 1 new, duplicates collapsed


def test_compact_store_crash_safety_and_retry_horizon(spark, tmp_path):
    from anzlic_validator_spark.operators.dedup_state import (
        compact_store,
        store_live_inputs,
    )

    store = str(tmp_path / "store")
    incremental_minhash_pairs(
        _docs(spark, [(1, _vocab_doc(1))]), store, "text", "doc_id", run_id=0
    )
    incremental_minhash_pairs(
        _docs(spark, [(2, _vocab_doc(2))]), store, "text", "doc_id", run_id=1
    )
    # an ABORTED compaction (fold dir without its marker) is ignored: all
    # runs stay live and the next id is unaffected
    os.makedirs(os.path.join(store, "fold_00099"))
    dirs, next_id = store_live_inputs(store)
    assert [os.path.basename(d) for d in dirs] == ["run_00000", "run_00001"]
    assert next_id == 2
    os.rmdir(os.path.join(store, "fold_00099"))
    # real compaction up_to=0: run 1 stays individually retryable...
    compact_store(spark, store, up_to=0)
    retry = incremental_minhash_pairs(
        _docs(spark, [(2, _vocab_doc(2))]), store, "text", "doc_id", run_id=1
    )
    assert retry.count() == 0
    # ...but a retry BELOW the compaction horizon fails loudly
    with pytest.raises(ValueError, match="compaction horizon"):
        incremental_minhash_pairs(
            _docs(spark, [(1, _vocab_doc(1))]), store, "text", "doc_id", run_id=0
        )


def test_dedup_stream_auto_compaction(spark, tmp_path):
    """compact_every bounds per-batch store reads without changing output:
    same 3-epoch fixture as the uncompacted test, identical pairs, store
    ends as one fold + the last epoch's run."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from anzlic_validator_spark.streaming.incremental import dedup_stream

    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    store = str(tmp_path / "store")
    os.makedirs(inp)
    epochs = [
        [(d, _vocab_doc(d)) for d in range(6)],
        [(100, _vocab_doc(100)), (103, _vocab_doc(3))],
        [(203, _vocab_doc(3)), (204, _vocab_doc(100))],
    ]
    now = _time.time()
    for e, rows in enumerate(epochs):
        tbl = pa.table(
            {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]},
            schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
        )
        p = os.path.join(inp, f"epoch{e}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (now - 600 + e * 120,) * 2)
    q = dedup_stream(
        spark, inp, "doc_id long, text string", store, out, ckpt,
        max_files_per_trigger=1, compact_every=1,
    )
    assert q.awaitTermination(300)
    got = {
        (r.a_id, r.b_id, r.epoch)
        for r in spark.read.parquet(f"{out}/pairs").collect()
    }
    assert got == {(3, 103, 1), (3, 203, 2), (103, 203, 2), (100, 204, 2)}
    names = sorted(
        d for d in os.listdir(store) if d.startswith(("run_", "fold_"))
    )
    assert names == ["fold_00001", "run_00002"]


def test_incremental_embedding_neardup_store(spark, tmp_path):
    """Embedding twin of the fingerprint stores: stored rows carry vector
    + precomputed SRP buckets, so run 2's pair plan runs NO hashing UDF
    over the store (plan asserted); scaled copies pair with their source
    (cos 1.0) new-vs-old and new-vs-new; the store kind/params are
    guarded."""
    import numpy as np

    from anzlic_validator_spark.operators.similarity import (
        incremental_embedding_neardup,
    )

    rng = np.random.Generator(np.random.Philox(key=np.uint64(3)))
    vecs = rng.standard_normal((6, 16))

    def df(rows):
        return _vec_df(spark, rows)

    store = str(tmp_path / "estore")
    run1 = df([(i, vecs[i]) for i in range(6)])
    assert incremental_embedding_neardup(run1, store, dim=16).count() == 0
    run2 = df([(100, vecs[2] * 1.01), (200, vecs[2] * 0.5)])
    p2 = incremental_embedding_neardup(run2, store, dim=16)
    got = {(r.a_id, r.b_id): r.cos for r in p2.collect()}
    assert set(got) == {(2, 100), (2, 200), (100, 200)}
    assert all(c == 1.0 for c in got.values())
    plan = p2._jdf.queryExecution().executedPlan().toString()
    # census tally is the only Python node (r06); in particular the SRP
    # hashing UDF must never run over the store
    py_nodes = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln]
    assert all("tally_hot" in ln for ln in py_nodes)
    assert "srp_buckets" not in plan
    assert "Scan parquet" in plan
    # SRP param drift against an existing store raises
    with pytest.raises(ValueError, match="incompatible"):
        incremental_embedding_neardup(run2, store, dim=16, bits=4)
    # norms are stored at commit (verify never recomputes them per run)
    r0 = spark.read.parquet(os.path.join(store, "run_00000"))
    assert {"id", "v", "bkts", "nrm"} <= set(r0.columns)


def test_exclude_hot_buckets_census_and_drop(spark, caplog):
    """Review r05: the hand-rolled hot-bucket path must actually DROP and
    actually LOG. Identical-direction vectors land in one SRP bucket per
    table; with a cap below the carrier count every candidate disappears
    and the census warning fires; with the cap above, pairs return."""
    import logging

    import numpy as np

    from anzlic_validator_spark.operators.similarity import (
        incremental_embedding_neardup,
    )

    rng = np.random.Generator(np.random.Philox(key=np.uint64(9)))
    base_v = rng.standard_normal(16)

    def df(rows):
        return _vec_df(spark, rows)

    run1 = df([(i, base_v * (1.0 + 0.001 * i)) for i in range(4)])
    run2 = df([(100, base_v * 1.5)])
    report_hot_buckets()  # flush censuses armed by earlier tests
    with caplog.at_level(logging.WARNING,
                         logger="anzlic_validator_spark.operators.dedup"):
        import tempfile

        with tempfile.TemporaryDirectory() as d1:
            s = os.path.join(d1, "s")
            incremental_embedding_neardup(run1, s, dim=16, max_bucket_size=3)
            out = incremental_embedding_neardup(run2, s, dim=16, max_bucket_size=3)
            assert out.count() == 0  # every shared bucket is hot -> dropped
            # one bucket per SRP table (8), each with 4 stored + 1 new carriers
            assert report_hot_buckets() == [
                ("incremental_embedding_neardup", 3, 8, 40)
            ]
        with tempfile.TemporaryDirectory() as d2:
            s = os.path.join(d2, "s")
            incremental_embedding_neardup(run1, s, dim=16, max_bucket_size=100)
            out = incremental_embedding_neardup(run2, s, dim=16, max_bucket_size=100)
            assert out.count() == 4  # cap above carriers: all pairs back
            assert report_hot_buckets() == []
    assert any(
        "incremental_embedding_neardup: dropped 8 hot LSH buckets" in r.message
        for r in caplog.records
    )


def test_incremental_minhash_hot_band_cap(spark, tmp_path, caplog):
    """VERDICT r05 #1: the text store's band join is capped by
    incremental_step's hot-bucket drop. Staging a hot band (many identical
    docs in the store) and a cap below its carrier count must (a) drop
    every pair supported only by the hot bands, with the census logged,
    while (b) pairs in non-hot bands survive the same run."""
    import logging

    store = str(tmp_path / "store")
    # 8 identical docs (one band-key set shared by all) + 2 distinct docs
    base = _docs(
        spark,
        [(d, _vocab_doc(0)) for d in range(8)]
        + [(100, _vocab_doc(50)), (101, _vocab_doc(60))],
    )
    incremental_minhash_pairs(base, store, "text", "doc_id", max_bucket_size=5)
    # new batch: one more copy of the hot doc + one copy of a non-hot doc
    new = _docs(spark, [(900, _vocab_doc(0)), (901, _vocab_doc(50))])
    report_hot_buckets()  # flush censuses armed by earlier tests
    with caplog.at_level(
        logging.WARNING, logger="anzlic_validator_spark.operators.dedup"
    ):
        pairs = sorted(
            (r.a_id, r.b_id)
            for r in incremental_minhash_pairs(
                new, store, "text", "doc_id", max_bucket_size=5
            ).collect()
        )
        census = report_hot_buckets()
    # hot bands (9 carriers > cap 5) dropped -> no 900 pairs; the non-hot
    # copy pair (100, 901) survives
    assert pairs == [(100, 901)]
    # all 21 band keys of the hot doc, 9 carriers each
    assert census == [("incremental_minhash_pairs", 5, 21, 189)]
    assert any(
        "incremental_minhash_pairs: dropped 21 hot LSH buckets" in r.message
        for r in caplog.records
    )
    # cap above the carrier count: every pair comes back (fresh store so
    # run 2's history is identical)
    store2 = str(tmp_path / "store2")
    incremental_minhash_pairs(base, store2, "text", "doc_id")
    all_pairs = sorted(
        (r.a_id, r.b_id)
        for r in incremental_minhash_pairs(new, store2, "text", "doc_id").collect()
    )
    assert (100, 901) in all_pairs
    assert [(a, b) for a, b in all_pairs if b == 900] == [
        (d, 900) for d in range(8)
    ]


def _pin_case(spark, op):
    """(run-1 batch, run-2 batch, operator) of a healthy fixture: run 2
    plants duplicates of run-1 rows and no bucket is hot."""
    import numpy as np

    if op == "minhash":
        return (
            _docs(spark, [(d, _vocab_doc(d)) for d in range(5)]),
            _docs(spark, [(103, _vocab_doc(3))]),
            lambda df, s, **kw: incremental_minhash_pairs(df, s, "text", "doc_id", **kw),
        )
    if op == "embedding":
        from anzlic_validator_spark.operators.similarity import (
            incremental_embedding_neardup,
        )

        vecs = np.random.Generator(np.random.Philox(key=np.uint64(3))).standard_normal((6, 16))
        return (
            _vec_df(spark, [(i, vecs[i]) for i in range(6)]),
            _vec_df(spark, [(100, vecs[2] * 1.01)]),
            lambda df, s, **kw: incremental_embedding_neardup(df, s, dim=16, **kw),
        )
    from anzlic_validator_spark.operators.audio_dedup import incremental_audio_neardup

    return (
        spark.createDataFrame([_noisy_clip("a0", 0), _noisy_clip("a1", 1)], _CLIP_SCHEMA),
        spark.createDataFrame([_noisy_clip("b0", 0, noise_key=7)], _CLIP_SCHEMA),
        incremental_audio_neardup,
    )


@pytest.mark.parametrize("op", ["minhash", "embedding", "audio_neardup"])
def test_incremental_verify_join_plan_pinned(spark, tmp_path, op):
    """VERDICT r05 #2: the verify joins against the store table must be
    broadcast-hash with the candidate side as build — an AQE fallback to
    sort-merge would shuffle the whole store twice. Every verified store
    operator reaches the one pinned join in incremental_step; pin its
    executed plan: no sort-merge / shuffled-hash join anywhere, and the
    two verify joins appear as BroadcastHashJoins.

    The touched-bucket semi-restriction follows STORE STATE: absent on the
    empty-store run 1, present on a capped run 2; an uncapped run 2 has
    neither it nor the hot-bucket census, and finds the same pairs."""
    run1, run2, step = _pin_case(spark, op)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    capped, uncapped = str(tmp_path / "capped"), str(tmp_path / "uncapped")
    p1 = step(run1, capped)
    p1.collect()
    assert "LeftSemi" not in plan(p1)
    p2 = step(run2, capped)
    pairs = sorted(tuple(r) for r in p2.collect())
    assert pairs
    text = plan(p2)
    assert "SortMergeJoin" not in text
    assert "ShuffledHashJoin" not in text
    assert text.count("BroadcastHashJoin") >= 2
    assert "LeftSemi" in text and "tally_hot" in text
    # the pin, not AQE's size estimate, makes them broadcast: with
    # auto-broadcast off, both verify joins still build on the candidate side
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        probe = plan(step(run2, capped, commit=False))
    finally:
        spark.conf.set(key, old)
        spark.catalog.clearCache()
    verify_joins = re.findall(
        r"BroadcastHashJoin \[[ab]_(?:id|key)#\w+\], \[[ab]_(?:id|key)#\w+\], Inner, BuildLeft",
        probe,
    )
    assert len(verify_joins) == 2

    step(run1, uncapped, max_bucket_size=None).collect()
    p2n = step(run2, uncapped, max_bucket_size=None)
    assert sorted(tuple(r) for r in p2n.collect()) == pairs
    text_n = plan(p2n)
    assert "LeftSemi" not in text_n and "tally_hot" not in text_n
    assert "SortMergeJoin" not in text_n and "ShuffledHashJoin" not in text_n


def test_run_ids_past_five_digits_stay_visible(tmp_path):
    """Review r05: run id 100000 formats to 6 digits; the loader must list
    it (a fixed 5-digit pattern made it invisible — next_id would stall and
    every later commit would silently replace the same dir) and order dirs
    NUMERICALLY ('run_100000' sorts before 'run_99999' lexically)."""
    from anzlic_validator_spark.operators.dedup_state import (
        _newest_fold,
        store_live_inputs,
    )

    store = tmp_path / "store"
    for rid in (99998, 99999, 100000):
        (store / f"run_{rid:05d}").mkdir(parents=True)
    dirs, next_id = store_live_inputs(str(store))
    assert [os.path.basename(d) for d in dirs] == [
        "run_99998", "run_99999", "run_100000"
    ]
    assert next_id == 100001
    # fold coverage is also compared numerically
    for cov in (99999, 100000):
        f = store / f"fold_{cov:05d}"
        f.mkdir()
        (f / "_FOLDED").touch()
    assert _newest_fold(str(store))[1] == 100000
    dirs2, next_id2 = store_live_inputs(str(store))
    assert [os.path.basename(d) for d in dirs2] == ["fold_100000"]
    assert next_id2 == 100001


def test_minhash_sigs_match_store_reread(spark, tmp_path):
    """The signatures the verify stage reads back from parquet are the
    signatures the plan computed — i.e. sig arrays round-trip exactly."""
    docs = _docs(spark, [(7, _vocab_doc(7))])
    direct = minhash_sigs(docs, "text", "doc_id").collect()[0]
    p = str(tmp_path / "sig")
    minhash_sigs(docs, "text", "doc_id").write.parquet(p)
    reread = spark.read.parquet(p).collect()[0]
    assert direct.id == reread.id and list(direct.sig) == list(reread.sig)
