"""Property-based invariants (hypothesis) for the rule compiler + engine.

The reference has no property tests (SURVEY §5); these pin the engine's
contracts: every violation names a real record and a cataloged rule class,
verdicts partition the key set, the all-violations count is consistent with
fail-fast ranking, and the config parser round-trips/rejects as specified.
"""

import string

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from anzlic_validator_spark.engine import validate
from anzlic_validator_spark.errors import InvalidConfigException
from anzlic_validator_spark.rules import parse_catalog

KEYS = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=6)
VALS = st.one_of(st.none(), st.text(alphabet="ab ", max_size=4))
NUMS = st.one_of(st.none(), st.integers(min_value=-5, max_value=105))

CATALOG = parse_catalog(
    {
        "rules": [
            {"id": "v.exists", "type": "exists", "column": "v"},
            {"id": "v.in_set", "type": "in_set", "column": "v", "values": ["a", "b"],
             "allow_none": True, "allow_empty": True},
            {"id": "n.range", "type": "range", "column": "n", "min": 0, "max": 100,
             "allow_none": True},
            {"id": "k.unique", "type": "unique", "columns": ["k"]},
        ]
    }
)

VALID_CLASSES = {
    "v.exists.missing",
    "v.exists.empty",
    "v.in_set.incorrect",
    "n.range.incorrect",
    "k.unique.incorrect",
}


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(st.tuples(KEYS, VALS, NUMS), min_size=1, max_size=25),
)
def test_engine_invariants(spark, rows):
    df = spark.createDataFrame(rows, "k string, v string, n int")
    res = validate(df, CATALOG, key_col="k")
    viols = res.violations.collect()
    verdicts = res.verdicts.collect()
    keys = {r[0] for r in rows}

    # 1. every violation names a real record key and a cataloged rule class
    for v in viols:
        assert v.key in keys
        assert v.rule_id in VALID_CLASSES, v.rule_id

    # 2. verdicts partition the distinct key set exactly
    assert {r.key for r in verdicts} == keys
    assert len(verdicts) == len(keys)

    # 3. a key fails iff it has at least one violation
    failing = {v.key for v in viols}
    for r in verdicts:
        assert r.passed == (r.key not in failing)
        # 4. first_rule_id is one of the key's actual violations
        if not r.passed:
            assert r.first_rule_id in {v.rule_id for v in viols if v.key == r.key}

    # 5. uniqueness fires exactly for duplicated keys (per physical row)
    from collections import Counter

    key_counts = Counter(r[0] for r in rows)
    dup_rows = sum(c for c in key_counts.values() if c > 1)
    assert sum(1 for v in viols if v.rule_id == "k.unique.incorrect") == dup_rows


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.sampled_from(["a", "b", "c", "", None]), min_size=1, max_size=30)
)
def test_in_set_matches_python_model(spark, vals):
    """The in_set compiler agrees with a plain-Python model of the
    reference semantics (allChecks, errorChecker.py:340-408)."""
    rows = [(str(i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, v string")
    cat = parse_catalog(
        {"rules": [{"id": "r", "type": "in_set", "column": "v", "values": ["a", "b"]}]}
    )
    got = {(r.key, r.rule_id) for r in validate(df, cat, key_col="k").violations.collect()}
    want = set()
    for i, v in enumerate(vals):
        if v is None:
            want.add((str(i), "r.missing"))
        elif v.strip() == "":
            want.add((str(i), "r.empty"))
        elif v not in ("a", "b"):
            want.add((str(i), "r.incorrect"))
    assert got == want


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    spec=st.fixed_dictionaries(
        {"type": st.sampled_from(["exists", "in_set", "unique", "frob", "range"])},
        optional={
            "column": st.just("c"),
            "columns": st.just(["c"]),
            "values": st.just(["x"]),
            "bogus_key": st.just(1),
            "min": st.just(0),
        },
    )
)
def test_parser_never_accepts_garbage_silently(spec):
    """Config parser either raises InvalidConfigException or produces a rule
    whose type/spec round-trip — never a silently mangled rule."""
    try:
        cat = parse_catalog({"rules": [spec]})
    except InvalidConfigException:
        return
    assert len(cat.rules) == 1
    r = cat.rules[0]
    assert r.type == spec["type"]
    assert "bogus_key" not in r.spec


def test_all_on_config_fails_correct_rows(spark):
    """Stricter catalog → even 'correct' fixtures fail a designated rule
    (mirrors tests/test_errorCheck.py:83-94: correct layers under the
    all-True config must fail)."""
    import os

    from anzlic_validator_spark.rules import load_catalog
    from anzlic_validator_spark.synth import clips

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cat = load_catalog(os.path.join(repo, "configs/rules_all_on.yaml"))
    df = clips(spark, 300, seed=42, clean=True, with_audio=False, num_partitions=2)
    res = validate(df, cat, key_col="clip_id")
    verd = res.verdicts
    # codec.value forces pcm_s16le on everything → wav/flac rows fail
    assert verd.where("NOT passed").count() > 0
    failed_rules = {r.rule_id for r in res.violations.collect()}
    assert "codec.value.incorrect" in failed_rules


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    samples=st.lists(st.integers(min_value=-32768, max_value=32767), min_size=0, max_size=6000),
    sr=st.sampled_from([8000, 16000, 22050, 44100]),
)
def test_flac_roundtrip_property(samples, sr):
    """Any int16 signal round-trips the FLAC codec exactly (lossless)."""
    import numpy as np

    from anzlic_validator_spark.functions.flac import decode_flac, encode_flac

    x = np.array(samples, dtype=np.int16)
    y, sr_out = decode_flac(encode_flac(x, sr))
    assert sr_out == sr
    assert np.array_equal(x, y)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    shared=st.lists(st.sampled_from("abcdefgh"), min_size=6, max_size=10),
    pre=st.lists(st.sampled_from("pqrstuv"), min_size=0, max_size=5),
    post=st.lists(st.sampled_from("wxyz"), min_size=0, max_size=5),
)
def test_winnow_shared_run_guarantee(spark, shared, pre, post):
    """Winnowing guarantee: a shared token run of length >= w + k - 1
    (here 6 with k=3, w=4) always yields at least one shared fingerprint,
    regardless of surrounding context."""
    from anzlic_validator_spark.operators.text import winnow_fingerprints

    doc_a = " ".join(shared)
    doc_b = " ".join(pre + shared + post)
    df = spark.createDataFrame([(1, doc_a), (2, doc_b)], "doc_id long, text string")
    fps = winnow_fingerprints(df, "text", "doc_id").collect()
    a = {r.fp for r in fps if r.doc_id == 1}
    b = {r.fp for r in fps if r.doc_id == 2}
    assert a & b


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=0,
        max_size=60,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Property: connected_components equals a pure-Python union-find on
    arbitrary graphs (self-loops and duplicate edges included)."""
    from anzlic_validator_spark.operators.clusters import connected_components

    pairs = [(a, b) for a, b in edges]
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    expected = {x: find(x) for x in parent}

    df = spark.createDataFrame(pairs, "a_id long, b_id long") if pairs else (
        spark.createDataFrame([], "a_id long, b_id long")
    )
    got = {r.id: r.cluster_id for r in connected_components(df).collect()}
    assert got == expected


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 3)),
        min_size=0,
        max_size=40,
        unique=True,
    )
)
def test_lsh_capped_expansion_matches_uncapped(spark, rows):
    """Property: with a cap above every bucket, the incremental collect_list
    expansion emits exactly the self-join strategy's pair set (and counts);
    with a binding cap, the result is a subset."""
    from anzlic_validator_spark.operators.dedup import lsh_candidate_pairs

    df = spark.createDataFrame(
        [(i, 0, b) for i, b in rows], "id long, tbl int, bkt long"
    )

    def pairs(cap, counts=False):
        out = lsh_candidate_pairs(df, ["tbl", "bkt"], ["id"], cap, "prop", counts=counts)
        if counts:
            return {(r.a.id, r.b.id): r.n_shared for r in out.collect()}
        return {(r.a.id, r.b.id) for r in out.collect()}

    assert pairs(100) == pairs(None)
    assert pairs(100, counts=True) == pairs(None, counts=True)
    assert pairs(2) <= pairs(None)
