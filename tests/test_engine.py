"""Row-rule compiler + engine — fixture-category semantics mirror
tests/test_errorCheck.py: correct → no violations; each category → exactly
its violation class (MetadataNone/Empty/Incorrect ≙ .missing/.empty/.incorrect)."""

import pytest
from pyspark.sql import Row

from anzlic_validator_spark.engine import validate
from anzlic_validator_spark.rules import parse_catalog


def _viol_map(result):
    rows = result.violations.collect()
    out = {}
    for r in rows:
        out.setdefault(r.key, []).append((r.rule_id, r.observed, r.expected))
    return out


@pytest.fixture(scope="module")
def demo_df(spark):
    return spark.createDataFrame(
        [
            Row(k="ok", name="alice", kind="a", n=5, note="hello world", alt=None),
            Row(k="null_name", name=None, kind="a", n=5, note="hello", alt=None),
            Row(k="empty_name", name="  ", kind="a", n=5, note="hello", alt=None),
            Row(k="bad_kind", name="bob", kind="z", n=5, note="hello", alt=None),
            Row(k="big_n", name="carol", kind="b", n=99, note="hello", alt=None),
            Row(k="no_token", name="dave", kind="a", n=5, note="goodbye", alt=None),
            Row(k="both_set", name="erin", kind="a", n=5, note="hello", alt="x"),
            Row(k="cond_hit", name="fred", kind="c", n=3, note="hello", alt=None),
        ]
    )


CATALOG = {
    "rules": [
        {"id": "name.exists", "type": "exists", "column": "name"},
        {"id": "kind.in_set", "type": "in_set", "column": "kind", "values": ["a", "b", "c"]},
        {"id": "n.range", "type": "range", "column": "n", "min": 0, "max": 50},
        {"id": "note.contains", "type": "contains", "column": "note", "values": ["hello"]},
        {"id": "xor", "type": "not_both", "columns": ["name", "alt"]},
        {
            "id": "cond",
            "type": "conditional",
            "when": {"column": "kind", "equals": "c"},
            "then": {"type": "range", "column": "n", "min": 4},
        },
    ]
}


def test_row_rules_fire_per_category(spark, demo_df):
    res = validate(demo_df, parse_catalog(CATALOG), key_col="k")
    v = _viol_map(res)
    assert "ok" not in v
    assert v["null_name"] == [("name.exists.missing", "None", "present and non-empty")]
    assert v["empty_name"] == [("name.exists.empty", "''", "present and non-empty")]
    assert v["bad_kind"] == [("kind.in_set.incorrect", "z", "one of [a,b,c]")]
    assert v["big_n"] == [("n.range.incorrect", "99", "in [0,50]")]
    assert v["no_token"] == [("note.contains.incorrect", "goodbye", "contains [hello]")]
    assert ("xor.incorrect", "erin,x", "not both name and alt") in v["both_set"]
    assert v["cond_hit"] == [("cond.incorrect", "3", "in [4,None]")]


def test_verdicts_first_rule_in_catalog_order(spark, demo_df):
    res = validate(demo_df, parse_catalog(CATALOG), key_col="k")
    verdicts = {r.key: r for r in res.verdicts.collect()}
    assert verdicts["ok"].passed and verdicts["ok"].first_rule_id is None
    assert not verdicts["null_name"].passed
    assert verdicts["null_name"].first_rule_id == "name.exists.missing"
    # both_set violates only xor; first = xor
    assert verdicts["both_set"].first_rule_id == "xor.incorrect"
    assert verdicts["both_set"].n_violations == 1


def test_fail_fast_ranking_multi_violation(spark):
    # a row violating several rules: headline verdict = min catalog order
    df = spark.createDataFrame(
        [("multi", None, "z", 99, "x", None)],
        "k string, name string, kind string, n long, note string, alt string",
    )
    res = validate(df, parse_catalog(CATALOG), key_col="k")
    verd = res.verdicts.collect()[0]
    assert verd.n_violations == 4
    assert verd.first_rule_id == "name.exists.missing"


def test_allow_none_and_empty_modifiers(spark):
    df = spark.createDataFrame([Row(k="a", v=None), Row(k="b", v=" "), Row(k="c", v="bad")])
    cat = parse_catalog(
        {
            "rules": [
                {
                    "id": "v.val",
                    "type": "value",
                    "column": "v",
                    "value": "good",
                    "allow_none": True,
                    "allow_empty": True,
                }
            ]
        }
    )
    v = _viol_map(validate(df, cat, key_col="k"))
    assert set(v) == {"c"}
    assert v["c"] == [("v.val.incorrect", "bad", "good")]


def test_empty_scan_and_equal_fields(spark):
    df = spark.createDataFrame(
        [
            Row(k="ok", a="x", b="x", c="y"),
            Row(k="blank_c", a="x", b="x", c=""),
            Row(k="uneq", a="x", b="z", c="y"),
        ]
    )
    cat = parse_catalog(
        {
            "rules": [
                {"id": "scan", "type": "empty_scan", "columns": ["a", "b", "c"]},
                {"id": "eq", "type": "equal_fields", "columns": ["a", "b"]},
            ]
        }
    )
    v = _viol_map(validate(df, cat, key_col="k"))
    assert v["blank_c"] == [("scan.c.empty", "''", "non-empty")]
    assert v["uneq"] == [("eq.incorrect", "x,z", "all equal: a,b")]


def test_unknown_column_rejected(spark, demo_df):
    from anzlic_validator_spark.errors import InvalidConfigException

    with pytest.raises(InvalidConfigException, match="unknown columns"):
        validate(demo_df, parse_catalog({"rules": [{"type": "exists", "column": "nope"}]}), "k")


def test_format_rule(spark):
    df = spark.createDataFrame([Row(k="g", d="2020-01-02"), Row(k="b", d="2020/01/02")])
    cat = parse_catalog(
        {
            "rules": [
                {
                    "id": "date.fmt",
                    "type": "format",
                    "column": "d",
                    "pattern": r"^\d{4}(-\d{2}(-\d{2})?)?$",
                }
            ]
        }
    )
    v = _viol_map(validate(df, cat, key_col="k"))
    assert set(v) == {"b"}


def _exchanges_carrying(df, colname):
    """Formatted-plan Exchange nodes whose input/output mentions colname."""
    import re

    jvm = df.sparkSession._jvm
    plan = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    sections = re.split(r"\n\(\d+\) ", plan)
    return [s.splitlines()[0] for s in sections if s.startswith("Exchange") and colname in s]


def test_nonbroadcast_referential_never_shuffles_bytes(spark):
    """A sort-merge referential join must not drag the binary payload
    through its exchange: the non-broadcast path runs on a pruned
    (key, column) projection while the audio pass rides the single scan."""
    from anzlic_validator_spark.synth import clips, transcript_index

    df = clips(spark, 120, seed=42)
    idx = transcript_index(spark, 120, seed=42)
    cat = parse_catalog(
        {
            "rules": [
                {"id": "clips.audio", "type": "audio_decode", "ref_seed": 42},
                {
                    "id": "t.ref",
                    "type": "referential",
                    "column": "transcript",
                    "key": "clip_id",
                    "ref_table": "transcript_index",
                    "ref_key": "clip_id",
                    "ref_column": "transcript_ref",
                },
            ]
        }
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        v = validate(df, cat, key_col="clip_id", refs={"transcript_index": idx}).violations
        assert _exchanges_carrying(v, "bytes") == []
        assert v.count() >= 0  # plan executes
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_broadcast_referential_stays_fused(spark):
    """broadcast=True keeps the referential check on the single scan (no
    extra pass, no exchange at all for the join)."""
    from anzlic_validator_spark.synth import clips, transcript_index

    df = clips(spark, 120, seed=42, with_audio=False)
    idx = transcript_index(spark, 120, seed=42)
    cat = parse_catalog(
        {
            "rules": [
                {
                    "id": "t.ref",
                    "type": "referential",
                    "column": "transcript",
                    "key": "clip_id",
                    "broadcast": True,
                    "ref_table": "transcript_index",
                    "ref_key": "clip_id",
                    "ref_column": "transcript_ref",
                },
            ]
        }
    )
    v = validate(df, cat, key_col="clip_id", refs={"transcript_index": idx}).violations
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert v.count() >= 0


def test_broadcast_rules_sharing_authority_take_one_join(spark):
    """Two broadcast rules against one authority (same join key and ref
    key) share ONE fused join and give the rows each gives on its own."""
    df = spark.createDataFrame(
        [Row(k="a", v="x", w="grid"), Row(k="b", v="y", w="vector"), Row(k="c", v="z", w="x")]
    )
    ref = spark.createDataFrame(
        [Row(rk="a", rv="x", kind="raster"), Row(rk="b", rv="Y", kind="table")]
    )
    common = {"key": "k", "ref_table": "authority", "ref_key": "rk", "broadcast": True}
    rules = [
        {"id": "v.ref", "type": "referential", "column": "v", "ref_column": "rv", **common},
        {
            "id": "w.map",
            "type": "referential_mapped",
            "column": "w",
            "ref_column": "kind",
            "mapping": {"raster": "grid", "table": "textTable"},
            **common,
        },
    ]
    refs = {"authority": ref}
    both = validate(df, parse_catalog({"rules": rules}), key_col="k", refs=refs).violations
    plan = both._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 1
    separate = [
        r
        for rule in rules
        for r in validate(df, parse_catalog({"rules": [rule]}), key_col="k", refs=refs)
        .violations.collect()
    ]
    assert sorted(both.collect()) == sorted(separate)
    assert len(separate) == 4  # b, c for each rule


@pytest.mark.parametrize(
    "spec, table_global",
    [
        ({"type": "drift", "column": "n", "baseline": [1.0, 2.0]}, True),
        ({"type": "all_of", "column": "kind", "values": ["a"], "group_by": ["name"]}, True),
        ({"type": "all_of", "column": "kind", "values": ["a"]}, True),
        ({"type": "all_of", "column": "tags", "values": ["a"]}, False),
        ({"type": "unique", "columns": ["name"]}, False),
        (
            {"type": "referential", "column": "name", "key": "k", "ref_table": "t",
             "ref_key": "k", "ref_column": "v"},
            False,
        ),
    ],
    ids=["drift", "all_of_grouped", "all_of_scalar", "all_of_array", "unique", "referential"],
)
def test_table_global_predicate(spark, spec, table_global):
    """The one predicate the batch sweep and the stream share: a rule is
    table-global when its groups are not functions of the record key."""
    from anzlic_validator_spark.engine import is_table_global

    schema = spark.createDataFrame(
        [], "k string, name string, kind string, n double, tags array<string>"
    ).schema
    rule = parse_catalog({"rules": [{"id": "r", **spec}]}).rules[0]
    assert is_table_global(rule, schema) is table_global


@pytest.mark.parametrize(
    "spec",
    [
        {"type": "unique", "columns": ["nope"]},
        {"type": "all_of", "column": "kind", "values": ["a"], "group_by": ["nope"]},
        {"type": "referential", "column": "name", "key": "nope", "ref_table": "t",
         "ref_key": "k", "ref_column": "v"},
    ],
    ids=["unique_columns", "all_of_group_by", "referential_join_key"],
)
def test_unknown_dataset_rule_column_rejected(spark, demo_df, spec):
    from anzlic_validator_spark.errors import InvalidConfigException

    cat = parse_catalog({"rules": [{"id": "r", **spec}]})
    with pytest.raises(InvalidConfigException, match="unknown columns"):
        validate(demo_df, cat, "k", refs={"t": demo_df})


def test_any_of_disjunction(spark):
    """The reference's disjunctive conditional (validate.py:205-215):
    pass if ANY alternative passes, violate only when all fail."""
    df = spark.createDataFrame(
        [
            Row(k="bbox_ok", bbox="1 2 3 4", geo=None),
            Row(k="geo_ok", bbox=None, geo="North Island"),
            Row(k="both_ok", bbox="1 2 3 4", geo="North Island"),
            Row(k="neither", bbox=None, geo=None),
            Row(k="blank_both", bbox=" ", geo=""),
        ]
    )
    cat = parse_catalog(
        {
            "rules": [
                {
                    "id": "extent",
                    "type": "any_of",
                    "rules": [
                        {"type": "exists", "column": "bbox"},
                        {"type": "exists", "column": "geo"},
                    ],
                }
            ]
        }
    )
    v = _viol_map(validate(df, cat, key_col="k"))
    assert set(v) == {"neither", "blank_both"}
    assert v["neither"] == [
        ("extent.incorrect", "bbox=None; geo=None", "any of [bbox,geo]")
    ]
    assert v["blank_both"] == [
        ("extent.incorrect", "bbox=''; geo=''", "any of [bbox,geo]")
    ]


def test_conditional_any_of(spark):
    """when-guard + any_of 'then' — the exact reference rule shape."""
    df = spark.createDataFrame(
        [
            ("guarded_fail", "dataset", None, None),
            ("guarded_ok", "dataset", "1 2 3 4", None),
            ("unguarded", "series", None, None),
        ],
        "k string, lvl string, bbox string, geo string",
    )
    cat = parse_catalog(
        {
            "rules": [
                {
                    "id": "extent",
                    "type": "conditional",
                    "when": {"column": "lvl", "equals": "dataset"},
                    "then": {
                        "type": "any_of",
                        "rules": [
                            {"type": "exists", "column": "bbox"},
                            {"type": "exists", "column": "geo"},
                        ],
                    },
                }
            ]
        }
    )
    v = _viol_map(validate(df, cat, key_col="k"))
    assert set(v) == {"guarded_fail"}


def test_any_of_validation_errors(spark):
    from anzlic_validator_spark.errors import InvalidConfigException

    with pytest.raises(InvalidConfigException, match=">= 2 alternatives"):
        parse_catalog({"rules": [{"id": "x", "type": "any_of",
                                  "rules": [{"type": "exists", "column": "a"}]}]})
    with pytest.raises(InvalidConfigException, match="simple row rules"):
        parse_catalog({"rules": [{"id": "x", "type": "any_of", "rules": [
            {"type": "exists", "column": "a"},
            {"type": "unique", "columns": ["a"]},
        ]}]})
    # unknown columns inside any_of alternatives are caught before any job
    with pytest.raises(InvalidConfigException, match="unknown columns"):
        df = spark.createDataFrame([Row(k="a", b="x")])
        validate(df, parse_catalog({"rules": [{"id": "x", "type": "any_of", "rules": [
            {"type": "exists", "column": "b"},
            {"type": "exists", "column": "nope"},
        ]}]}), key_col="k")


def test_null_key_violations_surface(spark):
    """ADVICE r02 (low): a record with a NULL key column must keep its
    violations (startswith(NULL) is NULL → where() silently dropped them)
    and must not read as spuriously passed in verdicts."""
    from pyspark.sql import functions as F

    from anzlic_validator_spark.engine import is_record_key

    df = spark.createDataFrame(
        [(None, None, "z", 99, "goodbye", None), ("ok", "alice", "a", 5, "hello", None)],
        "k string, name string, kind string, n long, note string, alt string",
    )
    res = validate(df, parse_catalog(CATALOG), key_col="k")
    kept = res.violations.where(is_record_key("key"))
    null_viol = kept.where(F.col("key").isNull()).collect()
    assert {r.rule_id for r in null_viol} == {
        "name.exists.missing", "kind.in_set.incorrect",
        "n.range.incorrect", "note.contains.incorrect",
    }
    verd = {r.key: r for r in res.verdicts.collect()}
    assert verd["ok"].passed
    assert not verd[None].passed and verd[None].n_violations == 4
    assert verd[None].first_rule_id == "name.exists.missing"


def test_null_key_partition_summary_counts(spark, tmp_path):
    """Review r03: a NULL-keyed failing record must still count in the run
    metrics' rows/failed_rows (no passed=true with violations>0)."""
    import json

    from anzlic_validator_spark.run import run_validation

    df = spark.createDataFrame(
        [(None, None, "z", 99, "goodbye", None)],
        "k string, name string, kind string, n long, note string, alt string",
    )
    cat = tmp_path / "cat.json"
    cat.write_text(json.dumps(CATALOG))
    summ = run_validation(
        spark, df, str(cat), str(tmp_path / "out"), key_col="k", n_buckets=4
    )
    assert summ["rows"] == 1 and summ["failed_rows"] == 1
    assert summ["violations"] == 4
