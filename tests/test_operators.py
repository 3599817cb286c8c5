"""Dataset-level operators: uniqueness (R10/R19), referential (R13/R14),
all_of set-cover (R7/R8), drift (KS vs baseline)."""

import pytest
from pyspark.sql import Row

from anzlic_validator_spark.engine import validate
from anzlic_validator_spark.operators.drift import ks_distance_df
from anzlic_validator_spark.operators.profile import profile, quantile_profile, value_histogram
from anzlic_validator_spark.operators.uniqueness import duplicate_keys
from anzlic_validator_spark.rules import parse_catalog


def test_unique_violations(spark):
    df = spark.createDataFrame(
        [Row(k="a", x=1), Row(k="b", x=2), Row(k="a", x=3), Row(k="a", x=4), Row(k="c", x=5)]
    )
    cat = parse_catalog({"rules": [{"id": "k.unique", "type": "unique", "columns": ["k"]}]})
    rows = validate(df, cat, key_col="k").violations.collect()
    assert len(rows) == 3  # one violation per offending record
    assert all(r.rule_id == "k.unique.incorrect" and r.key == "a" for r in rows)
    assert all(r.observed == "count=3" for r in rows)


def test_duplicate_keys_salted(spark):
    # heavy skew: one key holds half the table
    data = [("hot",)] * 500 + [(f"k{i}",) for i in range(500)]
    df = spark.createDataFrame(data, "k string")
    dupes = duplicate_keys(df, ["k"]).collect()
    assert len(dupes) == 1 and dupes[0].k == "hot" and dupes[0].n == 500


@pytest.mark.parametrize("broadcast", [False, True])
def test_referential(spark, broadcast):
    # broadcast=False runs the pruned authority join, broadcast=True the
    # join fused into the single scan: both must give the same rows
    df = spark.createDataFrame(
        [Row(k="a", v="x"), Row(k="b", v="y"), Row(k="c", v="z")]
    )
    ref = spark.createDataFrame([Row(rk="a", rv="x"), Row(rk="b", rv="Y")])
    cat = parse_catalog(
        {
            "rules": [
                {
                    "id": "v.ref",
                    "type": "referential",
                    "column": "v",
                    "key": "k",
                    "ref_table": "authority",
                    "ref_key": "rk",
                    "ref_column": "rv",
                    "broadcast": broadcast,
                }
            ]
        }
    )
    rows = validate(df, cat, key_col="k", refs={"authority": ref}).violations.collect()
    assert len(rows) == 2
    v = {r.key: r for r in rows}
    assert "a" not in v
    assert v["b"].rule_id == "v.ref.incorrect" and v["b"].observed == "y" and v["b"].expected == "Y"
    assert v["c"].rule_id == "v.ref.missing_ref"


@pytest.mark.parametrize("broadcast", [False, True])
def test_referential_mapped(spark, broadcast):
    df = spark.createDataFrame([Row(k="a", v="grid"), Row(k="b", v="vector"), Row(k="c", v="x")])
    ref = spark.createDataFrame(
        [Row(rk="a", kind="raster"), Row(rk="b", kind="table"), Row(rk="c", kind="weird")]
    )
    cat = parse_catalog(
        {
            "rules": [
                {
                    "id": "v.map",
                    "type": "referential_mapped",
                    "column": "v",
                    "key": "k",
                    "ref_table": "authority",
                    "ref_key": "rk",
                    "ref_column": "kind",
                    "mapping": {"raster": "grid", "grid": "grid", "table": "textTable", "vector": "vector"},
                    "broadcast": broadcast,
                }
            ]
        }
    )
    rows = validate(df, cat, key_col="k", refs={"authority": ref}).violations.collect()
    assert len(rows) == 2
    v = {r.key: r for r in rows}
    assert "a" not in v  # raster→grid matches
    assert v["b"].rule_id == "v.map.incorrect" and v["b"].expected == "textTable"
    assert v["c"].rule_id == "v.map.unmapped"


def test_all_of_grouped(spark):
    df = spark.createDataFrame(
        [Row(g="g1", v="a"), Row(g="g1", v="b"), Row(g="g2", v="a")]
    )
    cat = parse_catalog(
        {
            "rules": [
                {"id": "cover", "type": "all_of", "column": "v", "values": ["a", "b"], "group_by": ["g"]}
            ]
        }
    )
    rows = validate(df, cat, key_col="g").violations.collect()
    assert len(rows) == 1
    # group keys live in the reserved "__" namespace (never record keys)
    assert rows[0].key == "__group__|g2" and rows[0].observed == "Missing [b]"


def test_all_of_array_column(spark):
    df = spark.createDataFrame([Row(k="ok", tags=["a", "b"]), Row(k="miss", tags=["a"])])
    cat = parse_catalog(
        {"rules": [{"id": "tags.cover", "type": "all_of", "column": "tags", "values": ["a", "b"]}]}
    )
    rows = validate(df, cat, key_col="k").violations.collect()
    assert len(rows) == 1 and rows[0].key == "miss" and rows[0].observed == "Missing [b]"


def test_ks_distance_and_drift(spark):
    base = spark.range(0, 10000).selectExpr("cast(id % 100 as double) as v")
    probs = [0.25, 0.5, 0.75]
    quantiles = [24.0, 49.0, 74.0]
    ks_same = ks_distance_df(base, "v", probs, quantiles).collect()[0].ks
    assert ks_same == pytest.approx(0.0, abs=0.02)
    shifted = spark.range(0, 10000).selectExpr("cast(id % 100 as double) + 50.0 as v")
    ks_shift = ks_distance_df(shifted, "v", probs, quantiles).collect()[0].ks
    assert ks_shift > 0.4

    cat = parse_catalog(
        {
            "rules": [
                {
                    "id": "v.drift",
                    "type": "drift",
                    "column": "v",
                    "max_ks": 0.1,
                    "baseline": {"probs": probs, "quantiles": quantiles},
                }
            ]
        }
    )
    assert validate(base, cat, key_col="v").violations.count() == 0
    rows = validate(shifted, cat, key_col="v").violations.collect()
    assert len(rows) == 1 and rows[0].key == "__table__" and "ks=" in rows[0].observed


def test_profile_and_histogram(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    prof = {(r.column, r.stat): r.value for r in profile(li, ["l_quantity", "l_returnflag"]).collect()}
    n = li.count()
    assert prof[("l_quantity", "n")] == n
    assert prof[("l_quantity", "nulls")] == 0
    assert prof[("l_quantity", "min")] >= 1.0
    assert ("l_returnflag", "blanks") in prof

    hist = value_histogram(li, "l_returnflag").collect()
    assert sum(r.n for r in hist) == n
    assert {r.value for r in hist} <= {"A", "N", "R"}

    qp = quantile_profile(li, ["l_quantity"], probs=[0.5])
    assert 20.0 <= qp["columns"]["l_quantity"]["quantiles"][0] <= 30.0


def test_partition_summary(spark, tmp_path):
    """Per-bucket metrics of run_validation reconcile with the verdicts: a
    duplicated key is one record, and a NULL key lands in a real bucket
    (xxhash64 of NULL is its seed) and is counted."""
    import json

    from anzlic_validator_spark.run import read_verdicts, run_validation

    rows = [Row(k=f"k{i}", v="x" if i % 3 else None) for i in range(30)]
    rows += [Row(k="k1", v=None), Row(k=None, v=None)]  # duplicate + NULL key
    df = spark.createDataFrame(rows, "k string, v string")
    doc = {"rules": [{"id": "v.exists", "type": "exists", "column": "v"}]}
    cat, out = tmp_path / "cat.json", tmp_path / "out"
    cat.write_text(json.dumps(doc))
    summ = run_validation(spark, df, str(cat), str(out), key_col="k", n_buckets=4)
    verd = validate(df, parse_catalog(doc), key_col="k").verdicts.collect()
    assert summ["rows"] == len(verd) == 31
    assert summ["failed_rows"] == sum(not r.passed for r in verd) == 12
    assert summ["violations"] == 12
    buckets = json.loads((out / "manifest.json").read_text())["buckets"]
    assert set(buckets) == {"0", "1", "2", "3"}
    assert sum(b["rows"] for b in buckets.values()) == 31
    assert sum(b["failed_rows"] for b in buckets.values()) == 12
    written = read_verdicts(spark, str(out)).collect()
    assert {r.bucket for r in written} <= set(range(4))  # no NULL partition
    assert [r.bucket for r in written if r.key is None] == [42 % 4]
