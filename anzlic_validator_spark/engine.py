"""Engine orchestration: DataFrame + rule catalog → violations + verdicts.

Lifecycle mirrors the reference's check() sequence (linz_metadata.py:1956-2101
and scripts/validate.py:419-458 process loop): rule-catalog pass → schema/
decode pass → conditional pass → verdict per record, except everything is ONE
declarative Spark plan:

    row rules    -> a single projection: array(rule_structs) → filter nulls
                    → explode  (whole-stage codegen, zero shuffle)
    dataset rules-> routed by rule_path(): fused into that scan
                    (audio_decode's Arrow pandas UDF, broadcast referential
                    joins), a pruned authority join (other referential
                    rules), or their own pass — uniqueness (one
                    map-side-combined agg + join-back), all_of (grouped
                    collect_set), drift (grid aggregate)
    violations   = UNION ALL of the above
    verdicts     = keys LEFT JOIN min-rule-order violation   (the reference is
                   fail-fast with a fixed dispatch order, errorChecker.py:
                   573-654 — we evaluate everything and rank afterwards)

Violations never fail the job (the reference catches per-record exceptions
and keeps sweeping, scripts/validate.py:451-458).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

from anzlic_validator_spark.compile import compile_row_rules, explode_violations
from anzlic_validator_spark.errors import InvalidConfigException
from anzlic_validator_spark.rules import Rule, RuleCatalog
from anzlic_validator_spark.schema import VIOLATION_FIELDS

REFERENTIAL_TYPES = ("referential", "referential_mapped")
_INTERNAL_SCHEMA = "key string, rule_id string, observed string, expected string, rule_order int"

# violation keys starting with this prefix are table-/group-level synthetic
# keys ("__table__", "__group__|..."), never record keys: excluded from
# per-record verdicts and per-bucket summaries, routed to the reserved
# bucket by the batch runner.
RESERVED_KEY_PREFIX = "__"


def is_record_key(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    # NULL keys are record keys: startswith(NULL) yields NULL, which where()
    # would silently drop — a record with a NULL key column must still have
    # its violations surfaced, not vanish from the output
    return c.isNull() | ~c.startswith(RESERVED_KEY_PREFIX)


def _empty_violations(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], _INTERNAL_SCHEMA)


# where validate() evaluates a dataset rule (see rule_path)
SCAN, JOIN, PASS = "scan", "join", "pass"


def rule_path(rule: Rule) -> str:
    """The one routing decision for a dataset rule.

    SCAN — folds into the single-scan row pass: ``audio_decode``, and
    referential rules with ``broadcast: true`` (a broadcast authority joins
    onto the row stream without an exchange).
    JOIN — other referential rules: a pruned (key, join key, columns)
    projection joined to the authority, so a sort-merge shuffle never
    carries the full row — in particular never the binary payload.
    PASS — its own aggregate pass over the rule's columns (unique, all_of,
    drift).

    Referential rules on either join path are grouped by
    ``referential.authority_key``: one join serves every rule of a group.
    """
    if rule.type == "audio_decode":
        return SCAN
    if rule.type in REFERENTIAL_TYPES:
        return SCAN if rule.get("broadcast", False) else JOIN
    return PASS


def is_table_global(rule: Rule, schema: StructType) -> bool:
    """Rules whose groups are NOT functions of the record key: drift, and
    all_of over a scalar column or with ``group_by`` (array-typed all_of is
    a per-record check). Their violations span hash buckets and batches, so
    the batch sweep evaluates them over the full unpruned input into the
    reserved bucket, and the stream rejects them."""
    if rule.type == "drift":
        return True
    if rule.type == "all_of":
        col = str(rule.get("column"))
        is_array = col in schema.names and isinstance(schema[col].dataType, ArrayType)
        return bool(rule.get("group_by")) or not is_array
    return False


def _referential_groups(catalog: RuleCatalog, key_col: str, path: str) -> list[list[Rule]]:
    from anzlic_validator_spark.operators.referential import authority_key

    groups: dict[tuple, list[Rule]] = {}
    for rule in catalog.dataset_rules:
        if rule.type in REFERENTIAL_TYPES and rule_path(rule) == path:
            groups.setdefault(authority_key(rule, key_col), []).append(rule)
    return list(groups.values())


def single_scan_violations(
    df: DataFrame, catalog: RuleCatalog, key_col: str, refs: dict[str, DataFrame]
) -> DataFrame:
    """ALL per-row rule families in ONE scan of the table.

    Row rules compile to struct expressions; each group of broadcast
    referential rules LEFT-joins its authority onto the stream once; the
    audio rule attaches its Arrow decode-check struct. Everything lands in
    one array → filter → explode projection, so the table — including the
    heavy ``bytes`` column — is read exactly once per job no matter how
    many rules the catalog holds.
    """
    from anzlic_validator_spark.functions.audio import augment_audio
    from anzlic_validator_spark.operators.referential import join_authority

    structs = compile_row_rules(catalog.row_rules)
    aug = df
    for group in _referential_groups(catalog, key_col, SCAN):
        aug, ss = join_authority(aug, group, key_col, refs)
        structs.extend(ss)
    for rule in catalog.dataset_rules:
        if rule.type == "audio_decode":
            aug, ss = augment_audio(aug, rule, key_col)
            structs.extend(ss)
    if not structs:
        return _empty_violations(df.sparkSession)
    return explode_violations(aug, key_col, structs)


def dataset_rule_violations(
    df: DataFrame,
    rule: Rule,
    key_col: str,
    refs: dict[str, DataFrame],
) -> DataFrame:
    """A PASS rule's own aggregate pass (its scan is pruned to the rule's
    columns — never the binary payload)."""
    from anzlic_validator_spark.operators.drift import drift_violations
    from anzlic_validator_spark.operators.setcover import all_of_violations
    from anzlic_validator_spark.operators.uniqueness import unique_violations

    if rule.type == "unique":
        return unique_violations(df, rule, key_col)
    if rule.type == "all_of":
        return all_of_violations(df, rule, key_col)
    if rule.type == "drift":
        return drift_violations(df, rule, key_col)
    raise InvalidConfigException(f"unknown dataset rule type: {rule.type}")


@dataclass
class ValidationResult:
    """Lazy handles over the validation plan — nothing here triggers a job."""

    df: DataFrame
    key_col: str
    catalog: RuleCatalog
    violations_ranked: DataFrame = field(repr=False)  # + rule_order

    @property
    def violations(self) -> DataFrame:
        """Public violation rows (key, rule_id, observed, expected)."""
        return self.violations_ranked.select(*VIOLATION_FIELDS)

    @property
    def verdicts(self) -> DataFrame:
        """Per-record verdict: passed + first violation in catalog order.

        Reserved-key violations ('__table__', '__group__|...') are excluded
        from per-record verdicts but present in .violations.

        Shape (r06, guide §2.4): records (as NULL markers) and violation
        rows UNION into ONE groupBy on the key — min() skips the NULL
        markers and count(col) counts only violation rows, so a single
        map-side-combined exchange replaces the former
        distinct + groupBy + null-safe-join (3 exchanges + a join). NULL
        keys are one group, matching the old eqNullSafe pairing.

        Planner note: min over a struct (or string) marker only plans as a
        SortAggregate — non-primitive aggregation buffers are not
        hash-aggregatable — but the single sorted aggregate still beat the
        old three-exchange shape in A/B (3.89 → 2.64 s warm on
        lineitem_verdicts); a fully hash-aggregatable encoding would need
        the rule_id tie-break collapsed into a primitive, which no faithful
        encoding provides.
        """
        marker_t = "struct<rule_order:int,rule_id:string>"
        records = self.df.select(
            F.col(self.key_col).cast("string").alias("key"),
            F.lit(None).cast(marker_t).alias("__v"),
        )
        viol = self.violations_ranked.where(is_record_key("key")).select(
            "key", F.struct("rule_order", "rule_id").alias("__v")
        )
        return (
            records.unionByName(viol)
            .groupBy("key")
            .agg(
                F.min("__v").alias("__first"),
                F.count("__v").alias("n_violations"),
            )
            .select(
                "key",
                F.col("__first").isNull().alias("passed"),
                F.col("__first.rule_id").alias("first_rule_id"),
                "n_violations",
            )
        )


def validate(
    df: DataFrame,
    catalog: RuleCatalog,
    key_col: str,
    refs: dict[str, DataFrame] | None = None,
) -> ValidationResult:
    """Build the full validation plan for ``df`` under ``catalog``."""
    refs = refs or {}
    missing = [c for r in catalog.rules for c in _rule_columns(r, key_col) if c not in df.columns]
    if missing:
        raise InvalidConfigException(f"catalog references unknown columns: {sorted(set(missing))}")
    from anzlic_validator_spark.operators.referential import referential_violations_grouped

    violations = reduce(
        DataFrame.unionByName,
        [single_scan_violations(df, catalog, key_col, refs)]
        + [
            dataset_rule_violations(df, rule, key_col, refs)
            for rule in catalog.dataset_rules
            if rule_path(rule) == PASS
        ]
        + [
            referential_violations_grouped(df, group, key_col, refs)
            for group in _referential_groups(catalog, key_col, JOIN)
        ]
    )
    return ValidationResult(
        df=df, key_col=key_col, catalog=catalog, violations_ranked=violations
    )


def _rule_columns(rule: Rule, key_col: str) -> list[str]:
    """The input-side columns a rule reads: column, columns, group_by, the
    referential join key, and the columns of nested row rules."""
    cols = []
    if rule.get("column"):
        cols.append(str(rule.get("column")))
    for k in ("columns", "group_by"):
        if isinstance(rule.get(k), (list, tuple)):
            cols.extend(str(c) for c in rule.get(k))
    if rule.type in REFERENTIAL_TYPES:
        from anzlic_validator_spark.operators.referential import rule_join_key

        cols.append(rule_join_key(rule, key_col))
    if rule.type == "any_of":
        for sub in rule.get("rules") or []:
            sub_rule = Rule("", str(sub.get("type")), rule.order, dict(sub))
            cols.extend(_rule_columns(sub_rule, key_col))
    if rule.type == "conditional":
        when = rule.get("when") or {}
        if when.get("column"):
            cols.append(str(when["column"]))
        then = dict(rule.get("then") or {})
        cols.extend(_rule_columns(Rule("", str(then.get("type")), rule.order, then), key_col))
    return cols
