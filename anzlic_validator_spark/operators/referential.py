"""Referential rules (R13/R14) — value must agree with an authority table.

Reference: per-record HTTPS GET to the LDS API comparing the metadata CRS
against the authoritative one (checkReferenceSystem,
scripts/errorChecker.py:462-500) and the kind→code mapped variant
(checkSpatialRepresentation, :502-532).  The per-record network call becomes
a single distributed JOIN against the authority table (north_star:
"referential checks via broadcast/sort-merge anti-joins of clip_id against
the transcript index").

Scale design: one LEFT OUTER join on the key serves both violation classes
in one shuffle — a NULL ref side is the 'no reference row' case (what a
left-anti join would return), a non-NULL mismatch is the 'incorrect' case.
Catalyst/AQE picks broadcast-hash when the authority fits
``spark.sql.autoBroadcastJoinThreshold`` (set ``broadcast=True`` to force the
hint for known-small authorities, e.g. a codec vocabulary), sort-merge
otherwise; AQE skew-join splits hot key ranges at runtime.

Rules sharing an ``authority_key`` share ONE join (``join_authority``): the
engine fuses broadcast groups into its single scan of the row stream and
runs every other group through ``referential_violations_grouped`` on a
pruned projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anzlic_validator_spark.compile import explode_violations
from anzlic_validator_spark.errors import InvalidConfigException
from anzlic_validator_spark.rules import Rule


def _viol(rule: Rule, cls: Column, observed: Column, expected: Column) -> Column:
    return F.struct(
        cls.alias("rule_id"),
        observed.cast("string").alias("observed"),
        expected.cast("string").alias("expected"),
        F.lit(rule.order).cast("int").alias("rule_order"),
    )


def _ref_struct(rule: Rule, ref_col_name: str) -> Column:
    """Nullable violation struct for a plain referential rule, given the
    joined authority column."""
    col = str(rule.get("column"))
    v = F.col(col).cast("string")
    r = F.col(ref_col_name)
    missing = r.isNull()
    mismatch = r.isNotNull() & ~v.eqNullSafe(r)
    cls = (
        F.when(missing, F.lit(f"{rule.rule_id}.missing_ref"))
        .when(mismatch, F.lit(f"{rule.rule_id}.incorrect"))
    )
    cond = mismatch if rule.get("on_missing", "violation") == "ignore" else (missing | mismatch)
    return F.when(
        cond,
        _viol(
            rule,
            cls,
            F.coalesce(v, F.lit("None")),
            F.coalesce(r, F.lit(f"reference row for {col}")),
        ),
    )


def _mapped_ref_struct(rule: Rule, ref_col_name: str) -> Column:
    """Mapped-variant violation struct given the joined authority column.

    The authority value passes through a literal mapping before comparison.
    Mirrors checkSpatialRepresentation's kind→code dict
    ({'raster':'grid','grid':'grid','table':'textTable','vector':'vector'},
    errorChecker.py:509-527); an authority value absent from the mapping is
    itself a violation (unknown kind → incorrect, :528-530) unless
    on_unmapped == 'ignore'."""
    mapping = rule.get("mapping") or {}
    if not isinstance(mapping, dict) or not mapping:
        raise InvalidConfigException(f"rule {rule.rule_id}: 'mapping' must be a non-empty dict")
    col = str(rule.get("column"))
    map_expr = F.create_map(*[F.lit(str(x)) for kv in mapping.items() for x in kv])
    v = F.col(col).cast("string")
    r = F.col(ref_col_name)
    mapped = map_expr[r]
    missing = r.isNull()
    unmapped = r.isNotNull() & mapped.isNull()
    mismatch = mapped.isNotNull() & ~v.eqNullSafe(mapped)
    cls = (
        F.when(missing, F.lit(f"{rule.rule_id}.missing_ref"))
        .when(unmapped, F.lit(f"{rule.rule_id}.unmapped"))
        .when(mismatch, F.lit(f"{rule.rule_id}.incorrect"))
    )
    cond = mismatch
    if rule.get("on_missing", "violation") != "ignore":
        cond = cond | missing
    if rule.get("on_unmapped", "violation") != "ignore":
        cond = cond | unmapped
    expected = (
        F.when(missing, F.lit(f"reference row for {col}"))
        .when(unmapped, F.lit("mapped value for " + ",".join(sorted(mapping))))
        .otherwise(mapped)
    )
    return F.when(cond, _viol(rule, cls, F.coalesce(v, F.lit("None")), expected))


def rule_join_key(rule: Rule, key_col: str) -> str:
    """The column a referential rule joins the authority on."""
    return str(rule.get("join_on", rule.get("key", key_col)))


def authority_key(rule: Rule, key_col: str) -> tuple:
    """Rules with equal keys share one authority join: same authority, join
    key and ref key — and the same ``broadcast`` flag, so a group is
    broadcast or not as a whole."""
    return (
        str(rule.get("ref_table")),
        rule_join_key(rule, key_col),
        str(rule.get("ref_key")),
        bool(rule.get("broadcast", False)),
    )


def join_authority(
    df: DataFrame, rules: list[Rule], key_col: str, refs: dict[str, DataFrame]
) -> tuple[DataFrame, list[Column]]:
    """LEFT-join the authority of ``rules`` (one ``authority_key`` group)
    onto ``df`` ONCE and return the joined frame plus one nullable
    violation struct per rule.

    ``join_on`` lets FK-style lookups join on the FK column while reporting
    violations against the record key (default: join on the key itself,
    the clip_id↔clip_id shape of the transcript index). Authority keys must
    be unique (a non-unique authority would multiply rows) — same contract
    as the reference's one-CRS-per-layer API.
    """
    ref = _lookup_ref(rules[0], refs)
    join_on = rule_join_key(rules[0], key_col)
    right = ref.select(
        F.col(str(rules[0].get("ref_key"))).alias(join_on),
        *[
            F.col(str(r.get("ref_column"))).cast("string").alias(f"__ref_{r.order}")
            for r in rules
        ],
    )
    if rules[0].get("broadcast", False):
        right = F.broadcast(right)
    structs = [
        (_mapped_ref_struct if r.type == "referential_mapped" else _ref_struct)(
            r, f"__ref_{r.order}"
        )
        for r in rules
    ]
    return df.join(right, on=join_on, how="left"), structs


def referential_violations_grouped(
    df: DataFrame, rules: list[Rule], key_col: str, refs: dict[str, DataFrame]
) -> DataFrame:
    """Violation rows of one ``authority_key`` group from a PRUNED
    (key, join_on, columns) projection, so the sort-merge shuffle of a
    large authority carries a few scalars per row — never the full record
    and in particular never the binary payload (the fused-in-scan variant
    would drag ``bytes`` through the exchange; at 100 TB that shuffle IS
    the job — multimodal doctrine: never explode binary columns through a
    shuffle). The engine unions these rows with the single-scan pass;
    semantics match the fused path because the authority key is unique."""
    join_on = rule_join_key(rules[0], key_col)
    cols = list(dict.fromkeys([key_col, join_on] + [str(r.get("column")) for r in rules]))
    joined, structs = join_authority(df.select(*cols), rules, key_col, refs)
    return explode_violations(joined, key_col, structs)


def _lookup_ref(rule: Rule, refs: dict[str, DataFrame]) -> DataFrame:
    name = rule.get("ref_table")
    if name not in refs:
        raise InvalidConfigException(
            f"rule {rule.rule_id}: ref_table {name!r} not provided (have {sorted(refs)})"
        )
    return refs[name]
