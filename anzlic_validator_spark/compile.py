"""Rule-spec → Catalyst ``Column`` compiler for row-level rules.

Each row-level rule compiles to ONE nullable struct column: NULL when the row
passes, ``struct(rule_id, observed, expected, rule_order)`` when it fails.
The engine packs all rule structs into an array, filters nulls and explodes —
so every rule is evaluated for every row in a single whole-stage-codegen'd
projection (no per-row Python, no shuffle).

Violation classes mirror the reference's exception taxonomy
(scripts/errorChecker.py):

    <id>.missing    path/column NULL            (errorChecker.py:394-399)
    <id>.empty      present but blank           (errorChecker.py:381-382)
    <id>.incorrect  value breaches the rule     (errorChecker.py:383-388)

NONE/EMPTY modifiers (errorChecker.py:371-374) → ``allow_none`` /
``allow_empty`` spec flags.  The reference is fail-fast per record
(first exception wins); we evaluate ALL rules and rank by ``rule_order``
afterwards so the headline verdict matches while every violation is reported
(SURVEY §2.3 dispatch-order note).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anzlic_validator_spark.errors import InvalidConfigException
from anzlic_validator_spark.rules import Rule

_NONE = "None"  # observed marker for missing values (reference prints None)
_EMPTY = "''"  # observed marker for blank values


def _viol(rule: Rule, cls: str, observed: Column, expected: str) -> Column:
    rid = rule.rule_id if cls == "" else f"{rule.rule_id}.{cls}"
    return F.struct(
        F.lit(rid).alias("rule_id"),
        observed.cast("string").alias("observed"),
        F.lit(expected).alias("expected"),
        F.lit(rule.order).cast("int").alias("rule_order"),
    )


def _is_blank(col: Column) -> Column:
    return F.length(F.trim(col.cast("string"))) == 0


def _presence_chain(rule: Rule, col: Column, expected_desc: str):
    """Shared missing/empty prelude for value-bearing rules.

    Returns (when_chain_start, guard) where guard is the condition under
    which the value check should run (non-null, non-blank unless tolerated).
    """
    allow_none = bool(rule.get("allow_none", False))
    allow_empty = bool(rule.get("allow_empty", False))
    chain = None
    if not allow_none:
        chain = F.when(col.isNull(), _viol(rule, "missing", F.lit(_NONE), expected_desc))
    if not allow_empty:
        cond = col.isNotNull() & _is_blank(col)
        v = _viol(rule, "empty", F.lit(_EMPTY), expected_desc)
        chain = F.when(cond, v) if chain is None else chain.when(cond, v)
    guard = col.isNotNull() & ~_is_blank(col)
    return chain, guard


def _finish(chain, guard: Column, fail: Column, viol: Column) -> Column:
    cond = guard & fail
    return F.when(cond, viol) if chain is None else chain.when(cond, viol)


def compile_row_rule(rule: Rule) -> list[Column]:
    """Compile one row rule to nullable violation-struct column(s)."""
    t = rule.type
    if t == "exists":
        col = F.col(rule.get("column"))
        chain, _ = _presence_chain(rule, col, "present and non-empty")
        if chain is None:
            raise InvalidConfigException(
                f"rule {rule.rule_id}: exists with allow_none and allow_empty checks nothing"
            )
        return [chain]

    if t == "value":
        col = F.col(rule.get("column"))
        val = rule.get("value")
        expected = str(val)
        chain, guard = _presence_chain(rule, col, expected)
        fail = col.cast("string") != F.lit(str(val))
        return [_finish(chain, guard, fail, _viol(rule, "incorrect", col, expected))]

    if t == "in_set":
        col = F.col(rule.get("column"))
        vals = [str(v) for v in rule.get("values")]
        expected = "one of [" + ",".join(vals) + "]"
        chain, guard = _presence_chain(rule, col, expected)
        fail = ~col.cast("string").isin(vals)
        return [_finish(chain, guard, fail, _viol(rule, "incorrect", col, expected))]

    if t == "contains":
        # every literal must be a substring (checkContains,
        # errorChecker.py:548-562) — AND-folded native `contains`
        col = F.col(rule.get("column"))
        vals = [str(v) for v in rule.get("values")]
        expected = "contains [" + ",".join(vals) + "]"
        chain, guard = _presence_chain(rule, col, expected)
        fail = None
        for v in vals:
            c = ~col.cast("string").contains(F.lit(v))
            fail = c if fail is None else (fail | c)
        return [_finish(chain, guard, fail, _viol(rule, "incorrect", col, expected))]

    if t == "format":
        # regex format check — generalizes DATEFORMAT's length+dash test
        # (checkDateFormat, errorChecker.py:435-459)
        col = F.col(rule.get("column"))
        pattern = rule.get("pattern")
        expected = f"matches {pattern}"
        chain, guard = _presence_chain(rule, col, expected)
        fail = ~col.cast("string").rlike(pattern)
        return [_finish(chain, guard, fail, _viol(rule, "incorrect", col, expected))]

    if t == "range":
        col = F.col(rule.get("column"))
        lo, hi = rule.get("min"), rule.get("max")
        expected = f"in [{lo},{hi}]"
        allow_none = bool(rule.get("allow_none", False))
        chain = None
        if not allow_none:
            chain = F.when(col.isNull(), _viol(rule, "missing", F.lit(_NONE), expected))
        fail = F.lit(False)
        if lo is not None:
            fail = fail | (col < F.lit(lo))
        if hi is not None:
            fail = fail | (col > F.lit(hi))
        return [_finish(chain, col.isNotNull(), fail, _viol(rule, "incorrect", col, expected))]

    if t == "not_both":
        # mutual exclusion, e.g. "Cannot be both Scale and Resolution"
        # (config/config-layer.yaml:110)
        a, b = rule.get("columns")[:2]
        observed = F.concat_ws(",", F.col(a).cast("string"), F.col(b).cast("string"))
        expected = f"not both {a} and {b}"
        fail = F.col(a).isNotNull() & F.col(b).isNotNull()
        return [F.when(fail, _viol(rule, "incorrect", observed, expected))]

    if t == "equal_fields":
        # hierarchy-group same-value constraint (config-layer.yaml:76-81)
        cols = rule.get("columns")
        first = F.col(cols[0])
        fail = None
        for c in cols[1:]:
            neq = ~first.eqNullSafe(F.col(c))
            fail = neq if fail is None else (fail | neq)
        observed = F.concat_ws(",", *[F.col(c).cast("string") for c in cols])
        expected = "all equal: " + ",".join(cols)
        return [F.when(fail, _viol(rule, "incorrect", observed, expected))]

    if t == "conditional":
        # cross-field conditional (SCHMD.conditional, validate.py:188-224)
        when_spec = rule.get("when")
        cond = _compile_when(when_spec)
        inner_raw = dict(rule.get("then"))
        inner_raw.setdefault("id", rule.rule_id)
        from anzlic_validator_spark.rules import _validate_spec

        inner = _validate_spec(rule.order, inner_raw)
        inner = Rule(rule_id=rule.rule_id, type=inner.type, order=rule.order, spec=inner.spec)
        return [F.when(cond, struct_col) for struct_col in compile_row_rule(inner)]

    if t == "any_of":
        # disjunctive composition — the reference's conditional requires
        # "bounding box OR geographic description" (validate.py:205-215):
        # the record passes if ANY alternative passes; a violation is
        # emitted only when EVERY alternative fails, reporting each
        # alternative's own observation.
        from anzlic_validator_spark.rules import _validate_spec

        sub_structs: list[Column] = []
        descs: list[str] = []
        for j, raw in enumerate(rule.get("rules")):
            inner = _validate_spec(rule.order, dict(raw))
            sub = Rule(
                rule_id=f"{rule.rule_id}[{j}]", type=inner.type, order=rule.order, spec=inner.spec
            )
            cols = compile_row_rule(sub)
            # a multi-struct alternative (empty_scan) fails if any of its
            # structs fires — coalesce gives "first non-null" semantics
            sub_structs.append(cols[0] if len(cols) == 1 else F.coalesce(*cols))
            descs.append(str(raw.get("column") or inner.type))
        all_fail = sub_structs[0].isNotNull()
        for s in sub_structs[1:]:
            all_fail = all_fail & s.isNotNull()
        observed = F.concat_ws(
            "; ",
            *[F.concat(F.lit(d + "="), F.coalesce(s["observed"], F.lit("ok")))
              for d, s in zip(descs, sub_structs)],
        )
        expected = "any of [" + ",".join(descs) + "]"
        return [F.when(all_fail, _viol(rule, "incorrect", observed, expected))]

    if t == "empty_scan":
        # whole-record blank scan (emptyTagCheck, errorChecker.py:534-545):
        # one violation struct per scanned column
        cols = rule.get("columns")
        out = []
        for c in cols:
            sub = Rule(rule_id=f"{rule.rule_id}.{c}", type="empty_scan", order=rule.order, spec={})
            out.append(
                F.when(
                    F.col(c).isNotNull() & _is_blank(F.col(c)),
                    _viol(sub, "empty", F.lit(_EMPTY), "non-empty"),
                )
            )
        return out

    raise InvalidConfigException(f"not a row rule: {t}")


def _compile_when(spec: dict) -> Column:
    if "column" not in spec:
        raise InvalidConfigException(f"conditional 'when' needs a column: {spec}")
    col = F.col(spec["column"])
    extras = set(spec) - {"column", "equals", "in", "not_null"}
    if extras:
        raise InvalidConfigException(f"conditional 'when': unknown keys {sorted(extras)}")
    if "equals" in spec:
        return col.cast("string") == F.lit(str(spec["equals"]))
    if "in" in spec:
        return col.cast("string").isin([str(v) for v in spec["in"]])
    if spec.get("not_null"):
        return col.isNotNull()
    raise InvalidConfigException(f"conditional 'when' needs equals/in/not_null: {spec}")


def compile_row_rules(rules: list[Rule]) -> list[Column]:
    out: list[Column] = []
    for r in rules:
        out.extend(compile_row_rule(r))
    return out


def explode_violations(df: DataFrame, key_col: str, structs: list[Column]) -> DataFrame:
    """One violation row (key, rule_id, observed, expected, rule_order) per
    non-NULL struct: pack → filter nulls → explode, in one projection."""
    arr = F.filter(F.array(*structs), lambda v: v.isNotNull())
    return (
        df.select(F.col(key_col).cast("string").alias("key"), F.explode(arr).alias("__v"))
        .select("key", "__v.rule_id", "__v.observed", "__v.expected", "__v.rule_order")
    )
