"""Rule-tree -> Column compiler (the reference's ODR rules engine).

The reference evaluates nested boolean rule trees per-row in pandas
(/root/reference/src/data_input/helpers.py:47-60 op table, :353-406
check dispatch, :409-477 group/IF recursion). Here the whole tree
compiles **once** into a single Spark Column expression, so Catalyst
constant-folds and code-generates it — no Python in the loop, and the
same compiled predicate runs over a 100 TB table or a streaming
micro-batch unchanged.

Fidelity quirks reproduced (SURVEY.md §7.5.9):
- values are cleaned before comparison: non-numeric -> NULL -> 0,
  NaN/±inf -> 0 (helpers.py:371-374) — so `== 0` matches missing data;
- a rule whose tree references any column absent from the frame is
  skipped entirely (eval_group returns None — helpers.py:455-457);
- thresholds may name another column (helpers.py:398-400);
- IF/THEN/ELSE: active = (if & then) | (if & ~then & else)
  (helpers.py:421-452).

Supported ops (helpers.py:47-60): > >= < <= == != abs_gt between
deviation outside.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def clean_numeric(col: Column) -> Column:
    """Reference cleanup: to_numeric(errors='coerce') then NaN/±inf -> 0
    (helpers.py:371-374)."""
    c = col.cast("double")
    bad = c.isNull() | F.isnan(c) | (F.abs(c) == float("inf"))
    return F.when(bad, F.lit(0.0)).otherwise(c)


def _operand(value: Any) -> Column:
    """Scalar threshold, or a column reference if the threshold is a
    string naming a parameter (helpers.py:398-400)."""
    if isinstance(value, str):
        return clean_numeric(F.col(value))
    return F.lit(float(value))


def _bounds(value: Any) -> tuple[Column, Column]:
    """[lo, hi] list or {'low':…,'high':…} dict (helpers.py:391-396)."""
    if isinstance(value, dict):
        return _operand(value["low"]), _operand(value["high"])
    lo, hi = value
    return _operand(lo), _operand(hi)


def compile_check(check: dict) -> Column:
    """One leaf check -> boolean Column."""
    s = clean_numeric(F.col(check["param"]))
    op = check["op"]
    v = check.get("value")
    if op == ">":
        return s > _operand(v)
    if op == ">=":
        return s >= _operand(v)
    if op == "<":
        return s < _operand(v)
    if op == "<=":
        return s <= _operand(v)
    if op == "==":
        return s == _operand(v)
    if op == "!=":
        return s != _operand(v)
    if op == "abs_gt":  # helpers.py:54
        return F.abs(s) > _operand(v)
    if op == "between":  # helpers.py:55
        lo, hi = _bounds(v)
        return (s >= lo) & (s <= hi)
    if op == "outside":  # helpers.py:59,386-389
        lo, hi = _bounds(v)
        return (s < lo) | (s > hi)
    if op == "deviation":  # helpers.py:56-58,377-384: outside (1±pct)·base
        base = _operand(v["base"])
        pct = float(v["pct"])
        return (s < base * (1 - pct)) | (s > base * (1 + pct))
    raise ValueError(f"unknown op: {op}")


def required_params(node: dict) -> set[str]:
    """All column names a rule tree references (params + column-valued
    thresholds) — reference collect_required_params helpers.py:323-350."""
    out: set[str] = set()
    for chk in node.get("checks", []):
        out.add(chk["param"])
        v = chk.get("value")
        if isinstance(v, str):
            out.add(v)
        elif isinstance(v, dict) and isinstance(v.get("base"), str):
            out.add(v["base"])
    for g in node.get("groups", []):
        out |= required_params(g)
    for k in ("if", "then", "else"):
        if isinstance(node.get(k), dict):
            out |= required_params(node[k])
    return out


def compile_group(node: dict, columns: set[str]) -> Column | None:
    """Recursive AND/OR/IF combinator -> one boolean Column.

    Returns None (rule skipped) if any referenced param is missing
    from `columns` — a *plan-time* schema check replacing the
    reference's per-call abort (helpers.py:455-457).
    """
    if required_params(node) - columns:
        return None
    logic = node.get("logic", "AND").upper()
    if logic == "IF":
        # helpers.py:421-452
        c_if = compile_group(node["if"], columns)
        c_then = compile_group(node["then"], columns)
        c_else = (
            compile_group(node["else"], columns) if node.get("else") else F.lit(False)
        )
        return (c_if & c_then) | (c_if & ~c_then & c_else)
    parts: list[Column] = [compile_check(c) for c in node.get("checks", [])]
    parts += [compile_group(g, columns) for g in node.get("groups", [])]
    if not parts:
        return F.lit(False)
    out = parts[0]
    for p in parts[1:]:
        out = (out | p) if logic == "OR" else (out & p)
    return out


def derived_parameters(df: DataFrame, derived: dict[str, str]) -> DataFrame:
    """Derived params: formula strings -> columns via Catalyst `expr`
    (replaces the reference's sandboxed eval — helpers.py:196-291).

    Formulas are SQL expressions over existing columns, e.g.
    ``"sqrt(abs(TAG_A)) + TAG_B / 2"``; only columns whose inputs all
    exist are added (reference skips missing-input formulas)."""
    cols = set(df.columns)
    for name, formula in derived.items():
        try:
            expr = F.expr(formula)
        except Exception:
            continue
        refs = {t for t in _identifiers(formula)}
        if refs - cols - _SQL_FUNCS:
            continue
        df = df.withColumn(name, expr)
        cols.add(name)
    return df


_SQL_FUNCS = {
    "SQRT", "ABS", "LOG", "LOG10", "EXP", "POW", "POWER", "SIN", "COS",
    "TAN", "GREATEST", "LEAST", "COALESCE", "AND", "OR", "NOT", "CASE",
    "WHEN", "THEN", "ELSE", "END", "NULL", "TRUE", "FALSE",
}


def _identifiers(formula: str) -> set[str]:
    import re

    # reference extracts ALL-CAPS identifiers (process_odr.py:638-656)
    return set(re.findall(r"\b[A-Za-z_][A-Za-z0-9_]*\b", formula)) - {
        t for t in _SQL_FUNCS
    } - {t.lower() for t in _SQL_FUNCS}


_OP_TEMPLATES = {
    ">": "{d} is greater than {v}{u}",
    ">=": "{d} is at least {v}{u}",
    "<": "{d} is less than {v}{u}",
    "<=": "{d} is at most {v}{u}",
    "==": "{d} equals {v}{u}",
    "!=": "{d} differs from {v}{u}",
    "abs_gt": "absolute {d} exceeds {v}{u}",
    "between": "{d} is between {v}{u}",
    "outside": "{d} is outside {v}{u}",
    "deviation": "{d} deviates more than expected from {v}{u}",
}


def describe_check(
    check: dict,
    descriptions: dict[str, str] | None = None,
    units: dict[str, str] | None = None,
) -> str:
    """One check -> English observation text (reference observation
    rewrite, helpers.py:521-623: param mapped to description + UOM,
    per-op template)."""
    descriptions = descriptions or {}
    units = units or {}
    p = check["param"]
    d = descriptions.get(p, p)
    u = units.get(p, "")
    u = f" {u}" if u else ""
    v = check.get("value")
    if isinstance(v, dict):
        v = v.get("low", v.get("base", "")), v.get("high", v.get("pct", ""))
        v = f"{v[0]} and {v[1]}"
    elif isinstance(v, (list, tuple)):
        v = f"{v[0]} and {v[1]}"
    return _OP_TEMPLATES[check["op"]].format(d=d, v=v, u=u)


def describe_rule(
    rule: dict,
    descriptions: dict[str, str] | None = None,
    units: dict[str, str] | None = None,
) -> str:
    """Whole rule tree -> observation sentence joined by the group logic."""
    logic = rule.get("logic", "AND").upper()
    if logic == "IF":
        return (
            "if "
            + describe_rule(rule["if"], descriptions, units)
            + " then "
            + describe_rule(rule["then"], descriptions, units)
            + (
                " else " + describe_rule(rule["else"], descriptions, units)
                if rule.get("else")
                else ""
            )
        )
    parts = [describe_check(c, descriptions, units) for c in rule.get("checks", [])]
    parts += [describe_rule(g, descriptions, units) for g in rule.get("groups", [])]
    return f" {logic} ".join(parts)
