"""Quality-check engine: declared checks → valid/quarantine split.

Re-implements the role DQX plays in the reference (reference:
silver/dqx/driver.py:54-86 — apply_checks_by_metadata_and_split;
silver/domain/dqx.py:66-154 — check normalization/aliasing). One pass
evaluates every check as a Column predicate and collects failures into
``_errors`` / ``_warnings`` array<struct> columns; the split is then
two filters over the same cached plan — no per-check job.

Built-in checks (reference set): is_not_null, is_unique, is_in_range,
sql_expression. Graft additions (BASELINE.json north_star): decodable,
phash_matches, psnr_at_least — Arrow-vectorized over image bytes.

Config shape (silver YAML parity, reference contracts/silver/dummy.yaml):
    {"name": ..., "criticality": "error"|"warn",
     "check": {"function": ..., "arguments": {...}}}
Aliases: unique→is_unique, not_null→is_not_null, col_name→column.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

ALIASES = {"unique": "is_unique", "not_null": "is_not_null", "in_range": "is_in_range"}
_ERR = "_errors"
_WARN = "_warnings"
# a string literal or backticked name (kept as is), or a call that throws
# on bad input under ANSI and has a NULL-returning try_* twin
_SQL_THROWING_CALL = re.compile(
    r"""('(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*"|`[^`]*`)"""
    r"""|(?<![\w.])(to_date|to_timestamp|cast)(?=\s*\()""", re.IGNORECASE)


def normalize_check(check: dict) -> dict:
    """Canonicalize names/args (reference: silver/domain/dqx.py:103-154):
    function aliases, col_name→column, columns list flattening, int-ify
    integral floats on range limits."""
    c = dict(check)
    fn = dict(c.get("check", {}))
    name = fn.get("function", "")
    fn["function"] = ALIASES.get(name, name)
    args = dict(fn.get("arguments", {}))
    if "col_name" in args and "column" not in args:
        args["column"] = args.pop("col_name")
    if "col_names" in args and "columns" not in args:
        args["columns"] = args.pop("col_names")
    if isinstance(args.get("columns"), str):
        args["columns"] = [args["columns"]]
    for k in ("min_limit", "max_limit"):
        v = args.get(k)
        if isinstance(v, float) and v.is_integer():
            args[k] = int(v)
    fn["arguments"] = args
    c["check"] = fn
    c.setdefault("criticality", "error")
    c.setdefault("name", f"{fn['function']}_{'_'.join(map(str, args.values()))[:40]}")
    return c


# --- violation builders: return Column<bool> TRUE when the row VIOLATES ----


def _v_is_not_null(df, column: str):
    return F.col(column).isNull()


def _v_is_unique(df, columns: list[str], nulls_distinct: bool = True):
    """Per-row duplicate flag via a count window (reference behavior:
    DQX flags every row of a duplicated key)."""
    w = Window.partitionBy(*[F.col(c) for c in columns])
    dup = F.count(F.lit(1)).over(w) > 1
    if nulls_distinct:
        any_null = None
        for c in columns:
            n = F.col(c).isNull()
            any_null = n if any_null is None else (any_null | n)
        return F.when(any_null, F.lit(False)).otherwise(dup)
    return dup


def _v_is_in_range(df, column: str, min_limit=None, max_limit=None):
    c = F.col(column)
    cond = F.lit(False)
    if min_limit is not None:
        cond = cond | (c < F.lit(min_limit))
    if max_limit is not None:
        cond = cond | (c > F.lit(max_limit))
    return F.when(c.isNull(), F.lit(False)).otherwise(cond)


def _ansi_safe(expression: str) -> str:
    """``expression`` with ``to_date``, ``to_timestamp`` and ``cast`` calls
    rewritten to ``try_to_date``, ``try_to_timestamp`` and ``try_cast``.
    Under ANSI the originals throw on input they cannot parse and fail
    the job; the twins return NULL, which fails the check and quarantines
    the row, as the non-ANSI runtime the contracts were written for does.
    String literals and backticked names are left untouched."""
    return _SQL_THROWING_CALL.sub(
        lambda m: m.group(1) or "try_" + m.group(2).lower(), expression)


def _v_sql_expression(df, expression: str, negate: bool = False):
    """Expression states the VALID condition (reference: dummy.yaml:49-56);
    violation is its negation (nulls count as violations). Throwing calls
    run as their try_* twins (``_ansi_safe``)."""
    ok = F.expr(_ansi_safe(expression))
    if negate:
        ok = ~ok
    return ~F.coalesce(ok, F.lit(False))


def _v_decodable(df, column: str):
    from medalforge_lakehouse_data_spark.operators.multimodal import decodable

    return ~decodable(F.col(column))


def _v_phash_matches(df, bytes_column: str = "bytes", phash_column: str = "phash",
                     max_distance: int = 0):
    from medalforge_lakehouse_data_spark.operators.multimodal import phash_of_bytes

    recomputed = phash_of_bytes(F.col(bytes_column))
    if max_distance <= 0:
        bad = recomputed != F.col(phash_column)
    else:
        bad = F.bit_count(recomputed.bitwiseXOR(F.col(phash_column))) > max_distance
    return F.coalesce(bad, F.lit(True))


def _v_psnr_at_least(df, column: str, reference_column: str, min_db: float = 40.0):
    from medalforge_lakehouse_data_spark.operators.multimodal import psnr_between

    p = psnr_between(F.col(column), F.col(reference_column))
    return F.coalesce(p < F.lit(float(min_db)), F.lit(True))


CHECK_FUNCTIONS = {
    "is_not_null": _v_is_not_null,
    "is_unique": _v_is_unique,
    "is_in_range": _v_is_in_range,
    "sql_expression": _v_sql_expression,
    "decodable": _v_decodable,
    "phash_matches": _v_phash_matches,
    "psnr_at_least": _v_psnr_at_least,
}


def _entry(name: str, fn: str, crit: str):
    return F.struct(
        F.lit(name).alias("name"),
        F.lit(fn).alias("function"),
        F.lit(crit).alias("criticality"),
    )


def apply_checks(df: DataFrame, checks: list[dict]) -> DataFrame:
    """Evaluate all checks in one pass; append _errors/_warnings columns."""
    errs, warns = [], []
    for raw in checks:
        c = normalize_check(raw)
        fn_name = c["check"]["function"]
        if fn_name not in CHECK_FUNCTIONS:
            raise ValueError(f"unknown check function {fn_name!r}")
        violated = CHECK_FUNCTIONS[fn_name](df, **c["check"]["arguments"])
        entry = F.when(violated, _entry(c["name"], fn_name, c["criticality"]))
        (errs if c["criticality"] == "error" else warns).append(entry)

    def pack(entries):
        if not entries:
            return F.array().cast("array<struct<name:string,function:string,criticality:string>>")
        return F.filter(F.array(*entries), lambda x: x.isNotNull())

    return df.withColumn(_ERR, pack(errs)).withColumn(_WARN, pack(warns))


def apply_checks_and_split(df: DataFrame, checks: list[dict]) -> tuple[DataFrame, DataFrame]:
    """(valid_df, quarantine_df) — reference driver.py:79-86. Valid rows
    have technical columns stripped; quarantine keeps them for
    remediation triage."""
    checked = apply_checks(df, checks)
    valid = checked.filter(F.size(F.col(_ERR)) == 0).drop(_ERR, _WARN)
    quarantine = checked.filter(F.size(F.col(_ERR)) > 0)
    return valid, quarantine


def apply_checks_and_split_cached(
    df: DataFrame, checks: list[dict]
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Split over ONE cached checked plan: both branches are filters of
    the same InMemoryRelation, so the source is scanned and the checks
    evaluated once — not once per branch cache (caching each branch
    separately, as the silver pipeline used to, materializes the source
    scan twice). Returns (valid, quarantine, checked); the caller owns
    unpersisting ``checked``."""
    checked = apply_checks(df, checks).cache()
    valid = checked.filter(F.size(F.col(_ERR)) == 0).drop(_ERR, _WARN)
    quarantine = checked.filter(F.size(F.col(_ERR)) > 0)
    return valid, quarantine, checked
