"""Compile SP-dialect AST -> DataFrame plans.

The reference interprets its AST per record with two fixed interpreters
(sp_process_data flb_sp.c:1607, sp_process_data_aggr flb_sp.c:1435) and a
red-black tree for group state (flb_sp.c:1280-1429). Here the whole command
becomes ONE declarative DataFrame plan: Catalyst pushes the WHERE into the
scan, prunes columns, and hash-aggregates the GROUP BY — the 100 TB path is
the same plan with more partitions.

Window mapping (flb_sp.c:512-545 timers; flb_sp_window.c):
- TUMBLING (N s)              -> F.window(ts, "N seconds")
- HOPPING (N s, ADVANCE M s)  -> F.window(ts, "N seconds", "M seconds")
  (the reference maintains subtractable per-advance slots,
  flb_sp.c:1852-2004; Spark multi-assigns each record to N/M windows —
  identical results, shuffle-friendly mechanics)
- no WINDOW clause            -> aggregate over the whole batch (the
  reference aggregates per arriving chunk, flb_sp.c:2037-2058)

Windowed results carry ``window_start``/``window_end`` columns; fluent-bit
stamps flush wall-clock time instead (flb_sp.c:1189) — event-time bounds are
the deterministic, scale-friendly choice.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluent_bit_spark import coercion
from fluent_bit_spark.accessor import RecordAccessor, exists, resolve
from fluent_bit_spark.model import TAG_COL, TS_COL
from fluent_bit_spark.sp import ast

WINDOW_START = "window_start"
WINDOW_END = "window_end"


def tag_pattern_to_regex(pattern: str) -> str:
    """fluent-bit tag wildcard (src/flb_router.c:59-138): '*' matches any
    run of chars (incl. empty); match is anchored both ends."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch in r".\+?[]{}()^$|":
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "^" + "".join(out) + "$"


# Java's '.' and '$' treat these as line ends, Python's re only '\n'
_LINE_BREAKS = "\n\r\x85\u2028\u2029"


def tag_label(tag) -> frozenset | None:
    """Label of records written under the literal ``tag``: the set of tags
    they can carry, or None (unknown) when ``tag`` is not a string or holds
    a line break, where Python cannot decide what ``rlike`` would match."""
    if isinstance(tag, str) and not any(c in tag for c in _LINE_BREAKS):
        return frozenset([tag])
    return None


def matching_tags(pattern: str, tags: frozenset | None) -> frozenset | None:
    """The tags of label ``tags`` that the tag wildcard ``pattern`` matches,
    decided in Python as ``rlike(tag_pattern_to_regex(pattern))`` would on
    the column; None when the label is unknown."""
    if tags is None:
        return None
    regex = tag_pattern_to_regex(pattern)
    return frozenset(t for t in tags if re.search(regex, t))


# --------------------------------------------------------------------------
# condition compilation (WHERE) — fluent-bit coercion semantics
# --------------------------------------------------------------------------
def _operand(df: DataFrame, e: ast.Expr, time_col: str) -> tuple[Column | None, str]:
    if isinstance(e, ast.Lit):
        if e.value is None:
            return None, "null"
        return F.lit(e.value), coercion.lit_kind(e.value)
    if isinstance(e, ast.KeyRef):
        r = resolve(df, e.accessor)
        if r is None:
            return None, "missing"
        col, dtype = r
        return col, coercion.kind_of(dtype)
    if isinstance(e, ast.RecordFunc):
        if e.name == "TIME":
            return F.col(time_col).cast("double"), "num"
        if e.name == "CONTAINS":
            return exists(df, e.key), "bool"
    raise ValueError(f"cannot use {e!r} as comparison operand")


def _truthy(df: DataFrame, e: ast.Expr, time_col: str) -> Column:
    """Bare operand used as predicate — fluent-bit reduces the value to
    bool (map value => true, flb_sp_key.c:83-88)."""
    col, kind = _operand(df, e, time_col)
    if col is None:
        return F.lit(kind == "null" and False)
    if kind == "bool":
        return F.coalesce(col, F.lit(False))
    if kind == "num":
        return F.coalesce(col != 0, F.lit(False))
    if kind == "str":
        return F.coalesce(col != "", F.lit(False))
    if kind == "variant":
        return F.coalesce(col.try_cast("boolean"), col.try_cast("double") != 0, F.lit(False))
    return col.isNotNull()


def compile_condition(df: DataFrame, e: ast.Expr, time_col: str = TS_COL) -> Column:
    if isinstance(e, ast.Logic):
        l_ = compile_condition(df, e.left, time_col)
        r_ = compile_condition(df, e.right, time_col)
        return (l_ & r_) if e.op == "AND" else (l_ | r_)
    if isinstance(e, ast.Not):
        return ~compile_condition(df, e.operand, time_col)
    if isinstance(e, ast.Cmp):
        lc, lk = _operand(df, e.left, time_col)
        rc, rk = _operand(df, e.right, time_col)
        return coercion.fb_compare(lc, lk, rc, rk, e.op)
    if isinstance(e, ast.IsNull):
        col, kind = _operand(df, e.operand, time_col)
        if col is None:
            # a MISSING key is not null: IS NULL -> false, IS NOT NULL
            # -> true (pure negation). Both sp_select_keys.h goldens
            # pin this: cond_null counts ONLY the explicit 'word3':
            # null record (1 of 11), while "word2='rlz' AND word3 IS
            # NOT NULL" = 1 PASSES the record that has no word3 at all.
            # Matches the variant branch (variant_is_null + negate).
            base = F.lit(kind == "null")
        elif kind == "variant":
            base = coercion.variant_is_null(col)
        else:
            base = F.coalesce(col.isNull(), F.lit(True))
        return ~base if e.negated else base
    return _truthy(df, e, time_col)


# --------------------------------------------------------------------------
# projection / aggregation
# --------------------------------------------------------------------------
def _func_column(func: str, time_col: str, tag_col: str) -> Column:
    if func == "NOW":
        # flb_sp_func_time.c:59-85 — '%Y-%m-%d %H:%M:%S' wall clock
        return F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss")
    if func == "UNIX_TIMESTAMP":
        return F.unix_timestamp()  # flb_sp_func_time.c:87-99
    if func == "RECORD_TAG":
        return F.col(tag_col)  # flb_sp_func_record.c:41-49
    if func == "RECORD_TIME":
        return F.col(time_col).cast("double")  # flb_sp_func_record.c:51-61
    raise ValueError(f"unknown function {func}")


def _agg_input(df: DataFrame, acc: RecordAccessor, str_conv: bool) -> Column:
    r = resolve(df, acc)
    if r is None:
        return F.lit(None).cast("double")
    col, dtype = r
    kind = coercion.kind_of(dtype)
    if kind == "variant":
        return col.try_cast("double")  # dynamic values aggregate numerically
    if kind == "str" and str_conv:
        # stream_processor_str_conv: numeric-looking strings aggregate as
        # numbers (flb_sp.c:361-400 object_to_number)
        return col.try_cast("double")
    return col


def compile_select(
    sel: ast.Select,
    df: DataFrame,
    time_col: str = TS_COL,
    tag_col: str = TAG_COL,
    str_conv: bool = True,
) -> DataFrame:
    """Compile one parsed SELECT against its resolved source DataFrame."""
    if sel.where is not None:
        df = df.filter(compile_condition(df, sel.where, time_col))

    if not sel.has_aggregates:
        out = _project(sel, df, time_col, tag_col)
    else:
        out = _aggregate(sel, df, time_col, tag_col, str_conv)

    if sel.limit is not None:
        out = out.limit(sel.limit)
    return out


def _project(sel: ast.Select, df: DataFrame, time_col: str, tag_col: str) -> DataFrame:
    cols: list[Column] = []
    for k in sel.keys:
        if k.kind == "star":
            for c in df.columns:
                cols.append(F.col(c))
        elif k.kind == "func":
            cols.append(_func_column(k.func, time_col, tag_col).alias(k.out_name()))
        else:
            r = resolve(df, k.accessor)
            col = r[0] if r is not None else F.lit(None)
            cols.append(col.alias(k.out_name()))
    return df.select(*cols)


def _aggregate(
    sel: ast.Select, df: DataFrame, time_col: str, tag_col: str, str_conv: bool
) -> DataFrame:
    gb_exprs: list[Column] = []
    gb_names: dict[tuple, str] = {}
    gb_variant: set[str] = set()
    for i, acc in enumerate(sel.group_by):
        r = resolve(df, acc)
        name = f"__gb{i}"
        if r is None:
            # key not in the schema at all: every record misses it, and
            # the reference drops records whose group key is missing
            # (rbtree lookup fails) — the result is empty, not one big
            # NULL group
            df = df.filter(F.lit(False))
            col = F.lit(None)
        elif isinstance(r[1], T.VariantType):
            # variant isn't groupable directly; group on its canonical JSON
            # and re-parse for output (dynamic-type GROUP BY keys, SURVEY §7).
            # Records MISSING the group key (SQL NULL; explicit variant-null
            # is still present) are skipped — reference drops them (rbtree
            # group lookup fails, sp_cb_functions.h groupby goldens = 3 rows)
            df = df.filter(r[0].isNotNull())
            col = F.to_json(r[0])
            gb_variant.add(name)
        else:
            # static schema: NULL conflates 'missing' and explicit null;
            # the reference skips records whose group key is missing
            # (same golden as the variant branch), so NULL-keyed rows
            # drop here too — static and schemaless sources agree
            df = df.filter(r[0].isNotNull())
            col = r[0]
        gb_exprs.append(col.alias(name))
        gb_names[(acc.name, acc.subkeys)] = name

    windowed = sel.window is not None
    if windowed:
        size = f"{sel.window.size_sec} seconds"
        if sel.window.kind == "hopping":
            wcol = F.window(F.col(time_col), size, f"{sel.window.advance_sec} seconds")
        else:
            wcol = F.window(F.col(time_col), size)
        gb_exprs = [wcol.alias("__w")] + gb_exprs

    agg_exprs: list[Column] = []
    post: list[tuple[str, Column | None]] = []  # (out_name, post-projection expr)
    x_col = F.col(time_col).cast("double")
    for j, k in enumerate(sel.keys):
        if k.kind == "key":
            name = gb_names[(k.accessor.name, k.accessor.subkeys)]
            expr = F.parse_json(F.col(name)) if name in gb_variant else F.col(name)
            post.append((k.out_name(), expr))
            continue
        if k.kind == "func":
            post.append((k.out_name(), _func_column(k.func, time_col, tag_col)))
            continue
        # aggregate
        out = k.out_name()
        if k.func == "COUNT":
            # COUNT(k) counts records, not non-null k (flb_sp_aggregate_func.c:199-205)
            agg_exprs.append(F.count(F.lit(1)).alias(f"__a{j}"))
            post.append((out, F.col(f"__a{j}")))
        elif k.func == "TIMESERIES_FORECAST":
            # simple linear regression over (ts, k); predict at max_ts + t
            # (flb_sp_aggregate_func.c:223-308)
            y = _agg_input(df, k.accessor, str_conv).cast("double")
            agg_exprs += [
                F.regr_slope(y, x_col).alias(f"__b1_{j}"),
                F.regr_intercept(y, x_col).alias(f"__b0_{j}"),
                F.max(x_col).alias(f"__mx_{j}"),
            ]
            post.append(
                (out, F.col(f"__b0_{j}") + F.col(f"__b1_{j}") * (F.col(f"__mx_{j}") + k.forecast_offset))
            )
        else:
            fn = {"AVG": F.avg, "SUM": F.sum, "MIN": F.min, "MAX": F.max}[k.func]
            agg_exprs.append(fn(_agg_input(df, k.accessor, str_conv)).alias(f"__a{j}"))
            post.append((k.out_name(), F.col(f"__a{j}")))

    grouped = df.groupBy(*gb_exprs) if gb_exprs else df.groupBy()
    agged = grouped.agg(*agg_exprs) if agg_exprs else grouped.agg(F.count(F.lit(1)).alias("__cnt"))

    final: list[Column] = []
    if windowed:
        final.append(F.col("__w.start").alias(WINDOW_START))
        final.append(F.col("__w.end").alias(WINDOW_END))
    for out, expr in post:
        final.append(expr.alias(out))
    return agged.select(*final)
