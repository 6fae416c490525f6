"""Deequ-style data-quality validation: declarative constraint metrics
computed in ONE aggregation pass over the frame.

A metric is a named aggregate expression; :func:`profile` evaluates any
number of them in a single ``df.agg(...)`` — one scan, one map-side-
combined global aggregate, no per-metric jobs (the classic Deequ design
point; at 100 TB a metric suite must not rescan the fact per check).
:func:`check` layers pass/fail assertions on the computed values.

Exact ``uniqueness``/``distinctness`` use COUNT(DISTINCT) (a second
aggregation phase under Expand — still a single scan); pass
``approx=True`` to swap in HLL ``approx_count_distinct`` when an error
band is acceptable at scale.

Output is long-format ``(metric string, value double)`` so a suite of N
metrics is N rows, stable for regression snapshots and the DuckDB
oracle (plans/registry_sources_sketches.py: quality_metrics_orders).
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def completeness(col: str) -> tuple[str, Column]:
    """Fraction of rows where ``col`` is non-null."""
    return (f"completeness({col})",
            F.avg(F.col(col).isNotNull().cast("double")))


def uniqueness(col: str, approx: bool = False) -> tuple[str, Column]:
    """distinct(col) / count(*): 1.0 means the column is a key."""
    d = (F.approx_count_distinct(col) if approx else F.countDistinct(col))
    return (f"uniqueness({col})",
            d.cast("double") / F.count(F.lit(1)))


def compliance(name: str, cond: Column) -> tuple[str, Column]:
    """Fraction of rows satisfying ``cond`` (nulls count as failing)."""
    return (f"compliance({name})",
            F.avg(F.coalesce(cond.cast("double"), F.lit(0.0))))


def minimum(col: str) -> tuple[str, Column]:
    return (f"min({col})", F.min(col).cast("double"))


def maximum(col: str) -> tuple[str, Column]:
    return (f"max({col})", F.max(col).cast("double"))


def mean(col: str) -> tuple[str, Column]:
    return (f"mean({col})", F.avg(col).cast("double"))


def row_count() -> tuple[str, Column]:
    return ("count(*)", F.count(F.lit(1)).cast("double"))


def profile(df: DataFrame, metrics: list[tuple[str, Column]],
            round_to: int = 6) -> DataFrame:
    """All metrics in one aggregation pass → long-format
    ``(metric, value)``, one row per metric, in input order.

    The wide one-row aggregate is unpivoted map-side (inline of a
    struct array) — no extra shuffle beyond the global agg itself."""
    wide = df.agg(*[F.round(expr, round_to).alias(f"__m{i}")
                    for i, (_, expr) in enumerate(metrics)])
    pairs = F.array(*[
        F.struct(F.lit(name).alias("metric"),
                 F.col(f"__m{i}").alias("value"))
        for i, (name, _) in enumerate(metrics)
    ])
    return wide.select(F.inline(pairs))


def check(df: DataFrame,
          checks: list[tuple[str, tuple[str, Column], Callable[[Column], Column]]],
          round_to: int = 6) -> DataFrame:
    """Constraint suite: ``(check_name, metric, assertion)`` triples,
    where ``assertion`` maps the metric value Column to a boolean.
    Returns ``(check, metric, value, passed)`` — still one pass.

    >>> check(orders, [
    ...     ("orderkey is key", uniqueness("o_orderkey"), lambda v: v == 1.0),
    ...     ("price positive", compliance("price>0", F.col("o_totalprice") > 0),
    ...      lambda v: v >= 0.999),
    ... ])
    """
    wide = df.agg(*[F.round(expr, round_to).alias(f"__m{i}")
                    for i, (_, (_, expr), _) in enumerate(checks)])
    rows = F.array(*[
        F.struct(F.lit(cname).alias("check"),
                 F.lit(mname).alias("metric"),
                 F.col(f"__m{i}").alias("value"),
                 assertion(F.col(f"__m{i}")).alias("passed"))
        for i, (cname, (mname, _), assertion) in enumerate(checks)
    ])
    return wide.select(F.inline(rows))


def fk_orphan_report(relations: list[tuple[str, DataFrame, str,
                                           DataFrame, str]]) -> DataFrame:
    """Referential-integrity audit: one row per declared FK relation —
    ``(relation, n_child, n_orphans, orphan_frac)`` where an orphan is a
    child row whose (non-NULL) foreign key matches no parent key.  The
    Deequ-style companion to the single-table metric suite above: the
    cross-table check a warehouse load runs before publishing a zone.

    Relations sharing a child DataFrame are checked in ONE scan of that
    child: all its FK columns ride one projection, each parent's
    DISTINCT keys join in broadcast (dim-sized), and a single
    aggregation counts every relation's orphans at once (``parent IS
    NULL`` after its left join), then unpivots to one row per relation
    — so auditing lineitem's three FKs costs one lineitem pass, not
    three.  NULL FKs are not orphans (SQL semantics: a NULL FK is
    "unknown", caught by the completeness metric, not this one)."""
    by_child: dict[int, tuple[DataFrame, list]] = {}
    for name, child, fk, parent, pk in relations:
        by_child.setdefault(id(child), (child, []))[1].append(
            (name, fk, parent, pk))
    outs = []
    for child, rels in by_child.values():
        fks = sorted({fk for _, fk, _, _ in rels})
        joined = child.select(*[F.col(fk) for fk in fks])
        for i, (name, fk, parent, pk) in enumerate(rels):
            keys = parent.select(F.col(pk).alias(f"__pk{i}")).distinct()
            joined = joined.join(F.broadcast(keys),
                                 F.col(fk) == F.col(f"__pk{i}"), "left")
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, (name, fk, parent, pk) in enumerate(rels):
            aggs.append(F.sum((F.col(fk).isNotNull()
                               & F.col(f"__pk{i}").isNull()).cast("long"))
                        .alias(f"__o{i}"))
        wide = joined.agg(*aggs)
        rows = F.array(*[
            F.struct(F.lit(name).alias("relation"),
                     F.col("__n").alias("n_child"),
                     F.col(f"__o{i}").alias("n_orphans"))
            for i, (name, *_rest) in enumerate(rels)])
        outs.append(wide.select(F.inline(rows)))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select("relation", "n_child", "n_orphans",
                      F.round(F.col("n_orphans") / F.col("n_child"), 6)
                      .alias("orphan_frac"))
