"""Relational core operators (SURVEY.md sections 2.2-2.4).

Generic, reusable DataFrame transforms; each maps 1:1 to a step the
reference performs imperatively. All are pure built-in-function
compositions — no UDFs, fully Catalyst-optimizable (predicate pushdown,
column pruning, broadcast selection all apply).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def concat_vertex_id(collection: str, key_col: Column | str) -> Column:
    """``"{collection}/" + key`` vertex-id prefix (follower.py:149-150,
    loaders.py:27)."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    return F.concat(F.lit(collection + "/"), c.cast("string"))


def filter_type_dispatch(df: DataFrame, type_col: str, type_value: str) -> DataFrame:
    """Route rows by a type discriminator (follower.py:145,160,177)."""
    return df.filter(F.col(type_col) == type_value)


def dedup_by_key(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Deterministic keep-one-per-key dedup.

    The reference relies on server-side duplicate-ignore (follower.py:205-207)
    which keeps the *first-arriving* doc; a distributed engine has no arrival
    order, so determinism comes from an explicit tiebreak: keep the row with
    the smallest ``order_col``. Implemented as a partial-aggregatable min-by
    (map-side combine, single shuffle) rather than a row_number window,
    which would need a full sort within every key group.
    """
    others = [c for c in df.columns if c not in key_cols]
    struct = F.struct(F.col(order_col), *[F.col(c) for c in others if c != order_col])
    agg = df.groupBy(*key_cols).agg(F.min(struct).alias("_s"))
    keep = [F.col(f"_s.{order_col}").alias(order_col)] + [
        F.col(f"_s.{c}").alias(c) for c in others if c != order_col
    ]
    return agg.select(*key_cols, *keep).select(*df.columns)


def anti_join_new_keys(incoming: DataFrame, existing: DataFrame, key_cols: list[str]) -> DataFrame:
    """Idempotent-insert semantics of ``onDuplicate="ignore"``
    (follower.py:205-207): rows of ``incoming`` whose key is absent from
    ``existing``. Left-anti join; Catalyst broadcasts the smaller side."""
    return incoming.join(existing.select(*key_cols).distinct(), key_cols, "left_anti")


def union_distinct(*dfs: DataFrame) -> DataFrame:
    """Set-union + distinct (vertex extraction, follower.py:147,156,162,173)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out.distinct()


def enrichment_join(
    facts: DataFrame, dim: DataFrame, on: list[str] | str, broadcast_dim: bool = True
) -> DataFrame:
    """Dimension enrichment (inventory -> hotspots, follower.py:130-133).
    Dimensions are small relative to facts at any scale the reference
    handles — broadcast by default; pass False to let AQE decide."""
    d = F.broadcast(dim) if broadcast_dim else dim
    return facts.join(d, on, "left")


def drop_null_rows(df: DataFrame) -> DataFrame:
    """``data.dropna()`` equivalent (loaders.py:35): drop rows with any NULL."""
    return df.na.drop("any")
