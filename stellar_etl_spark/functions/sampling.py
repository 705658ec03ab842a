"""Deterministic dataset splitting for the training-data pipeline layer:
stable hash-based holdout splits (the ``corpus_manifest`` split column).

The split is a pure function of (seed, id) — re-running over a grown corpus
never reassigns an existing row (the property that keeps eval sets honest
across dataset versions), and every assignment is reproducible in any engine
with md5 (the tests recompute the exact membership in DuckDB).

Scale shape: ``hash_split`` is a narrow projection (no shuffle at all). The
md5 hash decorrelates every decision from ingest order, id ranges, and any
data column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from stellar_etl_spark.functions.dedup import _md5_half


def _unit_hash(id_col: Column, seed: str) -> Column:
    """Deterministic uniform [0, 1) draw per id: 32 bits of md5(seed || id).
    Engine-portable (md5 + hex → integer exists everywhere)."""
    h = F.concat(F.lit(seed), F.lit(":"), id_col.cast("string"))
    return _md5_half(h, 1) / F.lit(float(2**32))


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    seed: str = "split-v1",
) -> DataFrame:
    """Append a ``split`` label ('train'/'val'/'test' by default) chosen by
    the id's deterministic unit hash against cumulative weight boundaries.

    Narrow projection — no shuffle, no sampling state; membership depends
    only on (seed, id), so adding documents later never moves an existing
    document between splits. A null id has no stable identity to hash —
    rather than silently lumping every null-id row into one split, the
    projection raises at runtime (fix the ids or filter first)."""
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    total = sum(weights.values())
    u = _unit_hash(F.col(id_col), seed)
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w / total
        expr = (
            F.when(u < acc, F.lit(name))
            if expr is None
            else expr.when(u < acc, F.lit(name))
        )
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    expr = F.when(
        F.col(id_col).isNull(),
        F.raise_error(F.lit(f"hash_split: null {id_col} has no stable split")),
    ).otherwise(expr)
    return df.withColumn("split", expr)
