"""Iterative similarity search with threshold relaxation (SURVEY F11).

The reference finds "similar ads" by widening/narrowing a search box
over a 5x4x6 grid of (distance, ±price%, recency-days) thresholds until
3-10 rows match (app.py:1236-1270,1750-1785). The distributed form:
cache the candidate table once, then iterate cheap filters driver-side
— each probe is a codegen'd predicate over the cached DataFrame, so the
loop costs one in-memory scan per step, no recomputation, no shuffle.

Also hosts the embedding-space variant used by queries_ml (fixed-radius
widening over cosine distance)."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class RelaxationResult:
    df: DataFrame
    n: int
    step: int  # grid index that satisfied the bounds (-1 = fell through)


def iterative_relaxation(
    candidates: DataFrame,
    predicate_for: "callable[[tuple], Column]",
    grid: list[tuple],
    min_rows: int = 3,
    max_rows: int = 10,
) -> RelaxationResult:
    """Walk ``grid`` (loosest-last) and return the first threshold tuple
    whose filtered count lands in [min_rows, max_rows]; if none does,
    return the closest-from-above, else the loosest."""
    cached = candidates.cache()
    try:
        best: tuple[int, int, DataFrame] | None = None  # (n, step, df)
        for step, params in enumerate(grid):
            df = cached.filter(predicate_for(params))
            n = df.count()
            if min_rows <= n <= max_rows:
                return RelaxationResult(df, n, step)
            if n > max_rows and (best is None or n < best[0]):
                best = (n, step, df)
        if best is not None:
            return RelaxationResult(best[2], best[0], -1)
        df = cached.filter(predicate_for(grid[-1]))
        return RelaxationResult(df, df.count(), -1)
    finally:
        cached.unpersist()
