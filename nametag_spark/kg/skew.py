"""Explicit skew handling (north rule: salted repartitioning + AQE).

Where skew can appear in this engine and how each site is handled:

  - NER over turns: the distribution unit is the ROW (conv_id, turn_idx),
    never a whole conversation, so a mega-conversation spreads across
    partitions by construction (SURVEY §7.3 risk 4).
  - Joins/aggregations in the relational shell: AQE skew-join splitting is
    enabled in session.py (spark.sql.adaptive.skewJoin.enabled).
  - Hub keys inside aggregations that AQE cannot split (collect_list on a
    hot (subj, pred, obj)): `triples.aggregate_triples` pre-aggregates on
    (key, `add_salt`) and merges — the classic salting pattern, kept exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def add_salt(df: DataFrame, n_salts: int = 16, salt_col: str = "_salt") -> DataFrame:
    """Deterministic row salt derived from a stable hash of all columns."""
    return df.withColumn(
        salt_col, F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )
