"""Query helpers over the materialized knowledge graph.

What a consumer of the graph tables actually runs: degree statistics,
2-hop path expansion, per-predicate cardinalities. All plain DataFrame joins /
aggregations over the (subj, pred, obj) triple table — Catalyst handles the
rest; the triple table is pred-partitioned on disk so predicate-filtered
queries prune partitions at the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def entity_degrees(triples: DataFrame) -> DataFrame:
    """Per-entity out/in/total degree over distinct neighbors."""
    out_d = triples.groupBy(F.col("subj").alias("entity")).agg(
        F.countDistinct("obj").alias("out_degree")
    )
    in_d = triples.groupBy(F.col("obj").alias("entity")).agg(
        F.countDistinct("subj").alias("in_degree")
    )
    return (
        out_d.join(in_d, "entity", "full")
        .fillna({"out_degree": 0, "in_degree": 0})
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
    )


def two_hop_paths(triples: DataFrame) -> DataFrame:
    """All directed 2-hop paths a -[p1]-> b -[p2]-> c with a != c.

    Self-join on the shared middle entity; at scale the triple table is
    bucketable by subj/obj to make this co-located."""
    l = triples.select(F.col("subj").alias("a"), F.col("pred").alias("p1"), F.col("obj").alias("b"))
    r = triples.select(F.col("subj").alias("b"), F.col("pred").alias("p2"), F.col("obj").alias("c"))
    return (
        l.join(r, "b")
        .where(F.col("a") != F.col("c"))
        .select("a", "p1", "b", "p2", "c")
        .distinct()
    )


def predicate_stats(triples: DataFrame) -> DataFrame:
    """Per-predicate edge/subject/object cardinalities."""
    return triples.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.countDistinct("subj").alias("n_subjects"),
        F.countDistinct("obj").alias("n_objects"),
    )
