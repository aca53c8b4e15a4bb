"""Triple extraction: (subj, pred, obj) from co-occurring canonical entities.

North-rule component (no reference analogue). Pure DataFrame work:
mentions joined to themselves within a sentence window; predicates derived
from the entity-type pair plus the turn's role/tool context; aggregation
collects provenance (SURVEY.md §2.8 "Triple aggregation").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# type-pair -> base predicate (subject type, object type)
PREDICATE_RULES = [
    ("PER", "ORG", "affiliated_with"),
    ("PER", "LOC", "located_in"),
    ("ORG", "LOC", "located_in"),
    ("PER", "PER", "associated_with"),
    ("PER", "EMAIL", "has_email"),
    ("PER", "URL", "has_url"),
    ("ORG", "URL", "has_url"),
    ("ORG", "EMAIL", "has_email"),
    ("PER", "TIME", "active_at"),
    ("ORG", "TIME", "active_at"),
]
_PRED_CASE = "CASE " + " ".join(
    f"WHEN subj_type = '{s}' AND obj_type = '{o}' THEN '{p}'" for s, o, p in PREDICATE_RULES
) + " END"


def triple_evidence(
    mention_entities: DataFrame,
    transcripts: DataFrame | None = None,
    window: str = "sentence",
    id_cols: tuple = ("entity_id",),
) -> DataFrame:
    """Pre-aggregation triple evidence: one row per co-occurring mention
    pair with its predicate and provenance. A full build feeds them straight
    into aggregate_triples; an incremental ingest (graph_io.append_mentions)
    stores each batch's rows (no global state needed), and the incremental
    build joins entity ids onto them before aggregating.

    id_cols: columns carried from each mention side as subj/obj identity —
    ('entity_id',) after resolution, or none (surface-only evidence) when
    resolution comes later, as in the incremental store."""
    use_sent = window == "sentence"
    has_eid = "entity_id" in id_cols
    keys = ["conv_id", "turn_idx"]
    fields = ["tok_start", "type", "norm"] + (["sent_idx"] if use_sent else []) + (
        ["entity_id"] if has_eid else []
    )
    # NULL group keys can never pair (the join formulation's equality
    # semantics); dropping them up front keeps groupBy identical to it
    m = mention_entities.select(*keys, *fields).where(
        F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull()
    )
    # ONE explicit hash partition on (conv_id, turn_idx): mention pairs are
    # generated by collecting each turn's (few) mentions into an array and
    # exploding the in-array ordered pairs — the self-JOIN formulation
    # shuffled the mention table TWICE (a self-join's two sides are
    # separate exchanges of the same rows; the r8.0 "one pinned exchange"
    # comment was wrong about that) and sorted both sides for the SMJ.
    # Being user-specified, the repartition both feeds the groupBy with no
    # second exchange (same key) and pins the pair stage's parallelism
    # (AQE coalesces planner exchanges by byte size alone); sentence
    # windowing moves into the pair filter so the partitioning ALSO
    # satisfies the transcript-context join below at any scale.
    spark = mention_entities.sparkSession
    n_part = int(spark.conf.get("spark.nametag.triples.pairPartitions", "0") or 0)
    if n_part <= 0:
        n_part = spark.sparkContext.defaultParallelism
    m = m.repartition(n_part, "conv_id", "turn_idx")

    def pair_ok(x, y):
        cond = x["tok_start"] < y["tok_start"]
        if use_sent:
            cond = cond & (x["sent_idx"] == y["sent_idx"])
        if has_eid:
            cond = cond & (x["entity_id"] != y["entity_id"])
        else:
            cond = cond & ((x["type"] != y["type"]) | (x["norm"] != y["norm"]))
        return cond

    grouped = m.groupBy(*keys).agg(F.collect_list(F.struct(*fields)).alias("_ms"))
    # filter BEFORE building pair structs: per x only the surviving partners
    # materialize, so a mention-heavy turn's transient is O(true pairs + s)
    # rather than s^2 structs in one array value
    pair_arr = F.flatten(
        F.transform(
            "_ms",
            lambda x: F.transform(
                F.filter("_ms", lambda y: pair_ok(x, y)),
                lambda y: F.struct(x.alias("l"), y.alias("r")),
            ),
        )
    )
    cols = [
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("_p.l.type").alias("subj_type"),
        F.col("_p.r.type").alias("obj_type"),
        F.col("_p.l.norm").alias("subj_norm"),
        F.col("_p.r.norm").alias("obj_norm"),
    ]
    if has_eid:
        cols += [F.col("_p.l.entity_id").alias("subj"), F.col("_p.r.entity_id").alias("obj")]
    pairs = grouped.select(*keys, F.explode(pair_arr).alias("_p")).select(*cols)

    # predicate rules are a tiny dimension: one SQL CASE launches no
    # broadcast job (a join with the rules would, per evidence query) and
    # is built in one py4j call
    triples = pairs.withColumn("pred", F.expr(_PRED_CASE)).where(F.col("pred").isNotNull())

    if transcripts is not None:
        ctx = transcripts.select("conv_id", "turn_idx", "role", "tool")
        triples = triples.join(ctx, ["conv_id", "turn_idx"], "left").withColumn(
            "pred",
            F.when(
                (F.col("role") == "tool") & (F.length("tool") > 0),
                F.concat_ws("_", F.col("pred"), F.lit("via"), F.col("tool")),
            ).otherwise(F.col("pred")),
        ).drop("role", "tool")

    return triples.withColumn("evidence", F.concat_ws(":", "conv_id", "turn_idx"))


def extract_triples(
    mention_entities: DataFrame,
    transcripts: DataFrame | None = None,
    window: str = "sentence",
    evidence_cap: int | None = 1000,
) -> DataFrame:
    """mention_entities: output of resolve_entities()[0] — mentions with
    (conv_id, turn_idx, sent_idx, tok_start, type, norm, entity_id).

    window: 'sentence' pairs mentions within the same sentence; 'turn'
    within the same turn.

    Returns (subj, pred, obj, subj_type, obj_type, n_evidence, evidence)
    where subj/obj are canonical entity ids and evidence is a deduplicated
    list of "conv_id:turn_idx" provenance strings.
    """
    triples = triple_evidence(mention_entities, transcripts, window)
    return aggregate_triples(triples, evidence_cap)


def aggregate_triples(triples: DataFrame, evidence_cap: int | None = 1000) -> DataFrame:
    """Evidence rows -> aggregated triple table (used by the full build and
    by the incremental build over the stored evidence)."""
    # One fused salted two-phase aggregation carries the head attributes,
    # the co-occurrence count, AND the provenance list (previously a head
    # groupBy + a separate salted agg + a join — two full shuffles over the
    # same pair set). Phase 1 pre-aggregates on (key, salt) so a hub triple
    # (a hot (subj, pred, obj) across millions of turns) cannot overload a
    # single reducer partition (north-rule skew handling; AQE can't split a
    # collect_list group). All head attributes use min(): deterministic
    # (unlike first()), so the output is hash-stable run to run. subj/obj
    # types are constant per entity (resolution is typed), and the norm is
    # the lexicographically-smallest mention surface of the entity.
    from .skew import add_salt

    keyed = triples.select(
        "subj", "pred", "obj", "subj_type", "obj_type", "subj_norm", "obj_norm", "evidence"
    )
    salted = add_salt(keyed, n_salts=16)
    phase1 = salted.groupBy("subj", "pred", "obj", "_salt").agg(
        F.min("subj_type").alias("subj_type"),
        F.min("obj_type").alias("obj_type"),
        F.min("subj_norm").alias("subj_norm"),
        F.min("obj_norm").alias("obj_norm"),
        F.count(F.lit(1)).alias("_cnt"),
        F.array_distinct(F.collect_list("evidence")).alias("_vals"),
    )
    merged = phase1.groupBy("subj", "pred", "obj").agg(
        F.min("subj_type").alias("subj_type"),
        F.min("obj_type").alias("obj_type"),
        F.min("subj_norm").alias("subj_norm"),
        F.min("obj_norm").alias("obj_norm"),
        F.sum("_cnt").alias("n_cooccur"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("_vals")))).alias("_all"),
    )
    ev = F.col("_all") if evidence_cap is None else F.slice("_all", 1, evidence_cap)
    return merged.select(
        "subj",
        "pred",
        "obj",
        "subj_type",
        "obj_type",
        "subj_norm",
        "obj_norm",
        F.size("_all").alias("n_evidence"),
        ev.alias("evidence"),
        "n_cooccur",
    )
