"""Skew handling: deterministic salts, exact salted triple aggregation."""

from nametag_spark.kg.skew import add_salt


def test_salt_determinism(spark):
    df = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"])
    s1 = {(r["k"], r["_salt"]) for r in add_salt(df).collect()}
    s2 = {(r["k"], r["_salt"]) for r in add_salt(df).collect()}
    assert s1 == s2


def test_triples_with_evidence_cap(spark):
    import pandas as pd

    rows = []
    for t in range(30):
        rows.append({"conv_id": "c", "turn_idx": t, "sent_idx": 0, "tok_start": 0,
                     "type": "PER", "entity_id": 1, "norm": "alice"})
        rows.append({"conv_id": "c", "turn_idx": t, "sent_idx": 0, "tok_start": 3,
                     "type": "ORG", "entity_id": 2, "norm": "acme"})
    me = spark.createDataFrame(pd.DataFrame(rows))
    from nametag_spark.kg.triples import extract_triples

    t = extract_triples(me, evidence_cap=5).toPandas()
    assert len(t) == 1
    assert t.iloc[0]["n_evidence"] == 30  # exact distinct count
    assert len(t.iloc[0]["evidence"]) == 5
    assert t.iloc[0]["n_cooccur"] == 30
