"""End-to-end NER pipeline tests: train -> Spark recognize -> F1 + parity."""

import pandas as pd

from nametag_spark.data.synth import synth_transcripts
from nametag_spark.model.model import NerModel
from nametag_spark.ner.pipeline import recognize_df, recognize_local, tokenize_df


def test_tokenize_df_matches_local(spark):
    tdf, _ = synth_transcripts(n_conversations=10, seed=5)
    sdf = spark.createDataFrame(tdf)
    tokens = tokenize_df(sdf).toPandas()
    from nametag_spark.tokenizer.rules import tokenize_forms

    # per-turn text equality under stable ordering (north rule)
    got = (
        tokens.sort_values(["conv_id", "turn_idx", "sent_idx", "tok_idx"])
        .groupby(["conv_id", "turn_idx"])["form"]
        .apply(list)
        .to_dict()
    )
    for row in tdf.itertuples(index=False):
        expect = [t for s in tokenize_forms(row.text) for t in s]
        assert got[(row.conv_id, row.turn_idx)] == expect


def test_per_turn_text_equality_under_stable_ordering(spark):
    """North-rule invariant: reconstructing each turn from its token table
    (ordered by the stable (conv_id, turn_idx) window) reproduces the text
    whitespace-insensitively, and token char spans slice exactly."""
    from pyspark.sql import Window, functions as F

    tdf, _ = synth_transcripts(n_conversations=10, seed=23)
    sdf = spark.createDataFrame(tdf)

    # stable turn ordering (Window over conv_id, turn_idx)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ordered = sdf.withColumn("turn_rank", F.row_number().over(w))
    ranks = ordered.select("conv_id", "turn_idx", "turn_rank").toPandas()
    assert (ranks["turn_rank"] == ranks["turn_idx"] + 1).all()

    tokens = tokenize_df(sdf)
    joined = (
        tokens.join(sdf.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"])
        .withColumn("sliced", F.expr("substring(text, start + 1, length)"))
    )
    mismatch = joined.where(F.col("sliced") != F.col("form")).count()
    assert mismatch == 0

    recon = (
        tokens.orderBy("conv_id", "turn_idx", "sent_idx", "tok_idx")
        .groupBy("conv_id", "turn_idx")
        .agg(F.concat_ws(" ", F.collect_list("form")).alias("recon"))
        .toPandas()
    )
    orig = {(r.conv_id, r.turn_idx): r.text for r in tdf.itertuples(index=False)}
    for r in recon.itertuples(index=False):
        assert r.recon == orig[(r.conv_id, r.turn_idx)]


def test_spark_matches_oracle(spark, tiny_model_dir):
    """Spark mentions == single-process oracle mentions, row for row."""
    tdf, _ = synth_transcripts(n_conversations=15, seed=9)
    sdf = spark.createDataFrame(tdf)
    mentions = recognize_df(sdf, tiny_model_dir).toPandas()

    model = NerModel.load(tiny_model_dir)
    expected_rows = []
    for row in tdf.itertuples(index=False):
        for m in recognize_local(model, [row.text])[0]:
            expected_rows.append({"conv_id": row.conv_id, "turn_idx": row.turn_idx, **m})
    expected = pd.DataFrame(expected_rows)

    key = ["conv_id", "turn_idx", "sent_idx", "tok_start", "tok_len", "type", "surface"]
    got_sorted = mentions[key].sort_values(key).reset_index(drop=True)
    exp_sorted = expected[key].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_sorted, exp_sorted, check_dtype=False)


def test_span_f1_against_gold(spark, tiny_model_dir):
    """North-rule gate: span-level F1 >= 0.95 on fresh synthetic eval data."""
    tdf, gdf = synth_transcripts(n_conversations=20, seed=11)
    sdf = spark.createDataFrame(tdf)
    mentions = recognize_df(sdf, tiny_model_dir).toPandas()

    pred = set(
        map(
            tuple,
            mentions[["conv_id", "turn_idx", "sent_idx", "tok_start", "tok_len", "type"]].values,
        )
    )
    gold = set(
        map(tuple, gdf[["conv_id", "turn_idx", "sent_idx", "tok_start", "tok_len", "type"]].values)
    )
    tp = len(pred & gold)
    precision = tp / len(pred)
    recall = tp / len(gold)
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.95, f"span F1 {f1:.3f} below gate (P={precision:.3f} R={recall:.3f})"


def test_model_save_load_roundtrip(tiny_model_dir, tmp_path):
    model = NerModel.load(tiny_model_dir)
    out = str(tmp_path / "resaved")
    model.save(out)
    m2 = NerModel.load(out)
    text = "Alice Johnson works at Acme Labs in Prague ."
    assert recognize_local(model, [text]) == recognize_local(m2, [text])


def test_hidden_layer_model(tmp_path):
    """Optional sigmoid hidden layer (network_classifier.cpp:189-209,
    backprop :229-258): train, save/load, batched/reference parity, P/R on gold."""
    from nametag_spark.data.synth import gold_to_conll, synth_transcripts
    from nametag_spark.features.templates import Sentence
    from nametag_spark.ner.pipeline import _BatchRecognizer
    from nametag_spark.tokenizer.rules import tokenize_sentences
    from nametag_spark.train.trainer import train_ner

    tdf, gdf = synth_transcripts(n_conversations=25, seed=1)
    model = train_ner(
        "Form/2\nFormCapitalization/2\nFormSuffix/1 2 4\nPreviousStage/3",
        gold_to_conll(tdf, gdf),
        stages=2,
        params={"iterations": 6, "hidden_layer": 8},
    )
    out = str(tmp_path / "hidden")
    model.save(out)
    m2 = NerModel.load(out)
    assert m2.networks[0].n_hidden == 8

    edf, egdf = synth_transcripts(n_conversations=8, seed=3)
    texts = list(edf["text"])

    def build():
        res = []
        for t in texts:
            for s in tokenize_sentences(t):
                res.append(Sentence([t[a : a + b] for (a, b) in s]))
        return res

    rf = _BatchRecognizer(m2).recognize_batch(build())
    rs = [m2.recognize_sentence(s.forms) for s in build()]
    assert rf == rs

    pred = set()
    for row in edf.itertuples(index=False):
        for m in recognize_local(m2, [row.text])[0]:
            pred.add((row.conv_id, row.turn_idx, m["sent_idx"], m["tok_start"], m["tok_len"], m["type"]))
    gold = {
        (r.conv_id, r.turn_idx, r.sent_idx, r.tok_start, r.tok_len, r.type)
        for r in egdf.itertuples(index=False)
    }
    tp = len(pred & gold)
    assert tp / len(pred) >= 0.95 and tp / len(gold) >= 0.95


def test_external_tagger_sentences():
    """External analyses ('form raw_lemma tag', external_tagger.cpp:32-63)
    flow through the RawLemma*/Lemma/Tag templates on the batched plan,
    keyed on the full morphology tuple; trivial-tagger behavior is
    unchanged."""
    from nametag_spark.data.synth import gold_to_conll, synth_transcripts
    from nametag_spark.features.templates import Sentence
    from nametag_spark.ner.pipeline import _BatchRecognizer
    from nametag_spark.train.trainer import train_ner

    tdf, gdf = synth_transcripts(n_conversations=20, seed=1)
    model = train_ner(
        "Form/2\nRawLemma/2\nRawLemmaSuffix/1 2 3\nLemma/1\nTag/1\nPreviousStage/2",
        gold_to_conll(tdf, gdf),
        stages=1,
        params={"iterations": 4},
    )
    rec = _BatchRecognizer(model)

    s_ext = Sentence.from_external(["Alice Alice NNP", "Johnson Johnson NNP", "works work VBZ"])
    assert s_ext.external
    assert s_ext.get_raw_lemmas() == ["Alice", "Johnson", "work"]
    assert s_ext.get_tags() == ["NNP", "NNP", "VBZ"]
    out = rec.recognize_batch([s_ext])
    assert isinstance(out[0], list)  # runs end-to-end on the batched plan

    # identical analyses == trivial tagger -> identical result
    s_triv = Sentence(["Alice", "Johnson", "works"])
    s_same = Sentence.from_external(["Alice Alice", "Johnson Johnson", "works works"])
    s_same.tags = ["", "", ""]
    r1 = rec.recognize_batch([s_triv])
    r2 = rec.recognize_batch([s_same])
    assert r1 == r2
