"""Full-feature model: every implemented template name in one 2-stage model,
with gazetteer hard_pre/hard_post, Brown clusters, and containers."""

import os

import pytest

from nametag_spark.data.synth import gold_to_conll, synth_transcripts
from nametag_spark.model.model import NerModel
from nametag_spark.ner.pipeline import _BatchRecognizer, recognize_local
from nametag_spark.train.trainer import train_ner

FULL_TEMPLATES = """
Form/2
FormCapitalization/2
FormCaseNormalized/2
FormSuffix/1 2 4
FormCaseNormalizedSuffix/1 2 4
RawLemma/2
RawLemmaCapitalization/2
RawLemmaCaseNormalized/2
RawLemmaSuffix/1 2 4
RawLemmaCaseNormalizedSuffix/1 2 4
Lemma/1
Tag/1
NumericTimeValue/2
BrownClusters/1 brown_clusters.tsv 1 2
CzechLemmaTerm/1
PreviousStage/3
URLEmailDetector/1 URL EMAIL
GazetteersEnhanced/2 form embed_in_model gaz_loc LOC gaz_org ORG gaz_post ORG
CzechAddContainers/0
"""


@pytest.fixture(scope="module")
def full_model_dir(tmp_path_factory):
    base = tmp_path_factory.mktemp("full_model_fixtures")
    (base / "brown_clusters.tsv").write_text(
        "00\tPrague\n00\tBerlin\n00\tLondon\n01\tAcme\n01\tGlobex\n10\tAlice\n10\tBob\n",
        encoding="utf-8",
    )
    (base / "gaz_loc.txt").write_text(
        "# soft location gazetteer\nPrague\nBerlin\nLondon\nParis\nVienna\n", encoding="utf-8"
    )
    (base / "gaz_loc.hard_pre.txt").write_text("Xanadu\nShangri La\n", encoding="utf-8")
    (base / "gaz_org.txt").write_text("Acme Industries\nGlobex Labs\n", encoding="utf-8")
    # hard_post list under its own basename (its soft features never fire in
    # training, so the classifier stays unbiased and leaves the tokens O) and
    # lowercase (so capitalization features don't tag them either): the
    # hard_post gap-fill is then what recognizes the span
    # filler words the classifier reliably labels O in context
    (base / "gaz_post.hard_post.txt").write_text("minor changes\n", encoding="utf-8")

    tdf, gdf = synth_transcripts(n_conversations=40, seed=1)
    hdf, hgdf = synth_transcripts(n_conversations=10, seed=2)
    model = train_ner(
        FULL_TEMPLATES,
        gold_to_conll(tdf, gdf),
        gold_to_conll(hdf, hgdf),
        stages=2,
        params={"iterations": 6},
        base_dir=str(base),
    )
    out = str(base / "model")
    model.save(out)
    return out


def test_full_model_f1(full_model_dir):
    model = NerModel.load(full_model_dir)
    edf, egdf = synth_transcripts(n_conversations=15, seed=33)
    pred = set()
    for row in edf.itertuples(index=False):
        for m in recognize_local(model, [row.text])[0]:
            pred.add((row.conv_id, row.turn_idx, m["sent_idx"], m["tok_start"], m["tok_len"], m["type"]))
    gold = {
        (r.conv_id, r.turn_idx, r.sent_idx, r.tok_start, r.tok_len, r.type)
        for r in egdf.itertuples(index=False)
    }
    tp = len(pred & gold)
    precision = tp / len(pred)
    recall = tp / len(gold)
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.95, f"full-model F1 {f1:.3f}"


def test_full_model_fast_slow_parity(full_model_dir):
    from nametag_spark.features.templates import Sentence
    from nametag_spark.tokenizer.rules import tokenize_sentences

    model = NerModel.load(full_model_dir)
    edf, _ = synth_transcripts(n_conversations=10, seed=44)
    texts = list(edf["text"]) + [
        "Xanadu is lovely this time of year .",
        "We visited Shangri La and noted minor changes yesterday .",
    ]

    def build():
        out = []
        for t in texts:
            for s in tokenize_sentences(t):
                out.append(Sentence([t[a : a + b] for (a, b) in s]))
        return out

    r_fast = _BatchRecognizer(model).recognize_batch(build())
    r_ref = [model.recognize_sentence(s.forms) for s in build()]
    assert r_fast == r_ref


def test_hard_pre_forces_entity(full_model_dir):
    model = NerModel.load(full_model_dir)
    # nonsense context: the classifier knows nothing, the hard_pre gazetteer pin wins
    ments = recognize_local(model, ["Qwerty zzz Xanadu bbb qqq ."])[0]
    assert any(m["surface"] == "Xanadu" and m["type"] == "LOC" for m in ments)
    # multiword hard_pre
    ments = recognize_local(model, ["Qwerty zzz Shangri La bbb qqq ."])[0]
    assert any(m["surface"] == "Shangri La" and m["type"] == "LOC" for m in ments)


def test_hard_post_fills_gaps(full_model_dir):
    model = NerModel.load(full_model_dir)
    ments = recognize_local(model, ["please review minor changes before deadline ."])[0]
    assert any(m["surface"] == "minor changes" and m["type"] == "ORG" for m in ments), ments


def test_czech_add_containers_unit():
    from nametag_spark.features.templates import CzechAddContainers, EntityMap, Sentence, _Total

    proc = CzechAddContainers()
    proc.parse(0, [], EntityMap(), _Total(1))
    # pf pf ps -> P container over the whole run
    ents = [[0, 1, "pf"], [1, 1, "pf"], [2, 1, "ps"]]
    proc.process_entities(Sentence(["a", "b", "c"]), ents, None)
    assert [0, 3, "P"] in ents
    # td tm ty -> T container
    ents = [[0, 1, "td"], [1, 1, "tm"], [2, 1, "ty"]]
    proc.process_entities(Sentence(["1", "May", "2020"]), ents, None)
    assert [0, 3, "T"] in ents
    # tm ty without td -> T
    ents = [[0, 1, "tm"], [1, 1, "ty"]]
    proc.process_entities(Sentence(["May", "2020"]), ents, None)
    assert [0, 2, "T"] in ents
    # non-adjacent pf ps -> no container
    ents = [[0, 1, "pf"], [2, 1, "ps"]]
    proc.process_entities(Sentence(["a", "b", "c"]), ents, None)
    assert all(e[2] != "P" for e in ents)


def test_brown_clusters_ids():
    from nametag_spark.features.templates import BrownClusters, EntityMap, _Total
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "bc.tsv")
        with open(path, "w", encoding="utf-8") as f:
            f.write("000\talpha\n000\tbeta\n01\tgamma\n")
        total = _Total(1)
        proc = BrownClusters()
        proc.parse(1, ["bc.tsv", "1", "2"], EntityMap(), total, base_dir=d)
        # empty key consumed ids first (window+total semantics), then prefix
        # blocks: cluster '000' -> prefixes {full '000', '0', '00'}; cluster
        # '01' -> {'01' full, '0' shared, ... '0' already present}
        assert proc.map["alpha"] == proc.map["beta"] == 0
        assert proc.map["gamma"] == 1
        assert len(proc.clusters[0]) == 3  # 000, 0, 00
        # '01' full prefix is new; '0' shared with cluster 0 ('01'[:2] == '01' not < len? len('01')==2 -> sub 2 not < 2 -> skipped)
        assert len(proc.clusters[1]) == 2  # '01', '0'
        shared = set(proc.clusters[0]) & set(proc.clusters[1])
        assert len(shared) == 1  # the '0' prefix feature is shared


def test_deprecated_gazetteers_processor(tmp_path):
    """F11 Gazetteers (deprecated): prefix-map matching with per-file shared
    feature ids and G/U/B/I/L positional blocks."""
    from nametag_spark.features.templates import EntityMap, Gazetteers, Sentence, _Total

    gaz = tmp_path / "old_gaz.txt"
    gaz.write_text("New York\nNew York City\nParis\n", encoding="utf-8")
    total = _Total(1)
    proc = Gazetteers()
    proc.parse(2, ["old_gaz.txt"], EntityMap(), total, base_dir=str(tmp_path))
    span = 2 * 2 + 1
    # longest entry = 3 tokens -> multiplier I+1 = 5 blocks
    assert total.value == 1 + span + span * 5  # empty key + 5 positional blocks

    s = Sentence(["We", "love", "New", "York", "City", "and", "Paris"])
    s.clear_features()
    proc.process_sentence(s)
    # "Paris" (unigram): G and U features at position 6
    base = proc.info[proc.map["Paris"]]["features"][0]
    assert (base + proc.G * span) in s.features[6]
    assert (base + proc.U * span) in s.features[6]
    # "New York" and "New York City" multiword: B at 'New', L at last token
    b2 = proc.info[proc.map["New York"]]["features"][0]
    assert (b2 + proc.B * span) in s.features[2]
    assert (b2 + proc.L * span) in s.features[3]
    b3 = proc.info[proc.map["New York City"]]["features"][0]
    assert (b3 + proc.B * span) in s.features[2]
    assert (b3 + proc.I * span) in s.features[3]
    assert (b3 + proc.L * span) in s.features[4]


def _pin_soft_events(model, forms):
    """(pos, fid) soft events of one sentence twice over: from the batched
    plan's FastFeaturizer.pins_batch, and from the reference processors'
    process_sentence appends, in order."""
    import numpy as np
    import pandas as pd

    from nametag_spark.ner.fast import FastFeaturizer

    fz = FastFeaturizer(model)
    sent = model.make_sentence(forms)
    n = sent.size
    keys = np.empty(n, dtype=object)
    keys[:] = fz._token_keys(sent)
    codes, uniques = pd.factorize(keys)
    batch = (codes, uniques, np.array([0, n]), np.zeros(n, dtype=np.int64), np.full(n, n, dtype=np.int64))
    soft_pos, soft_fid = fz.pins_batch([sent], batch)[:2]

    ref = model.make_sentence(forms)
    ref.clear_probabilities_local_filled()
    ref.features = [[] for _ in range(n)]
    for p in fz.pin_procs:
        p.process_sentence(ref)
    expected = [(i, f) for i, fl in enumerate(ref.features) for f in fl]
    return list(zip(soft_pos.tolist(), soft_fid.tolist())), expected


def _batch_equals_reference(model, forms_lists):
    """Batched decisions equal recognize_sentence on every sentence, and a
    second pass over the same Sentence objects (replaying their pin memos)
    returns the same result."""
    rec = _BatchRecognizer(model)
    sents = [model.make_sentence(f) for f in forms_lists]
    first = rec.recognize_batch(sents)
    assert first == [model.recognize_sentence(f) for f in forms_lists]
    assert any(getattr(s, "_pins_memo", None) is not None for s in sents)
    assert rec.recognize_batch(sents) == first


def test_deprecated_gazetteers_in_model(tmp_path):
    """Deprecated plain Gazetteers on the batched plan: two processors over
    multi-word, shared-prefix entries (one entry in two list files) beside
    URLEmailDetector. Soft events equal the reference processors' and
    decisions equal recognize_sentence."""
    from nametag_spark.tokenizer.rules import tokenize_sentences

    (tmp_path / "locs.txt").write_text(
        "Prague\nBerlin\nLondon\nNew York\nNew York City\n", encoding="utf-8"
    )
    (tmp_path / "orgs.txt").write_text("Acme Corp\nNew York Times\nLondon\n", encoding="utf-8")
    tdf, gdf = synth_transcripts(n_conversations=15, seed=1)
    model = train_ner(
        "Form/2\nFormCapitalization/2\nURLEmailDetector/1 URL EMAIL\n"
        "Gazetteers/2 locs.txt orgs.txt\nGazetteers/1 orgs.txt locs.txt\nPreviousStage/2",
        gold_to_conll(tdf, gdf),
        stages=2,
        params={"iterations": 4},
        base_dir=str(tmp_path),
    )
    texts = list(synth_transcripts(n_conversations=5, seed=9)[0]["text"]) + [
        "She moved to New York City last year .",
        "The New York Times wrote about London and New York .",
        "Mail bob@acme.com about Acme Corp in New York City",
    ]
    forms_lists = [[t[a : a + b] for (a, b) in s] for t in texts for s in tokenize_sentences(t)]

    got, expected = _pin_soft_events(model, "She moved to New York City last year .".split())
    assert got and got == expected
    _batch_equals_reference(model, forms_lists)


def test_deprecated_gazetteers_match_raw_lemmas(tmp_path):
    """Plain Gazetteers match raw lemmas: under a morpho tagger the batched
    plan reads them off the factorized (form, raw_lemma, ...) token keys."""
    from nametag_spark.morpho.dictionary import Morpho, MorphoDictionary, SuffixRuleGuesser
    from nametag_spark.morpho.tagger import MorphoTagger, PerceptronTagger

    d = MorphoDictionary.from_forms([("Prahy", "Praha", "NNP"), ("Yorku", "York", "NNP")])
    mt = MorphoTagger(Morpho(d, SuffixRuleGuesser(), "UNK"), PerceptronTagger())
    (tmp_path / "locs.txt").write_text("Praha\nNew York\n", encoding="utf-8")
    conll = "\n\n".join(
        [
            "Alice\tB-PER\nflew\tO\nto\tO\nPrahy\tB-LOC\n.\tO",
            "Bob\tB-PER\nsaw\tO\nNew\tB-LOC\nYorku\tI-LOC\n.\tO",
        ]
        * 4
    )
    model = train_ner(
        "Form/1\nGazetteers/1 locs.txt\nPreviousStage/1", conll, stages=2,
        params={"iterations": 4}, tagger=mt, base_dir=str(tmp_path),
    )
    forms = ["Eve", "left", "Prahy", "for", "New", "Yorku", "."]
    sent = model.make_sentence(forms)
    assert sent.get_raw_lemmas()[2] == "Praha" and sent.get_raw_lemmas()[5] == "York"

    got, expected = _pin_soft_events(model, forms)
    assert {p for p, _ in got} >= {2, 4, 5}
    assert got == expected
    _batch_equals_reference(model, [forms, ["Praha", "and", "Prahy", "."], ["Yorku", "alone"]])


def test_deprecated_gazetteers_skip_empty_raw_lemmas(tmp_path, monkeypatch):
    """A token whose external raw lemma is empty ('Alice  NNP': two spaces)
    matches no plain Gazetteers entry. The entry index shares its dict with
    the feature id parse() stores under "", which must not be read as an
    entry, by the reference processors or by the batched plan."""
    from nametag_spark.features.templates import Sentence

    (tmp_path / "locs.txt").write_text("Prague\nNew York\n", encoding="utf-8")
    (tmp_path / "orgs.txt").write_text("Acme Corp\nNew York Times\n", encoding="utf-8")
    tdf, gdf = synth_transcripts(n_conversations=10, seed=1)
    model = train_ner(
        "Form/1\nGazetteers/1 locs.txt orgs.txt\nGazetteers/2 orgs.txt\nPreviousStage/1",
        gold_to_conll(tdf, gdf),
        stages=2,
        params={"iterations": 3},
        base_dir=str(tmp_path),
    )
    # the external tagger's analyses are the sentence: "form raw_lemma tag"
    monkeypatch.setattr(model, "make_sentence", Sentence.from_external)
    tokens = ["Alice  NNP", "left leave VBD", "New", "York", "for", "Prague", ".  ."]
    assert model.make_sentence(tokens).get_raw_lemmas()[0] == ""

    got, expected = _pin_soft_events(model, tokens)
    assert {p for p, _ in got} >= {2, 3, 5}
    assert got == expected
    _batch_equals_reference(
        model, [tokens, ["Acme", "Corp", "hired", "Bob  NNP"], ["  NNP", "New"]]
    )


def test_gazetteers_enhanced_walk_events_in_reference_order(tmp_path, monkeypatch):
    """Overlapping multi-token GazetteersEnhanced entries: every token's soft
    events come in the order the reference processor appends them (the
    scorer sums a token's events in that order), decisions equal
    recognize_sentence, and so do each stage's probabilities up to the
    scorer's float association (it adds per-form partial sums and the
    summed events to the omnipresent weights, where the reference sums
    every feature of a token left to right). That association is why the
    probabilities are checked to atol=1e-14, not for equality: they may
    differ in the last ulps (up to 4.4e-16 seen)."""
    import numpy as np

    from nametag_spark.ner import core

    # two lists: a later walk start adds events at a token an earlier,
    # longer walk has passed ("York" of "York City" after "New York City")
    (tmp_path / "gaz_loc.txt").write_text("New York\nNew York City\n", encoding="utf-8")
    (tmp_path / "gaz_org.txt").write_text("York City\nCity Hall\n", encoding="utf-8")
    tdf, gdf = synth_transcripts(n_conversations=15, seed=1)
    # sentences over the entries, so the gazetteer features get weights
    gaz_conll = "\n\n".join([
        "She\tO\nmoved\tO\nto\tO\nNew\tB-LOC\nYork\tI-LOC\nCity\tI-LOC\nHall\tI-LOC\n.\tO",
        "York\tB-ORG\nCity\tI-ORG\nis\tO\nbig\tO\n.\tO",
        "Bob\tB-PER\nsaw\tO\nCity\tB-ORG\nHall\tI-ORG\n.\tO",
    ] * 3)
    model = train_ner(
        "Form/1\nGazetteersEnhanced/2 form embed_in_model gaz_loc LOC gaz_org ORG\n"
        "PreviousStage/2",
        gold_to_conll(tdf, gdf) + "\n\n" + gaz_conll,
        stages=2,
        params={"iterations": 4},
        base_dir=str(tmp_path),
    )
    forms_lists = [
        "She moved to New York City Hall last year .".split(),
        "York City Hall is in New York City .".split(),
        "New York City".split(),
        "Bob saw New York and City Hall".split(),
    ]
    for forms in forms_lists:
        got, expected = _pin_soft_events(model, forms)
        assert got and got == expected, forms

    stages = {}  # each stage's probabilities, as passed to Viterbi
    for fn in ("viterbi_decode", "viterbi_decode_batch"):
        def record(local, ent, *args, _fn=getattr(core, fn), _name=fn):
            stages.setdefault(_name, []).append(np.array(local))
            return _fn(local, ent, *args)

        monkeypatch.setattr(core, fn, record)
    rec = _BatchRecognizer(model)
    for forms in forms_lists:
        stages.clear()
        assert rec.recognize_batch([model.make_sentence(forms)]) == [
            model.recognize_sentence(forms)
        ]
        batched, ref = stages["viterbi_decode_batch"], stages["viterbi_decode"]
        assert len(batched) == len(ref) == 2
        for a, b in zip(batched, ref):
            np.testing.assert_allclose(a, b, rtol=0, atol=1e-14)


def test_pdt_lemma_split_and_lemma_term():
    """PDT lemma structure split (czech_lemma_addinfo.h:35-56) and
    CzechLemmaTerm over real lemma comments."""
    from nametag_spark.features.templates import (
        CzechLemmaTerm,
        EntityMap,
        Sentence,
        _Total,
    )

    split = Sentence.split_pdt_lemma
    assert split("Praha_;G") == ("Praha", "Praha", "_;G")
    assert split("být") == ("být", "být", "")
    assert split("on-1_^(osoba)") == ("on", "on-1", "_^(osoba)")
    assert split("x-ray") == ("x-ray", "x-ray", "")  # '-' not followed by digit
    assert split("a-12_;R") == ("a", "a-12", "_;R")

    s = Sentence.from_pdt(
        ["Praha", "je", "město"],
        ["Praha_;G", "být", "město"],
        ["NNFS1", "VB", "NNNS1"],
    )
    assert s.get_raw_lemmas() == ["Praha", "být", "město"]
    assert s.lemma_comments == ["_;G", "", ""]

    total = _Total(1)
    proc = CzechLemmaTerm()
    proc.parse(1, [], EntityMap(), total)
    s.clear_features()
    proc.process_sentence(s, total)
    # the '_;G' term char G produced a feature at token 0 (applied in window)
    assert len(s.features[0]) > 1
    assert proc.map.get("G") is not None


def test_cnec_style_nested_entities_e2e():
    """CNEC-style two-level nesting end-to-end: a model trained on pf/ps/td/
    tm/ty labels + CzechAddContainers emits nested P/T containers, and the
    CoNLL sink renders the stacked labels (run_ner.cpp:75-92 semantics)."""
    from nametag_spark.model.model import NerModel
    from nametag_spark.ner.pipeline import recognize_local
    from nametag_spark.sinks.render import render_conll
    from nametag_spark.train.trainer import train_ner
    import random

    rng = random.Random(5)
    firsts = ["Jan", "Petr", "Karel", "Marie", "Eva", "Pavel", "Hana", "Josef"]
    lasts = ["Novak", "Svoboda", "Dvorak", "Cerny", "Prochazka", "Kucera"]
    fill = "rekl ze prijde dnes vecer domu brzy potom znovu rano".split()

    lines = []
    for _ in range(260):
        kind = rng.randint(0, 2)
        if kind == 0:  # person: pf ps -> P container
            toks = [rng.choice(fill), rng.choice(firsts), rng.choice(lasts), rng.choice(fill), "."]
            labs = ["O", "B-pf", "B-ps", "O", "O"]
        elif kind == 1:  # date: td tm ty -> T container
            toks = [rng.choice(fill), str(rng.randint(1, 28)), "ledna", str(rng.randint(1990, 2020)), "."]
            labs = ["O", "B-td", "B-tm", "B-ty", "O"]
        else:
            toks = [rng.choice(fill) for _ in range(4)] + ["."]
            labs = ["O"] * 5
        for t, l in zip(toks, labs):
            lines.append(f"{t}\t{l}")
        lines.append("")
    conll = "\n".join(lines)

    model = train_ner(
        "Form/2\nFormCapitalization/2\nFormSuffix/1 2 4\nNumericTimeValue/2\n"
        "PreviousStage/3\nCzechAddContainers/0",
        conll,
        stages=2,
        params={"iterations": 8},
    )

    ments = recognize_local(model, ["dnes Jan Novak prijde ."])[0]
    types = {(m["tok_start"], m["tok_len"], m["type"]) for m in ments}
    assert (1, 1, "pf") in types and (2, 1, "ps") in types, types
    assert (1, 2, "P") in types, f"P container missing: {types}"

    ments_t = recognize_local(model, ["prijde 15 ledna 2005 domu ."])[0]
    types_t = {(m["tok_start"], m["tok_len"], m["type"]) for m in ments_t}
    assert (1, 3, "T") in types_t, f"T container missing: {types_t}"

    # conll sink: nested stack rendering (outer container first)
    forms = ["dnes", "Jan", "Novak", "prijde", "."]
    ents = [(m["tok_start"], m["tok_len"], m["type"]) for m in ments]
    out = render_conll([forms], [ents])
    assert "Jan\tB-P|B-pf" in out
    assert "Novak\tI-P|B-ps" in out
