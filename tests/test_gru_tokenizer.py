"""T8 GRU tokenizer: network equations + segmentation semantics.

The demo network's weights are hand-constructed so the expected
segmentation is derivable by hand (whitespace tokens, '.' ends sentences);
see gru.demo_network's docstring for the construction."""

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nametag_spark.tokenizer.gru import (
    END_OF_SENTENCE,
    END_OF_TOKEN,
    NO_SPLIT,
    GruTokenizerNetwork,
    demo_network,
    gru_tokenize_sentences,
)


def _forms(text, sents):
    return [[text[a : a + b] for (a, b) in s] for s in sents]


def test_classify_outcomes_hand_derived():
    net = demo_network()
    out = net.classify("ab cd.")
    # 'b' ends a token (next char is space); '.' ends the sentence and is
    # part of its token ('d' is NO_SPLIT — the next char is '.', not space)
    #                    a         b             space     c         d         .
    assert list(out) == [NO_SPLIT, END_OF_TOKEN, NO_SPLIT, NO_SPLIT, NO_SPLIT, END_OF_SENTENCE]


def test_segmentation_hand_golden():
    net = demo_network()
    text = "Hello world. Second one here. tail"
    sents = gru_tokenize_sentences(text, net)
    assert _forms(text, sents) == [
        ["Hello", "world."],
        ["Second", "one", "here."],
        ["tail"],
    ]
    # '.' is part of the token (END_OF_SENTENCE fires ON the '.')
    # and offsets are exact char spans
    assert sents[0][1] == (6, 6)


def test_mid_token_period_not_sentence_end():
    net = demo_network()
    text = "pi is 3.14 ok."
    sents = gru_tokenize_sentences(text, net)
    assert _forms(text, sents) == [["pi", "is", "3.14", "ok."]]


def test_url_override():
    """URL/email spans override network outcomes (gru_tokenizer.cpp:35-40):
    'acme.com' would otherwise be split at the '.'."""
    net = demo_network()
    text = "see https://acme.com/x now"
    sents = gru_tokenize_sentences(text, net)
    assert _forms(text, sents) == [["see", "https://acme.com/x", "now"]]


def test_unknown_char_category_fallback():
    net = demo_network()
    # 'Ж' (Lu) falls back to the 'a' embedding through unknown_chars
    text = "Жaб ok."
    sents = gru_tokenize_sentences(text, net)
    assert _forms(text, sents) == [["Жaб", "ok."]]


def test_emergency_split():
    net = demo_network()
    text = " ".join(["tok"] * 520)
    sents = gru_tokenize_sentences(text, net)
    assert len(sents) == 2
    assert len(sents[0]) == 500


def test_gru_state_equations_against_direct_numpy():
    """The classify() recurrence must equal a direct transcription of the
    reference equations (gru_tokenizer_network.h:146-176) on random
    weights."""
    rng = np.random.default_rng(5)
    D = 4
    from nametag_spark.tokenizer.gru import Gru

    def rand_gru():
        g = Gru(D, rng)
        for attr in ("bX", "bX_r", "bX_z"):
            setattr(g, attr, rng.standard_normal(D) * 0.3)
        return g

    emb = {c: rng.standard_normal(D) * 0.5 for c in "abc "}
    fwd, bwd = rand_gru(), rand_gru()
    pf = (rng.standard_normal((3, D)), rng.standard_normal(3))
    pb = (rng.standard_normal((3, D)), rng.standard_normal(3))
    net = GruTokenizerNetwork(D, emb, fwd, bwd, pf, pb)

    text = "abc ba ca"

    def sigmoid(x):
        return 1 / (1 + np.exp(-x))

    E = np.stack([emb.get(c, np.zeros(D)) for c in text])
    w = np.tile(pf[1], (len(text), 1))
    for direction, (g, proj) in enumerate([(fwd, pf), (bwd, pb)]):
        state = np.zeros(D)
        idxs = range(len(text)) if direction == 0 else range(len(text) - 1, -1, -1)
        for i in idxs:
            z = sigmoid(g.bX_z + g.X_z @ E[i] + g.H_z @ state)
            r = sigmoid(g.bX_r + g.X_r @ E[i] + g.H_r @ state) * state
            c = np.tanh(g.bX + g.X @ E[i] + g.H @ r)
            state = z * state + (1 - z) * c
            w[i] += proj[0] @ state
    expect = (w[:, 1] > w[:, 0]).astype(int)
    expect[w[:, 2] > w[np.arange(len(text)), expect]] = 2

    assert list(net.classify(text)) == list(expect)


import gzip

from nametag_spark.tokenizer.gru import GruTokenizer, load_gru_factory

FIX = os.path.join(os.path.dirname(__file__), "..", "fixtures", "morphodita")


def _stream(lang):
    from scripts.gen_ner_fuzz import sentences

    return "\n\n".join(" ".join(s) for s in sentences(lang, 3000))


def test_reference_trained_gru_parity_generic():
    """A REFERENCE-trained gru tokenizer (morpho_tools gru_train — the
    bundled gru_tokenizer_trainer) loads through load_gru_factory and the
    ported runtime (windowed classification, spacing rules, truncation)
    reproduces the reference's own tokenization of a 3,000-sentence stream
    byte-for-byte (dim 16, segment 50)."""
    net, _u, segment, allow_spaces = load_gru_factory(os.path.join(FIX, "tiny_gru.tokenizer"))
    text = _stream("md")
    spans = GruTokenizer(net, segment=segment, allow_spaces=allow_spaces).tokenize(text)
    mine = "".join("".join(text[a : a + b] + "\n" for (a, b) in s) + "\n" for s in spans)
    with gzip.open(os.path.join(FIX, "gru_tokenize_golden_tiny_gru.txt.gz"), "rt",
                   encoding="utf-8") as f:
        assert mine == f.read()


def test_reference_trained_gru_parity_czech_allow_spaces():
    """Same, dim 24 / segment 40 / allow_spaces=1 over the czech stream —
    covers the second network dimension and the allow-spaces spacing rule."""
    net, _u, segment, allow_spaces = load_gru_factory(os.path.join(FIX, "tiny_gru_cs.tokenizer"))
    assert net.dim == 24 and allow_spaces
    text = _stream("cs")
    spans = GruTokenizer(net, segment=segment, allow_spaces=allow_spaces).tokenize(text)
    mine = "".join("".join(text[a : a + b] + "\n" for (a, b) in s) + "\n" for s in spans)
    with gzip.open(os.path.join(FIX, "gru_tokenize_golden_tiny_gru_cs.txt.gz"), "rt",
                   encoding="utf-8") as f:
        assert mine == f.read()


def test_gru_spec_in_tokenize_df(spark):
    """The DataFrame surface accepts lang='gru:<file>': tokenize_df runs a
    trained GRU tokenizer inside mapInPandas (factory loaded once per
    worker), matching the local runtime's spans."""
    from nametag_spark.ner.pipeline import tokenize_df
    from nametag_spark.tokenizer.rules import tokenize_sentences

    path = os.path.join(FIX, "tiny_gru.tokenizer")
    spec = f"gru:{path}"
    texts = ["the dog walks in Praha. Alice saw Bob.", "books and cats run quickly."]
    df = spark.createDataFrame(
        [(str(i), 0, t) for i, t in enumerate(texts)], "conv_id string, turn_idx int, text string"
    )
    got = {
        (r["conv_id"], r["sent_idx"], r["tok_idx"]): (r["form"], r["start"], r["length"])
        for r in tokenize_df(df, lang=spec).collect()
    }
    want = {}
    for i, t in enumerate(texts):
        for s_idx, sent in enumerate(tokenize_sentences(t, spec)):
            for t_idx, (a, b) in enumerate(sent):
                want[(str(i), s_idx, t_idx)] = (t[a : a + b], a, b)
    assert got == want and got
