"""NER decode-parity fuzz vs the compiled reference: 800 sentences per
MorphoDiTa fixture model (generic/czech/english), reference goldens from
scripts/gen_ner_fuzz.py. The engine's conll rendering of its own decode
must be byte-identical to run_ner's output — entities, nesting, order."""

import gzip
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nametag_spark.model.binary_reader import load_binary_ner
from nametag_spark.sinks.render import render_conll
from scripts.gen_ner_fuzz import EXTRAS, POOLS, sentences

FIX = os.path.join(os.path.dirname(__file__), "..", "fixtures", "morphodita")

_SYLLABLES = (
    "ba be bo bu da de do du ga ge go gu cha che la le lo lu ma me mo mu "
    "na ne no nu pa pe po pu ra re ro ru sa se so su ta te to tu va ve vo "
    "vu za ze zo zu pra pre sta sto kra kre vla vle dra dre"
).split()


def _pseudo(rng: random.Random) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))


def corpus(kind: str, n_sentences: int, seed: str):
    """List of sentence texts (space-joined tokens), all distinct."""
    rng = random.Random(f"kernel_ab:{kind}:{seed}")
    pool = POOLS["cs"]
    out = []
    seen = set()
    for i in range(n_sentences):
        k = rng.randint(3, 12)
        toks = []
        for _t in range(k):
            r = rng.random()
            if kind == "wide":
                if r < 0.50:
                    toks.append(_pseudo(rng))
                elif r < 0.65:
                    toks.append(_pseudo(rng).capitalize())
                elif r < 0.92:
                    toks.append(rng.choice(pool["vocab"]))
                else:
                    toks.append(rng.choice(EXTRAS))
            else:
                if r < 0.72:
                    toks.append(rng.choice(pool["vocab"]))
                elif r < 0.92:
                    toks.append(rng.choice(pool["oov"]))
                else:
                    toks.append(rng.choice(EXTRAS))
        if rng.random() < 0.8:
            toks.append(".")
        t = " ".join(toks)
        if t in seen:
            t = t + f" {i}"
        seen.add(t)
        out.append(t)
    return out


@pytest.mark.parametrize("lang,model", [
    ("md", "tiny_md.ner"),
    ("cs", "tiny_cs.ner"),
    ("en", "tiny_en.ner"),
    # the EXACT published-model combination: a czech .ner embedding a
    # czech2_3 (window>order) MorphoDiTa tagger, reference-trained;
    # 3,000-sentence golden (the others carry 10,000)
    ("cs", "tiny_cs23.ner"),
])
def test_ner_fuzz_parity(lang, model):
    m = load_binary_ner(os.path.join(FIX, model))
    sents = sentences(lang, 3000) if model == "tiny_cs23.ner" else sentences(lang)
    entities = [m.recognize_sentence(forms) for forms in sents]
    mine = render_conll(sents, entities)
    gname = "cs23" if model == "tiny_cs23.ner" else lang
    with gzip.open(os.path.join(FIX, f"ner_fuzz_golden_{gname}.conll.gz"), "rt",
                   encoding="utf-8") as f:
        want = f.read()
    if mine != want:
        # localize the first differing sentence for a useful failure message
        mine_b = mine.split("\n\n")
        want_b = want.split("\n\n")
        for i, (a, b) in enumerate(zip(mine_b, want_b)):
            assert a == b, f"sentence {i}: {sents[i]}\nmine:\n{a}\nwant:\n{b}"
    assert mine == want


def test_derivator_fuzz_parity():
    """400 random lemmas (sense ids, _;X comments, diacritics) in a
    reference-encoded czech dict, 318 random derivation pairs forming a
    multi-child forest: fuzz_cs_deriv.dict was wrapped by the reference's
    derivator_dictionary_encoder and fuzz_deriv_golden.tsv is the compiled
    reference's parent/children output on all 401 queries — covers every
    parent edit-op combination (remove_start/remove_end/add_start/add_end)
    and the reference's child ordering. Regenerate: the random generator is
    seeded 20260816; encode with morpho_tools encode_dict_czech +
    encode_derivator, golden via morpho_tools derivator."""
    from nametag_spark.morpho.morphodita import load_morpho

    with open(os.path.join(FIX, "fuzz_cs_deriv.dict"), "rb") as f:
        m = load_morpho(f)
        assert not f.read()
    der = m.derinet
    queries = [
        l.strip()
        for l in open(os.path.join(FIX, "fuzz_deriv_queries.txt"), encoding="utf-8")
        if l.strip()
    ]
    golden = open(os.path.join(FIX, "fuzz_deriv_golden.tsv"), encoding="utf-8").read().splitlines()
    assert len(golden) == 2 * len(queries)
    gi = iter(golden)
    for q in queries:
        gp = next(gi).split("\t")
        gc = next(gi).split("\t")
        assert (der.parent(q) or "") == (gp[2] if len(gp) > 2 else ""), q
        assert der.children(q) == gc[2:], q


DEEP_ORDER_MODELS = [
    # (tagger file, fuzz lang) — decoding orders 3 and 4 plus the
    # window>order shapes (czech2_3 is what published czech-morfflex
    # taggers use); goldens = morpho_tools `tag` (the reference runtime)
    ("tiny3.tagger", "md"),
    ("tiny4.tagger", "md"),
    ("tiny2_3.tagger", "md"),
    ("tiny_cs3.tagger", "cs"),
    ("tiny_cs2_3.tagger", "cs"),
    ("tiny_cu3.tagger", "cs"),
    ("tiny_cu2_3.tagger", "cs"),
]


@pytest.mark.parametrize("model,lang", DEEP_ORDER_MODELS)
def test_deep_order_tag_parity(model, lang):
    """Viterbi decode parity for decoding orders BEYOND the 2/2 the other
    fixtures use: order-3/4 windows, deeper node merging (same_tags >=
    order-1 over longer histories), depth-2/3 feature groups, and the
    window-exceeds-order shapes. 3,000 sentences per model, (lemma, tag)
    streams must match the reference exactly."""
    from nametag_spark.morpho.morphodita import MorphoditaTagger

    t = MorphoditaTagger.load(os.path.join(FIX, model))
    sents = sentences(lang, 3000)
    name = model.replace(".tagger", "")
    with gzip.open(os.path.join(FIX, f"tag_fuzz_golden_{name}.tsv.gz"), "rt",
                   encoding="utf-8") as f:
        blocks = [b for b in f.read().split("\n\n") if b.strip()]
    assert len(blocks) == len(sents)
    for sent, block in zip(sents, blocks):
        want = [tuple(l.split("\t")[1:3]) for l in block.split("\n") if l]
        got = [tuple(x) for x in t.tag(sent)]
        assert got == want, (model, sent, got, want)


def test_ner_tag_columns_batch_parity():
    """make_sentence_batch / ner_tag_columns_batch must be element-identical
    to the per-sentence path — including shared-memo IDENTITY for duplicate
    sentences within one batch (the gaz/pins memo dict is shared across
    Sentence instances of the same text) and all-hit re-batches returning
    the cached entries themselves."""
    m_batch = load_binary_ner(os.path.join(FIX, "tiny_cs.ner"))
    m_ref = load_binary_ner(os.path.join(FIX, "tiny_cs.ner"))
    rng = random.Random("batch-parity")
    forms_lists = [t.split() for t in corpus("wide", 300, "t")]
    forms_lists += [t.split() for t in corpus("fuzz", 300, "t")]
    forms_lists += [rng.choice(forms_lists) for _ in range(40)]  # in-batch dups
    got = m_batch.tagger.ner_tag_columns_batch(forms_lists)
    want = [m_ref.tagger.ner_tag_columns(f) for f in forms_lists]
    for g, w in zip(got, want):
        assert g[:5] == w[:5] and g[6] == w[6]
    # duplicate sentences share ONE cache entry (identity, not equality)
    first_of = {}
    for fl, g in zip(forms_lists, got):
        k = tuple(fl)
        assert first_of.setdefault(k, g) is g
    # a warm re-batch returns the same objects
    again = m_batch.tagger.ner_tag_columns_batch(forms_lists[:50])
    assert all(a is b for a, b in zip(again, got[:50]))
    # Sentence plumbing: batch-built sentences recognize identically
    from nametag_spark.ner.pipeline import _BatchRecognizer

    ents_b = _BatchRecognizer(m_batch).recognize_batch(
        m_batch.make_sentence_batch(forms_lists[:200])
    )
    ents_r = _BatchRecognizer(m_ref).recognize_batch(
        [m_ref.make_sentence(f) for f in forms_lists[:200]]
    )
    assert ents_b == ents_r
