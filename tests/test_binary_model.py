"""Binary .ner model reader parity.

fixtures/tiny_ref.ner was produced by the REFERENCE's own train_ner
(compiled unmodified from /root/reference/src, MPL-2.0) over
fixtures/tiny_ref_train.conll + tiny_ref_features.txt:

    train_ner english trivial features.txt 2 8 -0.2 0.1 0.01 0.5 0 < train

REF_GOLD below is the output of the reference's run_ner
(--input=vertical --output=vertical) on the four test sentences — so this
test is direct end-to-end output parity between this engine and the
reference binary on a reference-trained model."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nametag_spark.model.binary_reader import load_binary_ner
from nametag_spark.model.model import NerModel

FIXTURE = os.path.join(os.path.dirname(__file__), "..", "fixtures", "tiny_ref.ner")

SENTENCES = [
    ["Alice", "Johnson", "works", "at", "Acme", "Corp", "in", "Prague", "."],
    ["Bob", "visited", "London", "and", "Berlin", "yesterday", "."],
    ["Contact", "alice@acme.com", "or", "see", "https://acme.com", "now", "."],
    ["Eve", "flew", "to", "New", "York", "."],
]

# reference run_ner output (vertical): (sentence, tok_start, tok_len, type)
REF_GOLD = [
    [(0, 2, "PER"), (4, 2, "ORG"), (7, 1, "LOC")],
    [(0, 1, "PER"), (2, 1, "LOC"), (4, 1, "LOC")],
    [(1, 1, "EMAIL"), (4, 1, "URL")],
    [(3, 2, "LOC")],
]


def test_binary_load_structure():
    m = load_binary_ner(FIXTURE)
    assert m.entities.id2str == ["PER", "ORG", "LOC", "URL", "EMAIL"]
    assert m.stages == 2
    assert [p.name for p in m.templates.processors] == [
        "Form", "FormCapitalization", "FormSuffix", "PreviousStage",
        "URLEmailDetector", "BrownClusters", "Gazetteers", "GazetteersEnhanced",
    ]
    assert m.networks[0].missing_weight == -0.2


def test_binary_decode_matches_reference_output():
    m = load_binary_ner(FIXTURE)
    for sent, gold in zip(SENTENCES, REF_GOLD):
        assert m.recognize_sentence(sent) == gold, sent


def test_binary_batched_plan_matches_reference_output():
    """The batched plan (plain Gazetteers, GazetteersEnhanced and URL pins
    included) reproduces run_ner, as one batch and one sentence a call."""
    from nametag_spark.ner.pipeline import _BatchRecognizer

    m = load_binary_ner(FIXTURE)
    rec = _BatchRecognizer(m)
    assert rec.recognize_batch([m.make_sentence(s) for s in SENTENCES]) == REF_GOLD
    assert [rec.recognize_batch([m.make_sentence(s)])[0] for s in SENTENCES] == REF_GOLD


def test_binary_roundtrip_through_npz_dir(tmp_path):
    """binary -> our dir format -> reload -> identical decisions."""
    m = load_binary_ner(FIXTURE)
    d = str(tmp_path / "m")
    m.save(d)
    m2 = NerModel.load(d)
    for sent in SENTENCES:
        assert m.recognize_sentence(sent) == m2.recognize_sentence(sent)


def test_binary_truncated_morphodita_tagger_rejected(tmp_path):
    """A MORPHODITA tagger id with a truncated/garbage payload fails cleanly
    (full MorphoDiTa payloads are parsed — see tests/test_morphodita.py)."""
    import io

    import pytest

    from nametag_spark.model.binary_reader import BinaryFormatError

    with pytest.raises(BinaryFormatError):
        load_binary_ner(io.BytesIO(bytes([1, 2])))


REF_RUN_NER = "/tmp/refbuild/run_ner"  # compiled unmodified reference (optional)


def test_binary_writer_roundtrip():
    """reference .ner -> our model -> re-encoded .ner -> reload: identical
    structure and decisions (weights already f32, so no quantization drift)."""
    import tempfile

    from nametag_spark.model.binary_writer import save_binary_ner

    m = load_binary_ner(FIXTURE)
    with tempfile.NamedTemporaryFile(suffix=".ner") as tmp:
        save_binary_ner(m, tmp.name)
        m2 = load_binary_ner(tmp.name)
    assert m2.entities.id2str == m.entities.id2str
    assert [p.name for p in m2.templates.processors] == [p.name for p in m.templates.processors]
    assert m2.templates.total.value == m.templates.total.value
    for sent in SENTENCES:
        assert m2.recognize_sentence(sent) == m.recognize_sentence(sent)


def test_binary_writer_runs_in_reference_engine(tmp_path):
    """Export a model TRAINED BY THIS ENGINE to .ner and run it under the
    compiled reference run_ner: the reference's entity output must equal our
    own decode of the re-imported (f32-quantized) model. Skipped when the
    compiled reference binary is not present."""
    import subprocess

    import pytest

    if not os.path.exists(REF_RUN_NER):
        pytest.skip("compiled reference run_ner not available")

    from nametag_spark.model.binary_writer import save_binary_ner
    from nametag_spark.train.trainer import train_ner

    conll = "\n\n".join(
        [
            "Alice\tB-PER\nworks\tO\nat\tO\nAcme\tB-ORG\nin\tO\nPrague\tB-LOC\n.\tO",
            "Bob\tB-PER\nvisited\tO\nLondon\tB-LOC\n.\tO",
            "Email\tO\nbob@x.com\tO\nnow\tO\n.\tO",
        ]
        * 5
    )
    templates = (
        "Form/2\nFormCapitalization/2\nFormSuffix/1 2 4\nPreviousStage/3\n"
        "URLEmailDetector/1 URL EMAIL\n"
    )
    model = train_ner(templates, conll, stages=2, params={"iterations": 8})
    ner_path = str(tmp_path / "exported.ner")
    save_binary_ner(model, ner_path)

    sentences = [
        ["Alice", "works", "at", "Acme", "in", "Prague", "."],
        ["Bob", "visited", "London", "."],
        ["Email", "bob@x.com", "now", "."],
        ["Carol", "visited", "Prague", "."],
    ]
    vertical = "\n\n".join("\n".join(s) for s in sentences) + "\n\n"
    out = subprocess.run(
        [REF_RUN_NER, "--input=vertical", "--output=vertical", ner_path],
        input=vertical,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr

    # parse reference vertical output: "i,j\tTYPE\tsurface" with global ids
    ref_spans = set()
    for line in out.stdout.splitlines():
        if "\t" not in line:
            continue
        ids, type_name, _surface = line.split("\t", 2)
        toks = [int(x) for x in ids.split(",")]
        ref_spans.add((toks[0], len(toks), type_name))

    # our decode of the re-imported model, with the same global token ids
    # (reference vertical output counts tokens 1-based across sentences
    # with a +1 gap per sentence boundary)
    m2 = load_binary_ner(ner_path)
    ours = set()
    base = 1
    for s in sentences:
        for (start, length, type_name) in m2.recognize_sentence(s):
            ours.add((base + start, length, type_name))
        base += len(s) + 1
    assert ref_spans == ours, (ref_spans, ours)


def test_nermodel_load_dispatches_on_file():
    """NerModel.load accepts a binary .ner FILE as well as a model dir, so
    every entry point (recognize_df, sinks, REST, bench) loads published
    models directly (ner.cpp:31-48 dispatch)."""
    from nametag_spark.model.model import NerModel

    path = os.path.join(os.path.dirname(__file__), "..", "fixtures",
                        "morphodita", "tiny_cs.ner")
    m = NerModel.load(path)
    ents = m.recognize_sentence(["Karel", "Novák", "viděl", "Prahu", "."])
    assert any(t == "PER" for (_s, _l, t) in ents)


def test_morphodita_tagger_train_export_roundtrip(tmp_path):
    """A model TRAINED BY THIS ENGINE with an embedded MorphoDiTa tagger
    (the reference CLI's `morphodita:<file>` spec) exports through
    binary_writer (tagger stream passthrough) and decodes IDENTICALLY under
    the compiled reference run_ner and under this engine — training,
    morphology-tagged featurization, writer, and decode all agree."""
    import subprocess

    import pytest

    if not os.path.exists(REF_RUN_NER):
        pytest.skip("compiled reference run_ner not available")

    from nametag_spark.model.binary_writer import save_binary_ner
    from nametag_spark.morpho.morphodita import MorphoditaTagger
    from nametag_spark.train.trainer import train_ner

    fixdir = os.path.join(os.path.dirname(__file__), "..", "fixtures", "morphodita")
    tagger = MorphoditaTagger.load(os.path.join(fixdir, "tiny_cs2_3.tagger"))
    with open(os.path.join(fixdir, "ner_train_cs.conll"), encoding="utf-8") as f:
        conll = f.read()
    templates = (
        "Form/2\nFormCapitalization/2\nRawLemma/2\nTag/2\nFormSuffix/1 2 3\n"
        "PreviousStage/3\n"
    )
    model = train_ner(templates, conll, stages=2, params={"iterations": 8}, tagger=tagger)
    model.ner_lang = "czech"
    ner_path = str(tmp_path / "cs_md.ner")
    save_binary_ner(model, ner_path)

    from scripts.gen_ner_fuzz import sentences, vertical
    from nametag_spark.sinks.render import render_conll

    sents = sentences("cs", 300)
    out = subprocess.run(
        [REF_RUN_NER, "--input=vertical", "--output=conll", ner_path],
        input=vertical(sents), capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr

    m2 = load_binary_ner(ner_path)
    assert m2.ner_lang == "czech"
    assert m2.tagger is not None and m2.tagger.tagger_family == "czech"
    mine = render_conll(sents, [m2.recognize_sentence(s) for s in sents])
    assert mine == out.stdout


def test_blob_framing_fuzz_vs_reference_loader():
    """The LZMA blob framing (exact LzmaDec consumed-length emulation in
    binary_writer._consumed_prefix) across varied payloads: every blob must
    round-trip through OUR reader, and — with the compiled reference
    available — pass the reference's own compressor::load via the
    morpho_tools blob_probe subcommand (the condition that rejected
    liblzma-minimal truncations)."""
    import io
    import random
    import subprocess
    import tempfile

    from nametag_spark.model.binary_reader import _read_blob
    from nametag_spark.model.binary_writer import _Encoder

    probe = "/tmp/refbuild/morpho_tools"
    have_ref = os.path.exists(probe)
    rng = random.Random(20260817)
    payloads = []
    for size in (1, 7, 64, 1000, 16659, 80000):
        payloads.append(bytes(rng.randrange(256) for _ in range(size)))  # incompressible
        payloads.append((b"abcd" * (size // 4 + 1))[:size])  # highly repetitive
        payloads.append(bytes(rng.choice(b"abc ") for _ in range(size)))  # texty
    for k, payload in enumerate(payloads):
        e = _Encoder()
        e.raw(payload)
        blob = e.blob()
        d = _read_blob(io.BytesIO(blob))
        assert bytes(d.data) == payload, f"payload {k}: reader round-trip"
        if have_ref:
            with tempfile.NamedTemporaryFile(delete=False) as tmp:
                tmp.write(blob)
                name = tmp.name
            r = subprocess.run([probe, "blob_probe", name, "0"], capture_output=True)
            os.unlink(name)
            assert r.returncode == 0, f"payload {k} ({len(payload)}B): reference rejected blob"
