"""Distributed NER pipeline: tokenize / recognize as DataFrame transforms.

Design (SURVEY.md §1.3, §7): per-turn NLP is embarrassingly parallel, so the
unit of distribution is the *row* (conv_id, turn_idx, text) — never a whole
conversation — which makes mega-conversation skew a non-issue for this stage
(§7.3 risk 4). State lives only inside Arrow batches; the model is a
read-only broadcast (the Spark analogue of the reference's shared-const
model across REST worker threads, src/rest_server/nametag_service.cpp:74-76).

mapInPandas keeps everything Arrow-batched: one Python invocation per batch
(default 10k rows), one classifier matmul per stage per batch across all
sentences in the batch.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..tokenizer.rules import tokenize_sentences
from . import core

T_ENTITY_UNKNOWN = core.ENTITY_UNKNOWN

TOKENS_SCHEMA = (
    "conv_id string, turn_idx int, sent_idx int, tok_idx int, "
    "form string, start int, length int"
)

MENTIONS_SCHEMA = (
    "conv_id string, turn_idx int, sent_idx int, tok_start int, tok_len int, "
    "char_start int, char_len int, type string, surface string"
)


def tokenize_df(df: DataFrame, text_col: str = "text", lang: str = "en") -> DataFrame:
    """Token table with per-turn sentence/token indices and char spans
    (reference tokenizer contract, src/tokenizer/tokenizer.h:20-33).
    lang selects the grammar: 'en' (english_tokenizer.rl), 'cs'
    (czech_tokenizer.rl), or 'generic'."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("conv_id", "turn_idx", "sent_idx", "tok_idx", "form", "start", "length")}
            for conv_id, turn_idx, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf[text_col]):
                text = text or ""
                for s_idx, sent in enumerate(tokenize_sentences(text, lang)):
                    for t_idx, (start, length) in enumerate(sent):
                        out["conv_id"].append(conv_id)
                        out["turn_idx"].append(turn_idx)
                        out["sent_idx"].append(s_idx)
                        out["tok_idx"].append(t_idx)
                        out["form"].append(text[start : start + length])
                        out["start"].append(start)
                        out["length"].append(length)
            yield pd.DataFrame(out)

    cols = ["conv_id", "turn_idx", text_col]
    return df.select(*cols).mapInPandas(fn, schema=TOKENS_SCHEMA)


class _BatchRecognizer:
    """Executor-side batch NER over flat batch arrays: factorize the token
    keys once, compute the stage-invariant pin effects once
    (FastFeaturizer.pins_batch), score every token of the batch in one
    StagePartialScorer.score call per stage, decode all sentences with one
    batched Viterbi per stage. Results equal NerModel.recognize_sentence,
    the per-sentence reference loop (parity-tested)."""

    def __init__(self, model):
        from .fast import FastFeaturizer, StagePartialScorer

        self.model = model
        self.fast = FastFeaturizer(model)
        self.scorers = [StagePartialScorer(self.fast, net) for net in model.networks]

    # cap tokens per internal batch: bounds featurizer transients (each
    # token expands to ~50-100 events; 150k tokens ~= 10-15M event rows)
    _CHUNK_TOKENS = 150_000

    def recognize_batch(self, sentences):
        """sentences: list of features.templates.Sentence (already built).
        Mutates them in place; returns list of per-sentence sorted entity
        lists [(start, length, type_name)]. Large inputs are processed in
        bounded-token chunks (per-sentence state is independent)."""
        total = 0
        for s in sentences:
            total += s.size
        if total > self._CHUNK_TOKENS and len(sentences) > 1:
            results = []
            cur = []
            cur_tok = 0
            for s in sentences:
                if cur and cur_tok + s.size > self._CHUNK_TOKENS:
                    results.extend(self.recognize_batch(cur))
                    cur = []
                    cur_tok = 0
                cur.append(s)
                cur_tok += s.size
            if cur:
                results.extend(self.recognize_batch(cur))
            return results
        live = [s for s in sentences if s.size > 0]
        if not live:
            return [[] for _ in sentences]
        fast = self.fast
        # stage-invariant batch geometry + factorized token keys, computed
        # ONCE and shared by every stage's scorer. Tagged sentences key on
        # the full (form, raw_lemma, lemma_id, tag, comments) tuple, so
        # per-token morphology is represented exactly
        lengths = np.array([s.size for s in live], dtype=np.int64)
        sent_start = np.zeros(len(live) + 1, dtype=np.int64)
        np.cumsum(lengths, out=sent_start[1:])
        forms_all = []
        for s in live:
            forms_all.extend(fast._token_keys(s))
        keys_arr = np.empty(len(forms_all), dtype=object)
        keys_arr[:] = forms_all
        codes, uniques = pd.factorize(keys_arr)
        tok_sent = np.repeat(np.arange(len(live), dtype=np.int64), lengths)
        lo = sent_start[:-1][tok_sent]
        hi = sent_start[1:][tok_sent]
        batch = (codes, uniques, sent_start, lo, hi)

        # pin effects are stage-invariant: computed ONCE over flat arrays
        # (dead tokens skipped via the factorized key tables) and scattered
        # over each stage's scored output
        if fast.pin_procs:
            soft_pos, soft_fid, fill_idx, fill_rows, fill_ents = fast.pins_batch(live, batch)
        else:
            soft_pos = soft_fid = fill_idx = np.empty(0, dtype=np.int64)
            fill_rows = fill_ents = None
        best_cat = bent_cat = None
        for scorer in self.scorers:
            probs = scorer.score(batch, (soft_pos, soft_fid), prev_b=best_cat, prev_e=bent_cat)
            local, local_ent = core.fill_bilou_probabilities(probs)
            if len(fill_idx):
                local[fill_idx] = fill_rows
                local_ent[fill_idx] = fill_ents
            best_cat, bent_cat = core.viterbi_decode_batch(local, local_ent, lengths)

        # one flat pass over B/U candidates instead of per-sentence scans
        spans_per = iter(core.extract_entities_batch(best_cat, bent_cat, sent_start))
        name = self.model.entities.name
        templates = self.model.templates
        entities = self.model.entities
        results = []
        for s in sentences:
            if s.size == 0:
                results.append([])
                continue
            ents = [[st, ln, name(e)] for (st, ln, e) in next(spans_per)]
            templates.process_entities(s, ents, entities)
            results.append(core.sort_entities([tuple(e) for e in ents]))
        return results


def recognize_df(
    df: DataFrame,
    model_dir: str,
    text_col: str = "text",
    passthrough: tuple = (),
    lang: str | None = None,
) -> DataFrame:
    """The mention table: one row per recognized entity span.

    model_dir must be visible on all executors (shared FS or spark-submit
    --files/--archives); loaded once per python worker and cached.

    lang: tokenizer grammar override. Default None selects the tokenizer
    the MODEL implies (its embedded ner_id: czech -> cs, english -> en,
    generic -> generic), mirroring ner::new_tokenizer
    (src/ner/bilou_ner.cpp:126-137) — so loading a czech .ner and
    recognizing raw text tokenizes with czech rules without any flag.

    passthrough: extra input columns replicated onto each mention row
    (e.g. ("role", "tool", "ts") for streaming windows / predicate context).
    Works identically on batch and streaming DataFrames (stateless
    mapInPandas).
    """
    from ..model.model import NerModel

    _cache = {}
    passthrough = tuple(passthrough)

    def get_model():
        m = _cache.get(model_dir)
        if m is None:
            m = NerModel.load(model_dir)
            _cache[model_dir] = m
        return m

    base_cols = ("conv_id", "turn_idx", "sent_idx", "tok_start", "tok_len",
                 "char_start", "char_len", "type", "surface")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = get_model()
        rec = _BatchRecognizer(model)
        eff_lang = lang or model.default_tokenizer_lang
        for pdf in batches:
            # tokenize the whole batch first, building Sentence workspaces
            sent_meta = []  # (row_pos, sent_idx, spans, text)
            forms_lists = []
            texts = pdf[text_col]
            for pos in range(len(pdf)):
                text = texts.iloc[pos] or ""
                for s_idx, spans in enumerate(tokenize_sentences(text, eff_lang)):
                    forms_lists.append([text[a : a + b] for (a, b) in spans])
                    sent_meta.append((pos, s_idx, spans, text))
            sentences = model.make_sentence_batch(forms_lists)

            results = rec.recognize_batch(sentences)

            out = {k: [] for k in base_cols}
            row_pos = []
            for (pos, s_idx, spans, text), ents in zip(sent_meta, results):
                for (tok_start, tok_len, type_name) in ents:
                    cs = spans[tok_start][0]
                    last = spans[min(tok_start + tok_len, len(spans)) - 1]
                    ce = last[0] + last[1]
                    row_pos.append(pos)
                    out["conv_id"].append(pdf["conv_id"].iloc[pos])
                    out["turn_idx"].append(pdf["turn_idx"].iloc[pos])
                    out["sent_idx"].append(s_idx)
                    out["tok_start"].append(tok_start)
                    out["tok_len"].append(tok_len)
                    out["char_start"].append(cs)
                    out["char_len"].append(ce - cs)
                    out["type"].append(type_name)
                    out["surface"].append(text[cs:ce])
            res = pd.DataFrame(out)
            for col in passthrough:
                res[col] = pdf[col].iloc[row_pos].reset_index(drop=True) if row_pos else pdf[col].iloc[:0]
            yield res

    cols = ["conv_id", "turn_idx", text_col] + [c for c in passthrough]
    schema = MENTIONS_SCHEMA
    if passthrough:
        extra = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.select(*passthrough).schema.fields)
        schema = MENTIONS_SCHEMA + ", " + extra
    src = df.select(*cols)
    # defensive parallelism: a single-FILE batch input would serialize the
    # NER work onto one task; file-count-based (no DataFrame->RDD probe) and
    # a no-op for in-memory/many-split/streaming inputs
    if not df.isStreaming:
        from ..ops.text import spread_small_input

        src = spread_small_input(src)
    return src.mapInPandas(fn, schema=schema)


def recognize_local(model, texts, lang: str | None = None):
    """Single-process oracle: same kernels, no Spark — used for parity tests
    (FIXTURES.md §6). Returns list of per-text mention dicts. lang=None
    selects the model-implied tokenizer (see recognize_df)."""
    lang = lang or model.default_tokenizer_lang
    rec = _BatchRecognizer(model)
    out = []
    for text in texts:
        sents = tokenize_sentences(text, lang)
        sentences = model.make_sentence_batch(
            [[text[a : a + b] for (a, b) in s] for s in sents]
        )
        results = rec.recognize_batch(sentences)
        mentions = []
        for s_idx, (spans, ents) in enumerate(zip(sents, results)):
            for (tok_start, tok_len, type_name) in ents:
                cs = spans[tok_start][0]
                last = spans[min(tok_start + tok_len, len(spans)) - 1]
                ce = last[0] + last[1]
                mentions.append(
                    {
                        "sent_idx": s_idx,
                        "tok_start": tok_start,
                        "tok_len": tok_len,
                        "char_start": cs,
                        "char_len": ce - cs,
                        "type": type_name,
                        "surface": text[cs:ce],
                    }
                )
        out.append(mentions)
    return out
