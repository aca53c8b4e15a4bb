"""Vectorized inference featurizer (physical optimization of SURVEY.md §2.4).

Semantics are identical to features.templates, whose per-sentence
processors (driven by NerModel.recognize_sentence) remain the source of
truth and the training path; this module only changes the *physical*
strategy for inference, over flat arrays spanning a whole batch:

  - per-form memoization: most templates (Form, Capitalization,
    CaseNormalized, Suffix, RawLemma*, Lemma, Tag, NumericTimeValue) derive
    features from the token string alone, and form frequency is Zipfian, so
    the per-token template work collapses to one dict hit per token
  - window replication (feature + w - i over [i-window, i+window]) becomes
    a handful of numpy shifts per batch instead of per-position appends
  - URL/email hard-pin decisions are memoized per form
  - gazetteer processors (Gazetteers, GazetteersEnhanced) walk only from
    tokens whose first step can match, emitting the reference's events in
    its order; PreviousStage reads the previous stage's flat decode

Parity with NerModel.recognize_sentence is asserted in tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..features import templates as T

# processors whose per-token features depend only on the form string
_PURE = (
    T.Form,
    T.FormCapitalization,
    T.FormCaseNormalized,
    T.FormSuffix,
    T.FormCaseNormalizedSuffix,
    T.RawLemma,
    T.RawLemmaCapitalization,
    T.RawLemmaCaseNormalized,
    T.RawLemmaSuffix,
    T.RawLemmaCaseNormalizedSuffix,
    T.Lemma,
    T.Tag,
    T.NumericTimeValue,
    T.BrownClusters,
    T.CzechLemmaTerm,
)

# of those, the ones that also emit outer-word features (literal `window` id)
_OUTER = (
    T.Form,
    T.FormCaseNormalized,
    T.FormSuffix,
    T.FormCaseNormalizedSuffix,
    T.RawLemma,
    T.RawLemmaCaseNormalized,
    T.RawLemmaSuffix,
    T.RawLemmaCaseNormalizedSuffix,
    T.Lemma,
    T.Tag,
)


def _window_events(src, val, window, lo, hi):
    """apply_in_window over flat arrays: base event (src, val) becomes
    (t, val + t - src) for every target t of [src - window, src + window]
    inside the sentence [lo, hi). Each event expands contiguously, so a
    stable sort by target keeps the base events' order at every token."""
    src = np.asarray(src, dtype=np.int64)
    val = np.asarray(val, dtype=np.int64)
    offs = np.arange(-window, window + 1, dtype=np.int64)
    tgt = src[:, None] + offs
    ok = ((tgt >= lo[src][:, None]) & (tgt < hi[src][:, None])).ravel()
    return tgt.ravel()[ok], (val[:, None] + offs).ravel()[ok]


class FastFeaturizer:
    def __init__(self, model):
        self.model = model
        procs = model.templates.processors
        self.pure = [p for p in procs if isinstance(p, _PURE)]
        self.stateful = [p for p in procs if isinstance(p, T.PreviousStage)]
        self.pin_procs = [
            p
            for p in procs
            if isinstance(p, (T.URLEmailDetector, T.GazetteersEnhanced, T.Gazetteers))
        ]
        self.form_cache: dict = {}
        self.pin_cache: dict = {}
        self.outer_cache: dict = {}
        self.prev_fid_cache: dict = {}
        # outer-word multiplicity per window value
        outer_windows: dict = {}
        for p in self.pure:
            if isinstance(p, _OUTER):
                outer_windows[p.window] = outer_windows.get(p.window, 0) + 1
        self.outer_windows = sorted(outer_windows.items())

    def _token_keys(self, sent):
        """Per-token memoization keys. Trivial-tagger sentences key on the
        form string; tagged sentences (external or model-morpho, including
        TRAINED context-dependent taggers) key on the full
        (form, raw_lemma, lemma_id, tag, comments) tuple — the tuple
        population is still Zipf-compressible, so the per-key featurization
        collapses the same way."""
        if not sent.external:
            return sent.forms
        memo = getattr(sent, "_fast_token_keys", None)
        if memo is not None:
            return memo
        raws = sent.get_raw_lemmas()
        lids = sent.get_lemma_ids()
        tags = sent.get_tags()
        comments = sent.lemma_comments or [""] * sent.size
        keys = [
            f if (r == f and l == f and t == "" and not c)
            else (f, r, l, t, c or "")
            for f, r, l, t, c in zip(sent.forms, raws, lids, tags, comments)
        ]
        sent._fast_token_keys = keys  # morphology is fixed across stages
        return keys

    def _compile_events(self):
        """Fuse every pure processor's per-token body into ONE generated
        function (same technique as FeatureSequences._compile_group): the
        per-key event generation was ~13 dispatched calls + list merges per
        unseen form, which dominated the wide-vocabulary miss path. Bodies
        mirror each processor's templates.py process_sentence per token —
        same processor order, same per-processor event order, same None
        filtering."""
        src = [
            "def _events_fn(form, raw, lid, tag, comments):",
            " fs = []; ws = []",
            " _af = fs.append; _aw = ws.append",
        ]
        ns = {"_cat": T._cat, "_cn": T._case_normalize}
        for i, p in enumerate(self.pure):
            mv, w = f"_m{i}", int(p.window)
            ns[mv] = p.map
            if isinstance(p, T.CzechLemmaTerm):
                src += [
                    " for _pos in range(len(comments) - 2):",
                    "  if comments[_pos] == '_' and comments[_pos + 1] == ';':",
                    f"   _v = {mv}.get(comments[_pos + 2])",
                    f"   if _v is not None: _af(_v); _aw({w})",
                ]
            elif isinstance(p, T.BrownClusters):
                ns[f"_c{i}"] = p.clusters
                src += [
                    f" _v = {mv}.get(raw)",
                    " if _v is not None:",
                    f"  for _f in _c{i}[_v]: _af(_f); _aw({w})",
                ]
            elif isinstance(p, (T.FormCapitalization, T.RawLemmaCapitalization)):
                s = "raw" if isinstance(p, T.RawLemmaCapitalization) else "form"
                src += [
                    " _u = _l = False",
                    f" for _k, _ch in enumerate({s}):",
                    "  _c = _cat(_ch)",
                    "  _u = _u or _c in ('Lu', 'Lt')",
                    "  _l = _l or _c == 'Ll'",
                    "  if _k == 0 and _u:",
                    f"   _v = {mv}.get('f')",
                    f"   if _v is not None: _af(_v); _aw({w})",
                    f" if _u and not _l:",
                    f"  _v = {mv}.get('a')",
                    f"  if _v is not None: _af(_v); _aw({w})",
                    " if _u and _l:",
                    f"  _v = {mv}.get('m')",
                    f"  if _v is not None: _af(_v); _aw({w})",
                ]
            elif isinstance(p, T.Suffix):
                s = "raw" if isinstance(p, (T.RawLemmaSuffix, T.RawLemmaCaseNormalizedSuffix)) else "form"
                expr = f"_cn({s})" if p.normalized else s
                src += [
                    f" _f = {expr}",
                    " _n = len(_f)",
                    # clamp to 1: the interpreted path builds the suffix
                    # incrementally from s=1, so shortest=0 never yields an
                    # s=0 (empty-suffix) lookup there — match it
                    f" for _s in range({max(1, int(p.shortest))}, min({int(p.longest)}, _n) + 1):",
                    f"  _v = {mv}.get(_f[_n - _s:][::-1])",
                    f"  if _v is not None: _af(_v); _aw({w})",
                ]
            elif isinstance(p, T.NumericTimeValue):
                src += [
                    " _k = 0",
                    " _num = 0",
                    " _n = len(form)",
                    " while _k < _n and '0' <= form[_k] <= '9':",
                    "  _num = _num * 10 + ord(form[_k]) - 48",
                    "  _k += 1",
                    " _digit = _k > 0",
                    " if _digit and _k == _n:",
                    f"  for _ch, _ok in (('H', _num < 24), ('M', _num < 60), ('d', 1 <= _num <= 31), ('m', 1 <= _num <= 12), ('y', 1000 <= _num <= 2200)):",
                    "   if _ok:",
                    f"    _v = {mv}.get(_ch)",
                    f"    if _v is not None: _af(_v); _aw({w})",
                    " if _digit and _num < 24 and _k < _n and form[_k] in '.:':",
                    "  _k += 1",
                    "  _start = _k",
                    "  _num = 0",
                    "  while _k < _n and '0' <= form[_k] <= '9':",
                    "   _num = _num * 10 + ord(form[_k]) - 48",
                    "   _k += 1",
                    "  if _k > _start and _k == _n and _num < 60:",
                    f"   _v = {mv}.get('t')",
                    f"   if _v is not None: _af(_v); _aw({w})",
                ]
            else:
                arg = {
                    T.Tag: "tag",
                    T.RawLemmaCaseNormalized: "_cn(raw)",
                    T.FormCaseNormalized: "_cn(form)",
                    T.RawLemma: "raw",
                    T.Lemma: "lid",
                }.get(type(p), "form")
                src += [
                    f" _v = {mv}.get({arg})",
                    f" if _v is not None: _af(_v); _aw({w})",
                ]
        src.append(" return fs, ws")
        exec("\n".join(src), ns)
        fn = self._events_fn = ns["_events_fn"]
        return fn

    def _outer_pattern(self, Tn: int):
        """Expanded outer-word features for a sentence of length Tn, as
        (rel_pos, value) arrays — depends only on Tn, so cached."""
        pat = self.outer_cache.get(Tn)
        if pat is None:
            pos = []
            val = []
            for w, mult in self.outer_windows:
                for k in range(1, w + 1):
                    for vp in (-k, Tn - 1 + k):
                        for off in range(-w, w + 1):
                            p = vp + off
                            if 0 <= p < Tn:
                                pos.extend([p] * mult)
                                val.extend([w + off] * mult)
            pat = (np.array(pos, dtype=np.int64), np.array(val, dtype=np.int64))
            self.outer_cache[Tn] = pat
        return pat

    # ---------------------------------------------------------- batched pins
    def _url_kind_table(self, uniques):
        """Per-unique URL/email pin kind (0 none, 1 email, 2 url), memoized
        per form in pin_cache."""
        pc = self.pin_cache
        classify = T.classify_url_email
        kinds = np.zeros(len(uniques), dtype=np.int8)
        for u, key in enumerate(uniques):
            form = key[0] if isinstance(key, tuple) else key
            kind = pc.get(form)
            if kind is None:
                c = classify(form)
                kind = 1 if c == "EMAIL" else 2 if c == "URL" else 0
                if len(pc) > 500_000:
                    pc.clear()
                pc[form] = kind
            kinds[u] = kind
        return kinds

    def _gaz_tables(self, p, batch, live):
        """Per-unique trie-step tables for one GazetteersEnhanced processor:
        state (0 dead / 2 single-token-only / 3 walk-needed), the cached
        (sources, first, summary) entries, and (for hard_post processors)
        whether the first step can reach a HARD_POST node."""
        codes, uniques, sent_start, lo, hi = batch
        U = len(uniques)
        state = np.zeros(U, dtype=np.int8)
        entries = [None] * U
        mode = p.match
        if mode == "rawlemmas":
            # raw_lemmas_all is derived from the token's sentence (not part
            # of the factorized key): read it off each key's first occurrence
            total = len(codes)
            first_pos = np.empty(U, dtype=np.int64)
            first_pos[codes[::-1]] = np.arange(total - 1, -1, -1)
            first_sent = np.searchsorted(sent_start, first_pos, side="right") - 1
        hp_flags = p._hp_reach() if p._has_hard_post else None
        hp_arr = np.zeros(U, dtype=bool) if hp_flags is not None else None
        for u, key in enumerate(uniques):
            if isinstance(key, tuple):
                form, raw = key[0], key[1]
            else:
                form = raw = key
            if mode == "form":
                k2, texts = form, None
            elif mode == "rawlemma":
                k2 = form if raw == form else (form, raw)
                texts = (raw,)
            else:
                fp = int(first_pos[u])
                si = int(first_sent[u])
                s = live[si]
                texts = tuple(s.get_raw_lemmas_all(fp - int(sent_start[si])))
                k2 = (form, texts)
            e = p._key_entry(k2, form, texts)
            entries[u] = e
            summary = e[2]
            if summary is not None:
                vals, hp_node, has_children = summary
                if has_children:
                    state[u] = 3
                elif vals or hp_node is not None:
                    state[u] = 2
                if hp_arr is not None and e[1]:
                    hp_arr[u] = any(hp_flags[n] for n in e[1])
        # flattened single-token summaries for the fully-vectorized path:
        # per-unique soft-value segments + hard_pre pin entity (or -1)
        val_len = np.zeros(U, dtype=np.int64)
        hp_ent = np.full(U, -2, dtype=np.int64)  # -2 = no pin
        vals_cat = []
        trie = p.trie
        for u in range(U):
            if state[u] == 2:
                vals, hp_node, _hc = entries[u][2]
                val_len[u] = len(vals)
                if vals:
                    vals_cat.append(vals)
                if hp_node is not None:
                    hp_ent[u] = trie[hp_node]["entity"]
        val_off = np.zeros(U + 1, dtype=np.int64)
        np.cumsum(val_len, out=val_off[1:])
        vals_flat = (
            np.concatenate([np.asarray(v, dtype=np.int64) for v in vals_cat])
            if vals_cat
            else np.empty(0, dtype=np.int64)
        )
        return state, entries, hp_arr, (vals_flat, val_off[:-1], val_len, hp_ent)

    def pins_batch(self, live, batch):
        """Stage-invariant pin effects for the whole batch over FLAT arrays.

        Replays per-sentence memos where available and runs the batched
        (dead-token-skipping) URL/gazetteer machinery for fresh sentences,
        preserving the reference processors' (templates.py process_sentence)
        processor order, per-token features, dedup, and filled-gating
        semantics (parity-tested). Per-token event order equals the
        reference's.

        Returns (soft_pos, soft_fid, fill_idx, fill_rows, fill_ents):
        gazetteer soft features as position-sorted flat event arrays plus the
        pinned probability rows to scatter over each stage's scored output.
        Also snapshots fresh sentences' memos (cross-batch reuse) and marks
        sentences whose hard_post walk provably can't match."""
        codes, uniques, sent_start, lo, hi = batch
        total = int(sent_start[-1])
        local = np.zeros((total, 5), dtype=np.float64)
        local_ent = np.full((total, 5), T.ENTITY_UNKNOWN, dtype=np.int64)
        filled = np.zeros(total, dtype=bool)

        model_key = ("pins", id(self.model))
        fresh_sent = np.ones(len(live), dtype=bool)
        fresh_sents = []
        soft_parts = []  # (pos, fid) arrays; bins are per-sentence-disjoint
        for k, s in enumerate(live):
            memo = getattr(s, "_pins_memo", None)
            if memo is None:
                shared = getattr(s, "_shared_memo", None)
                if shared is not None:
                    memo = shared.get(model_key)
                if memo is None:
                    fresh_sents.append((k, int(sent_start[k]), s))
                    continue
            fresh_sent[k] = False
            a = int(sent_start[k])
            soft, fidx, rows, ents = memo
            if soft is not None:
                soft_parts.append((soft[0] + a, soft[1]))
            if fidx is not None and len(fidx):
                gi = fidx + a
                local[gi] = rows
                local_ent[gi] = ents
                filled[gi] = True
            s._pins_memo = memo

        any_fresh = bool(fresh_sents)
        if any_fresh:
            fresh_mask = (
                np.repeat(fresh_sent, np.diff(sent_start))
                if len(fresh_sents) < len(live)
                else np.ones(total, dtype=bool)
            )
        gaz_hp = []  # (proc, per-unique hp-possible array)
        expanded = []  # per-proc (positions, fids) after window expansion
        for p in self.model.templates.processors:
            if isinstance(p, T.URLEmailDetector):
                if not any_fresh:
                    continue
                kinds = self._url_kind_table(uniques)[codes]
                sel = (kinds > 0) & fresh_mask & ~filled
                if sel.any():
                    local[sel] = 0.0
                    local_ent[sel] = T.ENTITY_UNKNOWN
                    local[sel, T.BILOU_U] = 1.0
                    local_ent[sel, T.BILOU_U] = np.where(kinds[sel] == 1, p.email, p.url)
                    filled[sel] = True
            elif isinstance(p, T.GazetteersEnhanced):
                state, entries, hp_arr, flat_tab = self._gaz_tables(p, batch, live)
                if hp_arr is not None:
                    gaz_hp.append((p, hp_arr))
                if not any_fresh:
                    continue
                tok_state = state[codes]
                starts = np.flatnonzero((tok_state >= 2) & fresh_mask)
                if not len(starts):
                    continue
                if not (tok_state[starts] == 3).any():
                    # no multi-token match can start anywhere in this batch:
                    # every active token is fully described by its precompiled
                    # single-token summary — emit soft values and U-pins with
                    # pure gathers (per-token vals are unique and positions
                    # are distinct, so no dedup or ordering bookkeeping)
                    vals_flat, val_off, val_len, hp_ent = flat_tab
                    u_sel = codes[starts]
                    ls = val_len[u_sel]
                    with_vals = ls > 0
                    if with_vals.any():
                        st2 = starts[with_vals]
                        l2 = ls[with_vals]
                        off2 = val_off[u_sel[with_vals]]
                        cum = np.cumsum(l2)
                        tot_v = int(cum[-1])
                        gather = (
                            np.arange(tot_v, dtype=np.int64)
                            - np.repeat(cum - l2, l2)
                            + np.repeat(off2, l2)
                        )
                        expanded.append(_window_events(
                            np.repeat(st2, l2), vals_flat[gather], p.window, lo, hi
                        ))
                    pins = starts[(hp_ent[u_sel] != -2) & ~filled[starts]]
                    if len(pins):
                        local[pins] = 0.0
                        local_ent[pins] = T.ENTITY_UNKNOWN
                        local[pins, T.BILOU_U] = 1.0
                        local_ent[pins, T.BILOU_U] = hp_ent[codes[pins]]
                        filled[pins] = True
                    continue
                trie = p.trie
                span = 2 * p.window + 1
                G = p.G
                HARD_PRE = p.HARD_PRE
                frontier = p._frontier_step
                base_pos = []  # source token (flat) of each base event
                base_val = []  # base feature value attached there
                seen = set()
                for i0 in starts:
                    i = int(i0)
                    e = entries[codes[i]]
                    summary = e[2]
                    if not summary[2]:
                        # single-token-only: precompiled outcome
                        vals, hp_node, _hc = summary
                        for v in vals:
                            t = (i, v)
                            if t not in seen:
                                seen.add(t)
                                base_pos.append(i)
                                base_val.append(v)
                        if hp_node is not None and not filled[i]:
                            local[i, :] = 0.0
                            local_ent[i, :] = T.ENTITY_UNKNOWN
                            local[i, T.BILOU_U] = 1.0
                            local_ent[i, T.BILOU_U] = trie[hp_node]["entity"]
                            filled[i] = True
                        continue
                    # general walk — the exact per-sentence loop over flat
                    # arrays (templates.py GazetteersEnhanced.process_sentence)
                    hard_pre_length = 0
                    hard_pre_node = None
                    hard_pre_possible = True
                    nodes = [0]
                    j = i
                    end = int(hi[i])
                    while j < end and nodes:
                        new_nodes = (
                            e[1] if j == i else frontier(nodes, entries[codes[j]][0])
                        )
                        hard_pre_possible = hard_pre_possible and not filled[j]
                        if hard_pre_possible:
                            for node in new_nodes:
                                if trie[node]["mode"] == HARD_PRE and (
                                    (j - i + 1) > hard_pre_length
                                    or (hard_pre_node is not None and node < hard_pre_node)
                                    or hard_pre_node is None
                                ):
                                    hard_pre_length = j - i + 1
                                    hard_pre_node = node
                        for node in new_nodes:
                            for feature in trie[node]["features"]:
                                fg = feature + G * span
                                btype = 4 if j == i else 0
                                for k2 in range(i, j + 1):
                                    if j != i:
                                        btype = 0 if k2 == i else 2 if k2 == j else 1
                                    t = (k2, fg)
                                    if t not in seen:
                                        seen.add(t)
                                        base_pos.append(k2)
                                        base_val.append(fg)
                                    t = (k2, feature + btype * span)
                                    if t not in seen:
                                        seen.add(t)
                                        base_pos.append(k2)
                                        base_val.append(feature + btype * span)
                        nodes = new_nodes
                        j += 1
                    if hard_pre_length:
                        ent_v = trie[hard_pre_node]["entity"]
                        last = i + hard_pre_length - 1
                        for j2 in range(i, i + hard_pre_length):
                            local[j2, :] = 0.0
                            local_ent[j2, :] = T.ENTITY_UNKNOWN
                            btype = (
                                T.BILOU_U
                                if hard_pre_length == 1
                                else T.BILOU_B
                                if j2 == i
                                else T.BILOU_L
                                if j2 == last
                                else T.BILOU_I
                            )
                            local[j2, btype] = 1.0
                            local_ent[j2, btype] = ent_v
                            filled[j2] = True
                if base_pos:
                    # the reference applies each token's events in source
                    # order, each source's in walk order
                    order = np.argsort(base_pos, kind="stable")
                    expanded.append(_window_events(
                        np.asarray(base_pos)[order], np.asarray(base_val)[order], p.window, lo, hi
                    ))
            elif isinstance(p, T.Gazetteers):
                # deprecated raw-lemma prefix map: soft events only, no pins,
                # emitted in Gazetteers.process_sentence's apply order (no
                # dedup). The raw lemma is part of the factorized token key
                if not any_fresh:
                    continue
                raws = [key[1] if isinstance(key, tuple) else key for key in uniques]
                pmap, info = p.map, p.info
                # an empty raw lemma is no entry (pmap[""] is parse()'s feature id)
                first = np.array([pmap.get(r, -1) if r else -1 for r in raws], dtype=np.int64)
                first = first[codes]
                span = 2 * p.window + 1
                G = p.G * span
                base_pos = []
                base_val = []
                for i0 in np.flatnonzero((first >= 0) & fresh_mask):
                    i = int(i0)
                    idx = int(first[i])
                    for f in info[idx]["features"]:
                        base_pos += (i, i)
                        base_val += (f + G, f + p.U * span)
                    j = i + 1
                    end = int(hi[i])
                    buffer = raws[codes[i]]
                    while info[idx]["prefix_of_longer"] and j < end:
                        buffer = buffer + " " + raws[codes[j]]
                        idx = pmap.get(buffer)
                        if idx is None:
                            break
                        for f in info[idx]["features"]:
                            for g in range(i, j + 1):
                                btype = p.B if g == i else p.L if g == j else p.I
                                base_pos += (g, g)
                                base_val += (f + G, f + btype * span)
                        j += 1
                if base_pos:
                    expanded.append(_window_events(base_pos, base_val, p.window, lo, hi))

        parts = soft_parts + expanded
        if parts:
            allpos = np.concatenate([x[0] for x in parts])
            allfid = np.concatenate([x[1] for x in parts])
            order = np.argsort(allpos, kind="stable")
            soft_pos = allpos[order]
            soft_fid = allfid[order]
        else:
            soft_pos = np.empty(0, dtype=np.int64)
            soft_fid = np.empty(0, dtype=np.int64)

        fill_idx = np.flatnonzero(filled)
        fill_rows = local[fill_idx]
        fill_ents = local_ent[fill_idx]

        # hard_post skip flags (all live sentences — pure per-token facts).
        # the dominant case is "skip every hard_post processor": one shared
        # frozenset per batch, no per-sentence allocation
        if gaz_hp:
            per_sent = [
                np.add.reduceat(hp_arr[codes].astype(np.int8), sent_start[:-1]) > 0
                for _p, hp_arr in gaz_hp
            ]
            skip_all = frozenset(id(p) for p, _ in gaz_hp)
            skip_none = frozenset()
            none_possible = ~per_sent[0]
            all_possible = per_sent[0]
            for ps in per_sent[1:]:
                none_possible = none_possible & ~ps
                all_possible = all_possible & ps
            # shared frozensets for the two dominant cases (no per-sentence
            # allocation); assignment also clears any stale flag on reused
            # Sentence instances
            for k in np.flatnonzero(none_possible):
                live[k]._gaz_hp_skip = skip_all
            for k in np.flatnonzero(all_possible):
                live[k]._gaz_hp_skip = skip_none
            if len(gaz_hp) > 1:
                for k in np.flatnonzero(~none_possible & ~all_possible):
                    live[k]._gaz_hp_skip = {
                        id(p) for (p, _), ps in zip(gaz_hp, per_sent) if not ps[k]
                    }

        # snapshot only sentences with pin/soft activity for cross-batch
        # reuse (inactive sentences recompute through the vectorized masks —
        # per-sentence bookkeeping would cost more than it saves)
        if fresh_sents and (len(soft_pos) or len(fill_idx)):
            sp = np.searchsorted(soft_pos, sent_start)
            fp = np.searchsorted(fill_idx, sent_start)
            active = (np.diff(sp) > 0) | (np.diff(fp) > 0)
            for k, a, s in fresh_sents:
                if not active[k]:
                    continue
                s0, s1 = int(sp[k]), int(sp[k + 1])
                f0, f1 = int(fp[k]), int(fp[k + 1])
                soft = (soft_pos[s0:s1] - a, soft_fid[s0:s1]) if s1 > s0 else None
                memo = (
                    soft,
                    fill_idx[f0:f1] - a,
                    fill_rows[f0:f1] if f1 > f0 else None,
                    fill_ents[f0:f1] if f1 > f0 else None,
                )
                s._pins_memo = memo
                shared = getattr(s, "_shared_memo", None)
                if shared is not None:
                    shared[model_key] = memo

        return soft_pos, soft_fid, fill_idx, fill_rows, fill_ents

    def _prev_fid(self, proc, bilou: int, ent: int):
        key = (bilou, ent)
        fid = self.prev_fid_cache.get(key, -2)
        if fid == -2:
            skey = T.PreviousStage._encode(bilou) + " " + T.PreviousStage._encode(ent)
            fid = proc.map.get(skey)
            self.prev_fid_cache[key] = fid
        return fid

class StagePartialScorer:
    """Per-form partial-sum scoring: the memory-bandwidth-optimal plan.

    For a fixed network, the contribution of a token with form f at relative
    offset `off` to a neighboring position is a fixed vector
        S[f, off] = sum_{(fid, w) in events(f), w >= |off|} W_adj[fid + off]
    so scoring becomes maxw*2+1 gathers of (n_tokens, n_out) instead of one
    gather per feature occurrence (~60/token). Counts per offset are cached
    alongside for the missing-weight term (|F| * mw). Exact same math as
    Network.scores_batch up to floating-point summation order.

    Out-of-range feature ids (stage-2-grown features scored by the stage-1
    network during training-time chaining) contribute missing_weight only,
    exactly like the reference guard.
    """

    def __init__(self, featurizer: "FastFeaturizer", net):
        self.fz = featurizer
        self.net = net
        self.maxw = max((p.window for p in featurizer.pure), default=0)
        self.cache: dict = {}
        self.nh = net.n_hidden
        # partial-sum width: direct outcomes + hidden pre-activations (both
        # linear in features, so one combined matrix works)
        if self.nh:
            self.w0 = np.concatenate([net.w_adj[0], net.hidden_w0[0]])
        else:
            self.w0 = net.w_adj[0].copy()

    def _gather(self, rows):
        """(len(rows), n_out [+ n_hidden]) weight rows with range guards."""
        net = self.net
        nf = net.w_adj.shape[0]
        safe = np.where(rows < nf, rows, 0)
        g = net.w_adj[safe]
        if (rows >= nf).any():
            g[rows >= nf] = 0.0
        if self.nh:
            nh = net.hidden_w0.shape[0]
            hsafe = np.where(rows < nh, rows, 0)
            hg = net.hidden_w0[hsafe]
            if (rows >= nh).any():
                hg[rows >= nh] = 0.0
            g = np.concatenate([g, hg], axis=1)
        return g

    def _form_partials_batch(self, keys):
        """Partial sums for MANY uncached form keys in one flat pass;
        returns the stacked (S, C) arrays in key order (rows are also
        cached as views, so the caller's next batch hits the cache).

        On wide-vocabulary (fresh web text) input most token keys are
        cache misses; a per-key loop costs ~(2m+1) tiny-array gathers per
        form, and that per-form Python overhead — not the morpho
        dictionary — dominated the miss path (measured 8-10k tok/s/core at
        ~50% unique keys). Here all keys' feature events concatenate into
        one flat (form_idx, fid, window) array; each window offset then
        does ONE range-guarded weight gather and per-column bincount
        scatter-adds. Per-bin accumulation follows occurrence order
        (sequential), matching the per-form path's small-array sums;
        parity is pinned by the fuzz goldens."""
        fz = self.fz
        cache = fz.form_cache
        evs = list(map(cache.get, keys))
        if not all(evs):
            # events for all uncached keys in two flat pylists -> ONE
            # asarray each, backfilled into the events cache as slices
            # (np.asarray per tiny list costs ~8us; extend costs ~0.1us/el)
            fn = getattr(fz, "_events_fn", None) or fz._compile_events()
            flat_f: list = []
            flat_w: list = []
            spans = []
            for j, ev in enumerate(evs):
                if ev is not None:
                    continue
                key = keys[j]
                if isinstance(key, tuple):
                    form, raw, lid, tag, comments = key
                else:
                    form, raw, lid, tag, comments = key, key, key, "", ""
                s0 = len(flat_f)
                fs, ws_out = fn(form, raw, lid, tag, comments)
                flat_f.extend(fs)
                flat_w.extend(ws_out)
                spans.append((j, key, s0, len(fs)))
            mf = np.asarray(flat_f, dtype=np.int64)
            mw = np.asarray(flat_w, dtype=np.int64)
            for j, key, s0, n in spans:
                evs[j] = cache[key] = (mf[s0 : s0 + n], mw[s0 : s0 + n], n)
        m = self.maxw
        width = self.net.n_out + self.nh
        nloc = len(keys)
        S = np.zeros((nloc, 2 * m + 1, width), dtype=np.float64)
        C = np.zeros((nloc, 2 * m + 1), dtype=np.int64)
        len_l = [ev[2] for ev in evs]
        if nloc:
            fids_f = np.concatenate([ev[0] for ev in evs])
            ws_f = np.concatenate([ev[1] for ev in evs])
            fi = np.repeat(np.arange(nloc, dtype=np.int64), len_l)
            net = self.net
            nf = net.w_adj.shape[0]
            for off in range(-m, m + 1):
                sel = ws_f >= abs(off)
                if not sel.any():
                    continue
                rows = fids_f[sel] + off
                f_loc = fi[sel]
                ok = rows < nf
                G = net.w_adj[np.where(ok, rows, 0)]
                if not ok.all():
                    G[~ok] = 0.0
                if self.nh:
                    nh = net.hidden_w0.shape[0]
                    okh = rows < nh
                    H = net.hidden_w0[np.where(okh, rows, 0)]
                    if not okh.all():
                        H[~okh] = 0.0
                    G = np.concatenate([G, H], axis=1)
                # f_loc is NON-DECREASING (events concatenate in key order),
                # so each key's events form one contiguous run: one
                # add.reduceat over the gathered rows replaces `width`
                # per-column bincount passes. reduceat sums each segment
                # SEQUENTIALLY in occurrence order; the pre-r6 _form_partial
                # used np.sum (pairwise summation), so partials for forms
                # with many events can differ in the last ulp from that
                # path. Current behavior is what the fuzz goldens pin.
                starts = np.flatnonzero(np.diff(f_loc, prepend=-1))
                seg_keys = f_loc[starts]
                S[seg_keys, off + m, :] = np.add.reduceat(G, starts, axis=0)
                C[seg_keys, off + m] = np.diff(np.append(starts, len(f_loc)))
        for j, key in enumerate(keys):
            self.cache[key] = (S[j], C[j])
        return S, C

    def _ps_table(self, proc):
        """Dense PreviousStage fid table: [bilou 0..4, ent -1..n_ent-1] ->
        base fid or -1. Built once per (scorer, processor)."""
        tab = getattr(self, "_ps_tab", None)
        if tab is None:
            n_ent = len(self.fz.model.entities)
            tab = np.full((5, n_ent + 2), -1, dtype=np.int64)
            for b in range(5):
                for e in range(-1, n_ent + 1):
                    fid = self.fz._prev_fid(proc, b, e)
                    if fid is not None:
                        tab[b, e + 1] = fid
            self._ps_tab = tab
        return tab

    def score(self, batch, soft_flat, prev_b=None, prev_e=None):
        """-> softmax probabilities (total_tokens, n_out) for the batch.

        batch: (codes, uniques, sent_start, lo, hi) precomputed by the
        caller and shared across stages (token keys and sentence bounds are
        stage-invariant). soft_flat: gazetteer soft features from
        FastFeaturizer.pins_batch as the position-sorted (pos, fid) pair.
        Pinned rows are still scored (cheap) and the caller overwrites them,
        as the reference does. prev_b/prev_e: flat previous-stage decode
        arrays (every token known); None on the first stage.

        A token's weights are summed in a different association from
        NerModel.recognize_sentence (omnipresent row + per-form partial
        sums + the summed extra events, where the reference adds every
        feature left to right), so per-stage probabilities may differ from
        the reference in the last ulps (up to 4.4e-16 seen); decisions are
        equal."""
        net = self.net
        n_out = net.n_out
        m = self.maxw

        codes, uniques, sent_start, lo, hi = batch
        lengths = np.diff(sent_start)
        total = int(sent_start[-1])

        out = np.tile(self.w0, (total, 1))  # omnipresent contribution
        counts = np.ones(total, dtype=np.int64)

        epos_arrs = []
        efid_arrs = []
        ps_proc = self.fz.stateful[0] if self.fz.stateful else None

        if len(soft_flat[0]):
            epos_arrs.append(soft_flat[0])
            efid_arrs.append(soft_flat[1])
        # outer-word events grouped by sentence length: same pattern per
        # length, offset by each sentence's base (events of different
        # sentences never share a bin, so per-bin order is preserved)
        sbases = sent_start[:-1]
        for Tn in np.unique(lengths):
            opos, oval = self.fz._outer_pattern(int(Tn))
            if not len(opos):
                continue
            bs = sbases[lengths == Tn]
            epos_arrs.append((bs[:, None] + opos[None, :]).ravel())
            efid_arrs.append(np.tile(oval, len(bs)))

        if prev_b is not None and ps_proc is not None and total:
            tab = self._ps_table(ps_proc)
            fids = tab[prev_b, prev_e + 1]
            p_all = np.arange(total, dtype=np.int64)
            for d in range(1, ps_proc.window + 1):
                sel = (fids >= 0) & (p_all + d < hi)
                if sel.any():
                    epos_arrs.append(p_all[sel] + d)
                    efid_arrs.append(fids[sel] + d)

        # form partial sums, one per distinct form in the batch; cache
        # misses are computed together in one flat vectorized pass (the
        # per-form loop was the wide-vocabulary bottleneck)
        U = len(uniques)
        S_all = np.empty((U, 2 * m + 1, n_out + self.nh), dtype=np.float64)
        C_all = np.empty((U, 2 * m + 1), dtype=np.int64)
        vals = list(map(self.cache.get, uniques))
        miss = [k for k, v in enumerate(vals) if v is None]
        if miss:
            # one vectorized scatter instead of U per-key dict hashes +
            # small-array copies (on wide-vocabulary input every form is a
            # miss, and the copy loop was ~2x the numpy work it fed)
            S_m, C_m = self._form_partials_batch([uniques[k] for k in miss])
            mi = np.asarray(miss, dtype=np.int64)
            S_all[mi] = S_m
            C_all[mi] = C_m
        for k, v in enumerate(vals):
            if v is not None:
                S_all[k] = v[0]
                C_all[k] = v[1]

        p = np.arange(total, dtype=np.int64)
        for off in range(-m, m + 1):
            if off == 0:  # every token sources itself: no mask needed
                out += S_all[codes, m]
                counts += C_all[codes, m]
                continue
            j = p - off  # source token position
            valid = (j >= lo) & (j < hi)
            if valid.any():
                src = codes[j[valid]]
                out[valid] += S_all[src, off + m]
                counts[valid] += C_all[src, off + m]

        if epos_arrs:
            epos = np.concatenate(epos_arrs)
            efid = np.concatenate(efid_arrs)
            counts += np.bincount(epos, minlength=total)
            # the extra fids (outer-pattern values, prev-stage codes,
            # gazetteer soft features) repeat massively: gather each DISTINCT
            # row once, then scatter-add with buffered bincounts per output
            # column (np.add.at is unbuffered and the full (n_extras, width)
            # gather was the single hottest kernel in the batch scorer)
            # factorize (hash, no sort) — order of the distinct rows is
            # irrelevant, only the per-event gather matters
            inv, uf = pd.factorize(efid)
            G = self._gather(uf)
            for c in range(G.shape[1]):
                out[:, c] += np.bincount(epos, weights=G[inv, c], minlength=total)

        if self.nh:
            direct = out[:, :n_out]
            hidden = 1.0 / (1.0 + np.exp(-out[:, n_out:]))
            out = direct + hidden @ net.hidden_w1
        out += counts[:, None] * net.missing_weight
        out -= out.max(axis=1, keepdims=True)
        np.exp(out, out=out)
        out /= out.sum(axis=1, keepdims=True)
        return out
