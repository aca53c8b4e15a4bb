"""Feature-template featurizer (SURVEY.md §2.4-§2.5).

Re-creates the reference's feature-template framework from scratch in
Python/numpy, preserving the exact id-allocation and window-application
semantics so a model trained by our trainer decodes identically in the
Spark pipeline and the local oracle:

  - lookup(key): id = window + total_features; total_features += 2*window+1
      (/root/reference/src/features/feature_processor.h:40-47)
  - apply_in_window(i, f): positions w in [i-window, i+window] (clipped)
      receive feature id  f + (w - i)
      (/root/reference/src/features/feature_processor_instances.cpp:26-35)
  - outer (virtual) words use the literal id `window`
      (feature_processor_instances.cpp:46; a reference quirk we replicate
      because training and inference share it)
  - omnipresent feature id 0; total_features starts at 1
      (/root/reference/src/features/feature_templates.cpp:49-52,
       feature_templates_encoder.cpp:20)

Template-file syntax `Name/window args...` per
/root/reference/src/features/feature_templates_encoder.cpp:24-47.
"""

from __future__ import annotations

import os
import unicodedata

import numpy as np

from ..tokenizer.rules import classify_url_email, tokenize_forms

ENTITY_UNKNOWN = -1
BILOU_B, BILOU_I, BILOU_L, BILOU_O, BILOU_U = 0, 1, 2, 3, 4
BILOU_UNKNOWN = -1


class Sentence:
    """Per-sentence workspace (SoA) used inside Arrow batches.

    Mirrors ner_sentence (/root/reference/src/bilou/ner_sentence.h:20-45)
    with the trivial tagger applied: raw_lemma = lemma_id = form, tag = ''
    (/root/reference/src/tagger/trivial_tagger.cpp:23-33).
    """

    __slots__ = (
        "forms",
        "features",
        "local",
        "local_ent",
        "local_filled",
        "prev_bilou",
        "prev_ent",
        "size",
        "lemma_comments",
        "raw_lemmas",
        "lemma_ids",
        "tags",
        "raw_lemmas_all",
        "external",
        "_fast_token_keys",  # ner.fast memo (morphology fixed across stages)
        "_pins_memo",  # ner.fast pin-effect snapshot (stage-invariant)
        "_gaz_sources",  # per-processor recased match sources (stage-invariant)
        "_gaz_hp_skip",  # proc ids whose hard_post walk provably can't match
        "_shared_memo",  # content-keyed memo store shared across instances
        "_raw_all_src",  # tagger supplying raw_lemmas_all lazily (raw_all_of)
    )

    def __init__(self, forms, lemma_comments=None, raw_lemmas=None, lemma_ids=None,
                 tags=None, raw_lemmas_all=None):
        self.forms = forms
        # external-tagger analyses (src/tagger/external_tagger.cpp:32-63);
        # None == trivial tagger (raw_lemma = lemma_id = form, tag = "")
        self.lemma_comments = lemma_comments
        self.raw_lemmas = raw_lemmas
        self.lemma_ids = lemma_ids
        self.tags = tags
        self.raw_lemmas_all = raw_lemmas_all
        self.external = raw_lemmas is not None or tags is not None
        self.size = len(forms)
        self.features = None
        self.local = None
        self.local_ent = None
        self.local_filled = None
        self.prev_bilou = [BILOU_UNKNOWN] * self.size
        self.prev_ent = [ENTITY_UNKNOWN] * self.size

    @staticmethod
    def split_pdt_lemma(lemma: str):
        """Czech/PDT lemma structure split (the morphodita tagger wrapper's
        contract, morphodita_tagger.cpp:57-73 + czech_lemma_addinfo.h:35-56):
        raw lemma ends at the first '`', '_', or '-<digit>' past position 0;
        the lemma id additionally keeps a '-<digits>' homonym number; the
        rest is comments. Returns (raw_lemma, lemma_id, comments)."""
        n = len(lemma)
        raw_len = n
        for k in range(1, n):
            c = lemma[k]
            if c in "`_" or (c == "-" and k + 1 < n and lemma[k + 1].isdigit() and lemma[k + 1].isascii()):
                raw_len = k
                break
        id_len = n
        for k in range(1, n):
            c = lemma[k]
            if c in "`_":
                id_len = k
                break
            if c == "-" and k + 1 < n and lemma[k + 1].isdigit() and lemma[k + 1].isascii():
                k2 = k + 2
                while k2 < n and lemma[k2].isdigit() and lemma[k2].isascii():
                    k2 += 1
                id_len = k2
                break
        return lemma[:raw_len], lemma[:id_len], lemma[id_len:]

    @classmethod
    def from_pdt(cls, forms, lemmas, tags):
        """Per-token PDT lemma strings -> Sentence with raw_lemma/lemma_id/
        comments split per the Czech convention (enables CzechLemmaTerm)."""
        raws, ids, comments = [], [], []
        for lemma in lemmas:
            r, i, c = cls.split_pdt_lemma(lemma)
            raws.append(r)
            ids.append(i)
            comments.append(c)
        return cls(forms, lemma_comments=comments, raw_lemmas=raws, lemma_ids=ids,
                   tags=list(tags), raw_lemmas_all=[sorted({r}) for r in raws])

    @classmethod
    def from_external(cls, tagged_tokens):
        """Parse 'form[ raw_lemma[ tag]]' space-separated tokens exactly like
        the reference external tagger (external_tagger.cpp:32-63)."""
        forms, raw, tags = [], [], []
        for tok in tagged_tokens:
            parts = tok.split(" ")
            form = parts[0]
            raw_lemma = parts[1] if len(parts) > 1 else form
            tag = parts[2] if len(parts) > 2 else ""
            forms.append(form)
            raw.append(raw_lemma)
            tags.append(tag)
        return cls(forms, raw_lemmas=raw, lemma_ids=list(raw), tags=tags,
                   raw_lemmas_all=[[r] for r in raw])

    # --- per-token views (fall back to forms under the trivial tagger) ----
    def get_raw_lemmas(self):
        return self.raw_lemmas if self.raw_lemmas is not None else self.forms

    def get_lemma_ids(self):
        return self.lemma_ids if self.lemma_ids is not None else self.forms

    def get_tags(self):
        return self.tags if self.tags is not None else [""] * self.size

    def get_raw_lemmas_all(self, i):
        if self.raw_lemmas_all is not None:
            return self.raw_lemmas_all[i]
        src = getattr(self, "_raw_all_src", None)
        if src is not None:
            return src.raw_all_of(self.forms[i])
        return (self.forms[i],)

    def clear_features(self):
        # omnipresent feature id 0 (feature_templates.cpp:49-52)
        self.features = [[0] for _ in range(self.size)]

    def clear_probabilities_local_filled(self):
        self.local = np.zeros((self.size, 5), dtype=np.float64)
        self.local_ent = np.full((self.size, 5), ENTITY_UNKNOWN, dtype=np.int64)
        self.local_filled = [False] * self.size

    def clear_previous_stage(self):
        self.prev_bilou = [BILOU_UNKNOWN] * self.size
        self.prev_ent = [ENTITY_UNKNOWN] * self.size


class EntityMap:
    """Bidirectional entity-type dictionary
    (/root/reference/src/ner/entity_map.cpp:17-50)."""

    def __init__(self, names=None):
        self.id2str = list(names or [])
        self.str2id = {n: i for i, n in enumerate(self.id2str)}

    def parse(self, name, add=False):
        if name in self.str2id:
            return self.str2id[name]
        if add:
            self.str2id[name] = len(self.id2str)
            self.id2str.append(name)
            return self.str2id[name]
        return ENTITY_UNKNOWN

    def name(self, entity):
        return self.id2str[entity] if 0 <= entity < len(self.id2str) else ""

    def __len__(self):
        return len(self.id2str)


class _Total:
    """Mutable total_features counter shared across processors."""

    def __init__(self, value=1):
        self.value = value


def _cat(c):
    return unicodedata.category(c)


def _case_normalize(s):
    """First char as-is, rest lowercased (feature_processor_instances.cpp:243-257)."""
    return s[:1] + s[1:].lower() if len(s) > 1 else s


class FeatureProcessor:
    name = "FeatureProcessor"

    def __init__(self):
        self.window = 0
        self.map = {}
        self.args = []

    # --- id allocation --------------------------------------------------
    def parse(self, window, args, entities, total, base_dir=""):
        if window < 0:
            raise ValueError("window must be >= 0")
        self.window = window
        self.args = list(args)
        self.map = {}
        self.lookup("", total)

    def lookup(self, key, total=None):
        fid = self.map.get(key)
        if fid is None and total is not None:
            fid = self.window + total.value
            self.map[key] = fid
            total.value += 2 * self.window + 1
        return fid  # None == ner_feature_unknown

    def lookup_empty(self):
        # reference macro returns the literal window value
        return self.window

    # --- window application ----------------------------------------------
    def apply_in_range(self, sent, i, feature, left, right):
        if feature is None:
            return
        w = i + left if i + left > 0 else 0
        end = i + right + 1 if i + right + 1 < sent.size else sent.size
        feats = sent.features
        while w < end:
            feats[w].append(feature + w - i)
            w += 1

    def apply_in_window(self, sent, i, feature):
        self.apply_in_range(sent, i, feature, -self.window, self.window)

    def apply_outer_words_in_window(self, sent, feature):
        if feature is None:
            return
        for k in range(1, self.window + 1):
            self.apply_in_window(sent, -k, feature)
            self.apply_in_window(sent, sent.size - 1 + k, feature)

    # --- stages ------------------------------------------------------------
    def process_sentence(self, sent, total=None):
        pass

    def process_entities(self, sent, entities, entity_map):
        pass

    # --- serialization -------------------------------------------------
    def state(self):
        return {"window": self.window, "args": self.args, "map": self.map}

    def load_state(self, st, base_dir=""):
        self.window = st["window"]
        self.args = list(st["args"])
        self.map = {k: int(v) for k, v in st["map"].items()}


class Form(FeatureProcessor):
    name = "Form"

    def src(self, sent):
        return sent.forms

    def process_sentence(self, sent, total=None):
        words = self.src(sent)
        for i in range(sent.size):
            self.apply_in_window(sent, i, self.lookup(words[i], total))
        self.apply_outer_words_in_window(sent, self.lookup_empty())


class FormCapitalization(FeatureProcessor):
    """feature_processor_instances.cpp:214-239"""

    name = "FormCapitalization"

    def src(self, sent):
        return sent.forms

    def process_sentence(self, sent, total=None):
        fst = self.lookup("f", total)
        allc = self.lookup("a", total)
        mixed = self.lookup("m", total)
        words = self.src(sent)
        for i in range(sent.size):
            form = words[i]
            was_upper = was_lower = False
            for k, ch in enumerate(form):
                c = _cat(ch)
                was_upper = was_upper or c in ("Lu", "Lt")
                was_lower = was_lower or c == "Ll"
                if k == 0 and was_upper:
                    self.apply_in_window(sent, i, fst)
            if was_upper and not was_lower:
                self.apply_in_window(sent, i, allc)
            if was_upper and was_lower:
                self.apply_in_window(sent, i, mixed)


class FormCaseNormalized(FeatureProcessor):
    name = "FormCaseNormalized"

    def src(self, sent):
        return sent.forms

    def process_sentence(self, sent, total=None):
        words = self.src(sent)
        for i in range(sent.size):
            self.apply_in_window(sent, i, self.lookup(_case_normalize(words[i]), total))
        self.apply_outer_words_in_window(sent, self.lookup_empty())


class Suffix(FeatureProcessor):
    """*Suffix family (feature_processor_instances.cpp:903-956).

    Keys are built reversed (last char first), exactly like the reference.
    """

    name = "FormSuffix"
    normalized = False

    def parse(self, window, args, entities, total, base_dir=""):
        super().parse(window, args, entities, total, base_dir)
        if len(args) != 2:
            raise ValueError("*Suffix requires shortest and longest length")
        self.shortest = int(args[0])
        self.longest = int(args[1])

    def src(self, sent):
        return sent.forms

    def process_sentence(self, sent, total=None):
        words = self.src(sent)
        for i in range(sent.size):
            form = words[i]
            if self.normalized:
                form = _case_normalize(form)
            buf = []
            for s in range(1, min(self.longest, len(form)) + 1):
                buf.append(form[len(form) - s])
                if s >= self.shortest:
                    self.apply_in_window(sent, i, self.lookup("".join(buf), total))
        self.apply_outer_words_in_window(sent, self.lookup_empty())

    def state(self):
        st = super().state()
        st["shortest"] = self.shortest
        st["longest"] = self.longest
        return st

    def load_state(self, st, base_dir=""):
        super().load_state(st, base_dir)
        self.shortest = int(st["shortest"])
        self.longest = int(st["longest"])


class FormCaseNormalizedSuffix(Suffix):
    name = "FormCaseNormalizedSuffix"
    normalized = True


# With the trivial tagger raw_lemma == form, so the RawLemma* family shares
# implementations but keeps separate feature maps (distinct template lines).
class _RawLemmaSource:
    def src(self, sent):
        return sent.get_raw_lemmas()


class RawLemma(_RawLemmaSource, Form):
    name = "RawLemma"


class RawLemmaCapitalization(_RawLemmaSource, FormCapitalization):
    name = "RawLemmaCapitalization"


class RawLemmaCaseNormalized(_RawLemmaSource, FormCaseNormalized):
    name = "RawLemmaCaseNormalized"


class RawLemmaSuffix(_RawLemmaSource, Suffix):
    name = "RawLemmaSuffix"


class RawLemmaCaseNormalizedSuffix(_RawLemmaSource, Suffix):
    name = "RawLemmaCaseNormalizedSuffix"
    normalized = True


class Lemma(Form):
    name = "Lemma"

    def src(self, sent):
        return sent.get_lemma_ids()


class Tag(FeatureProcessor):
    name = "Tag"

    def process_sentence(self, sent, total=None):
        tags = sent.get_tags()
        for i in range(sent.size):
            self.apply_in_window(sent, i, self.lookup(tags[i], total))
        self.apply_outer_words_in_window(sent, self.lookup_empty())


class NumericTimeValue(FeatureProcessor):
    """feature_processor_instances.cpp:773-812"""

    name = "NumericTimeValue"

    def process_sentence(self, sent, total=None):
        hour = self.lookup("H", total)
        minute = self.lookup("M", total)
        time = self.lookup("t", total)
        day = self.lookup("d", total)
        month = self.lookup("m", total)
        year = self.lookup("y", total)
        for i in range(sent.size):
            form = sent.forms[i]
            k = 0
            num = 0
            while k < len(form) and "0" <= form[k] <= "9":
                num = num * 10 + ord(form[k]) - 48
                k += 1
            digit = k > 0
            if digit and k == len(form):
                if num < 24:
                    self.apply_in_window(sent, i, hour)
                if num < 60:
                    self.apply_in_window(sent, i, minute)
                if 1 <= num <= 31:
                    self.apply_in_window(sent, i, day)
                if 1 <= num <= 12:
                    self.apply_in_window(sent, i, month)
                if 1000 <= num <= 2200:
                    self.apply_in_window(sent, i, year)
            if digit and num < 24 and k < len(form) and form[k] in ".:":
                k += 1
                num = 0
                start = k
                while k < len(form) and "0" <= form[k] <= "9":
                    num = num * 10 + ord(form[k]) - 48
                    k += 1
                if k > start and k == len(form) and num < 60:
                    self.apply_in_window(sent, i, time)


class PreviousStage(FeatureProcessor):
    """feature_processor_instances.cpp:816-838 — applied to +1..+window only;
    key is nibble-reversed hex of (bilou, entity)."""

    name = "PreviousStage"

    @staticmethod
    def _encode(value):
        if value < 0:
            out = "-"
            value = -value
        else:
            out = ""
        while value:
            out += "0123456789abcdef"[value & 0xF]
            value >>= 4
        return out

    def process_sentence(self, sent, total=None):
        for i in range(sent.size):
            if sent.prev_bilou[i] != BILOU_UNKNOWN:
                key = self._encode(sent.prev_bilou[i]) + " " + self._encode(sent.prev_ent[i])
                self.apply_in_range(sent, i, self.lookup(key, total), 1, self.window)


class URLEmailDetector(FeatureProcessor):
    """Hard-decision operator (feature_processor_instances.cpp:972-1019):
    URL/email tokens get a pinned local distribution (U prob 1) and are
    skipped by the classifier."""

    name = "URLEmailDetector"

    def parse(self, window, args, entities, total, base_dir=""):
        super().parse(window, args, entities, total, base_dir)
        if len(args) != 2:
            raise ValueError("URLEmailDetector requires URL and email entity types")
        self.url = entities.parse(args[0], True)
        self.email = entities.parse(args[1], True)

    def process_sentence(self, sent, total=None):
        for i in range(sent.size):
            if sent.local_filled[i]:
                continue
            kind = classify_url_email(sent.forms[i])
            if kind == "EMAIL":
                etype = self.email
            elif kind == "URL":
                etype = self.url
            else:
                continue
            sent.local[i, :] = 0.0
            sent.local_ent[i, :] = ENTITY_UNKNOWN
            sent.local[i, BILOU_U] = 1.0
            sent.local_ent[i, BILOU_U] = etype
            sent.local_filled[i] = True

    def state(self):
        st = super().state()
        st["url"] = self.url
        st["email"] = self.email
        return st

    def load_state(self, st, base_dir=""):
        super().load_state(st, base_dir)
        self.url = int(st["url"])
        self.email = int(st["email"])


def _append_unless_exists(array, value):
    if value not in array:
        array.append(value)


class Gazetteers(FeatureProcessor):
    """Deprecated gazetteer matcher kept for model compatibility
    (feature_processor_instances.cpp:261-365): raw_lemma-sequence prefix map,
    one shared feature id per list file, G + positional U/B/I/L blocks."""

    name = "Gazetteers"

    G, U, B, L, I = 0, 1, 2, 3, 4

    def parse(self, window, args, entities, total, base_dir=""):
        super().parse(window, args, entities, total, base_dir)
        self.info = []  # [{"features": [...], "prefix_of_longer": bool}]
        span = 2 * window + 1
        for arg in args:
            longest = 0
            file_feature = total.value + window  # constant within one file
            with open(os.path.join(base_dir, arg), encoding="utf-8") as f:
                for line in f:
                    tokens = [t for t in line.rstrip("\n").split(" ") if t]
                    longest = max(longest, len(tokens))
                    prefix = ""
                    for i, tok in enumerate(tokens):
                        prefix = prefix + " " + tok if i else tok
                        idx = self.map.setdefault(prefix, len(self.info))
                        if idx == len(self.info):
                            self.info.append({"features": [], "prefix_of_longer": False})
                        info = self.info[idx]
                        if i + 1 < len(tokens):
                            info["prefix_of_longer"] = True
                        elif file_feature not in info["features"]:
                            info["features"].append(file_feature)
            mult = 0 if longest == 0 else 2 if longest == 1 else 4 if longest == 2 else 5
            total.value += span * mult

    def process_sentence(self, sent, total=None):
        span = 2 * self.window + 1
        raws = sent.get_raw_lemmas()
        for i in range(sent.size):
            # "" maps to the feature id parse() seeds, not to an entry: no
            # entry is empty, since parse() drops empty tokens
            idx = self.map.get(raws[i]) if raws[i] else None
            if idx is None:
                continue
            for feature in self.info[idx]["features"]:
                self.apply_in_window(sent, i, feature + self.G * span)
                self.apply_in_window(sent, i, feature + self.U * span)
            j = i + 1
            buffer = raws[i]
            while self.info[idx]["prefix_of_longer"] and j < sent.size:
                buffer = buffer + " " + raws[j]
                idx2 = self.map.get(buffer)
                if idx2 is None:
                    break
                for feature in self.info[idx2]["features"]:
                    for g in range(i, j + 1):
                        btype = self.B if g == i else self.L if g == j else self.I
                        self.apply_in_window(sent, g, feature + self.G * span)
                        self.apply_in_window(sent, g, feature + btype * span)
                idx = idx2
                j += 1

    def state(self):
        st = super().state()
        st["info"] = self.info
        return st

    def load_state(self, st, base_dir=""):
        super().load_state(st, base_dir)
        self.info = st["info"]


class GazetteersEnhanced(FeatureProcessor):
    """Token-trie gazetteer matcher with soft features and hard_pre /
    hard_post constraint modes (feature_processor_instances.cpp:369-757).

    G/U/B/L/I positional feature blocks per list; longest-earliest-lowest-id
    tie-breaks for hard matches; recasing per RECASE_NATIVE (trie build) and
    RECASE_ANY (matching).
    """

    name = "GazetteersEnhanced"

    SOFT, HARD_PRE, HARD_POST = 0, 1, 2
    G, U, B, L, I = 0, 1, 2, 3, 4
    SUFFIXES = [".txt", ".hard_pre.txt", ".hard_post.txt"]

    def parse(self, window, args, entities, total, base_dir=""):
        super().parse(window, args, entities, total, base_dir)
        if len(args) < 4 or len(args) % 2:
            raise ValueError("GazetteersEnhanced needs match mode, embed mode, and (file, entity) pairs")
        if args[0] not in ("form", "rawlemma", "rawlemmas"):
            raise ValueError("bad match mode")
        self.match = args[0]
        self.metas = []
        for k in range(2, len(args), 2):
            feature = total.value + window
            total.value += 5 * (2 * window + 1)
            entity = -1 if args[k + 1] == "NONE" else entities.parse(args[k + 1], True)
            self.metas.append({"basename": args[k], "feature": feature, "entity": entity})
        self.entity_list = [entities.name(i) for i in range(len(entities))]
        self._load_lists(base_dir)
        self._build_trie()

    def _load_lists(self, base_dir):
        self.lists = []
        for meta in self.metas:
            for mode in (self.SOFT, self.HARD_PRE, self.HARD_POST):
                path = os.path.join(base_dir, meta["basename"] + self.SUFFIXES[mode])
                if not os.path.exists(path):
                    continue
                entries = []
                with open(path, encoding="utf-8") as f:
                    for line in f:
                        line = line.rstrip("\n")
                        if line and not line.startswith("#"):
                            entries.append(line)
                self.lists.append(
                    {"gazetteers": entries, "feature": meta["feature"], "entity": meta["entity"], "mode": mode}
                )

    @staticmethod
    def _recase_text(text, perform):
        if perform == 0:  # TO_LOWER
            return text.lower()
        if perform == 1:  # TO_TITLE
            return text[:1].upper() + text[1:].lower()
        return text.upper()  # TO_UPPER

    def _recase_match_source(self, form, native, texts=None):
        """feature_processor_instances.cpp:708-755: casing flags come from
        the FORM; the recased match text depends on the match mode
        (form / rawlemma / rawlemmas)."""
        if form.islower():
            # C-speed fast path: has cased chars, all lowercase -> no Lu/Lt
            any_lower, first_uc = True, False
        elif form.isascii():
            # ASCII: Ll == str.islower, Lu == str.isupper (no Lt in ASCII)
            any_lower = any(c.islower() for c in form)
            first_uc = bool(form) and form[0].isupper()
        else:
            any_lower = any(_cat(c) == "Ll" for c in form)
            first_uc = bool(form) and _cat(form[0]) in ("Lu", "Lt")
        texts = texts if texts is not None else (form,)
        out = []
        for perform in (0, 1, 2):  # LOWER, TITLE, UPPER
            if native:
                if perform == 2 and not (first_uc and not any_lower):
                    continue
                if perform == 1 and not (first_uc and any_lower):
                    continue
                if perform == 0 and first_uc:
                    continue
            else:
                if perform == 2 and not (first_uc and not any_lower):
                    continue
                if perform == 1 and not first_uc:
                    continue
            for t in texts:
                out.append(self._recase_text(t, perform))
        return out

    def _build_trie(self):
        # node: {"children": {str: [node_ids]}, "features": [], "mode": SOFT, "entity": -1}
        self._has_hard_post = any(lst["mode"] == self.HARD_POST for lst in self.lists)
        # the per-token caches hold node ids / reachability of the PREVIOUS
        # trie — a rebuild (e.g. load_state on a used instance) must drop them
        self._tok_cache = {}
        self._hp_reach_flags = None
        self.trie = [{"children": {}, "features": [], "mode": self.SOFT, "entity": -1}]
        prefixes = {}
        for lst in self.lists:
            for gaz in lst["gazetteers"]:
                tokens = [t for sent in tokenize_forms(gaz) for t in sent]
                if not tokens:
                    continue
                node = 0
                prefix = ""
                for k, tok in enumerate(tokens):
                    prefix = prefix + "\t" + tok if k else tok
                    nxt = prefixes.get(prefix)
                    if nxt is None:
                        nxt = len(self.trie)
                        self.trie.append({"children": {}, "features": [], "mode": self.SOFT, "entity": -1})
                        prefixes[prefix] = nxt
                        for src in self._recase_match_source(tok, native=True):
                            self.trie[node]["children"].setdefault(src, []).append(nxt)
                    node = nxt
                _append_unless_exists(self.trie[node]["features"], lst["feature"])
                if (lst["mode"] == self.HARD_PRE and self.trie[node]["mode"] != self.HARD_PRE) or (
                    lst["mode"] == self.HARD_POST and self.trie[node]["mode"] == self.SOFT
                ):
                    self.trie[node]["mode"] = lst["mode"]
                    self.trie[node]["entity"] = lst["entity"]

    def _frontier_step(self, nodes, sources):
        new_nodes = []
        for node in nodes:
            children = self.trie[node]["children"]
            if children:
                for src in sources:
                    for nxt in children.get(src, ()):
                        _append_unless_exists(new_nodes, nxt)
        return new_nodes

    def _key_entry(self, key, form, texts):
        """(sources, first-step nodes, first-step summary) for one token,
        cached per match key — the pure per-token core of the trie walk,
        shared by process_sentence and ner.fast's batched pins."""
        cache = getattr(self, "_tok_cache", None)
        if cache is None:
            cache = self._tok_cache = {}
        e = cache.get(key)
        if e is None:
            if len(cache) > 200_000:
                cache.clear()
            srcs = tuple(self._recase_match_source(form, native=False, texts=texts))
            first = self._frontier_step((0,), srcs)
            e = cache[key] = (srcs, first, self._first_summary(first))
        return e

    def _token_key(self, sent, i, forms, raws):
        """Match key + recase texts for token i (mode-dependent)."""
        form = forms[i]
        if self.match == "form":
            return form, form, None  # _recase_match_source defaults to (form,)
        if self.match == "rawlemma":
            t = raws[i]
            return (form if t == form else (form, t)), form, (t,)
        texts = tuple(sent.get_raw_lemmas_all(i))
        return (form, texts), form, texts

    def _sentence_sources(self, sent):
        """Recased match sources + root trie steps for every token, cached
        on the sentence — pure functions of per-token morphology, shared
        between process_sentence (pins/soft features) and process_entities
        (hard_post), which previously recomputed them."""
        memo = getattr(sent, "_gaz_sources", None)
        if memo is None:
            memo = sent._gaz_sources = {}
        v = memo.get(id(self))
        if v is not None:
            return v
        mode = self.match
        forms = sent.forms
        n = sent.size
        raws = sent.get_raw_lemmas() if mode == "rawlemma" else None
        sources = [None] * n
        firsts = [None] * n
        summaries = [None] * n
        for i in range(n):
            key, form, texts = self._token_key(sent, i, forms, raws)
            e = self._key_entry(key, form, texts)
            sources[i] = e[0]
            firsts[i] = e[1]
            summaries[i] = e[2]
        v = memo[id(self)] = (sources, firsts, summaries)
        return v

    def _hp_reach(self):
        """Per-trie-node flag: does this node or any descendant carry
        HARD_POST mode? Lets callers prove a hard_post walk from a given
        first step can never match (the dominant case) and skip it."""
        flags = getattr(self, "_hp_reach_flags", None)
        if flags is None:
            n = len(self.trie)
            flags = [False] * n
            # leaf-upward: process nodes in reverse creation order — children
            # are always created after their parent in _build_trie
            for node in range(n - 1, -1, -1):
                t = self.trie[node]
                v = t["mode"] == self.HARD_POST
                if not v:
                    for lst in t["children"].values():
                        if any(flags[nxt] for nxt in lst):
                            v = True
                            break
                flags[node] = v
            self._hp_reach_flags = flags
        return flags

    def _first_summary(self, first):
        """Precompiled single-token outcome of a root trie step: (ordered
        deduped feature values as the j==i loop would append them, best
        HARD_PRE node for a length-1 match, whether any node has children
        so a multi-token match could continue). None when the step is dead."""
        if not first:
            return None
        span = 2 * self.window + 1
        vals = []
        hard_pre_node = None
        has_children = False
        for node in first:
            t = self.trie[node]
            if t["children"]:
                has_children = True
            if t["mode"] == self.HARD_PRE and (hard_pre_node is None or node < hard_pre_node):
                hard_pre_node = node
            for feature in t["features"]:
                # j == i: btype is U(=4); G block always (the same
                # _append_unless_exists order as the general walk)
                a = feature + self.G * span
                b = feature + 4 * span
                if a not in vals:
                    vals.append(a)
                if b not in vals:
                    vals.append(b)
        return (vals, hard_pre_node, has_children)

    def process_sentence(self, sent, total=None):
        T = sent.size
        feats = None
        sources, firsts, summaries = self._sentence_sources(sent)
        span = 2 * self.window + 1

        for i in range(T):
            summary = summaries[i]
            if summary is None:
                # root step dead: no match can START here (the dominant
                # case) — the while loop below would exit after one probe
                continue
            if not summary[2]:
                # no node has children: only a single-token match is
                # possible, fully described by the precompiled summary
                vals, hp_node, _hc = summary
                if vals:
                    if feats is None:
                        feats = [[] for _ in range(T)]
                    fl = feats[i]
                    for v2 in vals:
                        if v2 not in fl:
                            fl.append(v2)
                if hp_node is not None and not sent.local_filled[i]:
                    sent.local[i, :] = 0.0
                    sent.local_ent[i, :] = ENTITY_UNKNOWN
                    sent.local[i, BILOU_U] = 1.0
                    sent.local_ent[i, BILOU_U] = self.trie[hp_node]["entity"]
                    sent.local_filled[i] = True
                continue
            hard_pre_length = 0
            hard_pre_node = None
            hard_pre_possible = True
            nodes = [0]
            j = i
            while j < T and nodes:
                new_nodes = (
                    firsts[i] if j == i
                    else self._frontier_step(nodes, sources[j])
                )

                hard_pre_possible = hard_pre_possible and not sent.local_filled[j]
                if hard_pre_possible:
                    for node in new_nodes:
                        if self.trie[node]["mode"] == self.HARD_PRE and (
                            (j - i + 1) > hard_pre_length
                            or (hard_pre_node is not None and node < hard_pre_node)
                            or hard_pre_node is None
                        ):
                            hard_pre_length = j - i + 1
                            hard_pre_node = node

                for node in new_nodes:
                    for feature in self.trie[node]["features"]:
                        if feats is None:
                            feats = [[] for _ in range(T)]
                        for k in range(i, j + 1):
                            # REFERENCE QUIRK (feature_processor_instances.cpp
                            # :503-506): the positional part uses the GLOBAL
                            # bilou_type enum (B=0, I=1, L=2, U=4 — bilou_type.h),
                            # not the class's G/U/B/L/I block order, so the
                            # B-position block coincides with the always-on G
                            # block and block 3 is never used. Shipped behavior;
                            # replicated for decode parity with reference-trained
                            # models (caught by the 800-sentence NER fuzz).
                            btype = 4 if j == i else 0 if k == i else 2 if k == j else 1
                            _append_unless_exists(feats[k], feature + self.G * span)
                            _append_unless_exists(feats[k], feature + btype * span)

                nodes = new_nodes
                j += 1

            if hard_pre_length:
                for j in range(i, i + hard_pre_length):
                    sent.local[j, :] = 0.0
                    sent.local_ent[j, :] = ENTITY_UNKNOWN
                    btype = (
                        BILOU_U
                        if hard_pre_length == 1
                        else BILOU_B
                        if j == i
                        else BILOU_L
                        if j + 1 == i + hard_pre_length
                        else BILOU_I
                    )
                    sent.local[j, btype] = 1.0
                    sent.local_ent[j, btype] = self.trie[hard_pre_node]["entity"]
                    sent.local_filled[j] = True

        if feats is not None:
            for i in range(T):
                for feature in feats[i]:
                    self.apply_in_window(sent, i, feature)

    def process_entities(self, sent, entities, entity_map):
        """hard_post: fill unlabeled gaps (feature_processor_instances.cpp:530-579).

        entities: list of [start, length, type_name], sorted by start.
        """
        if not getattr(self, "_has_hard_post", True):
            return
        skip = getattr(sent, "_gaz_hp_skip", None)
        if skip is not None and id(self) in skip:
            # ner.fast proved per-token that no first trie step of this
            # sentence reaches a HARD_POST node — the walk below can't match
            return
        sources, firsts, _summaries = self._sentence_sources(sent)
        buffer = []
        entity_until = 0
        e = 0
        for i in range(sent.size):
            while e < len(entities) and entities[e][0] == i:
                if i + entities[e][1] > entity_until:
                    entity_until = i + entities[e][1]
                buffer.append(entities[e])
                e += 1
            if entity_until <= i:
                free_until = entities[e][0] if e < len(entities) else sent.size
                hard_post_length = 0
                hard_post_node = None
                nodes = [0]
                j = i
                while j < free_until and nodes:
                    new_nodes = (
                        firsts[i] if j == i
                        else self._frontier_step(nodes, sources[j])
                    )
                    for node in new_nodes:
                        if self.trie[node]["mode"] == self.HARD_POST and (
                            (j - i + 1) > hard_post_length
                            or (hard_post_node is not None and node < hard_post_node)
                            or hard_post_node is None
                        ):
                            hard_post_length = j - i + 1
                            hard_post_node = node
                    nodes = new_nodes
                    j += 1
                if hard_post_length:
                    buffer.append([i, hard_post_length, self.entity_list[self.trie[hard_post_node]["entity"]]])
                    entity_until = i + hard_post_length

        if len(buffer) != len(entities):
            entities[:] = buffer

    def state(self):
        st = super().state()
        st["match"] = self.match
        st["metas"] = self.metas
        st["lists"] = self.lists
        st["entity_list"] = self.entity_list
        return st

    def load_state(self, st, base_dir=""):
        super().load_state(st, base_dir)
        self.match = st["match"]
        self.metas = st["metas"]
        self.lists = st["lists"]
        self.entity_list = st["entity_list"]
        self._build_trie()


class FormSuffix(Suffix):
    name = "FormSuffix"


class BrownClusters(FeatureProcessor):
    """Cluster-id (+ prefix) features of raw_lemma from a TSV cluster file
    (feature_processor_instances.cpp:55-136). self.map holds form->cluster
    index; cluster feature-id lists live in self.clusters."""

    name = "BrownClusters"

    def parse(self, window, args, entities, total, base_dir=""):
        super().parse(window, args, entities, total, base_dir)
        if len(args) < 1:
            raise ValueError("BrownClusters requires a cluster file")
        substrings = [None] + [int(a) for a in args[1:]]
        if any(s is not None and s <= 0 for s in substrings):
            raise ValueError("Bad BrownClusters prefix length")
        self.clusters = []
        cluster_map = {}
        prefixes_map = {}
        path = os.path.join(base_dir, args[0])
        span = 2 * window + 1
        # note: the base-class parse already consumed one id block for the
        # empty key; prefix ids start at the *current* total
        base_total = total.value
        with open(path, encoding="utf-8") as f:
            for line in f:
                line = line.rstrip("\n")
                if not line:
                    continue
                parts = line.split("\t")
                if len(parts) != 2:
                    raise ValueError(f"Bad Brown cluster line {line!r}")
                cluster, form = parts
                if cluster not in cluster_map:
                    cid = len(self.clusters)
                    feats = []
                    for sub in substrings:
                        if sub is None or sub < len(cluster):
                            key = cluster if sub is None else cluster[:sub]
                            if key not in prefixes_map:
                                prefixes_map[key] = base_total + span * len(prefixes_map) + window
                            feats.append(prefixes_map[key])
                    self.clusters.append(feats)
                    cluster_map[cluster] = cid
                if form in self.map:
                    raise ValueError(f"Form {form!r} twice in Brown cluster file")
                self.map[form] = cluster_map[cluster]
        total.value += span * len(prefixes_map)

    def process_sentence(self, sent, total=None):
        raws = sent.get_raw_lemmas()
        for i in range(sent.size):
            cid = self.map.get(raws[i])
            if cid is not None:
                for feature in self.clusters[cid]:
                    self.apply_in_window(sent, i, feature)

    def state(self):
        st = super().state()
        st["clusters"] = self.clusters
        return st

    def load_state(self, st, base_dir=""):
        super().load_state(st, base_dir)
        self.clusters = [[int(f) for f in c] for c in st["clusters"]]


class CzechLemmaTerm(FeatureProcessor):
    """`_;X` term-category chars of lemma_comments
    (feature_processor_instances.cpp:187-198). With the trivial tagger
    lemma_comments are empty, so this is inert but supported."""

    name = "CzechLemmaTerm"

    def process_sentence(self, sent, total=None):
        if sent.lemma_comments is None:
            return
        for i in range(sent.size):
            comments = sent.lemma_comments[i] or ""
            for pos in range(max(0, len(comments) - 2)):
                if comments[pos] == "_" and comments[pos + 1] == ";":
                    self.apply_in_window(sent, i, self.lookup(comments[pos + 2], total))


class CzechAddContainers(FeatureProcessor):
    """Entity post-processor synthesizing nested container entities
    P (pf+ ps+) and T (td tm [ty] | tm ty)
    (feature_processor_instances.cpp:140-183)."""

    name = "CzechAddContainers"

    def parse(self, window, args, entities, total, base_dir=""):
        if window:
            raise ValueError("CzechAddContainers cannot have non-zero window")
        super().parse(window, args, entities, total, base_dir)

    @staticmethod
    def _adjacent(prev, cur):
        return cur[0] == prev[0] + prev[1]

    def process_entities(self, sent, entities, entity_map):
        ents = entities
        buffer = []
        n = len(ents)
        for i in range(n):
            e = ents[i]
            # P if pf+ ps+
            if e[2] == "pf" and (
                i == 0 or ents[i - 1][0] + ents[i - 1][1] < e[0] or ents[i - 1][2] != "pf"
            ):
                j = i + 1
                while j < n and self._adjacent(ents[j - 1], ents[j]) and ents[j][2] == "pf":
                    j += 1
                if j < n and self._adjacent(ents[j - 1], ents[j]) and ents[j][2] == "ps":
                    j += 1
                    while j < n and self._adjacent(ents[j - 1], ents[j]) and ents[j][2] == "ps":
                        j += 1
                    buffer.append([e[0], ents[j - 1][0] + ents[j - 1][1] - e[0], "P"])
            # T if td tm [ty]
            if e[2] == "td" and i + 1 < n and self._adjacent(e, ents[i + 1]) and ents[i + 1][2] == "tm":
                j = i + 2
                if j < n and self._adjacent(ents[j - 1], ents[j]) and ents[j][2] == "ty":
                    j += 1
                buffer.append([e[0], ents[j - 1][0] + ents[j - 1][1] - e[0], "T"])
            # T if !td tm ty
            if e[2] == "tm" and (
                i == 0 or ents[i - 1][0] + ents[i - 1][1] < e[0] or ents[i - 1][2] != "td"
            ):
                if i + 1 < n and self._adjacent(e, ents[i + 1]) and ents[i + 1][2] == "ty":
                    buffer.append([e[0], ents[i + 1][0] + ents[i + 1][1] - e[0], "T"])
            buffer.append(list(e))
        if len(buffer) > len(ents):
            entities[:] = buffer


_FACTORY = {
    cls.name: cls
    for cls in (
        Form,
        FormCapitalization,
        FormCaseNormalized,
        FormSuffix,
        FormCaseNormalizedSuffix,
        RawLemma,
        RawLemmaCapitalization,
        RawLemmaCaseNormalized,
        RawLemmaSuffix,
        RawLemmaCaseNormalizedSuffix,
        Lemma,
        Tag,
        NumericTimeValue,
        PreviousStage,
        URLEmailDetector,
        Gazetteers,
        GazetteersEnhanced,
        BrownClusters,
        CzechLemmaTerm,
        CzechAddContainers,
    )
}


class FeatureTemplates:
    """Parsed template set (feature_templates_encoder.cpp:18-52)."""

    def __init__(self):
        self.processors = []
        self.total = _Total(1)

    @classmethod
    def parse(cls, text, entities, base_dir=""):
        self_ = cls()
        for line in text.splitlines():
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            tokens = line.split(" ")
            head = tokens[0].split("/")
            name = head[0]
            window = int(head[1]) if len(head) > 1 else 0
            args = tokens[1:]
            if name not in _FACTORY:
                raise ValueError(f"Unknown feature template {name!r}")
            proc = _FACTORY[name]()
            proc.parse(window, args, entities, self_.total, base_dir)
            self_.processors.append(proc)
        return self_

    @property
    def total_features(self):
        return self.total.value

    def process_sentence(self, sent, adding_features=False):
        sent.clear_features()
        total = self.total if adding_features else None
        for proc in self.processors:
            proc.process_sentence(sent, total)

    def process_entities(self, sent, entities, entity_map):
        procs = getattr(self, "_entity_procs", None)
        if procs is None:
            # only processors that actually override process_entities —
            # skips the no-op base-class dispatch for the rest
            procs = self._entity_procs = [
                p
                for p in self.processors
                if type(p).process_entities is not FeatureProcessor.process_entities
            ]
        for proc in procs:
            proc.process_entities(sent, entities, entity_map)

    # --- serialization ---------------------------------------------------
    def state(self):
        return {
            "total": self.total.value,
            "processors": [{"name": p.name, "state": p.state()} for p in self.processors],
        }

    @classmethod
    def from_state(cls, st, base_dir=""):
        self_ = cls()
        self_.total = _Total(st["total"])
        for pst in st["processors"]:
            proc = _FACTORY[pst["name"]]()
            proc.load_state(pst["state"], base_dir)
            self_.processors.append(proc)
        return self_
