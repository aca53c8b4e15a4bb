"""Reader + runtime for MorphoDiTa ``.tagger`` streams embedded in ``.ner``
models (the payload of NameTag's MORPHODITA tagger).

Published NameTag models (czech-cnec2.0, english-conll — MANUAL:321-437)
embed an entire MorphoDiTa tagger file verbatim
(src/tagger/morphodita_tagger.cpp:27-38 create_and_encode copies the file).
This module parses that stream and runs it: morphological analysis via the
serialized root+suffix dictionary, perceptron feature-sequence scoring, and
the MorphoDiTa Viterbi decode — with exact output parity against the
compiled reference (tests/test_morphodita.py pins goldens produced by
scripts/ref_tools/morpho_tools.cpp).

Format re-expression (no code shared with the reference; studied from):
  - tagger dispatch:      src/morphodita/tagger/tagger.cpp:26-57,
                          tagger_ids.h (decoding_order / window_size)
  - perceptron tagger:    src/morphodita/tagger/perceptron_tagger.h:56-92
                          (morpho stream, use_guesser byte, feature stream)
  - morpho dispatch:      src/morphodita/morpho/morpho.cpp:26-77 (morpho_id)
  - generic morpho:       src/morphodita/morpho/generic_morpho.cpp:29-96
                          (4 special tags, dictionary, optional stat guesser,
                          casing variants + analyze_special)
  - dictionary:           src/morphodita/morpho/morpho_dictionary.h:41-196
                          (diffed lemma stream, root edit ops, class tables,
                          suffix map with class->tag-range tables)
  - persistent map:       src/morphodita/morpho/persistent_unordered_map.h
                          (per-length buckets: u32 offsets + entry data)
  - statistical guesser:  src/morphodita/morpho/morpho_statistical_guesser.cpp
  - elementary features:  src/morphodita/tagger/generic_elementary_features.h,
                          czech_elementary_features.h (values from per-length
                          string maps; codepoint-sliced prefixes/suffixes)
  - feature sequences:    src/morphodita/tagger/feature_sequences.h:80-110
                          (sequence defs + one score map per sequence; keys
                          are vli-encoded elementary values, vli.h)
  - viterbi:              src/morphodita/tagger/viterbi.h:58-122 (node merge
                          when the last decoding_order-1 tags agree,
                          earlier-node-wins tie-break)

Scale note: a loaded tagger is a plain picklable object of dicts/ints —
broadcast once per executor and used inside mapInPandas batches, exactly
like the repo's own trained models.
"""

from __future__ import annotations

import struct
import unicodedata

from ..model.binary_reader import _Decoder, _read_blob, BinaryFormatError

# tagger_ids.h
_TAGGER_IDS = {
    0: ("czech", 2, 2),   # CZECH2
    1: ("czech", 3, 3),   # CZECH3
    6: ("czech", 2, 3),   # CZECH2_3
    3: ("generic", 2, 2),  # GENERIC2
    4: ("generic", 3, 3),  # GENERIC3
    5: ("generic", 4, 4),  # GENERIC4
    7: ("generic", 2, 3),  # GENERIC2_3
    8: ("conllu", 2, 2),
    9: ("conllu", 2, 3),
    10: ("conllu", 3, 3),
}

# morpho_ids.h
MORPHO_CZECH, MORPHO_ENGLISH_V1, MORPHO_GENERIC, MORPHO_EXTERNAL = 0, 1, 2, 3
MORPHO_ENGLISH_V2, MORPHO_ENGLISH_V3, MORPHO_SLOVAK_PDT, MORPHO_DERIV = 4, 5, 6, 7

NO_GUESSER, GUESSER = 0, 1

# elementary_features.h
_EF_UNKNOWN, _EF_EMPTY = 0, 1
_PER_FORM, _PER_TAG, _DYNAMIC = 0, 1, 2


# --------------------------------------------------------------------------
# persistent_unordered_map
# --------------------------------------------------------------------------
def _load_pmap_buckets(d: _Decoder):
    """persistent_unordered_map::load -> [(hash offsets, data bytes)] per key
    length. Offsets delimit same-hash chains; entries are laid sequentially
    in data, so full materialization just walks data start-to-end."""
    sizes = d.u1()
    buckets = []
    for _ in range(sizes):
        n = d.u4()
        hashes = d.raw(n * 4)
        dlen = d.u4()
        data = d.raw(dlen)
        buckets.append((hashes, data))
    return buckets


def _pmap_items(buckets, entry_size):
    """Iterate (key bytes, length, payload-decoder) in data order
    (iter_all semantics). entry_size(dec) must consume one entry payload."""
    for length, (_h, data) in enumerate(buckets):
        d = _Decoder(data)
        while not d.is_end():
            key = d.raw(length)
            start = d.pos
            entry_size(d)
            yield bytes(key), length, _Decoder(data[start : d.pos])


def _pmap_value_map(buckets) -> dict:
    """Maps with a fixed 4-byte value per entry (elementary feature values /
    feature sequence scores) -> dict[bytes, int] (value left unsigned;
    callers reinterpret)."""
    out = {}
    for length, (_h, data) in enumerate(buckets):
        pos, n = 0, len(data)
        while pos < n:
            key = data[pos : pos + length]
            val = struct.unpack_from("<I", data, pos + length)[0]
            k = bytes(key)
            if k not in out:  # at(): first entry in the chain wins
                out[k] = val
            pos += length + 4
    return out


# --------------------------------------------------------------------------
# morpho dictionary (morpho_dictionary.h load + analyze)
# --------------------------------------------------------------------------
class MdDictionary:
    __slots__ = ("roots", "roots_max_len", "tags", "suffixes", "suffix_max_len",
                 "lemmas_map", "class_suffixes", "format_addinfo")

    def __init__(self, roots, roots_max_len, tags, suffixes, suffix_max_len,
                 lemmas_map, class_suffixes, format_addinfo):
        self.roots = roots              # bytes -> [(class, lemma_str)]
        self.roots_max_len = roots_max_len
        self.tags = tags                # [str]
        self.suffixes = suffixes        # bytes -> (classes, indices, tags) or None (closure key)
        self.suffix_max_len = suffix_max_len
        # generation-side structures (morpho_dictionary.h:199-246):
        self.lemmas_map = lemmas_map    # raw-lemma bytes -> [(info bytes, [(root bytes, clas)])]
        self.class_suffixes = class_suffixes  # clas -> [(suffix bytes, (tag ids))]
        self.format_addinfo = format_addinfo

    @classmethod
    def load(cls, d: _Decoder, format_addinfo) -> "MdDictionary":
        lemmas_max_len = d.u1()
        for _ in range(lemmas_max_len):
            d.u4()
        roots_max_len = d.u1()
        for _ in range(roots_max_len):
            d.u4()

        roots: dict = {}
        lemmas_map: dict = {}
        lemma = b""
        for _ in range(d.u4()):
            drop = d.u1()
            lemma = lemma[: len(lemma) - drop] + bytes(d.raw(d.u1()))
            info = bytes(d.raw(d.u1()))
            lemma_str = lemma.decode("utf-8") + format_addinfo(info)
            lemma_roots = []
            root = lemma
            for _r in range(d.u1()):
                ops = d.u1()
                if ops & 1:  # REMOVE_START
                    root = root[d.u1() :]
                if ops & 2:  # REMOVE_END
                    root = root[: len(root) - d.u1()]
                if ops & 4:  # ADD_START
                    root = bytes(d.raw(d.u1())) + root
                if ops & 8:  # ADD_END
                    root = root + bytes(d.raw(d.u1()))
                clas = d.u2()
                roots.setdefault(root, []).append((clas, lemma_str))
                lemma_roots.append((root, clas))
            # lemmas trie entry: multiple entries per raw lemma (homonyms)
            # in stream order (morpho_dictionary.h:72-79)
            lemmas_map.setdefault(lemma, []).append((info, lemma_roots))

        tags = []
        for _ in range(d.u2()):
            tags.append(bytes(d.raw(d.u1())).decode("utf-8"))

        # suffix map: entry = classes_len u16, classes[cl], indices[cl],
        # ntags u16 (doubles as indices[cl]), tags[ntags]
        def skip(dec):
            cl = dec.u2()
            dec.raw(2 * cl * 2)
            dec.raw(dec.u2() * 2)

        buckets = _load_pmap_buckets(d)
        suffixes: dict = {}
        class_suffixes: list = []
        for key, _length, e in _pmap_items(buckets, skip):
            cl = e.u2()
            classes = struct.unpack_from("<%dH" % cl, e.data, e.pos)
            e.raw(cl * 2)
            indices = struct.unpack_from("<%dH" % cl, e.data, e.pos)
            e.raw(cl * 2)
            ntags = e.u2()
            stags = struct.unpack_from("<%dH" % ntags, e.data, e.pos)
            if key not in suffixes:
                suffixes[key] = (classes, indices + (ntags,), stags) if cl else None
            # classes[clas] built in iter_all data order
            # (morpho_dictionary.h:138-153)
            full_indices = indices + (ntags,)
            for i in range(cl):
                c = classes[i]
                while len(class_suffixes) <= c:
                    class_suffixes.append([])
                class_suffixes[c].append((key, stags[full_indices[i] : full_indices[i + 1]]))
        return cls(roots, roots_max_len, tags, suffixes, len(buckets),
                   lemmas_map, class_suffixes, format_addinfo)

    def generate(self, lemma: str, filt, addinfo, out: list) -> bool:
        """morpho_dictionary.h:199-246 — appends
        (lemma_string, [(form, tag), ...]) groups to `out` for every
        dictionary entry whose raw lemma + lemma id match `lemma`; returns
        whether any entry matched (even if the filter kept no forms)."""
        lb = lemma.encode("utf-8")
        raw_len, data = addinfo.parse(lb)
        matched = False
        tags = self.tags
        class_suffixes = self.class_suffixes
        for info, lemma_roots in self.lemmas_map.get(lb[:raw_len], ()):
            if addinfo.match_lemma_id(data, info) and addinfo.generatable(info):
                matched = True
                forms = None
                for root, clas in lemma_roots:
                    suffs = class_suffixes[clas] if clas < len(class_suffixes) else ()
                    for suffix, tag_ids in suffs:
                        rws = None
                        for t in tag_ids:
                            tag = tags[t]
                            if filt.matches(tag):
                                if forms is None:
                                    forms = []
                                    out.append(
                                        (lb[:raw_len].decode("utf-8") + self.format_addinfo(info), forms)
                                    )
                                if rws is None:
                                    rws = (root + suffix).decode("utf-8")
                                forms.append((rws, tag))
        return matched

    def analyze(self, form: str, out: list) -> None:
        """morpho_dictionary.h:156-196 — appends (lemma, tag) in the exact
        reference order: longest consecutively-present suffix first, roots in
        stream order, tags in suffix-class order."""
        fb = form.encode("utf-8")
        n = len(fb)
        suff = []
        for l in range(0, self.suffix_max_len):
            if l > n:
                break
            entry = self.suffixes.get(fb[n - l :], _MISSING)
            if entry is _MISSING:
                break
            suff.append(entry)
        suff_len = len(suff) - 1
        root_len = n - suff_len
        tags = self.tags
        while suff_len >= 0 and root_len < self.roots_max_len:
            entry = suff[suff_len]
            if entry is not None:
                classes, indices, stags = entry
                hits = self.roots.get(fb[:root_len])
                if hits:
                    for clas, lemma in hits:
                        # unaligned_lower_bound over the sorted class table
                        lo, hi = 0, len(classes)
                        while lo < hi:
                            mid = (lo + hi) // 2
                            if classes[mid] < clas:
                                lo = mid + 1
                            else:
                                hi = mid
                        if lo < len(classes) and classes[lo] == clas:
                            for ti in range(indices[lo], indices[lo + 1]):
                                out.append((lemma, tags[stags[ti]]))
            suff_len -= 1
            root_len += 1


_MISSING = object()


# --------------------------------------------------------------------------
# lemma addinfo (generation side): byte-level parse / match / generatable
# mirroring {czech,english,generic}_lemma_addinfo.h — the analyze-side
# helpers operate on str, but generation keys the lemmas trie by BYTES
# --------------------------------------------------------------------------
class _GenericAddinfo:
    """generic_lemma_addinfo.h — no addinfo at all."""

    @staticmethod
    def parse(lemma: bytes):
        return len(lemma), b""

    @staticmethod
    def match_lemma_id(data, info):
        return True

    @staticmethod
    def generatable(info):
        return True


class _CzechAddinfo:
    """czech_lemma_addinfo.h:85-143 (parse/match) + :75-81 (generatable)."""

    @staticmethod
    def parse(lemma: bytes):
        n = len(lemma)
        raw_len = n
        for k in range(1, n):
            b = lemma[k]
            if b in (0x60, 0x5F) or (  # ` _
                b == 0x2D and k + 1 < n and 0x30 <= lemma[k + 1] <= 0x39
            ):
                raw_len = k
                break
        if raw_len == n:
            return raw_len, b""
        lemma_num = 255
        pos = raw_len
        if lemma[pos] == 0x2D:  # '-'
            lemma_num = 0
            pos += 1
            start = pos
            while pos < n and 0x30 <= lemma[pos] <= 0x39:
                lemma_num = 10 * lemma_num + (lemma[pos] - 0x30)
                pos += 1
            if pos == start or (pos < n and lemma[pos] not in (0x60, 0x5F)) or lemma_num >= 255:
                lemma_num = 255
        data = bytes([lemma_num]) + lemma[pos:]
        return raw_len, data[:255]

    @staticmethod
    def match_lemma_id(data, info):
        if not data:
            return True
        if data[0] != 255 and (not info or info[0] != data[0]):
            return False
        return True

    @staticmethod
    def generatable(info):
        # a '_,x' technical-lemma marker anywhere past position 0 blocks it
        for i in range(1, len(info) - 2):
            if info[i : i + 3] == b"_,x":
                return False
        return True


class _EnglishAddinfo:
    """english_lemma_addinfo.h:34-83."""

    @staticmethod
    def parse(lemma: bytes):
        n = len(lemma)
        raw_len = n
        for k in range(1, n):
            b = lemma[k]
            if k + 1 == n and b in (0x5E, 0x2B):  # ^ +
                raw_len = k
                break
            if k + 1 < n and b == 0x5E:
                ok = True
                for i in range(k + 1, n):
                    c = lemma[i]
                    if not (
                        0x41 <= c <= 0x5A
                        or 0x61 <= c <= 0x7A
                        or (i > k + 1 and c == 0x2D)
                    ):
                        ok = False
                        break
                if ok:
                    raw_len = k
                    break
        return raw_len, lemma[raw_len:]

    @staticmethod
    def match_lemma_id(data, info):
        if not data:
            return True
        if data == b"^":
            return len(info) > 0 and info[0] == 0x5E
        if data == b"+":
            return len(info) == 0
        return data == info

    @staticmethod
    def generatable(info):
        return True


# --------------------------------------------------------------------------
# statistical guesser (morpho_statistical_guesser.cpp)
# --------------------------------------------------------------------------
class MdStatisticalGuesser:
    __slots__ = ("tags", "default_tag", "rules")

    def __init__(self, tags, default_tag, rules):
        self.tags = tags
        self.default_tag = default_tag
        self.rules = rules  # bytes -> payload bytes (first byte = rule count)

    @classmethod
    def load(cls, d: _Decoder) -> "MdStatisticalGuesser":
        tags = []
        for _ in range(d.u2()):
            tags.append(bytes(d.raw(d.u1())).decode("utf-8"))
        default_tag = d.u2()
        buckets = _load_pmap_buckets(d)
        rules = {}
        for key, _length, e in _pmap_items(buckets, lambda dec: dec.raw(dec.u2())):
            if key not in rules:
                rules[key] = bytes(e.data[e.pos + 2 :])  # strip u16 size
        return cls(tags, default_tag, rules)

    def analyze(self, form: str, out: list, used) -> None:
        fb = form.encode("utf-8")
        n = len(fb)
        initial = len(out)
        rules = self.rules

        # longest suffix whose reversed form is a known rule-label prefix
        label = b""
        suffix_len = 0
        while suffix_len < n:
            label += fb[n - (suffix_len + 1) : n - suffix_len]
            if label not in rules:
                break
            suffix_len += 1

        for suffix_len in range(suffix_len, -1, -1):
            label = bytes(reversed(fb[n - suffix_len :])) if suffix_len else b""
            label += b" "
            rule = None
            rule_prefix_len = 0
            for prefix_len in range(0, n - suffix_len + 1):
                if prefix_len:
                    label += fb[prefix_len - 1 : prefix_len]
                found = rules.get(label)
                if found is None:
                    break
                if found[:1] != b"\x00" and found[:1] != b"":
                    rule = found
                    rule_prefix_len = prefix_len
            if rule is not None:
                rule_label = (
                    bytes(reversed(fb[n - suffix_len :])) + b" " + fb[:rule_prefix_len]
                )
                if len(rule_label) > 1 and rule_label not in (used or ()):
                    if used is not None:
                        used.append(rule_label)
                    r = _Decoder(rule)
                    for _ in range(r.u1()):
                        pref_del = bytes(r.raw(r.u1()))
                        pref_add = bytes(r.raw(r.u1()))
                        suff_del = bytes(r.raw(r.u1()))
                        suff_add = bytes(r.raw(r.u1()))
                        ntags = r.u1()
                        rtags = struct.unpack_from("<%dH" % ntags, r.data, r.pos)
                        r.raw(ntags * 2)
                        if (
                            len(pref_del) + len(suff_del) > n
                            or (pref_del and not fb.startswith(pref_del))
                            or (suff_del and not fb.endswith(suff_del))
                            or n + len(pref_add) - len(pref_del) + len(suff_add) - len(suff_del) == 0
                        ):
                            continue
                        lemma = (
                            pref_add + fb[len(pref_del) : n - len(suff_del)] + suff_add
                        ).decode("utf-8")
                        for t in rtags:
                            out.append((lemma, self.tags[t]))
                break

        if len(out) == initial and (used is None or b"" not in used):
            if used is not None:
                used.append(b"")
            out.append((form, self.tags[self.default_tag]))


# --------------------------------------------------------------------------
# unicode helpers (unilib parity via unicodedata)
# --------------------------------------------------------------------------
def _simple_lower(c: str) -> str:
    """unilib's SIMPLE 1:1 lowercase mapping (str.lower() does full folding:
    e.g. U+0130 İ -> 'i' + combining dot; the simple mapping is just 'i')."""
    lc = c.lower()
    return lc if len(lc) == 1 else lc[0]


def _casing_variants(form: str):
    """casing_variants.h — (form_uclc, form_lc), empty when == form."""
    if not form:
        return "", ""
    if form.islower():
        # has cased characters and every one is lowercase -> no Lu/Lt
        # anywhere -> both variants empty (C-speed early out)
        return "", ""
    if form.isascii():
        # ASCII: Lu == A-Z (no Lt), simple lowercase == str.lower
        first_lut = form[0].isupper()
        rest = form[1:]
        rest_lc = rest.lower()
        rest_has_lut = rest != rest_lc
        if first_lut and not rest_has_lut:
            return "", form[0].lower() + rest
        if not first_lut and rest_has_lut:
            return "", form[0] + rest_lc
        if first_lut and rest_has_lut:
            return form[0] + rest_lc, form[0].lower() + rest_lc
        return "", ""
    cats = [unicodedata.category(c) for c in form]
    first_lut = cats[0] in ("Lu", "Lt")
    rest_has_lut = any(c in ("Lu", "Lt") for c in cats[1:])
    if first_lut and not rest_has_lut:
        return "", _simple_lower(form[0]) + form[1:]
    if not first_lut and rest_has_lut:
        return "", "".join(_simple_lower(c) for c in form)
    if first_lut and rest_has_lut:
        rest = "".join(_simple_lower(c) for c in form[1:])
        return form[0] + rest, _simple_lower(form[0]) + rest
    return "", ""


def _analyze_special(form: str, number_tag, punctuation_tag, symbol_tag, out: list):
    """generic_morpho.cpp:127-175 number/punct/symbol analyzer."""
    if not form:
        return
    if form.isalpha():
        # purely-alphabetic forms (the overwhelming case) contain no
        # N-category codepoint (so the number FSM can't set any_digit) and
        # are neither all-punctuation nor all-symbol — C-speed early out
        return
    n = len(form)

    # number: [+-]? N* ([.,] N*)? ([Ee] [+-]? N+)? — lookahead decoder like
    # the reference's utf8::decode loop (cp = current codepoint, i = chars
    # consumed including cp; decode past the end yields None)
    state = {"i": 0}

    def decode():
        i = state["i"]
        if i < n:
            state["i"] = i + 1
            return form[i]
        return None

    def is_n(cp):
        return cp is not None and unicodedata.category(cp).startswith("N")

    cp = decode()
    any_digit = False
    if cp in ("+", "-"):
        cp = decode()
    while is_n(cp):
        any_digit = True
        cp = decode()
    if (cp == "." and state["i"] < n) or cp == ",":
        cp = decode()
    while is_n(cp):
        any_digit = True
        cp = decode()
    if any_digit and cp in ("e", "E"):
        cp = decode()
        if cp in ("+", "-"):
            cp = decode()
        any_digit = False
        while is_n(cp):
            any_digit = True
            cp = decode()
    if any_digit and state["i"] >= n and (cp is None or cp == "."):
        out.append((form, number_tag))
        return
    if punctuation_tag is None:  # number-only mode (czech reuses this matcher)
        return

    punct = all(unicodedata.category(c).startswith("P") for c in form)
    symbol = all(unicodedata.category(c).startswith("S") for c in form)
    if punct:
        out.append((form, punctuation_tag))
    elif symbol:
        out.append((form, symbol_tag))


# --------------------------------------------------------------------------
# generic morpho (generic_morpho.cpp)
# --------------------------------------------------------------------------
class GenericMorpho:
    kind = "generic"
    derinet = None  # DerivatorDictionary when wrapped by morpho id 7

    def __init__(self, unknown_tag, number_tag, punctuation_tag, symbol_tag,
                 dictionary: MdDictionary, statistical_guesser):
        self.unknown_tag = unknown_tag
        self.number_tag = number_tag
        self.punctuation_tag = punctuation_tag
        self.symbol_tag = symbol_tag
        self.dictionary = dictionary
        self.statistical_guesser = statistical_guesser

    @classmethod
    def load(cls, f) -> "GenericMorpho":
        d = _read_blob(f)
        unknown_tag = bytes(d.raw(d.u1())).decode("utf-8")
        number_tag = bytes(d.raw(d.u1())).decode("utf-8")
        punctuation_tag = bytes(d.raw(d.u1())).decode("utf-8")
        symbol_tag = bytes(d.raw(d.u1())).decode("utf-8")
        dictionary = MdDictionary.load(d, lambda info: "")
        guesser = MdStatisticalGuesser.load(d) if d.u1() else None
        if not d.is_end():
            raise BinaryFormatError("trailing data in generic morpho blob")
        return cls(unknown_tag, number_tag, punctuation_tag, symbol_tag,
                   dictionary, guesser)

    # generic lemma addinfo: raw_lemma == lemma_id == lemma
    def raw_lemma_len(self, lemma: str) -> int:
        return len(lemma)

    def lemma_id_len(self, lemma: str) -> int:
        return len(lemma)

    def raw_form_len(self, form: str) -> int:
        return len(form)

    def generate(self, lemma: str, tag_wildcard: str, guesser_mode: int):
        """generic_morpho.cpp:97-108 -> (status, [(lemma, [(form, tag)])]).
        status NO_GUESSER when the dictionary matched, -1 otherwise."""
        out: list = []
        filt = _TagFilter(tag_wildcard or "")
        if lemma and self.dictionary.generate(lemma, filt, _GenericAddinfo, out):
            return NO_GUESSER, out
        return -1, out

    def analyze(self, form: str, guesser_mode: int) -> list:
        """generic_morpho.cpp:60-96; returns non-empty (lemma, tag) list."""
        out: list = []
        if form:
            form_uclc, form_lc = _casing_variants(form)
            self.dictionary.analyze(form, out)
            if form_uclc:
                self.dictionary.analyze(form_uclc, out)
            if form_lc:
                self.dictionary.analyze(form_lc, out)
            if out:
                return out

            _analyze_special(form, self.number_tag, self.punctuation_tag,
                             self.symbol_tag, out)
            if out:
                return out

            if guesser_mode == GUESSER and self.statistical_guesser is not None:
                if not form_uclc and not form_lc:
                    self.statistical_guesser.analyze(form, out, None)
                else:
                    used: list = []
                    self.statistical_guesser.analyze(form, out, used)
                    if form_uclc:
                        self.statistical_guesser.analyze(form_uclc, out, used)
                    if form_lc:
                        self.statistical_guesser.analyze(form_lc, out, used)
            if out:
                return out
        out.append((form, self.unknown_tag))
        return out


# --------------------------------------------------------------------------
# czech morpho (czech_morpho.cpp, czech_lemma_addinfo.h, tag_filter.h,
# morpho_prefix_guesser.h)
# --------------------------------------------------------------------------
def _czech_raw_lemma_len(lemma: str) -> int:
    """czech_lemma_addinfo.h:36-43 — lemma ends at '`', '_' or '-[0-9]' on a
    non-first position."""
    n = len(lemma)
    for i in range(1, n):
        c = lemma[i]
        if c == "`" or c == "_" or (c == "-" and i + 1 < n and lemma[i + 1].isdigit()
                                    and lemma[i + 1].isascii()):
            return i
    return n


def _czech_lemma_id_len(lemma: str) -> int:
    """czech_lemma_addinfo.h:45-58 — like raw_lemma_len but the '-NUM' homonym
    number belongs to the id."""
    n = len(lemma)
    for i in range(1, n):
        c = lemma[i]
        if c == "`" or c == "_":
            return i
        if c == "-" and i + 1 < n and lemma[i + 1].isdigit() and lemma[i + 1].isascii():
            j = i + 2
            while j < n and lemma[j].isdigit() and lemma[j].isascii():
                j += 1
            return j
    return n


def _czech_format_addinfo(info: bytes) -> str:
    """czech_lemma_addinfo.h:60-75 — byte 0 is the homonym number (255 =
    none), the rest is the comment text."""
    if not info:
        return ""
    res = ""
    if info[0] != 255:
        res = "-%d" % info[0]
    return res + info[1:].decode("utf-8")


class _TagFilter:
    """tag_filter.h wildcard: '?' any, '[abc]' set, '[^abc]' negated set."""

    __slots__ = ("filters",)

    def __init__(self, wildcard: str):
        self.filters = []
        tag_pos = 0
        i = 0
        n = len(wildcard)
        while i < n:
            c = wildcard[i]
            if c == "?":
                pass
            elif c == "[":
                i += 1
                negate = False
                if i < n and wildcard[i] == "^":
                    negate = True
                    i += 1
                start = i
                first = True
                while i < n and (first or wildcard[i] != "]"):
                    first = False
                    i += 1
                self.filters.append((tag_pos, negate, wildcard[start:i]))
                if i >= n:
                    break
            else:
                self.filters.append((tag_pos, False, c))
            tag_pos += 1
            i += 1

    def matches(self, tag: str) -> bool:
        if not self.filters:
            return True
        n = len(tag)
        for pos, negate, chars in self.filters:
            if pos >= n:
                return True  # tag ends prematurely -> accept
            if (tag[pos] in chars) == negate:
                return False
        return True


class MdPrefixGuesser:
    """morpho_prefix_guesser.h — initial/middle prefix masks over tag
    filters, recursing into the dictionary on the stripped form."""

    __slots__ = ("dictionary", "tag_filters", "prefixes_initial", "prefixes_middle",
                 "init_max_len", "mid_max_len")

    def __init__(self, dictionary, tag_filters, prefixes_initial, prefixes_middle,
                 init_max_len, mid_max_len):
        self.dictionary = dictionary
        self.tag_filters = tag_filters
        self.prefixes_initial = prefixes_initial
        self.prefixes_middle = prefixes_middle
        self.init_max_len = init_max_len
        self.mid_max_len = mid_max_len

    @classmethod
    def load(cls, d: _Decoder, dictionary) -> "MdPrefixGuesser":
        tag_filters = []
        for _ in range(d.u1()):
            tag_filters.append(_TagFilter(bytes(d.raw(d.u1())).decode("utf-8")))
        b_init = _load_pmap_buckets(d)
        b_mid = _load_pmap_buckets(d)
        return cls(dictionary, tag_filters, _pmap_value_map(b_init),
                   _pmap_value_map(b_mid), len(b_init), len(b_mid))

    def analyze(self, form: str, out: list) -> None:
        fb = form.encode("utf-8")
        n = len(fb)
        if not n:
            return
        full_mask = (1 << len(self.tag_filters)) - 1
        for initial in range(0, n):
            if initial:
                if initial >= self.init_max_len:
                    break
                initial_mask = self.prefixes_initial.get(fb[:initial])
                if initial_mask is None:
                    break
            else:
                initial_mask = full_mask
            if not initial_mask:
                continue
            middle_masks = [0] * initial + [initial_mask]
            middle = initial
            while middle < len(middle_masks):
                if middle_masks[middle]:
                    for i in range(middle + 1, n):
                        if i - middle >= self.mid_max_len:
                            break
                        found = self.prefixes_middle.get(fb[middle:i])
                        if found is None:
                            break
                        if found:
                            while len(middle_masks) < i + 1:
                                middle_masks.append(0)
                            middle_masks[i] |= middle_masks[middle] & found
                    if middle > initial and middle < n:
                        # strip the middle prefix, keep the initial one
                        stripped = (fb[:initial] + fb[middle:]).decode("utf-8")
                        cand: list = []
                        self.dictionary.analyze(stripped, cand)
                        prefix = fb[initial:middle].decode("utf-8")
                        for lemma, tag in cand:
                            for fi, filt in enumerate(self.tag_filters):
                                if (middle_masks[middle] >> fi) & 1 and filt.matches(tag):
                                    out.append((prefix + lemma, tag))
                                    break
                middle += 1


# czech_morpho.cpp:152-165 punctuation tables (indices are codepoints)
_CZ_PUNCT_ADDITIONAL = frozenset(ord(c) for c in "$+<=>^`|~ˇ")
_CZ_PUNCT_EXCEPTIONS = frozenset((0xA7,))  # paragraph sign


class CzechMorpho:
    kind = "czech"
    derinet = None  # DerivatorDictionary when wrapped by morpho id 7

    def __init__(self, dictionary, prefix_guesser, statistical_guesser,
                 unknown_tag, number_tag, punctuation_tag):
        self.dictionary = dictionary
        self.prefix_guesser = prefix_guesser
        self.statistical_guesser = statistical_guesser
        self.unknown_tag = unknown_tag
        self.number_tag = number_tag
        self.punctuation_tag = punctuation_tag
        # devirtualized hot helpers (the one-line delegating methods cost
        # ~3us of pure call dispatch per lemma on the unseen-form path)
        self.raw_lemma_len = _czech_raw_lemma_len
        self.lemma_id_len = _czech_lemma_id_len

    @classmethod
    def load(cls, f) -> "CzechMorpho":
        d = _read_blob(f)
        tag_length = d.u1()
        unknown_tag = "X@-------------"[:tag_length]
        number_tag = "C=-------------"[:tag_length]
        punctuation_tag = "Z:-------------"[:tag_length]
        dictionary = MdDictionary.load(d, _czech_format_addinfo)
        prefix_guesser = MdPrefixGuesser.load(d, dictionary) if d.u1() else None
        statistical_guesser = MdStatisticalGuesser.load(d) if d.u1() else None
        if not d.is_end():
            raise BinaryFormatError("trailing data in czech morpho blob")
        return cls(dictionary, prefix_guesser, statistical_guesser,
                   unknown_tag, number_tag, punctuation_tag)

    def raw_lemma_len(self, lemma: str) -> int:
        return _czech_raw_lemma_len(lemma)

    def lemma_id_len(self, lemma: str) -> int:
        return _czech_lemma_id_len(lemma)

    def raw_form_len(self, form: str) -> int:
        return len(form)

    def generate(self, lemma: str, tag_wildcard: str, guesser_mode: int):
        """czech_morpho.cpp:119-134. The reference's prefix-guesser
        generation is itself an unimplemented stub
        (morpho_prefix_guesser.h generate -> false), so the dictionary is
        the entire surface under GUESSER too."""
        out: list = []
        filt = _TagFilter(tag_wildcard or "")
        if lemma and self.dictionary.generate(lemma, filt, _CzechAddinfo, out):
            return NO_GUESSER, out
        return -1, out

    def _analyze_special(self, form: str, out: list) -> None:
        """czech_morpho.cpp:167-200 — number, else punctuation by FIRST char
        (additional table ∪ category P minus exceptions)."""
        if not form:
            return
        before = len(out)
        _analyze_special(form, self.number_tag, None, None, out)
        # _analyze_special appends only numbers when punct/symbol tags are None
        if len(out) > before:
            return
        first = ord(form[0])
        if first in _CZ_PUNCT_ADDITIONAL or (
            unicodedata.category(form[0]).startswith("P") and first not in _CZ_PUNCT_EXCEPTIONS
        ):
            out.append((form, self.punctuation_tag))

    def analyze(self, form: str, guesser_mode: int) -> list:
        out: list = []
        if form:
            form_uclc, form_lc = _casing_variants(form)
            self.dictionary.analyze(form, out)
            if form_uclc:
                self.dictionary.analyze(form_uclc, out)
            if form_lc:
                self.dictionary.analyze(form_lc, out)
            if out:
                return out

            self._analyze_special(form, out)
            if out:
                return out

            if guesser_mode == GUESSER and self.prefix_guesser is not None:
                self.prefix_guesser.analyze(form_lc if form_lc else form, out)
            prefix_guesses = bool(out)

            if guesser_mode == GUESSER and self.statistical_guesser is not None:
                if not form_uclc and not form_lc:
                    self.statistical_guesser.analyze(form, out, None)
                else:
                    used: list = []
                    self.statistical_guesser.analyze(form, out, used)
                    if form_uclc:
                        self.statistical_guesser.analyze(form_uclc, out, used)
                    if form_lc:
                        self.statistical_guesser.analyze(form_lc, out, used)

            if prefix_guesses:
                # sort + unique (czech_morpho.cpp:97-107)
                seen = set()
                uniq = []
                for lt in sorted(out):
                    if lt not in seen:
                        seen.add(lt)
                        uniq.append(lt)
                out = uniq
            if out:
                return out
        out.append((form, self.unknown_tag))
        return out


# --------------------------------------------------------------------------
# english morpho (english_morpho.cpp, english_lemma_addinfo.h)
# --------------------------------------------------------------------------
def _english_raw_lemma_len(lemma: str) -> int:
    """english_lemma_addinfo.h:35-53 — lemma ends at a non-first '^'/'+'
    (trailing '+', or '^' followed by [A-Za-z][A-Za-z-]*)."""
    n = len(lemma)
    for i in range(1, n):
        c = lemma[i]
        if i + 1 == n and (c == "^" or c == "+"):
            return i
        if i + 1 < n and c == "^":
            ok = True
            for j in range(i + 1, n):
                cj = lemma[j]
                if not (("A" <= cj <= "Z") or ("a" <= cj <= "z") or (j > i + 1 and cj == "-")):
                    ok = False
                    break
            if ok:
                return i
    return n


class EnglishMorpho:
    kind = "english"
    derinet = None  # DerivatorDictionary when wrapped by morpho id 7

    unknown_tag = "UNK"

    def __init__(self, version, dictionary, guesser):
        self.version = version
        self.dictionary = dictionary
        self.guesser = guesser

    @classmethod
    def load(cls, f, version: int) -> "EnglishMorpho":
        from .english_guesser import EnglishGuesser

        d = _read_blob(f)
        dictionary = MdDictionary.load(
            d, lambda info: info.decode("utf-8") if info else ""
        )
        guesser = EnglishGuesser.load(d)
        if not d.is_end():
            raise BinaryFormatError("trailing data in english morpho blob")
        return cls(version, dictionary, guesser)

    def raw_lemma_len(self, lemma: str) -> int:
        return _english_raw_lemma_len(lemma)

    def lemma_id_len(self, lemma: str) -> int:
        return len(lemma)  # english lemmas carry no comments

    def raw_form_len(self, form: str) -> int:
        return len(form)

    def generate(self, lemma: str, tag_wildcard: str, guesser_mode: int):
        """english_morpho.cpp:69-80 (guesser never generates)."""
        out: list = []
        filt = _TagFilter(tag_wildcard or "")
        if lemma and self.dictionary.generate(lemma, filt, _EnglishAddinfo, out):
            return NO_GUESSER, out
        return -1, out

    def _analyze_special(self, form: str, out: list) -> None:
        """english_morpho.cpp:98-184 — 1-char exceptions, numbers (incl.
        '70s' for version>=2 and list-item '5.'), quote/paren/symbol/punct
        classes. NOTE the reference's comma-group loop contains a shipped
        parenthesization quirk (`category(cp & ~N)` — the mask is applied
        to the CODEPOINT), so thousand separators never parse as numbers;
        replicated faithfully (fuzz-verified)."""
        if not form:
            return
        if len(form) == 1:
            c = form[0]
            one = {
                ".": ["."], "!": ["."], "?": ["."], ",": [","], "#": ["#"],
                "$": ["$"], "[": ["SYM"], "]": ["SYM"],
                "%": ["JJ", "NN"], "&": ["CC", "SYM"], "*": ["SYM", "NN"],
                "@": ["SYM", "IN"], "'": ["''", "POS"],
            }
            tags = one.get(c)
            if tags is not None:
                for t in tags:
                    out.append((form, t))
                return

        n = len(form)
        state = {"i": 0}

        def decode():
            i = state["i"]
            if i < n:
                state["i"] = i + 1
                return form[i]
            return None

        def is_n(cp):
            return cp is not None and unicodedata.category(cp).startswith("N")

        cp = decode()
        any_digit = False
        if cp in ("+", "-"):
            cp = decode()
        while is_n(cp):
            any_digit = True
            cp = decode()
        # comma-group loop: dead code in the reference (see docstring quirk)
        if cp == "." and state["i"] < n:
            cp = decode()
            while is_n(cp):
                any_digit = True
                cp = decode()
        if self.version >= 2 and any_digit and cp == "s" and state["i"] >= n:
            out.append((form, "CD"))
            out.append((form[:-1], "NNS"))
            return
        if any_digit and cp in ("e", "E"):
            cp = decode()
            if cp in ("+", "-"):
                cp = decode()
            any_digit = False
            while is_n(cp):
                any_digit = True
                cp = decode()
        if any_digit and state["i"] >= n and (cp is None or cp == "."):
            out.append((form, "CD"))
            out.append((form, "NNP"))
            if n == 1 + (cp == ".") and "1" <= form[0] <= "9":
                out.append((form, "LS"))
            return

        open_q = close_q = open_p = close_p = any_p = symbol = True
        for c in form:
            if not (symbol or any_p):
                break
            cat = unicodedata.category(c)
            if open_q:
                open_q = c == "`" or cat == "Pi"
            if close_q:
                close_q = c in ("'", '"') or cat == "Pf"
            if open_p:
                open_p = cat == "Ps"
            if close_p:
                close_p = cat == "Pe"
            if any_p:
                any_p = cat.startswith("P")
            if symbol:
                symbol = c == "*" or cat.startswith("S")
        else:
            if open_q:
                out.append((form, "``"))
            elif close_q:
                out.append((form, "''"))
            elif open_p:
                out.append((form, "("))
            elif close_p:
                out.append((form, ")"))
            elif symbol:
                out.append((form, "SYM"))
            elif any_p:
                out.append((form, ":"))

    def analyze(self, form: str, guesser_mode: int) -> list:
        """english_morpho.cpp:39-67."""
        out: list = []
        if form:
            form_uclc, form_lc = _casing_variants(form)
            self.dictionary.analyze(form, out)
            if form_uclc:
                self.dictionary.analyze(form_uclc, out)
            if form_lc:
                self.dictionary.analyze(form_lc, out)
            if out:
                if guesser_mode == GUESSER and self.guesser.analyze_proper_names(
                    form, form_lc if form_lc else form, out
                ):
                    return out  # GUESSER result code (callers ignore)
                return out

            self._analyze_special(form, out)
            if out:
                return out

            if guesser_mode == GUESSER:
                self.guesser.analyze(form, form_lc if form_lc else form, out)
            if out:
                return out
        out.append((form, self.unknown_tag))
        return out


class DerivatorDictionary:
    """Derivation graph shipped with published czech-morfflex dictionaries
    (morpho id 7 wraps the real morpho — morpho.cpp:63-72).

    Format re-expression of src/morphodita/derivator/derivator_dictionary.cpp
    :69-160 (one compressor blob; incremental front-coded lemma ids, each with
    comment, children count and parent edit ops) into plain dicts — the
    persistent-map/offset machinery is a C++ memory-layout concern.
    ``parent``/``children`` mirror derivator.h:24-31: queries are truncated to
    the lemma id, results carry the target's lemma comment appended
    (derivator_dictionary.cpp:19-67)."""

    def __init__(self, parent_map, children_map, comments):
        self.parent_map = parent_map      # lemma_id -> parent lemma_id
        self.children_map = children_map  # lemma_id -> [child lemma_id...] (sorted)
        self.comments = comments          # lemma_id -> shortest lemma comment
        self.dictionary = None            # set by load_morpho to the wrapped morpho

    @classmethod
    def load(cls, f) -> "DerivatorDictionary":
        d = _read_blob(f)
        for _ in range(d.u1()):  # per-length entry counts: sizing hints only
            d.u4()
        parent_map, children_map, comments = {}, {}, {}
        lemma = bytearray()
        for _ in range(d.u4()):
            rem = d.u1()
            if rem:
                del lemma[-rem:]
            lemma += d.raw(d.u1())
            clen = d.u1()
            comment = bytes(d.raw(clen)).decode("utf-8") if clen else ""
            d.u2()  # children count (we build the lists directly)
            ops = d.u1()
            lid = bytes(lemma).decode("utf-8")
            comments[lid] = comment
            if ops:
                REMOVE_START, REMOVE_END, ADD_START, ADD_END = 1, 2, 4, 8
                remove_start = d.u1() if ops & REMOVE_START else 0
                remove_end = d.u1() if ops & REMOVE_END else 0
                par = bytearray()
                if ops & ADD_START:
                    par += d.raw(d.u1())
                par += lemma[remove_start : len(lemma) - remove_end]
                if ops & ADD_END:
                    par += d.raw(d.u1())
                parent = bytes(par).decode("utf-8")
                parent_map[lid] = parent
                # stream order is sorted-lemma order (encoder walks a std::map),
                # matching the reference's child-slot fill order
                children_map.setdefault(parent, []).append(lid)
        if not d.is_end():
            raise BinaryFormatError("trailing data in derivator blob")
        return cls(parent_map, children_map, comments)

    def _lemma_id(self, lemma: str) -> str:
        return lemma[: self.dictionary.lemma_id_len(lemma)] if self.dictionary else lemma

    def parent(self, lemma: str):
        """Parent lemma (id + its comment) or None."""
        p = self.parent_map.get(self._lemma_id(lemma))
        return p + self.comments.get(p, "") if p is not None else None

    def children(self, lemma: str) -> list:
        """Child lemmas (id + comment each), in the reference's order."""
        kids = self.children_map.get(self._lemma_id(lemma), [])
        return [c + self.comments.get(c, "") for c in kids]


def load_morpho(f):
    """morpho.cpp:26-77 dispatch."""
    mid = f.read(1)
    if not mid:
        raise BinaryFormatError("missing morpho id")
    mid = mid[0]
    if mid == MORPHO_GENERIC:
        return GenericMorpho.load(f)
    if mid in (MORPHO_CZECH, MORPHO_SLOVAK_PDT):
        return CzechMorpho.load(f)
    if mid in (MORPHO_ENGLISH_V1, MORPHO_ENGLISH_V2, MORPHO_ENGLISH_V3):
        version = {MORPHO_ENGLISH_V1: 1, MORPHO_ENGLISH_V2: 2, MORPHO_ENGLISH_V3: 3}[mid]
        return EnglishMorpho.load(f, version)
    if mid == MORPHO_DERIV:
        # derivator blob, then the wrapped morpho; attach both ways like
        # morpho.cpp:63-72 (derinet->dictionary / dictionary->derinet)
        derinet = DerivatorDictionary.load(f)
        inner = load_morpho(f)
        derinet.dictionary = inner
        inner.derinet = derinet
        return inner
    if mid == MORPHO_EXTERNAL:
        raise BinaryFormatError("EXTERNAL morpho payloads are not embedded in taggers")
    raise BinaryFormatError(f"unsupported morpho id {mid}")


# --------------------------------------------------------------------------
# elementary features
# --------------------------------------------------------------------------
def _vli_decode_key(b: bytes):
    """vli.h uint32 decoding over a concatenation: the serialized score
    keys are sequences of vli-encoded uint32s (self-delimiting — every
    value's final byte is < 0x80, continuation bytes >= 0x80), decoded
    once at load so the hot scoring loop can key on int tuples instead of
    re-encoding values to bytes per lookup."""
    out = []
    v = 0
    for byte in b:
        if byte & 0x80:
            v = (v << 7) | (byte & 0x7F)
        else:
            out.append((v << 7) | byte)
            v = 0
    return tuple(out)


class _ElementaryBase:
    """Shared machinery: value maps keyed by UTF-8 bytes; per-form
    codepoint-sliced prefixes/suffixes; verb-tracking dynamic features.

    Per-form caches (``_per_tag_cache``/``_form_static_cache``/
    ``_verb_cache``) exploit that analyses are a deterministic function of
    the form under the tagger's fixed guesser mode, so every context-free
    feature value repeats with the form (Zipf: most tokens are repeats).
    Bounded like the tagger's analysis cache; purely an optimization — the
    uncached computation is the semantic definition."""

    def __init__(self, maps):
        self.maps = maps  # list of dict[bytes, int]
        self._per_tag_cache: dict = {}
        self._form_static_cache: dict = {}
        self._verb_cache: dict = {}

    def per_tag_cached(self, form, analyses_i):
        v = self._per_tag_cache.get(form)
        if v is None:
            if len(self._per_tag_cache) > 200_000:
                self._per_tag_cache.clear()
            v = self._per_tag_cache[form] = self.per_tag(analyses_i)
        return v

    @classmethod
    def load(cls, f):
        d = _read_blob(f)
        nmaps = d.u1()
        maps = [_pmap_value_map(_load_pmap_buckets(d)) for _ in range(nmaps)]
        if not d.is_end():
            raise BinaryFormatError("trailing data in elementary features blob")
        return cls(maps)

    def _value(self, map_idx, key_bytes):
        return self.maps[map_idx].get(key_bytes, _EF_UNKNOWN)


class GenericElementaryFeatures(_ElementaryBase):
    """generic_elementary_features.h — 24 per-form, 7 per-tag, 4 dynamic."""

    PER_FORM_TOTAL, PER_TAG_TOTAL, DYNAMIC_TOTAL = 25, 7, 4
    N_PREFIX = N_SUFFIX = 9
    (M_FORM, M_P1, M_P2, M_P3, M_P4, M_P5, M_P6, M_P7, M_P8, M_P9,
     M_S1, M_S2, M_S3, M_S4, M_S5, M_S6, M_S7, M_S8, M_S9,
     M_TAG, M_TAG1, M_TAG2, M_TAG3, M_TAG4, M_TAG5, M_LEMMA) = range(26)

    def per_tag(self, analyses_i):
        """per-tag feature vectors for one token's analyses."""
        out = []
        prev_lemma = None
        prev_lemma_val = 0
        for lemma, tag in analyses_i:
            tb = tag.encode("utf-8")
            vals = [0] * 7
            vals[0] = self._value(self.M_TAG, tb)
            vals[1] = self._value(self.M_TAG1, tb[0:1]) if len(tb) >= 1 else _EF_EMPTY
            vals[2] = self._value(self.M_TAG2, tb[1:2]) if len(tb) >= 2 else _EF_EMPTY
            vals[3] = self._value(self.M_TAG3, tb[2:3]) if len(tb) >= 3 else _EF_EMPTY
            vals[4] = self._value(self.M_TAG4, tb[3:4]) if len(tb) >= 4 else _EF_EMPTY
            vals[5] = self._value(self.M_TAG5, tb[4:5]) if len(tb) >= 5 else _EF_EMPTY
            if lemma == prev_lemma:
                vals[6] = prev_lemma_val
            else:
                vals[6] = self._value(self.M_LEMMA, lemma.encode("utf-8"))
                prev_lemma, prev_lemma_val = lemma, vals[6]
            out.append(vals)
        return out

    TAG_SLOT, LEMMA_SLOT = 0, 6

    def ortho(self, form: str, vals, single_analysis: bool):
        """Fills NUM..SUFFIX9 (slots 3..23) of the per-form vector."""
        if single_analysis:
            for k in range(3, 24):
                vals[k] = _EF_UNKNOWN
            return
        if not form:
            vals[3] = vals[4] = vals[5] = _EF_EMPTY + 1
            for k in range(6, 24):
                vals[k] = _EF_EMPTY
            return
        fb = form.encode("utf-8")
        offs = []  # byte offset of each codepoint
        pos = 0
        num = cap = dash = False
        for ch in form:
            offs.append(pos)
            pos += len(ch.encode("utf-8"))
            c = unicodedata.category(ch)
            num = num or c.startswith("N")
            cap = cap or c in ("Lu", "Lt")
            dash = dash or c == "Pd"
        ncp = len(offs)
        total = len(fb)
        vals[3] = _EF_EMPTY + 1 + num
        vals[4] = _EF_EMPTY + 1 + cap
        vals[5] = _EF_EMPTY + 1 + dash
        for k in range(1, self.N_PREFIX + 1):
            end = offs[k] if k < ncp else total
            vals[5 + k] = self._value(self.M_P1 + k - 1, fb[:end])
        for k in range(1, self.N_SUFFIX + 1):
            start = offs[ncp - k] if k <= ncp else 0
            vals[5 + self.N_PREFIX + k] = self._value(self.M_S1 + k - 1, fb[start:])

    def _is_verb(self, tag: str) -> bool:
        return tag[:1] == "V"

    def _verb_index(self, form, analyses_i) -> int:
        """Verb candidate: smallest (tag, lemma), tag compared first
        (UTF-8 byte order == codepoint order, so Python str compare is
        equivalent to the reference's byte compare). Cached per form —
        analyses are deterministic per form under the decode mode."""
        v = self._verb_cache.get(form)
        if v is None:
            verb = -1
            for j, (lemma, tag) in enumerate(analyses_i):
                if self._is_verb(tag):
                    if verb < 0:
                        verb = j
                    else:
                        vlemma, vtag = analyses_i[verb]
                        if tag < vtag or (tag == vtag and lemma < vlemma):
                            verb = j
            if len(self._verb_cache) > 200_000:
                self._verb_cache.clear()
            v = self._verb_cache[form] = verb
        return v

    def _form_static(self, form, single):
        """Context-free slots of the per-form vector (form value + ortho
        NUM/CAP/DASH/prefix/suffix block), cached by (form, ambiguity)."""
        key = (form, single)
        v = self._form_static_cache.get(key)
        if v is None:
            vals = [0] * self.PER_FORM_TOTAL
            vals[0] = self._value(self.M_FORM, form.encode("utf-8"))
            self.ortho(form, vals, single)
            if len(self._form_static_cache) > 200_000:
                self._form_static_cache.clear()
            v = self._form_static_cache[key] = vals
        return v

    def per_form(self, forms, analyses, per_tag):
        """compute_features per-form pass (reverse order for FollowingVerb*).

        The complete vector is a pure function of (form, ambiguity,
        following_tag, following_lemma), so it is cached and the SAME list
        object reused across tokens/sentences — consumers only read it."""
        n = len(forms)
        out = [None] * n
        cache = getattr(self, "_per_form_cache", None)
        if cache is None:
            cache = self._per_form_cache = {}
        following_tag = following_lemma = _EF_EMPTY
        for i in range(n - 1, -1, -1):
            verb = self._verb_index(forms[i], analyses[i])
            key = (forms[i], len(analyses[i]) == 1, following_tag, following_lemma)
            vals = cache.get(key)
            if vals is None:
                if len(cache) > 200_000:
                    cache.clear()
                vals = self._form_static(key[0], key[1]).copy()
                vals[1] = following_tag
                vals[2] = following_lemma
                cache[key] = vals
            out[i] = vals
            if verb >= 0:
                following_tag = per_tag[i][verb][self.TAG_SLOT]
                following_lemma = per_tag[i][verb][self.LEMMA_SLOT]
        return out

    def dynamic(self, tag_lemma, per_tag_vals, per_form_vals, prev_dynamic):
        """compute_dynamic_features -> 4-tuple."""
        if prev_dynamic is not None:
            pvt, pvl = prev_dynamic[2], prev_dynamic[3]
        else:
            pvt = pvl = _EF_EMPTY
        if tag_lemma[1][:1] == "V":
            cvt, cvl = per_tag_vals[self.TAG_SLOT], per_tag_vals[self.LEMMA_SLOT]
        else:
            # non-verb propagates (pvt, pvl, pvt, pvl); when the previous
            # tuple already has that shape the VALUE is identical — reuse
            # the object so downstream memo keys hit without allocation
            if prev_dynamic is not None and prev_dynamic[0] == pvt and prev_dynamic[1] == pvl:
                return prev_dynamic
            cvt, cvl = pvt, pvl
        return (pvt, pvl, cvt, cvl)


class CzechElementaryFeatures(GenericElementaryFeatures):
    """czech_elementary_features.h — 14 per-form, 5 per-tag, 4 dynamic."""

    PER_FORM_TOTAL, PER_TAG_TOTAL, DYNAMIC_TOTAL = 14, 5, 4
    N_PREFIX = N_SUFFIX = 4
    (M_FORM, M_LEMMA, M_P1, M_P2, M_P3, M_P4,
     M_S1, M_S2, M_S3, M_S4, M_TAG, M_TAG3, M_TAG5, M_TAG25) = range(14)

    TAG_SLOT, LEMMA_SLOT = 0, 4

    def per_tag(self, analyses_i):
        out = []
        prev_lemma = None
        prev_lemma_val = 0
        for lemma, tag in analyses_i:
            tb = tag.encode("utf-8")
            vals = [0] * 5
            vals[0] = self._value(self.M_TAG, tb)
            vals[1] = self._value(self.M_TAG3, tb[2:3]) if len(tb) >= 3 else _EF_EMPTY
            vals[2] = self._value(self.M_TAG5, tb[4:5]) if len(tb) >= 5 else _EF_EMPTY
            vals[3] = (
                self._value(self.M_TAG25, tb[1:2] + tb[4:5]) if len(tb) >= 5 else _EF_EMPTY
            )
            if lemma == prev_lemma:
                vals[4] = prev_lemma_val
            else:
                vals[4] = self._value(self.M_LEMMA, lemma.encode("utf-8"))
                prev_lemma, prev_lemma_val = lemma, vals[4]
            out.append(vals)
        return out

    def ortho(self, form, vals, single_analysis):
        if single_analysis:
            for k in range(3, 12):
                vals[k] = _EF_UNKNOWN
            return
        if not form:
            vals[3] = vals[4] = vals[5] = _EF_EMPTY + 1
            for k in range(6, 14):
                vals[k] = _EF_EMPTY
            return
        fb = form.encode("utf-8")
        offs = []
        pos = 0
        num = cap = dash = False
        for ch in form:
            offs.append(pos)
            pos += len(ch.encode("utf-8"))
            c = unicodedata.category(ch)
            num = num or c.startswith("N")
            cap = cap or c in ("Lu", "Lt")
            dash = dash or c == "Pd"
        ncp = len(offs)
        total = len(fb)
        vals[3] = _EF_EMPTY + 1 + num
        vals[4] = _EF_EMPTY + 1 + cap
        vals[5] = _EF_EMPTY + 1 + dash
        for k in range(1, 5):
            end = offs[k] if k < ncp else total
            vals[5 + k] = self._value(self.M_P1 + k - 1, fb[:end])
        for k in range(1, 5):
            start = offs[ncp - k] if k <= ncp else 0
            vals[9 + k] = self._value(self.M_S1 + k - 1, fb[start:])


class ConlluElementaryFeatures(GenericElementaryFeatures):
    """conllu_elementary_features.h — 24 per-form, 8 per-tag, 4 dynamic.

    The tag string is '<sep>UPOS<sep>LPOS<sep>Name=Value|...' with
    sep = tag[0]; named fields Case/Gender/Number/Negative/Person get their
    own maps, verbs are detected at tag[1], and the verb-tracking dynamic
    features carry the verb token's FORM (not lemma)."""

    PER_FORM_TOTAL, PER_TAG_TOTAL, DYNAMIC_TOTAL = 25, 8, 4
    N_PREFIX = N_SUFFIX = 9
    (M_FORM, M_P1, M_P2, M_P3, M_P4, M_P5, M_P6, M_P7, M_P8, M_P9,
     M_S1, M_S2, M_S3, M_S4, M_S5, M_S6, M_S7, M_S8, M_S9,
     M_TAG, M_TAG_UPOS, M_TAG_CASE, M_TAG_GENDER, M_TAG_NUMBER,
     M_TAG_NEGATIVE, M_TAG_PERSON, M_LEMMA) = range(27)

    TAG_SLOT, LEMMA_SLOT = 0, 7

    _FIELD_MAPS = {
        "Case": (2, None), "Gender": (3, None), "Number": (4, None),
        "Negative": (5, None), "Person": (6, None),
    }

    def per_tag(self, analyses_i):
        out = []
        prev_lemma = None
        prev_lemma_val = 0
        for lemma, tag in analyses_i:
            tb = tag.encode("utf-8")
            vals = [_EF_EMPTY] * 8
            vals[0] = self._value(self.M_TAG, tb)
            if lemma == prev_lemma:
                vals[7] = prev_lemma_val
            else:
                vals[7] = self._value(self.M_LEMMA, lemma.encode("utf-8"))
                prev_lemma, prev_lemma_val = lemma, vals[7]

            if tb:
                sep = tb[0:1]
                idx = tb.find(sep, 1)
                if idx < 0:
                    idx = len(tb)
                start = 1 if idx else 0
                vals[1] = self._value(self.M_TAG_UPOS, tb[start:idx])
                if idx < len(tb):
                    idx += 1
                if idx < len(tb):
                    f = tb.find(sep, idx)
                    idx = len(tb) + 1 if f < 0 else f
                if idx < len(tb):
                    idx += 1
                while idx < len(tb):
                    f = tb.find(b"|", idx)
                    length = (len(tb) if f < 0 else f) - idx
                    for eq in range(0, length - 1):
                        if tb[idx + eq : idx + eq + 1] == b"=":
                            name = tb[idx : idx + eq].decode("utf-8", "replace")
                            hit = self._FIELD_MAPS.get(name) if eq in (4, 6, 8) else None
                            if hit is not None:
                                slot = hit[0]
                                map_idx = {
                                    2: self.M_TAG_CASE, 3: self.M_TAG_GENDER,
                                    4: self.M_TAG_NUMBER, 5: self.M_TAG_NEGATIVE,
                                    6: self.M_TAG_PERSON,
                                }[slot]
                                vals[slot] = self._value(
                                    map_idx, tb[idx + eq + 1 : idx + length]
                                )
                            break
                    idx += length + 1
            out.append(vals)
        return out

    def _is_verb(self, tag: str) -> bool:
        return len(tag) >= 2 and tag[1] == "V"

    def per_form(self, forms, analyses, per_tag):
        n = len(forms)
        out = [None] * n
        cache = getattr(self, "_per_form_cache", None)
        if cache is None:
            cache = self._per_form_cache = {}
        following_tag = following_form = _EF_EMPTY
        for i in range(n - 1, -1, -1):
            verb = self._verb_index(forms[i], analyses[i])
            key = (forms[i], len(analyses[i]) == 1, following_tag, following_form)
            vals = cache.get(key)
            if vals is None:
                if len(cache) > 200_000:
                    cache.clear()
                vals = self._form_static(key[0], key[1]).copy()
                vals[1] = following_tag
                vals[2] = following_form
                cache[key] = vals
            out[i] = vals
            if verb >= 0:
                following_tag = per_tag[i][verb][self.TAG_SLOT]
                following_form = vals[0]
        return out

    def dynamic(self, tag_lemma, per_tag_vals, per_form_vals, prev_dynamic):
        if prev_dynamic is not None:
            pvt, pvf = prev_dynamic[2], prev_dynamic[3]
        else:
            pvt = pvf = _EF_EMPTY
        tag = tag_lemma[1]
        if len(tag) >= 2 and tag[1] == "V":
            cvt, cvf = per_tag_vals[self.TAG_SLOT], per_form_vals[0]
        else:
            if prev_dynamic is not None and prev_dynamic[0] == pvt and prev_dynamic[1] == pvf:
                return prev_dynamic
            cvt, cvf = pvt, pvf
        return (pvt, pvf, cvt, cvf)


_ELEMENTARY = {
    "generic": GenericElementaryFeatures,
    "czech": CzechElementaryFeatures,
    "conllu": ConlluElementaryFeatures,
}


# --------------------------------------------------------------------------
# feature sequences (feature_sequences.h)
# --------------------------------------------------------------------------
class FeatureSequences:
    def __init__(self, elementary, sequences, scores):
        self.elementary = elementary
        self.sequences = sequences  # [(dependant_range, [(type, elem_idx, seq_idx)])]
        self.scores = scores        # [dict[int-tuple, int32]] (see load)
        # Partition sequences by what their score depends on, so the Viterbi
        # loop can memoize group sums instead of re-keying every sequence per
        # (tag, prev) node: 'static' sequences read only per-form values
        # (constant for a given token i); a depth-d group additionally reads
        # per-tag values of window[0..d]; 'dyn' sequences read the dynamic
        # vector (recomputed per node, memoized on (window prefix, dynamic)).
        self.static_group: list = []
        self.depth_groups: list = []  # [(depth, [seq_idx, ...])] ascending
        self.dyn_group: list = []
        self.dyn_depth = 0
        by_depth: dict = {}
        for si, (_dep, elements) in enumerate(sequences):
            types = [e[0] for e in elements]
            if any(t not in (_PER_FORM, _PER_TAG) for t in types):
                self.dyn_group.append(si)
                tag_depths = [-e[2] for e in elements if e[0] == _PER_TAG]
                self.dyn_depth = max([self.dyn_depth] + tag_depths)
            elif _PER_TAG not in types:
                self.static_group.append(si)
            else:
                d = max(-e[2] for e in elements if e[0] == _PER_TAG)
                by_depth.setdefault(d, []).append(si)
        self.depth_groups = sorted(by_depth.items())
        self._elements = [els for (_dep, els) in sequences]
        # compile each group into a specialized scorer (same semantics as
        # score_group, minus the interpretive element walk); parity is
        # pinned by the 24k-sentence decode goldens across all families
        self.static_fn = self._compile_group(self.static_group)
        self.depth_fns = [(d, self._compile_group(idxs)) for d, idxs in self.depth_groups]
        self.dyn_fn = self._compile_group(self.dyn_group)

    def _compile_group(self, seq_indices):
        """Generate a (form_index, window_tags, dynamic, per_form, per_tag,
        n_forms) -> int function with the group's element fetches, bounds
        guards, UNKNOWN dead-checks, and score lookups unrolled inline —
        feature_sequences.h:179-233 specialized to this model's sequences."""
        if not seq_indices:
            return None
        ns = {}
        lines = [
            "def _group_scorer(form_index, window_tags, dynamic, per_form, per_tag, n_forms):",
            "    total = 0",
        ]
        for si in seq_indices:
            elements = self._elements[si]
            if not elements:
                continue  # empty key -> never scored (score_group's `not vals`)
            ns[f"_S{si}"] = self.scores[si]
            indent = "    "
            vals = []
            for k, (typ, elem_idx, seq_idx) in enumerate(elements):
                v = f"v{si}_{k}"
                if typ == _PER_FORM:
                    if seq_idx == 0:
                        lines.append(f"{indent}{v} = per_form[form_index][{elem_idx}]")
                    else:
                        j = f"j{si}_{k}"
                        lines.append(f"{indent}{j} = form_index + ({seq_idx})")
                        lines.append(
                            f"{indent}{v} = per_form[{j}][{elem_idx}] if 0 <= {j} < n_forms else {_EF_EMPTY}"
                        )
                elif typ == _PER_TAG:
                    off = -seq_idx
                    if off == 0:
                        lines.append(
                            f"{indent}{v} = per_tag[form_index][window_tags[0]][{elem_idx}]"
                        )
                    else:
                        lines.append(
                            f"{indent}{v} = per_tag[form_index - {off}][window_tags[{off}]][{elem_idx}]"
                            f" if form_index >= {off} else {_EF_EMPTY}"
                        )
                else:
                    lines.append(f"{indent}{v} = dynamic[{elem_idx}]")
                lines.append(f"{indent}if {v}:")  # _EF_UNKNOWN == 0 -> dead
                indent += "    "
                vals.append(v)
            key = f"({vals[0]},)" if len(vals) == 1 else "(" + ", ".join(vals) + ")"
            lines.append(f"{indent}total += _S{si}.get({key}, 0)")
        lines.append("    return total")
        exec("\n".join(lines), ns)  # noqa: S102 - model-derived codegen
        return ns["_group_scorer"]

    @classmethod
    def load(cls, f, elementary_cls):
        elementary = elementary_cls.load(f)
        d = _read_blob(f)
        sequences = []
        for _ in range(d.u1()):
            dependant_range = d.u4()
            elements = []
            for _e in range(d.u1()):
                typ = d.u4()
                elem_idx = d.u4()
                seq_idx = d.u4()
                if seq_idx >= 1 << 31:
                    seq_idx -= 1 << 32
                elements.append((typ, elem_idx, seq_idx))
            sequences.append((dependant_range, elements))
        scores = []
        for _ in range(d.u1()):
            m = _pmap_value_map(_load_pmap_buckets(d))
            # scores are signed int32; keys are vli-uint32 concatenations,
            # decoded to int tuples once here (bijective) so scoring never
            # re-encodes values to bytes
            scores.append({
                _vli_decode_key(k): v - (1 << 32) if v >= (1 << 31) else v
                for k, v in m.items()
            })
        if not d.is_end():
            raise BinaryFormatError("trailing data in feature sequences blob")
        return cls(elementary, sequences, scores)

    def score_group(self, seq_indices, form_index, window_tags, dynamic,
                    per_form, per_tag, n_forms):
        """Fresh evaluation of feature_sequences.h:179-233 over a subset of
        sequences (the incremental tags_unchanged cache is a pure
        optimization: unchanged windows yield unchanged keys, so a full
        re-evaluation is semantically identical)."""
        total = 0
        all_elements, all_scores = self._elements, self.scores
        for si in seq_indices:
            vals = []
            dead = False
            for typ, elem_idx, seq_idx in all_elements[si]:
                if typ == _PER_FORM:
                    j = form_index + seq_idx
                    value = (
                        _EF_EMPTY if (j < 0 or j >= n_forms) else per_form[j][elem_idx]
                    )
                elif typ == _PER_TAG:
                    if form_index + seq_idx < 0:
                        value = _EF_EMPTY
                    else:
                        value = per_tag[form_index - (-seq_idx)][window_tags[-seq_idx]][elem_idx]
                else:
                    value = dynamic[elem_idx]
                if value == _EF_UNKNOWN:
                    dead = True
                    break
                vals.append(value)
            if dead or not vals:
                continue
            total += all_scores[si].get(tuple(vals), 0)
        return total

    def score(self, form_index, window_tags, dynamic, per_form, per_tag, n_forms):
        """Full evaluation over every sequence (reference semantics)."""
        return self.score_group(range(len(self.sequences)), form_index,
                                window_tags, dynamic, per_form, per_tag, n_forms)


# --------------------------------------------------------------------------
# perceptron tagger + viterbi (perceptron_tagger.h, viterbi.h)
# --------------------------------------------------------------------------
class MorphoditaTagger:
    """A loaded MorphoDiTa tagger: morpho + feature sequences + Viterbi.

    Drop-in for model.NerModel's ``tagger`` slot; also exposes the richer
    per-token fields the NameTag wrapper fills (morphodita_tagger.cpp:40-80).
    """

    kind = "morphodita"

    def __init__(self, raw_bytes: bytes, tagger_family: str, decoding_order: int,
                 window_size: int, morpho, use_guesser: bool,
                 features: FeatureSequences):
        self.raw_bytes = raw_bytes
        self.tagger_family = tagger_family
        self.decoding_order = decoding_order
        self.window_size = window_size
        self.morpho = morpho
        self.use_guesser = use_guesser
        self.features = features
        self._analysis_cache: dict = {}
        self._lemma_split_cache: dict = {}
        self._raw_all_cache: dict = {}
        self._sentence_cache: dict = {}
        self._token_col_cache: dict = {}
        # form -> (raw_form, default-mode analyses): ONE dict layer for the
        # two per-token lookups the ner columns path does (raw-form slice +
        # analysis) — the split caches cost a second map/fixup pass per
        # sentence, which the wide-vocabulary miss path paid per token
        self._form_an_cache: dict = {}

    # ------------------------------------------------------------- loading
    @classmethod
    def load_stream(cls, f) -> "MorphoditaTagger":
        """Parse a tagger from an open binary stream, consuming EXACTLY the
        tagger's bytes (the payload is not length-delimited inside a .ner
        file — the morpho blob, guesser byte, and two feature blobs are each
        self-delimiting). Stream must support tell/seek (re-reads the
        consumed span as raw_bytes for pickling)."""
        start = f.tell()
        tid = f.read(1)
        if not tid or tid[0] not in _TAGGER_IDS:
            raise BinaryFormatError(f"unknown MorphoDiTa tagger id {tid!r}")
        family, order, window = _TAGGER_IDS[tid[0]]
        morpho = load_morpho(f)
        use_guesser = bool(f.read(1)[0])
        features = FeatureSequences.load(f, _ELEMENTARY[family])
        end = f.tell()
        f.seek(start)
        raw = f.read(end - start)
        return cls(raw, family, order, window, morpho, use_guesser, features)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "MorphoditaTagger":
        import io

        f = io.BytesIO(blob)
        tagger = cls.load_stream(f)
        rest = f.read()
        if rest:
            raise BinaryFormatError(f"{len(rest)} trailing bytes after tagger stream")
        return tagger

    @classmethod
    def load(cls, path: str) -> "MorphoditaTagger":
        with open(path, "rb") as f:
            return cls.load_stream(f)

    # ------------------------------------------------------------ analysis
    def _analyses(self, form: str, mode=None) -> list:
        # normalize mode BEFORE keying: when use_guesser is on, mode=None
        # and mode=GUESSER are the same analysis — two cache keys would run
        # the whole dictionary+guesser walk twice per unseen form
        mode = (GUESSER if self.use_guesser else NO_GUESSER) if mode is None else mode
        key = (form, mode)
        a = self._analysis_cache.get(key)
        if a is None:
            m = self.morpho.analyze(form, mode)
            a = self._analysis_cache[key] = m
            if len(self._analysis_cache) > 500_000:
                self._analysis_cache.clear()
        return a

    # -------------------------------------------------------------- decode
    def _decode(self, forms, analyses) -> list:
        """viterbi.h:58-122 — returns chosen analysis index per token, with
        the reference's exact node-merge and tie-break behavior."""
        n = len(forms)
        if n == 0:
            return []
        for a in analyses:
            if len(a) != 1:
                break
        else:
            # every token unambiguous: the loop below degenerates to a chain
            # of single nodes and the backtrace returns index 0 everywhere —
            # no score or dynamic vector is ever consulted
            return [0] * n
        order = self.decoding_order
        window_size = self.window_size
        feats = self.features
        elem = feats.elementary
        per_tag = [elem.per_tag_cached(forms[i], analyses[i]) for i in range(n)]
        per_form = elem.per_form(forms, analyses, per_tag)
        dyn = elem.dynamic
        depth_fns, dyn_fn = feats.depth_fns, feats.dyn_fn
        static_fn = feats.static_fn
        dyn_depth1 = feats.dyn_depth + 1

        # nodes: (tag, prev, score, dynamic)
        nodes: list = []
        nodes_prev, nodes_now = -1, 0
        window = [-1] * window_size
        for i in range(n):
            an_i = analyses[i]
            if len(an_i) == 1 and nodes_prev + 1 == nodes_now:
                # unambiguous token after an unambiguous level: exactly one
                # (tag, prev) pair, no merge possible on a level's first pair
                # (window starts all -1, so same_tags stays 0 < order-1), and
                # the reference skips scoring (`single`) — the general loop
                # below reduces to this constant-time append
                prev = nodes_prev
                prev_dyn = nodes[prev][3] if prev >= 0 else None
                dynamic = dyn(an_i[0], per_tag[i][0], per_form[i], prev_dyn)
                node = (0, prev, nodes[prev][2] if prev >= 0 else 0, dynamic)
                if nodes_now < len(nodes):
                    nodes[nodes_now] = node
                else:
                    nodes.append(node)
                nodes_prev, nodes_now = nodes_now, nodes_now + 1
                continue
            nodes_next = nodes_now
            window = [-1] * window_size
            single = len(analyses[i]) == 1 and nodes_prev + 1 == nodes_now
            # group-score memos for this token: every (tag, prev) pair whose
            # window prefix (and dynamic vector, for dyn sequences) repeats
            # reuses the group sum — identical keys yield identical scores.
            static_score = None
            memo: dict = {}
            for tag in range(len(analyses[i])):
                for prev in range(nodes_prev, nodes_now):
                    same_tags = 1 if window[0] == tag else 0
                    window[0] = tag
                    p = prev
                    k = 1
                    while p >= 0 and k < window_size:
                        if same_tags == k and window[k] == nodes[p][0]:
                            same_tags += 1
                        window[k] = nodes[p][0]
                        p = nodes[p][1]
                        k += 1
                    prev_dyn = nodes[prev][3] if prev >= 0 else None
                    dynamic = dyn(analyses[i][tag], per_tag[i][tag], per_form[i], prev_dyn)
                    if single:
                        score = 0
                    else:
                        if static_score is None:
                            static_score = (
                                static_fn(i, window, dynamic, per_form, per_tag, n)
                                if static_fn is not None
                                else 0
                            )
                        score = static_score
                        for d, fn in depth_fns:
                            key = (d, *window[: d + 1])
                            part = memo.get(key)
                            if part is None:
                                part = memo[key] = fn(i, window, dynamic, per_form, per_tag, n)
                            score += part
                        if dyn_fn is not None:
                            key = (*window[:dyn_depth1], dynamic)
                            part = memo.get(key)
                            if part is None:
                                part = memo[key] = dyn_fn(i, window, dynamic, per_form, per_tag, n)
                            score += part
                    if prev >= 0:
                        score += nodes[prev][2]
                    if same_tags >= order - 1:
                        if score <= nodes[nodes_next - 1][2]:
                            continue
                        nodes_next -= 1
                    node = (tag, prev, score, dynamic)
                    if nodes_next < len(nodes):
                        nodes[nodes_next] = node
                    else:
                        nodes.append(node)
                    nodes_next += 1
            nodes_prev, nodes_now = nodes_now, nodes_next

        best = nodes_prev
        for idx in range(nodes_prev + 1, nodes_now):
            if nodes[idx][2] > nodes[best][2]:
                best = idx
        out = [0] * n
        for i in range(n - 1, -1, -1):
            out[i] = nodes[best][0]
            best = nodes[best][1]
        return out

    # ----------------------------------------------------------- public API
    def tag(self, forms) -> list:
        """perceptron_tagger.h:70-92 -> [(lemma, tag)] per token."""
        raw_forms = [f[: self.morpho.raw_form_len(f)] for f in forms]
        analyses = [self._analyses(f) for f in raw_forms]
        idx = self._decode(raw_forms, analyses)
        return [analyses[i][k] for i, k in enumerate(idx)]

    def tag_sentence(self, forms):
        """MorphoTagger-compatible: (lemmas, tags)."""
        tagged = self.tag(forms)
        return [l for (l, _t) in tagged], [t for (_l, t) in tagged]

    def ner_tag_columns(self, forms):
        """morphodita_tagger.cpp:40-80 in COLUMN orientation: returns
        (forms, lemma_comments, raw_lemmas, lemma_ids, tags, raw_lemmas_all)
        lists — the Sentence constructor's exact inputs, with no per-token
        dicts. Whole-sentence results are memoized on the forms tuple
        (bounded): transcript corpora repeat short turns heavily, and the
        decode is a pure function of the forms. The per-form raw_lemmas_all
        set and per-lemma splits are cached like the analysis cache."""
        key = tuple(forms)
        cache = self._sentence_cache
        v = cache.get(key)
        if v is not None:
            return v
        m = self.morpho
        # C-speed map over the fused per-form cache; misses (rare after
        # warmup) fixed up individually in ONE pass. morpho.analyze is
        # called directly (same normalized mode as _analyses) — this cache
        # IS the memo for the columns path, the (form, mode)-keyed
        # _analysis_cache layer would only duplicate it
        fa = self._form_an_cache
        vals = list(map(fa.get, forms))
        mode = GUESSER if self.use_guesser else NO_GUESSER
        analyze = m.analyze
        for pos, fv in enumerate(vals):
            if fv is None:
                if len(fa) > 200_000:
                    fa.clear()
                f = forms[pos]
                rf = f[: m.raw_form_len(f)]
                vals[pos] = fa[f] = (rf, analyze(rf, mode))
        raw_forms = [fv[0] for fv in vals]
        analyses = [fv[1] for fv in vals]
        idx = self._decode(raw_forms, analyses)
        # fused per-(form, chosen-analysis) column cache: the whole output
        # row (comment, raw, lid, tag, raw_lemmas_all, fast-token-key) is a
        # pure function of the form and the decoder's pick
        tok_cache = self._token_col_cache
        entries = list(map(tok_cache.get, zip(forms, idx)))
        for pos, e in enumerate(entries):
            if e is None:
                if len(tok_cache) > 200_000:
                    tok_cache.clear()
                form, rf, an, k = forms[pos], raw_forms[pos], analyses[pos], idx[pos]
                lemma, tag = an[k]
                sp = self._lemma_split_cache.get(lemma)
                if sp is None:
                    if len(self._lemma_split_cache) > 200_000:
                        self._lemma_split_cache.clear()
                    raw_len = m.raw_lemma_len(lemma)
                    id_len = m.lemma_id_len(lemma)
                    sp = self._lemma_split_cache[lemma] = (
                        lemma[:raw_len], lemma[:id_len], lemma[id_len:],
                    )
                r, l, c = sp
                # ner.fast token memo key (fast.py _token_keys contract).
                # raw_lemmas_all is NOT materialized here: it is consumed
                # only by GazetteersEnhanced match=rawlemmas, so Sentence
                # computes it lazily via raw_all_of (most models never ask)
                tk = rf if (r == rf and l == rf and tag == "" and not c) else (rf, r, l, tag, c or "")
                entries[pos] = tok_cache[(form, k)] = (c, r, l, tag, tk)
        comments, raws, lids, tags, keys = (
            map(list, zip(*entries)) if entries else ([], [], [], [], [])
        )
        # shared per-content memo store: gazetteer sources/pins are pure
        # functions of the sentence's morphology, so Sentence instances
        # rebuilt from this cache entry share their computed walks
        # ({"gaz": {...}} filled by templates._sentence_sources, "pins" by
        # ner.fast.FastFeaturizer.pins_batch)
        v = (raw_forms, comments, raws, lids, tags, None, keys, {"gaz": {}})
        if len(cache) > 100_000:
            cache.clear()
        cache[key] = v
        return v

    def ner_tag_columns_batch(self, sentences_forms):
        """Batched ner_tag_columns over many sentences: the per-form and
        per-(form, pick) cache passes run ONCE over the flattened token
        stream instead of once per sentence (the per-sentence wrapper loops
        are the dominant residual Python cost on distinct-form input). The
        Viterbi stays sentence-scoped (`_decode` per slice; all-unambiguous
        sentences short-circuit inside it). Output is element-identical to
        `[self.ner_tag_columns(f) for f in sentences_forms]`, including the
        shared-memo identity for duplicate sentences within the batch."""
        cache = self._sentence_cache
        out = [None] * len(sentences_forms)
        miss_pos, miss_keys = [], []
        for i, forms in enumerate(sentences_forms):
            key = tuple(forms)
            v = cache.get(key)
            if v is not None:
                out[i] = v
            else:
                miss_pos.append(i)
                miss_keys.append(key)
        if not miss_pos:
            return out
        m = self.morpho
        mode = GUESSER if self.use_guesser else NO_GUESSER
        analyze = m.analyze
        raw_form_len = m.raw_form_len
        flat = []
        bounds = [0]
        for key in miss_keys:
            flat.extend(key)
            bounds.append(len(flat))
        fa = self._form_an_cache
        vals = list(map(fa.get, flat))
        for pos, fv in enumerate(vals):
            if fv is None:
                f = flat[pos]
                # re-check: an earlier occurrence of the same form in THIS
                # batch may have filled the cache after the snapshot above
                fv = fa.get(f)
                if fv is None:
                    if len(fa) > 200_000:
                        fa.clear()
                    rf = f[: raw_form_len(f)]
                    fv = fa[f] = (rf, analyze(rf, mode))
                vals[pos] = fv
        flat_raw = [fv[0] for fv in vals]
        flat_an = [fv[1] for fv in vals]
        decode = self._decode
        flat_idx: list = []
        for si in range(len(miss_keys)):
            a, b = bounds[si], bounds[si + 1]
            flat_idx.extend(decode(flat_raw[a:b], flat_an[a:b]))
        tok_cache = self._token_col_cache
        entries = list(map(tok_cache.get, zip(flat, flat_idx)))
        lemma_split = self._lemma_split_cache
        for pos, e in enumerate(entries):
            if e is None:
                form, k = flat[pos], flat_idx[pos]
                e = tok_cache.get((form, k))
                if e is not None:
                    entries[pos] = e
                    continue
                if len(tok_cache) > 200_000:
                    tok_cache.clear()
                rf, an = flat_raw[pos], flat_an[pos]
                lemma, tag = an[k]
                sp = lemma_split.get(lemma)
                if sp is None:
                    if len(lemma_split) > 200_000:
                        lemma_split.clear()
                    raw_len = m.raw_lemma_len(lemma)
                    id_len = m.lemma_id_len(lemma)
                    sp = lemma_split[lemma] = (
                        lemma[:raw_len], lemma[:id_len], lemma[id_len:],
                    )
                r, l, c = sp
                tk = rf if (r == rf and l == rf and tag == "" and not c) else (rf, r, l, tag, c or "")
                entries[pos] = tok_cache[(form, k)] = (c, r, l, tag, tk)
        for si, i in enumerate(miss_pos):
            key = miss_keys[si]
            v = cache.get(key)
            if v is None:
                a, b = bounds[si], bounds[si + 1]
                ents = entries[a:b]
                comments, raws, lids, tags, keys = (
                    map(list, zip(*ents)) if ents else ([], [], [], [], [])
                )
                v = (flat_raw[a:b], comments, raws, lids, tags, None, keys, {"gaz": {}})
                if len(cache) > 100_000:
                    cache.clear()
                cache[key] = v
            out[i] = v
        return out

    def raw_all_of(self, form: str):
        """Sorted unique raw lemmas over ALL (guesser-mode) analyses of the
        form — morphodita_tagger.cpp:61-66. Cached; computed lazily because
        only GazetteersEnhanced match=rawlemmas ever consumes it."""
        all_raw = self._raw_all_cache.get(form)
        if all_raw is None:
            if len(self._raw_all_cache) > 200_000:
                self._raw_all_cache.clear()
            m = self.morpho
            all_raw = self._raw_all_cache[form] = sorted(
                {a_lemma[: m.raw_lemma_len(a_lemma)] for a_lemma, _t in self._analyses(form, GUESSER)}
            )
        return all_raw

    def ner_tag_sentence(self, forms):
        """Row-oriented view of ner_tag_columns (compat API)."""
        fs, comments, raws, lids, tags, _none, _keys, _shared = self.ner_tag_columns(forms)
        return [
            {
                "form": f,
                "raw_lemma": r,
                "lemma_id": l,
                "lemma_comments": c,
                "tag": t,
                "raw_lemmas_all": self.raw_all_of(f),
            }
            for f, c, r, l, t in zip(fs, comments, raws, lids, tags)
        ]

    # ------------------------------------------------------------- pickling
    def __getstate__(self):
        return self.raw_bytes

    def __setstate__(self, blob):
        other = MorphoditaTagger.from_bytes(blob)
        self.__dict__.update(other.__dict__)

    # state()/from_state for NerModel save/load symmetry
    def state(self) -> dict:
        import base64

        return {"kind": "morphodita", "raw": base64.b64encode(self.raw_bytes).decode("ascii")}

    @classmethod
    def from_state(cls, st: dict) -> "MorphoditaTagger":
        import base64

        return cls.from_bytes(base64.b64decode(st["raw"]))
