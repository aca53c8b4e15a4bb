"""GRU tokenizer (MorphoDiTa T8 layer) — inference + segmentation.

Re-expression of the reference network and decision semantics:

  - network (gru_tokenizer_network.h:28-187): per-char embeddings with
    NFKD + ideographic-punctuation + per-category unknown-char fallbacks,
    a forward and a backward GRU (update/reset gates, tanh candidate,
    state = z*state + (1-z)*candidate), and per-direction 3-way projections
    summed into the outcome scores. Outcomes: NO_SPLIT, END_OF_TOKEN,
    END_OF_SENTENCE; argmax with the reference's exact tie rule
    (outcome = w1 > w0; then 2 if w2 > w[outcome]).
  - segmentation (gru_tokenizer.cpp:20-53): spaces are consumed outside
    tokens (an END_OF_SENTENCE outcome on a space ends the sentence when
    tokens exist); a URL/email match overrides the network for its span
    (any END_OF_SENTENCE outcome inside it ends the sentence after it);
    otherwise a token runs until the first non-NO_SPLIT outcome (that char
    inclusive), END_OF_SENTENCE also ending the sentence. The emergency
    split thresholds match unicode_tokenizer.cpp:60-67.

Round 4: the serialized gru_tokenizer_factory format loads
(load_gru_factory), and the RUNTIME is the faithful
windowed port (GruTokenizer) — reference-TRAINED tokenizers (built by the
bundled gru_tokenizer_trainer via morpho_tools gru_train) reproduce the
reference's own tokenization byte-for-byte on 3,000-sentence streams
(tests/test_gru_tokenizer.py).
"""

from __future__ import annotations

import unicodedata

import numpy as np

from .rules import detect_url_email

NO_SPLIT, END_OF_TOKEN, END_OF_SENTENCE = 0, 1, 2


def _sigmoid(x):
    return 1.0 / (1.0 + np.exp(-x))


class Gru:
    """One GRU direction: X/X_r/X_z (input->candidate/reset/update) and
    H/H_r/H_z (state->...), each (D, D) with a (D,) bias."""

    def __init__(self, D: int, rng=None):
        def m():
            return (rng.standard_normal((D, D)) * 0.3 if rng is not None else np.zeros((D, D)))

        def b():
            return np.zeros(D)

        self.X, self.X_r, self.X_z = m(), m(), m()
        self.bX, self.bX_r, self.bX_z = b(), b(), b()
        self.H, self.H_r, self.H_z = m(), m(), m()


class GruTokenizerNetwork:
    def __init__(self, dim: int, embeddings: dict, gru_fwd: Gru, gru_bwd: Gru,
                 projection_fwd, projection_bwd, unknown_chars: dict | None = None):
        self.dim = dim
        self.embeddings = {c: np.asarray(v, dtype=np.float64) for c, v in embeddings.items()}
        self.gru_fwd = gru_fwd
        self.gru_bwd = gru_bwd
        # projections: (w (3, D), b (3,))
        self.projection_fwd = (np.asarray(projection_fwd[0], float), np.asarray(projection_fwd[1], float))
        self.projection_bwd = (np.asarray(projection_bwd[0], float), np.asarray(projection_bwd[1], float))
        # unicode category -> substitute char (gru_tokenizer_network.h:133-136)
        self.unknown_chars = dict(unknown_chars or {})
        self._empty = np.zeros(dim)

    # ------------------------------------------------------------ embedding
    def _embed(self, ch: str) -> np.ndarray:
        e = self.embeddings.get(ch)
        if e is not None:
            return e
        # NFKD first char + ideographic full stop/comma substitutes
        decomp = unicodedata.normalize("NFKD", ch)
        if decomp:
            c0 = decomp[0]
            if c0 == "、":
                c0 = ","
            if c0 == "。":
                c0 = "."
            if c0 != ch:
                e = self.embeddings.get(c0)
                if e is not None:
                    return e
        sub = self.unknown_chars.get(unicodedata.category(ch))
        if sub is not None:
            e = self.embeddings.get(sub)
            if e is not None:
                return e
        return self._empty

    # ------------------------------------------------------------- classify
    def classify(self, chars: str) -> np.ndarray:
        """Per-char outcome ids; scores follow gru_tokenizer_network.h:139-186."""
        n = len(chars)
        if n == 0:
            return np.zeros(0, dtype=np.int64)
        E = np.stack([self._embed(c) for c in chars])  # (n, D)
        # scores init with the FWD projection bias only — the reference never
        # reads projection_bwd.b in classify (gru_tokenizer_network.h:141)
        w = np.tile(self.projection_fwd[1], (n, 1))

        for direction in (0, 1):
            gru = self.gru_fwd if direction == 0 else self.gru_bwd
            proj_w, _proj_b = self.projection_fwd if direction == 0 else self.projection_bwd
            state = np.zeros(self.dim)
            order = range(n) if direction == 0 else range(n - 1, -1, -1)
            for i in order:
                e = E[i]
                update = _sigmoid(gru.bX_z + gru.X_z @ e + gru.H_z @ state)
                reset = _sigmoid(gru.bX_r + gru.X_r @ e + gru.H_r @ state) * state
                candidate = np.tanh(gru.bX + gru.X @ e + gru.H @ reset)
                state = update * state + (1.0 - update) * candidate
                w[i] += proj_w @ state
        # reference tie rule (gru_tokenizer_network.h:183-186)
        out = (w[:, 1] > w[:, 0]).astype(np.int64)
        out[w[:, 2] > w[np.arange(n), out]] = END_OF_SENTENCE
        return out


class GruTokenizer:
    """Faithful port of the reference GRU tokenizer RUNTIME
    (gru_tokenizer.cpp:20-113): windowed classification over `segment`
    network chars with space-run collapsing and an appended end-of-data
    space, the post-classification spacing rules (EOS propagated onto the
    preceding token-final char, EOT forced before spaces unless
    allow_spaces, \\n\\n hard breaks), window truncation to a suitable
    split, and the exact next_sentence consumption loop with URL/email
    override and emergency splitting."""

    def __init__(self, network: GruTokenizerNetwork, segment: int = 50,
                 allow_spaces: bool = False, url_email: bool = True):
        self.network = network
        self.segment = segment
        self.allow_spaces = allow_spaces
        self.url_email = url_email

    def tokenize(self, text: str) -> list:
        n = len(text)
        cats = [unicodedata.category(c) for c in text]

        def is_space(i):
            return cats[i] == "Zs" or text[i] in "\r\n\t"

        current = 0
        net_index = net_length = 0
        net_outcomes: list = []
        net_offsets: list = []
        segment = self.segment

        def classify_window():
            nonlocal net_index, net_length, net_outcomes, net_offsets
            net_index = 0
            net_length = 0
            net_chars = []
            net_offsets = []
            offset = current
            # for (offset=current; push(offset), offset<n && len<segment;
            #      len++, offset++) with space-run collapsing in the body
            while True:
                net_offsets.append(offset)
                if not (offset < n and net_length < segment):
                    break
                if is_space(offset):
                    net_chars.append(" ")
                    while offset + 1 < n and is_space(offset + 1):
                        offset += 1
                else:
                    net_chars.append(text[offset])
                net_length += 1
                offset += 1
            # add a space at end-of-data
            if net_length < segment and net_chars and net_chars[-1] != " ":
                net_chars.append(" ")
            net_outcomes = list(self.network.classify("".join(net_chars)))

            # spacing token/sentence breaks (gru_tokenizer.cpp:82-97)
            for i in range(net_length - 1):
                if is_space(net_offsets[i + 1]):
                    eos = net_outcomes[i + 1] == END_OF_SENTENCE
                    if i + 2 == net_length:
                        eos = True
                    j = net_offsets[i + 1]
                    while j + 1 < net_offsets[i + 2] and not eos:
                        eos = (text[j] == "\n" and text[j + 1] == "\n") or (
                            j + 3 < net_offsets[i + 2]
                            and text[j] == "\r" and text[j + 1] == "\n"
                            and text[j + 2] == "\r" and text[j + 3] == "\n"
                        )
                        j += 1
                    if eos:
                        net_outcomes[i] = END_OF_SENTENCE
                    if net_outcomes[i] == NO_SPLIT and (
                        not self.allow_spaces or net_outcomes[i + 1] == END_OF_TOKEN
                    ):
                        net_outcomes[i] = END_OF_TOKEN

            # adjust window length to a suitable break
            if net_length == segment and net_length >= 10:
                net_length -= 5
                while net_length > segment // 2:
                    net_length -= 1
                    if net_outcomes[net_length] != NO_SPLIT:
                        break

        def next_outcome():
            nonlocal current, net_index
            if net_index >= net_length:
                classify_window()
            out = net_outcomes[net_index]
            current = net_offsets[net_index + 1]
            net_index += 1
            return out

        def emergency(tokens):
            if len(tokens) >= 500:
                return True
            if tokens:
                k = cats[tokens[-1][0]]
                if len(tokens) >= 450 and k.startswith("P"):
                    return True
                if len(tokens) >= 400 and k == "Po":
                    return True
            return False

        sentences = []
        while current < n:
            tokens: list = []
            if current == 0:
                net_index = net_length = 0
            eos = False
            while not eos and not emergency(tokens):
                while current < n and is_space(current):
                    if next_outcome() == END_OF_SENTENCE and tokens:
                        break
                if current >= n:
                    break
                d = detect_url_email(text, current) if self.url_email else None
                if d is not None:
                    tokens.append((current, d[1] - current))
                    url_end = d[1]
                    current = url_end
                    while net_index < net_length and net_offsets[net_index] < current:
                        if net_outcomes[net_index] == END_OF_SENTENCE and tokens:
                            eos = True
                        net_index += 1
                    continue
                token_start = current
                while True:
                    outcome = next_outcome()
                    eos = outcome == END_OF_SENTENCE
                    if outcome != NO_SPLIT or current >= n:
                        break
                tokens.append((token_start, current - token_start))
            if not tokens:
                break
            sentences.append(tokens)
        return sentences


def gru_tokenize_sentences(text: str, network: GruTokenizerNetwork,
                           segment: int = 50, allow_spaces: bool = False) -> list:
    """Tokenize + segment with the reference runtime semantics; returns
    sentences of (start, length) char spans, same contract as
    rules.tokenize_sentences."""
    return GruTokenizer(network, segment=segment, allow_spaces=allow_spaces).tokenize(text)


def demo_network(dim: int = 3) -> GruTokenizerNetwork:
    """Hand-constructed weights whose behavior is derivable by hand:
    whitespace-delimited tokens, '.' ends the sentence.

    Construction: embeddings put 'is-space' in dim 0 and 'is-period' in
    dim 2. Both GRUs use update==0 (always refresh) with X=BIG*I, so after
    tanh the state is ±1 per dim: the FORWARD state at i encodes char i.
    The BACKWARD direction additionally copies the previous backward
    state's dim 0 into dim 1 through the H matrix, so the backward state
    at i carries 'char i+1 is a space' in dim 1. END_OF_TOKEN then reads
    bwd dim 1, END_OF_SENTENCE reads fwd dim 2 ('.' itself)."""
    BIG = 8.0
    emb = {}

    def evec(space: float, other: float, period: float):
        return np.array([space, other, period])

    # generic fallbacks by category via unknown_chars; explicit common chars
    base = {" ": evec(1, 0, 0), "\t": evec(1, 0, 0), "\n": evec(1, 0, 0),
            ".": evec(-1, 1, 1)}
    for c in "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789,;:!?-'\"@/()":
        base[c] = evec(-1, 1, 0)
    emb.update(base)

    fwd = Gru(dim)
    bwd = Gru(dim)
    for g in (fwd, bwd):
        g.bX_z = np.full(dim, -BIG)  # update ~ 0: always refresh
        g.bX_r = np.full(dim, +BIG)  # reset ~ 1
        g.X = BIG * np.eye(dim)
    # backward dim 1 = previous backward state's dim 0 (the char to the right)
    bwd.X[1, :] = 0.0
    bwd.H[1, 0] = BIG

    # outcome scores: NO_SPLIT baseline 0;
    # END_OF_TOKEN = 2*(bwd dim1 'next is space') - 1 margin
    # END_OF_SENTENCE = 2.5*(fwd dim2 'char is .') + (bwd dim1) - 2 margin
    # (2.5 so '.'+space scores EOS 1.5 > EOT 1; '.' at end-of-text 0.5 > 0)
    proj_fwd = (np.array([[0.0, 0, 0], [0, 0, 0], [0, 0, 2.5]]), np.array([0.0, -1.0, -2.0]))
    proj_bwd = (np.array([[0.0, 0, 0], [0, 2.0, 0], [0, 1.0, 0]]), np.zeros(3))

    unknown = {"Lu": "a", "Ll": "a", "Nd": "0", "Po": ",", "Zs": " "}
    return GruTokenizerNetwork(dim, emb, fwd, bwd, proj_fwd, proj_bwd, unknown)


# ---------------------------------------------------------------------------
# serialized gru_tokenizer_factory format (load)
# ---------------------------------------------------------------------------
# unilib/unicode.h category bit values <-> unicodedata 2-letter names
_UNILIB_CAT_NAMES = [
    None, "Lu", "Ll", "Lt", "Lm", "Lo", "Mn", "Mc", "Me", "Nd", "Nl", "No",
    "Pc", "Pd", "Ps", "Pe", "Pi", "Pf", "Po", "Sm", "Sc", "Sk", "So",
    "Zs", "Zl", "Zp", "Cc", "Cf", "Cs", "Co", "Cn",
]
_BITS_CAT = {1 << i: name for i, name in enumerate(_UNILIB_CAT_NAMES) if name}


def load_gru_factory(path_or_stream) -> tuple:
    """Parse a serialized gru_tokenizer_factory (the stream
    gru_tokenizer_trainer.cpp writes): version byte + compressed blob of
    (url_email_version, segment, allow_spaces, network, unknown_chars) —
    gru_tokenizer_factory.cpp:23-43 + gru_tokenizer_network.h:189-210.

    Returns (network, url_email_version, segment, allow_spaces). Weights
    are kept float32 so classification matches the reference bit-for-bit.
    """
    from ..model.binary_reader import BinaryFormatError, _read_blob

    close = False
    if isinstance(path_or_stream, (str, bytes)):
        f = open(path_or_stream, "rb")
        close = True
    else:
        f = path_or_stream
    try:
        outer = f.read(1)
        if not outer or outer[0] != 3:  # tokenizer_ids::GRU
            raise BinaryFormatError(f"not a GRU tokenizer factory (id {outer!r})")
        version = f.read(1)
        if not version or not 1 <= version[0] <= 2:
            raise BinaryFormatError(f"unknown gru_tokenizer_factory version {version!r}")
        d = _read_blob(f)
    finally:
        if close:
            f.close()
    url_email = d.u1()
    segment = d.u2()
    allow_spaces = bool(d.u1()) if version[0] >= 2 else False
    net_version = d.u1()
    if net_version != 1:
        raise BinaryFormatError(f"unknown gru network version {net_version}")
    dim = d.u1()
    if dim not in (16, 24, 64):
        raise BinaryFormatError(f"unsupported gru dimension {dim}")

    def f32s(n):
        import struct as _s

        vals = np.frombuffer(bytes(d.raw(4 * n)), dtype="<f4").copy()
        return vals

    embeddings = {}
    for _ in range(d.u4()):
        chr_ = chr(d.u4())
        embeddings[chr_] = f32s(dim)

    def read_matrix(rows):
        w = np.vstack([f32s(dim) for _ in range(rows)])
        b = f32s(rows)
        return w, b

    def read_gru():
        g = Gru(dim)
        (g.X, g.bX) = read_matrix(dim)
        (g.X_r, g.bX_r) = read_matrix(dim)
        (g.X_z, g.bX_z) = read_matrix(dim)
        (g.H, _hb) = read_matrix(dim)
        (g.H_r, _hrb) = read_matrix(dim)
        (g.H_z, _hzb) = read_matrix(dim)
        # the reference gru has no H biases; read_matrix consumed D floats
        # for each — but the serialized gru matrices DO carry biases (the
        # save path writes matrix<D,D> incl. b). The H biases are unused by
        # classify (only X biases are read), matching the reference.
        return g

    gru_fwd = read_gru()
    gru_bwd = read_gru()
    projection_fwd = read_matrix(3)
    projection_bwd = read_matrix(3)
    unknown = {}
    for _ in range(d.u1()):
        cat_bits = d.u4()
        chr_ = chr(d.u4())
        name = _BITS_CAT.get(cat_bits)
        if name is not None:
            unknown[name] = chr_
    if not d.is_end():
        raise BinaryFormatError("trailing data in gru_tokenizer_factory blob")
    net = GruTokenizerNetwork(dim, embeddings, gru_fwd, gru_bwd,
                              projection_fwd, projection_bwd, unknown)
    # float32 end-to-end (classification parity with the reference)
    net.embeddings = {c: v.astype(np.float32) for c, v in net.embeddings.items()}
    net.projection_fwd = tuple(np.asarray(x, np.float32) for x in net.projection_fwd)
    net.projection_bwd = tuple(np.asarray(x, np.float32) for x in net.projection_bwd)
    net._empty = np.zeros(dim, dtype=np.float32)
    for g in (net.gru_fwd, net.gru_bwd):
        for attr in ("X", "X_r", "X_z", "H", "H_r", "H_z", "bX", "bX_r", "bX_z"):
            setattr(g, attr, np.asarray(getattr(g, attr), np.float32))
    return net, url_email, segment, allow_spaces

