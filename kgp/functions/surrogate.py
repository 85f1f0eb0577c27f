"""Deterministic surrogate-model internals, shared by Spark UDFs and oracle.

The reference pipeline's neural scorers are absent (trained weights were
stripped — /root/reference/.MISSING_LARGE_BLOBS), so every scorer is a
deterministic surrogate with the SAME operator shape as the reference
(SURVEY.md §2.10):

- F1 tokenizer        -> :func:`tokenize` (whitespace + punctuation split,
                         lowercase; parity with BasicTokenizer behaviour the
                         EL text-equality invariant needs, P10/P13/P15)
- F2 token tagger     -> :func:`build_emissions` (gazetteer-membership
                         emission model standing in for BERT logits,
                         CRF/modeling_bert.py:248-350) + :func:`viterbi`
                         (the CRF ``decode()`` path, CRF/main.py:311-318)
                         + :func:`bio_decode` (BIO -> spans,
                         src/data_utils/ner_format_utils.py:23-73 semantics)
- F4 relation scorer  -> :func:`scan_relation` (trigger-phrase featurizer +
                         argmax over the 19-class SemEval label space,
                         model/modeling_bert.py:54-186 shape)
- F6 EL cross-encoder -> :func:`jaccard` over :func:`char_ngrams`
                         (monotone score in [0,1] so the reference's
                         threshold sweep stays meaningful, eval_el.py:259-291)

Everything here is pure (no Spark imports) so the single-process oracle and
the distributed pipeline share one source of truth for model semantics; the
differential tests then exercise the *dataflow* (joins, grouping, salting,
ids, dedup) — see SURVEY.md §5.2.
"""

from __future__ import annotations

import re

import numpy as np

NEG = -1e4  # "disallowed" log-score

# BIO label space over the gazetteer's four entity types (FIXTURES.md §A4)
ENTITY_TYPES = ("PER", "ORG", "LOC", "MISC")
LABELS = ("O",) + tuple(f"{p}-{t}" for t in ENTITY_TYPES for p in ("B", "I"))
LABEL2ID = {lb: i for i, lb in enumerate(LABELS)}

_PUNCT_RE = re.compile(r"([.,!?;:()\[\]\"'])")
_WS_RE = re.compile(r"\s+")
_CONTROL_RE = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")


def normalize_text(s: str) -> str:
    """Control-char strip + whitespace collapse + lowercase.

    Parity with the reference's BasicTokenizer._clean_text + strip + lower
    chain (prepare_el_index.py:21, CRF/main.py:482-484); the per-turn
    text-equality invariant depends on this being the ONLY normalization.
    """
    s = _CONTROL_RE.sub("", s)
    return _WS_RE.sub(" ", s).strip().lower()


def tokenize(text: str | None) -> list[str]:
    """Whitespace split with punctuation as standalone tokens (P15 + Basic
    tokenizer punctuation-splitting behaviour). A null text has no tokens,
    as in :func:`tokenize_batch`."""
    if text is None:
        return []
    return [t for t in _WS_RE.split(_PUNCT_RE.sub(r" \1 ", normalize_text(text))) if t]


def tokenize_batch(texts) -> list[list[str]]:
    """Vectorized twin of :func:`tokenize` over a pandas Series.

    Same regexes, same output per row (property-tested against the scalar
    form), but applied through pandas' C-level str loops — the scalar
    chain's intermediate whitespace collapse + strip are provably
    redundant under the final whitespace split, so the vectorized chain
    is control-strip -> lower -> punct-spacing -> whitespace split (which
    drops empty fields). This is the tagger hot path: per-row Python
    function call + join overhead dominates at millions of turns.
    """
    s = texts.fillna("")
    s = s.str.replace(_CONTROL_RE, "", regex=True)
    s = s.str.lower()
    s = s.str.replace(_PUNCT_RE, r" \1 ", regex=True)
    return s.str.split().tolist()


# ---------------------------------------------------------------------------
# F2: emission model + Viterbi + BIO decode
# ---------------------------------------------------------------------------


def build_tagger_params(surfaces: list[tuple[str, str]]):
    """Compile gazetteer surfaces [(surface, type)] into emission features.

    Returns (b_index, i_index): token -> set of entity types for which the
    token begins / continues some known surface form. This is the broadcast
    "model" of the surrogate tagger.
    """
    b_index: dict[str, set] = {}
    i_index: dict[str, set] = {}
    for surface, etype in surfaces:
        toks = tokenize(surface)
        if not toks:
            continue
        b_index.setdefault(toks[0], set()).add(etype)
        for t in toks[1:]:
            i_index.setdefault(t, set()).add(etype)
    return b_index, i_index


def build_emissions(tokens: list[str], b_index, i_index) -> np.ndarray:
    """Per-token label scores, shape (n, |LABELS|) — the surrogate for BERT
    emission logits feeding CRF decode."""
    n = len(tokens)
    em = np.full((n, len(LABELS)), NEG, dtype=np.float64)
    em[:, LABEL2ID["O"]] = 1.0
    for i, tok in enumerate(tokens):
        for t in b_index.get(tok, ()):
            em[i, LABEL2ID[f"B-{t}"]] = 2.0
        for t in i_index.get(tok, ()):
            em[i, LABEL2ID[f"I-{t}"]] = 2.0
    return em


def _token_row(tok: str, b_index, i_index, o_row: np.ndarray) -> np.ndarray:
    """Emission row for one token; returns the SHARED o_row object when the
    token hits neither index (identity test = cheap no-signal check)."""
    bt, it = b_index.get(tok), i_index.get(tok)
    if not bt and not it:
        return o_row
    row = o_row.copy()
    for t in bt or ():
        row[LABEL2ID[f"B-{t}"]] = 2.0
    for t in it or ():
        row[LABEL2ID[f"I-{t}"]] = 2.0
    return row


def make_o_row() -> np.ndarray:
    row = np.full(len(LABELS), NEG, dtype=np.float64)
    row[LABEL2ID["O"]] = 1.0
    return row


def build_emissions_cached(
    tokens: list[str], b_index, i_index, cache: dict, o_row: np.ndarray
) -> tuple[np.ndarray, bool]:
    """Same matrix as :func:`build_emissions` (row-for-row identical), but
    per-token rows are memoized in ``cache`` (tokens repeat heavily across
    turns) and the returned flag says whether ANY token hit the gazetteer.
    With no hit, every row is the O-row and Viterbi provably decodes to
    all-O -> zero mentions, so callers skip the DP for that sequence."""
    rows = []
    hit = False
    for tok in tokens:
        r = cache.get(tok)
        if r is None:
            r = _token_row(tok, b_index, i_index, o_row)
            cache[tok] = r
        if r is not o_row:
            hit = True
        rows.append(r)
    return np.stack(rows) if rows else np.empty((0, len(LABELS))), hit


def transition_matrix() -> np.ndarray:
    """CRF transition scores: I-T reachable only from B-T / I-T (flat BIO)."""
    L = len(LABELS)
    tr = np.zeros((L, L), dtype=np.float64)
    for j, lj in enumerate(LABELS):
        if lj.startswith("I-"):
            t = lj[2:]
            for i, li in enumerate(LABELS):
                if li not in (f"B-{t}", f"I-{t}"):
                    tr[i, j] = NEG
    return tr


_TRANS = transition_matrix()
_START = np.array([NEG if lb.startswith("I-") else 0.0 for lb in LABELS])


def viterbi(emissions: np.ndarray, trans: np.ndarray | None = None) -> list[int]:
    """Vectorized max-sum decode (the CRF ``decode()`` semantics).

    Ties broken toward the lowest label id (np.argmax convention) — the
    deterministic tie-break rule both engine and oracle share.
    """
    if emissions.shape[0] == 0:
        return []
    tr = _TRANS if trans is None else trans
    n, L = emissions.shape
    score = _START + emissions[0]
    back = np.zeros((n, L), dtype=np.int64)
    for t in range(1, n):
        cand = score[:, None] + tr  # (from, to)
        back[t] = np.argmax(cand, axis=0)
        score = cand[back[t], np.arange(L)] + emissions[t]
    path = [int(np.argmax(score))]
    for t in range(n - 1, 0, -1):
        path.append(int(back[t, path[-1]]))
    return path[::-1]


def batch_viterbi(emissions_list: list[np.ndarray]) -> list[list[int]]:
    """Viterbi over a whole batch of sequences at once.

    Pads to the batch max length and runs the DP vectorized across the
    batch dimension (numpy, no per-sequence Python loop in the time
    recursion) — the inference hot path inside the mapInPandas tagger.
    Produces exactly the same paths as :func:`viterbi` per sequence.
    """
    B = len(emissions_list)
    if B == 0:
        return []
    lens = np.array([e.shape[0] for e in emissions_list])
    T = int(lens.max()) if B else 0
    if T == 0:
        return [[] for _ in emissions_list]
    L = len(LABELS)
    em = np.zeros((B, T, L), dtype=np.float64)
    for b, e in enumerate(emissions_list):
        if e.shape[0]:
            em[b, : e.shape[0]] = e
    score = _START[None, :] + em[:, 0, :]  # (B, L)
    back = np.zeros((B, T, L), dtype=np.int64)
    idx = np.arange(L)
    for t in range(1, T):
        cand = score[:, :, None] + _TRANS[None, :, :]  # (B, from, to)
        bt = np.argmax(cand, axis=1)  # (B, L)
        new = np.take_along_axis(cand, bt[:, None, :], axis=1)[:, 0, :] + em[:, t, :]
        active = (t < lens)[:, None]
        back[:, t, :] = np.where(active, bt, idx[None, :])
        score = np.where(active, new, score)
        # freeze finished sequences: keep their final score, identity backptr
    out = []
    last = np.argmax(score, axis=1)  # argmax at each sequence's frozen final score
    for b in range(B):
        n = int(lens[b])
        if n == 0:
            out.append([])
            continue
        path = [int(last[b])]
        for t in range(n - 1, 0, -1):
            path.append(int(back[b, t, path[-1]]))
        out.append(path[::-1])
    return out


def bio_encode(n: int, spans: list[tuple[int, int, str]]) -> list[str]:
    """Span list -> word-level BIO sequence (P6, ner_data_utils.py:361-368
    semantics; later spans overwrite earlier on conflict, as the reference's
    in-place assignment does)."""
    seq = ["O"] * n
    for s, e, label in spans:
        for i in range(s, min(e, n)):
            seq[i] = ("B-" if i == s else "I-") + label
    return seq


def bio_decode(labels: list[str]) -> list[tuple[int, int, str]]:
    """BIO sequence -> [(start, end_exclusive, type)] spans.

    Same tolerance as the reference decoder (ner_format_utils.py:23-73):
    an I-T with no open T entity starts a new entity (treated as B).
    """
    spans = []
    start, cur = -1, None
    for i, lb in enumerate(labels):
        if lb.startswith("B-") or (lb.startswith("I-") and lb[2:] != cur):
            if cur is not None:
                spans.append((start, i, cur))
            start, cur = i, lb[2:]
        elif lb == "O":
            if cur is not None:
                spans.append((start, i, cur))
            start, cur = -1, None
    if cur is not None:
        spans.append((start, len(labels), cur))
    return spans


def detect_spans(tokens: list[str], b_index, i_index) -> list[tuple[int, int, str]]:
    """Full F2 chain: emissions -> Viterbi -> BIO decode."""
    em = build_emissions(tokens, b_index, i_index)
    path = viterbi(em)
    return bio_decode([LABELS[i] for i in path])


# ---------------------------------------------------------------------------
# F4: relation classifier surrogate (19-class SemEval space)
# ---------------------------------------------------------------------------

# SemEval-2010 Task 8 label map — data parity with
# Relation_Extraction_and_Coreference_Resolution/data/semeval10/semeval_rel2id.json
REL2ID = {
    "Component-Whole(e2,e1)": 0,
    "Other": 1,
    "Instrument-Agency(e2,e1)": 2,
    "Member-Collection(e1,e2)": 3,
    "Cause-Effect(e2,e1)": 4,
    "Entity-Destination(e1,e2)": 5,
    "Content-Container(e1,e2)": 6,
    "Message-Topic(e1,e2)": 7,
    "Product-Producer(e2,e1)": 8,
    "Member-Collection(e2,e1)": 9,
    "Entity-Origin(e1,e2)": 10,
    "Cause-Effect(e1,e2)": 11,
    "Component-Whole(e1,e2)": 12,
    "Message-Topic(e2,e1)": 13,
    "Product-Producer(e1,e2)": 14,
    "Entity-Origin(e2,e1)": 15,
    "Content-Container(e2,e1)": 16,
    "Instrument-Agency(e1,e2)": 17,
    "Entity-Destination(e2,e1)": 18,
}
ID2REL = {v: k for k, v in REL2ID.items()}
N_RELATIONS = len(REL2ID)
OTHER_ID = REL2ID["Other"]

# one trigger token per non-Other class: the deterministic signal the
# fixture generator plants between entity pairs
TRIGGER2REL = {
    "comprises": "Component-Whole(e2,e1)",
    "wields": "Instrument-Agency(e2,e1)",
    "joins": "Member-Collection(e1,e2)",
    "stems": "Cause-Effect(e2,e1)",
    "enters": "Entity-Destination(e1,e2)",
    "holds": "Content-Container(e1,e2)",
    "discusses": "Message-Topic(e1,e2)",
    "manufactures": "Product-Producer(e2,e1)",
    "gathers": "Member-Collection(e2,e1)",
    "originates": "Entity-Origin(e1,e2)",
    "causes": "Cause-Effect(e1,e2)",
    "forms": "Component-Whole(e1,e2)",
    "covers": "Message-Topic(e2,e1)",
    "produces": "Product-Producer(e1,e2)",
    "spawns": "Entity-Origin(e2,e1)",
    "stores": "Content-Container(e2,e1)",
    "operates": "Instrument-Agency(e1,e2)",
    "ships": "Entity-Destination(e2,e1)",
}


def scan_relation(between_tokens: list[str]) -> tuple[int, np.ndarray]:
    """Classify the tokens strictly between a mention pair.

    Surrogate for the pair-encoded BERT head (CLS ⊕ head ⊕ tail features,
    model/modeling_bert.py:150-162): bag-of-triggers featurizer + linear
    softmax whose argmax equals the first trigger hit; no trigger -> Other.
    Returns (pred_id, score_vector).
    """
    logits = np.zeros(N_RELATIONS, dtype=np.float64)
    logits[OTHER_ID] = 1.0
    for tok in between_tokens:
        rel = TRIGGER2REL.get(tok)
        if rel is not None:
            logits[REL2ID[rel]] = 4.0
            break  # first trigger wins (deterministic)
    ex = np.exp(logits - logits.max())
    return int(np.argmax(logits)), ex / ex.sum()


# ---------------------------------------------------------------------------
# F6: EL cross-encoder surrogate
# ---------------------------------------------------------------------------


def char_ngrams(s: str, n: int = 3) -> set:
    """Padded character n-gram shingles of the normalized string."""
    s = "#" + normalize_text(s) + "#"
    if len(s) < n:
        return {s}
    return {s[i : i + n] for i in range(len(s) - n + 1)}


def jaccard(a: str, b: str, n: int = 3) -> float:
    """Char-ngram Jaccard in [0,1] — the calibrated stand-in for
    softmax(logits)[:,1] of the EL cross-encoder (eval_el.py:259-283)."""
    ga, gb = char_ngrams(a, n), char_ngrams(b, n)
    inter = len(ga & gb)
    if inter == 0:
        return 0.0
    return inter / (len(ga) + len(gb) - inter)
