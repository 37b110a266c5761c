"""Shared, pure-Python semantic primitives of the KG pipeline.

These functions ARE the pipeline's semantics: the Spark stages call
them inside Arrow-batched UDFs, and the reference oracle
(kg/oracle.py) calls the same functions row-by-row. P/R between the
two therefore measures the distributed plumbing (partitioning,
shuffles, joins, checkpoint/resume), not incidental float or
tokenizer drift.

Reference parity notes (grisp @ /root/reference):
- tokenizer boundary chars mirror
  nerd-data/src/main/java/org/wikipedia/miner/extract/LabelOccurrencesStep.java:169
  (regex ``[\\s{}()"'.,;:\\-_]``)
- ngram max length 15 tokens: LabelOccurrencesStep.java:114
- skip 1-char ngrams preceded by an apostrophe: LabelOccurrencesStep.java:189
- title normalization (first char uppercased, '_'→' ', strip
  '#fragment', trim): util/Util.java:11-26
- sense ordering (link_occ desc, link_doc desc, entity_id asc):
  DumpExtractor.java:930-944
- labels ≥500 chars dropped on dictionary load: util/LabelCache.java:122
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

MAX_LABEL_TOKENS = 15
MAX_LABEL_CHARS = 500
# single source for the tokenizer pattern: compiled here for Python
# kernels, exported for engine-side regexp_extract_all (Spark/DuckDB).
# Whitespace is spelled out as explicit code points, NOT \s (Python's
# \s is Unicode-aware, Java's and RE2's are ASCII) and NOT \v (Java
# \v is the vertical-whitespace CLASS incl. U+0085/U+2028/U+2029,
# while Python/RE2 read it as \x0B) — explicit escapes are the only
# spelling all three engines read identically.
BOUNDARY_PATTERN = "[^ \\t\\n\\r\\f\\x0B{}()\"'.,;:\\-_]+"
BOUNDARY_RE = re.compile(BOUNDARY_PATTERN)
EMBED_DIM = 32
PRIOR_WEIGHT = 0.6
CONTEXT_WEIGHT = 0.4
# Deterministic caps (reference caps by arrival order; we cap by sort
# order — documented deviation, SURVEY.md §7).
MAX_LABELS_PER_ENTITY = 1000
MAX_LINKS_PER_NODE = 50000


def normalize_title(s: str) -> str:
    """util/Util.java:11-26 semantics."""
    s = s.split("#", 1)[0].replace("_", " ").strip()
    if not s:
        return s
    return s[0].upper() + s[1:]


def tokenize(text: str) -> list[str]:
    """Boundary-char tokenizer (LabelOccurrencesStep.java:169)."""
    if not text:
        return []
    return BOUNDARY_RE.findall(text)


def ngram_key(joined: str) -> str:
    """Dictionary-lookup key for a TEXT ngram: first char case-folded
    only. The reference probes text ngrams as-is against the label
    dictionary (LabelOccurrencesStep.java:190) — full title
    normalization (underscores, #fragments) applies when BUILDING
    dictionary keys from titles/aliases (normalize_title), not when
    probing text. Tokens contain no '_' (a boundary char), so this
    key never changes token structure — which is exactly what makes
    the first-token index sound (hypothesis found the counterexample
    for normalize_title-keyed probing: ['alpha','_'] → 'Alpha')."""
    if not joined:
        return joined
    return joined[0].upper() + joined[1:]


def build_first_token_index(gazetteer: dict) -> dict[str, int]:
    """first-token (case-folded) → max ngram length starting with it.
    One dict probe rejects a scan position instead of up to 15 joined
    ngram probes — the vectorized-trie role from the north star (a
    full trie buys little extra: surfaces are short)."""
    idx: dict[str, int] = {}
    for surface in gazetteer:
        first = surface.split(" ", 1)[0].lower()
        ln = surface.count(" ") + 1
        if idx.get(first, 0) < ln:
            idx[first] = ln
    return idx


def detect_mentions(
    tokens: list[str],
    gazetteer: dict,
    first_token_index: dict[str, int] | None = None,
) -> list[tuple[int, int, str]]:
    """Greedy longest-match-first non-overlapping gazetteer scan.

    ``gazetteer`` maps normalized surface → senses (the dict doubles
    as the membership set). Returns
    (begin_token, end_token_exclusive, normalized_surface).

    Mirrors the reference's ngram loop (LabelOccurrencesStep.java:178-204)
    with the non-overlapping longest-match region rule of
    util/Util.java:39-76. The first-token index is a pure pruning
    structure — results are identical with or without it.

    Delegates to detect_mentions_pruned so the scan-loop semantics
    (longest match, char cap, F6 apostrophe rule, greedy advance)
    exist in exactly ONE place."""
    if first_token_index is None:
        maxln = [MAX_LABEL_TOKENS] * len(tokens)
    else:
        maxln = [first_token_index.get(t.lower(), 0) for t in tokens]
    return detect_mentions_pruned(tokens, gazetteer, maxln)


def detect_mentions_pruned(
    tokens: list[str],
    gazetteer: dict,
    maxln_by_pos,
) -> list[tuple[int, int, str]]:
    """detect_mentions with the first-token prune precomputed: element
    i of ``maxln_by_pos`` must equal
    ``first_token_index.get(tokens[i].lower(), 0)``. The batch kernel
    computes that ONCE PER DISTINCT TOKEN (factorize + gather) instead
    of lowering and probing per occurrence; results are identical by
    construction (property-tested against detect_mentions)."""
    out: list[tuple[int, int, str]] = []
    n = len(tokens)
    i = 0
    while i < n:
        max_ln = maxln_by_pos[i]
        if max_ln == 0:
            i += 1
            continue
        matched = False
        for ln in range(min(max_ln, MAX_LABEL_TOKENS, n - i), 0, -1):
            surface = ngram_key(" ".join(tokens[i : i + ln]))
            if len(surface) >= MAX_LABEL_CHARS:
                continue
            if surface in gazetteer:
                # F6: skip single-char ngram preceded by apostrophe
                if ln == 1 and len(tokens[i]) == 1 and i > 0 and tokens[i - 1].endswith("'"):
                    continue
                out.append((i, i + ln, surface))
                i += ln
                matched = True
                break
        if not matched:
            i += 1
    return out


def word_vec(word: str) -> np.ndarray:
    """Deterministic pseudo-embedding: 32-dim unit vector from the 32
    hex NIBBLES of md5(lower(word)) — dim d is (nibble_d − 7.5)/8,
    normalized with the dimension-sequential norm chain. A stand-in
    for word2vec with the exact consumption shape of the reference's
    quantized vectors (Word2VecCompress.java:45-52); swap for real
    vectors in production. Every step (md5 hex, the exact binary
    fractions (2k−15)/16, the left-assoc norm chain, one float32
    rounding) is reproducible in ANSI SQL, which is what lets the
    flagship centroid-mode pipeline carry a DuckDB hash oracle —
    the previous PCG64-seeded gaussian was engine-private."""
    h = np.frombuffer(
        hashlib.md5(word.lower().encode("utf-8")).digest(), dtype=np.uint8
    )
    nib = np.empty(EMBED_DIM, dtype=np.float64)
    nib[0::2] = h >> 4
    nib[1::2] = h & 15
    v = (nib - 7.5) / 8.0  # exact float64 (and float32) values
    nrm = float(np.sqrt(seq_dot_rows(v[None, :], v[None, :])[0]))
    if nrm == 0.0:
        return np.zeros(EMBED_DIM, dtype=np.float32)
    return (v / nrm).astype(np.float32)


def store_vec_fn(store: dict):
    """Lookup over a {word: vector} store (file-backed word2vec):
    exact key, then lowercase, None for OOV — shared by the Spark
    kernels and the oracle so parity holds under a real vector table
    (consumption shape of Word2VecCompress.java:45-96)."""

    def fn(w: str):
        v = store.get(w)
        return v if v is not None else store.get(w.lower())

    return fn


# --- batch primitives ------------------------------------------------------
# The Spark kernels score thousands of mentions per Arrow batch; these
# primitives do the math for MANY contexts/pairs in a few numpy ops.
# The per-row functions below (centroid / cosine) are single-segment
# wrappers of the SAME primitives, so the row-by-row oracle is
# bit-identical to the batched kernels by construction. Summation
# orders are fixed: seq_segment_sums folds each segment SEQUENTIALLY
# left-to-right (np.add.reduceat is pairwise and was removed in r5
# precisely because it breaks the DuckDB list_reduce left-fold
# contract — never reintroduce it), and row dots accumulate
# dimension-sequentially (the same convention as
# operators/similarity.py).


def seq_dot_rows(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise dot, float64, dimension-sequential accumulation."""
    A = A.astype(np.float64, copy=False)
    B = B.astype(np.float64, copy=False)
    acc = A[:, 0] * B[:, 0]
    for i in range(1, A.shape[1]):
        acc = acc + A[:, i] * B[:, i]
    return acc


def seq_segment_sums(
    W64: np.ndarray, starts: np.ndarray, counts: np.ndarray
) -> np.ndarray:
    """Exact SEQUENTIAL (left-assoc) per-segment sums: segment s is
    the fold W[starts[s]] + W[starts[s]+1] + … in index order — the
    association an ordered SQL list fold (DuckDB list_reduce)
    reproduces bit-for-bit. np.add.reduceat is pairwise/SIMD-ordered
    (engine-private association), so it cannot anchor a cross-engine
    oracle; np.cumsum IS sequential (pinned by test_spec), giving the
    single-segment fast path. The multi-segment path iterates the
    position-within-segment axis over length-descending segments, so
    step i is one contiguous-prefix gather + elementwise add (acc =
    acc + x, the fold step) and total flops stay Σ counts."""
    starts = np.asarray(starts, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    n = len(starts)
    if n == 1:
        if counts[0] == 0:
            return np.zeros((1, W64.shape[1]), dtype=np.float64)
        seg = W64[starts[0] : starts[0] + counts[0]]
        return np.cumsum(seg, axis=0)[-1:]
    d = W64.shape[1]
    out = np.zeros((n, d), dtype=np.float64)
    if n == 0 or int(counts.max()) == 0:
        return out
    order = np.argsort(-counts, kind="stable")
    s_o = starts[order]
    asc = np.sort(counts)
    acc = np.zeros((n, d), dtype=np.float64)
    for i in range(int(counts.max())):
        k = n - int(np.searchsorted(asc, i, side="right"))
        acc[:k] += W64[s_o[:k] + i]
    out[order] = acc
    return out


def centroid_batch(W: np.ndarray, starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Normalized mean per segment of stacked word vectors ``W``
    (float32 or float64 in — float32→float64 embedding is exact, so
    callers may pre-convert to skip a copy; float32 out; float64
    accumulation in pinned sequential order — see seq_segment_sums;
    empty segments are not representable — callers map them to the
    zero vector)."""
    W64 = W.astype(np.float64, copy=False)
    sums = seq_segment_sums(W64, starts, counts)
    m = sums / np.asarray(counts, dtype=np.float64)[:, None]
    nrm = np.sqrt(seq_dot_rows(m, m))
    safe = np.where(nrm > 0, nrm, 1.0)
    out = np.where((nrm > 0)[:, None], m / safe[:, None], m)
    return out.astype(np.float32)


def cosine_batch(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise cosine with the zero-norm → 0.0 guard."""
    # convert once (exact float32→float64) — the three seq_dot_rows
    # calls below would otherwise each re-copy both matrices
    A = A.astype(np.float64, copy=False)
    B = B.astype(np.float64, copy=False)
    na = np.sqrt(seq_dot_rows(A, A))
    nb = np.sqrt(seq_dot_rows(B, B))
    denom = na * nb
    safe = np.where(denom > 0, denom, 1.0)
    return np.where(denom > 0, seq_dot_rows(A, B) / safe, 0.0)


def centroid(words: list[str], vec_fn=None) -> np.ndarray:
    """CentroidEntityScorer.java:34-55: mean of word vectors, normalized.
    ``vec_fn`` plugs in a real vector store (file-backed word2vec); it
    may return None for out-of-vocabulary words, which are skipped —
    the reference drops vectorless words before scoring
    (EntityScorer.java context assembly via Word2VecCompress lookups).
    The default pseudo-embedding covers every word (never None)."""
    vf = vec_fn or word_vec
    vecs = [v for v in (vf(w) for w in words) if v is not None]
    if not vecs:
        return np.zeros(EMBED_DIM, dtype=np.float32)
    return centroid_batch(
        np.stack(vecs), np.array([0]), np.array([len(vecs)])
    )[0]


def lr_context_matrix(ctx_words: list[str], vec_fn=None):
    """(word-vector matrix, counts) for the LR scorer — built once per
    mention span so every candidate sense reuses it (only the entity
    vector changes per candidate). None when the context is empty or
    entirely OOV."""
    if not ctx_words:
        return None
    from collections import Counter

    vf = vec_fn or word_vec
    pairs = [
        (v, n) for v, n in ((vf(w), n) for w, n in Counter(ctx_words).items())
        if v is not None  # OOV words skipped, like centroid()
    ]
    if not pairs:
        return None
    M = np.stack([v for v, _ in pairs]).astype(np.float64)
    c = np.array([n for _, n in pairs], dtype=np.float64)
    return M, c


def lr_score_from_matrix(mat, entity_vec: np.ndarray) -> float:
    if mat is None:
        return 0.0
    M, c = mat
    d = M @ np.asarray(entity_vec, dtype=np.float64)
    # logaddexp(0, d) = log(1 + e^d) without the overflow of
    # log1p(exp(d)) for d ≳ 709 — reachable through load_word_vectors'
    # arbitrary-norm file-backed vectors (kernel and oracle share this
    # one function, so parity is unaffected)
    return float(-np.sum(c * np.logaddexp(0.0, d)))


def lr_context_score(
    ctx_words: list[str], entity_vec: np.ndarray, vec_fn=None
) -> float:
    """Logistic-regression context scorer (the reference's second
    scorer, LREntityScorer.java:36-50, via entity2vec):
    score = −Σ_w count_w · log(1 + exp(⟨word_vec_w, entity_vec⟩)).
    Higher (less negative) is better. Vectorized over context words;
    the summation order (first-occurrence order of distinct words) is
    fixed so Spark kernel and oracle produce bit-identical floats."""
    return lr_score_from_matrix(lr_context_matrix(ctx_words, vec_fn), entity_vec)


ZERO_VEC = np.zeros(EMBED_DIM, dtype=np.float32)


def entity_vec(evecs: dict, eid: int):
    """Entity vector with the referential-integrity default: a sense
    whose entity_id has no entities row scores with the ZERO vector
    (centroid()'s empty-vocab result). The ONE definition shared by
    every scoring path — broadcast kernel (_evec_pack's trailing zero
    row gathers to this value), shuffle path (left-join + coalesce to
    the zero array), streaming state kernel, and the oracle — so a
    KB with dangling entity_ids cannot fork the semantics."""
    v = evecs.get(eid)
    return v if v is not None else ZERO_VEC


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    """LinearAlgebra.java:20-37 inner product on unit vectors —
    single-row wrapper of cosine_batch (identical float ops)."""
    return float(
        cosine_batch(np.asarray(a)[None, :], np.asarray(b)[None, :])[0]
    )


def order_senses(senses: list[tuple[int, int, int]]) -> list[tuple[int, int, int]]:
    """(entity_id, link_occ, link_doc) ordered per DumpExtractor.java:930-944:
    link_occ desc, link_doc desc, entity_id asc."""
    return sorted(senses, key=lambda s: (-s[1], -s[2], s[0]))


SCORE_MODES = ("centroid", "lr", "prior")


def score_candidates_batch(
    prior: np.ndarray, ctx_score: np.ndarray, mode: str = "centroid"
) -> np.ndarray:
    """Array form of score_candidate — SAME formula, kept here so the
    batched kernels can't fork the scoring semantics."""
    if mode == "prior":
        return prior
    return PRIOR_WEIGHT * prior + CONTEXT_WEIGHT * ctx_score


def pick_batch(
    mention_id: np.ndarray, entity_id: np.ndarray, scores: np.ndarray
) -> np.ndarray:
    """Indices of the picked candidate per mention — the array form of
    pick_sense's ordering (score desc, entity_id asc; lexsort keys are
    last-primary)."""
    order = np.lexsort((entity_id, -scores, mention_id))
    _, first = np.unique(mention_id[order], return_index=True)
    return order[first]


def score_candidate(prior: float, ctx_score: float, mode: str = "centroid") -> float:
    """Combined anchor-prior + context score. Deterministic: pure
    float64 arithmetic, identical in oracle and UDF.
    Modes: 'centroid' (ctx = cosine vs centroid,
    CentroidEntityScorer.java:52-56), 'lr' (ctx = logistic context
    score, LREntityScorer.java:36-50), 'prior' (anchor prior only —
    the SQL-expressible mode used for cross-engine oracle checks)."""
    if mode == "prior":
        return prior
    return PRIOR_WEIGHT * prior + CONTEXT_WEIGHT * ctx_score


def pick_sense(
    candidates: list[tuple[int, float]],
) -> tuple[int, float] | None:
    """argmax score, ties broken by min entity_id (full ordering — the
    reference breaks ties by id at DumpExtractor.java:942)."""
    if not candidates:
        return None
    return min(candidates, key=lambda c: (-c[1], c[0]))


# --- turn windows (SURVEY W3) ----------------------------------------------
# A conversation is its turn rows ordered by turn_idx, and
# (conv_id, turn_idx) is the row key: a second row under one key is an
# input error, raised with the key named — never merged (a groupBy
# would) or ordered arbitrarily (a sort would). The triple window of
# turn t is W_t = E_{t-1} ∪ E_t with the LITERAL turn t-1: after a
# gap in turn_idx the window restarts from E_t alone. Every path that
# emits triples follows this rule: the fused kernel and the streaming
# state kernel through window_triples below, the staged path in SQL
# (triples.extract_triples), the oracle in its own loop.


def duplicate_key_error(conv_id, turn_idx) -> ValueError:
    return ValueError(
        f"duplicate conversation turn key (conv_id={conv_id!r}, "
        f"turn_idx={turn_idx}): (conv_id, turn_idx) must be unique"
    )


# window carry before any turn; the conv sentinel equals no conv_id
NO_TURN = (object(), None, frozenset())


def window_triples(conv_ids, turn_idxs, roles, tools, ents_by_row, carry):
    """Triples of turn rows given in (conv_id, turn_idx) order:
    (e, 'mentioned_by', role) and (e, 'used_with_tool', tool) per
    entity of E_t, and (a, 'co_occurs_with', str(b)), a < b, for every
    pair of W_t with at least one side in E_t (a pair inside E_{t-1}
    was emitted at t-1). ``ents_by_row`` holds each row's canonical
    entity set. ``carry`` is the (conv_id, turn_idx, entity set) of
    the row before the first one — how a window crosses Arrow batches
    and streaming micro-batches. Returns (columns, carry)."""
    o_conv: list = []
    o_turn: list = []
    o_subj: list = []
    o_pred: list = []
    o_obj: list = []
    # bound-method locals: ~3 triples per turn × 5 columns — a
    # closure call + dict lookup per emit was ~25% of kernel time
    ap_c, ap_t, ap_s = o_conv.append, o_turn.append, o_subj.append
    ap_p, ap_o = o_pred.append, o_obj.append
    p_conv, p_turn, prev = carry
    for cid, tix, role, tool, cur in zip(conv_ids, turn_idxs, roles, tools, ents_by_row):
        if cid != p_conv or tix != p_turn + 1:
            if cid == p_conv and tix == p_turn:
                raise duplicate_key_error(cid, tix)
            prev = frozenset()
        if tool is not None and tool != tool:  # NaN guard
            tool = None
        for e in sorted(cur):
            ap_c(cid), ap_t(tix), ap_s(e)
            ap_p("mentioned_by"), ap_o(role)
            if tool is not None:
                ap_c(cid), ap_t(tix), ap_s(e)
                ap_p("used_with_tool"), ap_o(tool)
        window = sorted(prev | cur)
        for j, a in enumerate(window):
            for b in window[j + 1 :]:
                if a in cur or b in cur:
                    ap_c(cid), ap_t(tix), ap_s(a)
                    ap_p("co_occurs_with"), ap_o(str(b))
        p_conv, p_turn, prev = cid, tix, cur
    cols = {"conv_id": o_conv, "turn_idx": o_turn, "subj": o_subj,
            "pred": o_pred, "obj": o_obj}
    return cols, (p_conv, p_turn, prev)
