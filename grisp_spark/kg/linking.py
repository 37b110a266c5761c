"""Fused mention-detection + candidate-generation + link-scoring stage.

One Arrow-batched ``mapInPandas`` pass per conversation partition does
what grisp's map-side LMDB lookups do (PagesByTitleCache /
LabelCache / RedirectCache probed from LabelSensesStep.java:190-328):
gazetteer scan → candidate senses with anchor priors → context
centroid scoring → argmax link. Everything the stage needs is
broadcast (gazetteer dict + entity vectors) so the stage is
shuffle-free — at 1000 executors it scales linearly with input
partitions, exactly like the reference's "LMDB to avoid distributed
data" design (/root/reference/README.md:9) but with Spark broadcast
instead of local LMDB files.

Scale notes (100 TB): the broadcast gazetteer is the working-set
bound (reference sizes: ~64M labels, LabelCache.java:46). A python
dict of 64M surfaces is ~10-15 GB — at that scale swap the dict for a
pyarrow hash table / marisa-trie per executor; the stage contract
(batch in → linked mentions out) is unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grisp_spark.kg import spec

LINKED_SCHEMA = (
    "conv_id string, turn_idx int, role string, tool string, "
    "begin int, end int, surface string, entity_id long, score double"
)

# Executor-local memo for word vectors (deterministic → cache-safe).
_WORD_VEC_CACHE: dict[str, np.ndarray] = {}

# Executor-local first-token index cache, keyed by the BROADCAST id
# (stable and unique per broadcast). Never key by id(obj): a reused
# python worker can see a new gazetteer allocated at a freed object's
# address, and the stale index silently matches nothing.
_IDX_CACHE: dict[int, dict[str, int]] = {}


def _first_token_index(gaz: dict, cache_key: int) -> dict[str, int]:
    idx = _IDX_CACHE.get(cache_key)
    if idx is None:
        idx = spec.build_first_token_index(gaz)
        _IDX_CACHE.clear()
        _IDX_CACHE[cache_key] = idx
    return idx


def _cached_word_vec(w: str) -> np.ndarray:
    v = _WORD_VEC_CACHE.get(w)
    if v is None:
        v = spec.word_vec(w)
        if len(_WORD_VEC_CACHE) < 2_000_000:
            _WORD_VEC_CACHE[w] = v
    return v


def load_word_vectors(spark: SparkSession, vectors: DataFrame):
    """(word, vec array<float>) table → broadcast {word: np.float32
    vector} — the file-backed replacement for the md5 pseudo-vectors,
    matching the reference's quantized word2vec consumption shape
    (Word2VecCompress.java:45-96). Pass the result as ``wvec_bc`` to
    build_broadcasts / link_mentions / link_and_extract; words missing
    from the table are OOV and skipped in context scoring."""
    pdf = vectors.toPandas()
    wv = {
        r.word: np.asarray(list(r.vec), dtype=np.float32)
        for r in pdf.itertuples(index=False)
    }
    return spark.sparkContext.broadcast(wv)


def _collect_gazetteer(kb: dict[str, DataFrame]) -> dict:
    """label_stats → {surface: ordered senses}. The ONE gazetteer
    build shared by build_broadcasts and build_kb_broadcasts (the two
    previously duplicated it verbatim — fork risk on the shared
    semantics)."""
    stats = (
        kb["label_stats"]
        .filter(F.length("label") < spec.MAX_LABEL_CHARS)
        .select("label", "entity_id", "link_occ", "link_doc")
        .toPandas()
    )
    gaz: dict[str, list[tuple[int, int, int]]] = {}
    for r in stats.itertuples(index=False):
        gaz.setdefault(r.label, []).append(
            (int(r.entity_id), int(r.link_occ), int(r.link_doc))
        )
    return {k: spec.order_senses(v) for k, v in gaz.items()}


def _evecs_from_ents(ents: pd.DataFrame, wvec_bc=None) -> dict:
    """(entity_id, context_vocab) pandas frame → {id: centroid vector}
    — shared by both broadcast builders."""
    vec_fn = spec.store_vec_fn(wvec_bc.value) if wvec_bc is not None else None
    return {
        int(r.entity_id): spec.centroid(list(r.context_vocab), vec_fn)
        for r in ents.itertuples(index=False)
    }


def build_broadcasts(spark: SparkSession, kb: dict[str, DataFrame], wvec_bc=None):
    """Collect the (small) KB side to the driver and broadcast it —
    the Spark analogue of the reference driver building LMDB caches
    between jobs (DumpExtractor.java:253-273,302-344). At real scale
    label_stats is itself a pipeline output (stats.py) and this stays
    a broadcast as long as it fits (AQE would pick broadcast for the
    equivalent join anyway); beyond that, flip to a shuffle join on
    surface."""
    from concurrent.futures import ThreadPoolExecutor

    # two independent driver jobs, overlapped (guide §2.6)
    with ThreadPoolExecutor(max_workers=2) as pool:
        gaz_f = pool.submit(_collect_gazetteer, kb)
        ents_f = pool.submit(
            kb["entities"].select("entity_id", "context_vocab").toPandas
        )
        gaz, ents = gaz_f.result(), ents_f.result()
    evecs = _evecs_from_ents(ents, wvec_bc)
    sc = spark.sparkContext
    return sc.broadcast(gaz), sc.broadcast(evecs)


def build_kb_broadcasts(spark: SparkSession, kb: dict[str, DataFrame], wvec_bc=None):
    """(gaz_bc, evec_bc, canon_bc) from ONE collection per KB table:
    entities ride to the driver once — (entity_id, context_vocab,
    redirect_to) — feeding both the vector build and a driver-side
    min-id union-find for the canonical map. Two driver jobs instead
    of the 5-6 that separate build_broadcasts +
    canonical_map_broadcast runs cost (each toPandas/count is a full
    job; the reference's DumpExtractor.java:253-344 likewise builds
    all its LMDB caches in one pass). Broadcast-regime only, like its
    callers — beyond BROADCAST_LABEL_LIMIT use the shuffle path."""
    from concurrent.futures import ThreadPoolExecutor

    from grisp_spark.kg import canonicalize

    # redirect_to rides to the driver as STRING: a nullable long
    # column materializes in pandas as float64, and int(float) rounds
    # ids above 2^53 (the xxhash64-style ids kg06 KBs use) — the
    # string round-trip is lossless. entity_id itself is non-null and
    # stays exact int64.
    #
    # The two KB collections are independent driver jobs; submitting
    # them from two threads overlaps their scheduling + fetch latency
    # (guide §2.6) — the KB bootstrap path runs them back-to-back per
    # flagship invocation otherwise.
    def _ents_pdf():
        return kb["entities"].select(
            "entity_id",
            "context_vocab",
            F.col("redirect_to").cast("string").alias("redirect_to"),
        ).toPandas()

    with ThreadPoolExecutor(max_workers=2) as pool:
        gaz_f = pool.submit(_collect_gazetteer, kb)
        ents_f = pool.submit(_ents_pdf)
        gaz, ents = gaz_f.result(), ents_f.result()
    evecs = _evecs_from_ents(ents, wvec_bc)
    redirect_pairs = [
        (int(e), int(t))
        for e, t in zip(ents["entity_id"], ents["redirect_to"])
        if t is not None
    ]
    canon = canonicalize.union_find_mapping(ents["entity_id"], redirect_pairs)
    sc = spark.sparkContext
    return sc.broadcast(gaz), sc.broadcast(evecs), sc.broadcast(canon)


_MISSING = object()  # lr_context_matrix legitimately returns None

# Executor-local packed entity-vector matrix, keyed by the evec
# broadcast id (same rationale as _IDX_CACHE).
_EVEC_PACK_CACHE: dict[int, tuple] = {}


def _build_evec_pack(evecs: dict):
    """{entity_id: vector} → (row index by id, float64 matrix)."""
    eids = sorted(evecs)
    # stored float64 (exact embedding of the float32 vectors) so the
    # per-candidate gather feeds cosine_batch conversion-free.
    # Trailing ZERO row: a sense whose entity_id has no entities row
    # (referential-integrity violation in the KB) scores with the zero
    # vector — spec.centroid's empty-vocab result and the shuffle
    # path's left-join default — instead of KeyError-ing
    rows = [evecs[e] for e in eids]
    rows.append(np.zeros(spec.EMBED_DIM, dtype=np.float64))
    return {e: i for i, e in enumerate(eids)}, np.stack(rows, dtype=np.float64)


def _evec_pack(evecs: dict, cache_key: int):
    pack = _EVEC_PACK_CACHE.get(cache_key)
    if pack is None:
        pack = _build_evec_pack(evecs)
        _EVEC_PACK_CACHE.clear()
        _EVEC_PACK_CACHE[cache_key] = pack
    return pack


# memory budget for one scoring chunk: flattened context vectors are
# COPIED by np.stack (the per-word arrays themselves are cache refs),
# so cap the copy at ~2M 32-dim rows (~512 MB stacked directly as f64)
MAX_CTX_ROWS_PER_CHUNK = 2_000_000


def _pick_batch_centroid(
    tokens_by_row, found_by_row, gaz, evec_pack, vec_fn, interned=None
):
    """Centroid-mode scoring for a WHOLE Arrow batch in a few numpy
    ops instead of 3-4 small numpy calls per mention: intern the
    batch's distinct context words into one small float64 matrix,
    GATHER the per-mention context rows by integer index (C-speed —
    stacking ~1M tiny arrays was 2s/100k rows), one sequential
    segment-fold (spec.seq_segment_sums) per chunk for the centroids,
    one row-wise cosine for all (mention, candidate) pairs, one
    lexsort argmax (spec.pick_batch).
    Bit-identical to the per-row path because spec.centroid/cosine are
    single-segment wrappers of the same batch primitives, gathered
    rows are the exact float32 word vectors (float64 embedding is
    exact), and chunking is per-mention (segment math is unaffected).
    Chunks bound worker memory on long texts."""
    eidx, E = evec_pack
    vf = vec_fn or _cached_word_vec
    active = [
        (row_i, tokens, found)
        for row_i, (tokens, found) in enumerate(zip(tokens_by_row, found_by_row))
        if found
    ]
    picked_by_row: list[list] = [[] for _ in tokens_by_row]
    if not active:
        return picked_by_row
    # one C-speed factorize over the batch (shared with detection when
    # the caller passes it in — a python dict.get per word occurrence
    # was ~0.4 s/100k rows)
    if interned is None:
        interned = _intern_tokens(tokens_by_row)
    codes, uniques, offsets = interned
    # per-batch word interning: unique word → row in the vector matrix
    # (−1 = OOV under a file-backed store); the float64 conversion and
    # the vf() call run once per DISTINCT word — and only for words
    # reachable from mention-bearing rows, so a sparse-mention batch
    # doesn't vectorize its whole vocabulary (matters for file-backed
    # stores with no process-wide cache)
    act_rows = np.asarray([a[0] for a in active], dtype=np.int64)
    a_start = offsets[act_rows]
    a_len = offsets[act_rows + 1] - a_start
    a_total = int(a_len.sum())
    if a_total:
        a_pos = np.repeat(
            a_start - (np.cumsum(a_len) - a_len), a_len
        ) + np.arange(a_total, dtype=np.int64)
        used = np.unique(codes[a_pos])
    else:
        used = np.zeros(0, dtype=np.int64)
    wvecs: list[np.ndarray] = []
    umap = np.full(len(uniques), -1, dtype=np.int64)
    for j in used:
        v = vf(uniques[j])
        if v is not None:
            umap[j] = len(wvecs)
            wvecs.append(v)
    idx_flat = umap[codes]
    # per-surface candidate template: (eidx row, entity id, prior)
    # arrays computed once per distinct surface in the batch — hot
    # surfaces repeat constantly, and the prior division is identical
    # whichever mention triggers it
    surf_tmpl: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    seg_bounds: list[int] = []  # 2 (start,end) segment pairs per mention
    eidx_parts: list[np.ndarray] = []
    eid_parts: list[np.ndarray] = []
    prior_parts: list[np.ndarray] = []
    cand_counts: list[int] = []
    meta: list[tuple[int, int, int, str]] = []  # (row_i, begin, end, surface)
    for row_i, tokens, found in active:
        o0 = offsets[row_i]
        o1 = offsets[row_i + 1]
        for begin, end, surface in found:
            seg_bounds.extend((o0, o0 + begin, o0 + end, o1))
            tmpl = surf_tmpl.get(surface)
            if tmpl is None:
                senses = gaz[surface]
                total = sum(s[1] for s in senses)
                # missing entity → the trailing zero row of E
                zero_row = len(eidx)
                tmpl = (
                    np.asarray(
                        [eidx.get(s[0], zero_row) for s in senses],
                        dtype=np.int64,
                    ),
                    np.asarray([s[0] for s in senses], dtype=np.int64),
                    np.asarray(
                        [s[1] / total if total else 0.0 for s in senses],
                        dtype=np.float64,
                    ),
                )
                surf_tmpl[surface] = tmpl
            eidx_parts.append(tmpl[0])
            eid_parts.append(tmpl[1])
            prior_parts.append(tmpl[2])
            cand_counts.append(len(tmpl[1]))
            meta.append((row_i, begin, end, surface))
    n_mentions = len(meta)
    # vectorized context assembly: every mention's context is two
    # slices of its row's interned-token array ([row start, mention
    # begin) and [mention end, row end)); expand all segments to flat
    # positions with repeat/arange arithmetic, gather, drop OOV (−1),
    # and keep per-mention valid counts — zero per-mention numpy calls
    # (both a python-list and a tiny-ndarray-per-mention variant of
    # this loop measured ~2 s/100k rows in small-op overhead)
    sb = np.asarray(seg_bounds, dtype=np.int64).reshape(-1, 2)
    seg_lens = sb[:, 1] - sb[:, 0]
    seg_cum = np.cumsum(seg_lens)
    total_ctx = int(seg_cum[-1]) if seg_lens.size else 0
    if total_ctx:
        flat_pos = np.repeat(
            sb[:, 0] - (seg_cum - seg_lens), seg_lens
        ) + np.arange(total_ctx, dtype=np.int64)
        ctx_idx = idx_flat[flat_pos]
        valid = ctx_idx >= 0
        ctx_valid = ctx_idx[valid]
        vcum = np.concatenate(([0], np.cumsum(valid, dtype=np.int64)))
        # mention m covers segments 2m, 2m+1 → context positions
        # [seg_cum[2m]−len[2m], seg_cum[2m+1])
        ment_end_pos = seg_cum[1::2]
        ment_start_pos = ment_end_pos - seg_lens[1::2] - seg_lens[0::2]
        ctx_counts = vcum[ment_end_pos] - vcum[ment_start_pos]
    else:
        ctx_valid = np.zeros(0, dtype=np.int64)
        ctx_counts = np.zeros(n_mentions, dtype=np.int64)
    M = (
        np.stack(wvecs, dtype=np.float64)
        if wvecs
        else np.zeros((0, spec.EMBED_DIM), dtype=np.float64)
    )
    mid_a = np.repeat(
        np.arange(n_mentions, dtype=np.int64),
        np.asarray(cand_counts, dtype=np.int64),
    )
    eid_a = np.concatenate(eid_parts)
    eidx_a = np.concatenate(eidx_parts)
    prior_a = np.concatenate(prior_parts)
    vstarts = np.concatenate(([0], np.cumsum(ctx_counts)))
    start = 0
    while start < n_mentions:
        # maximal chunk whose valid-context rows fit the memory bound
        # (an oversized single mention still gets its own chunk)
        end = max(
            start + 1,
            int(
                np.searchsorted(
                    vstarts,
                    vstarts[start] + MAX_CTX_ROWS_PER_CHUNK,
                    side="right",
                )
            )
            - 1,
        )
        counts_c = ctx_counts[start:end]
        rows = int(vstarts[end] - vstarts[start])
        cents = np.zeros((end - start, spec.EMBED_DIM), dtype=np.float32)
        mask = counts_c > 0
        if rows:
            W = M[ctx_valid[vstarts[start] : vstarts[end]]]
            starts_c = vstarts[start:end] - vstarts[start]
            cents[mask] = spec.centroid_batch(W, starts_c[mask], counts_c[mask])
        # candidates of this mention chunk (cand_mid is nondecreasing)
        c0 = int(np.searchsorted(mid_a, start, side="left"))
        c1 = int(np.searchsorted(mid_a, end, side="left"))
        mid_c = mid_a[c0:c1]
        eid_c = eid_a[c0:c1]
        cos = spec.cosine_batch(cents[mid_c - start], E[eidx_a[c0:c1]])
        scores = spec.score_candidates_batch(prior_a[c0:c1], cos, "centroid")
        for pos in spec.pick_batch(mid_c, eid_c, scores):
            m = int(mid_c[pos])
            row_i, begin, mend, surface = meta[m]
            picked_by_row[row_i].append(
                (begin, mend, surface, int(eid_c[pos]), float(scores[pos]))
            )
        start = end
    return picked_by_row


def _pick_rows_fallback(
    tokens_by_row, found_by_row, gaz, evecs, score_mode, vec_fn
):
    """Per-row scoring for the prior/lr modes (prior needs no vector
    math; lr already amortizes via the per-span matrix cache)."""
    picked_by_row: list[list] = []
    for tokens, found in zip(tokens_by_row, found_by_row):
        picked: list = []
        ctx_cache: dict = {}
        for begin, end, surface in found:
            cands = _score_senses(
                gaz[surface], tokens, begin, end, evecs, score_mode,
                ctx_cache, vec_fn,
            )
            p = spec.pick_sense(cands)
            if p is not None:
                picked.append((begin, end, surface, p[0], p[1]))
        picked_by_row.append(picked)
    return picked_by_row


def _pick_all(
    tokens_by_row, found_by_row, gaz, evecs, score_mode, vec_fn, evec_key,
    interned=None,
):
    """``evec_key`` is the evec broadcast id the packed matrix is
    cached under; None packs ``evecs`` for this call only (the
    shuffle kernel's per-batch vectors)."""
    if score_mode == "centroid":
        pack = (
            _build_evec_pack(evecs) if evec_key is None
            else _evec_pack(evecs, evec_key)
        )
        return _pick_batch_centroid(
            tokens_by_row, found_by_row, gaz, pack, vec_fn, interned
        )
    return _pick_rows_fallback(
        tokens_by_row, found_by_row, gaz, evecs, score_mode, vec_fn
    )


def _intern_tokens(tokens_by_row):
    """One C-speed factorize over the batch's tokens: (codes, uniques,
    row offsets). Shared by detection (per-distinct-token prune
    lengths) and the centroid scorer (per-distinct-word vectors)."""
    flat: list[str] = []
    lengths = np.empty(len(tokens_by_row), dtype=np.int64)
    for i, t in enumerate(tokens_by_row):
        flat.extend(t)
        lengths[i] = len(t)
    codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    return codes, uniques, offsets


def _detect_all(tokens_by_row, gaz, idx, interned):
    """Batch detection: the first-token prune value is computed once
    per DISTINCT token (factorize + gather) instead of one .lower()
    + dict probe per occurrence; rows whose positions are all pruned
    skip the scan loop entirely. Probe semantics live in
    spec.detect_mentions_pruned (identical to spec.detect_mentions)."""
    codes, uniques, offsets = interned
    if len(uniques):
        maxln_u = np.asarray(
            [idx.get(u.lower(), 0) for u in uniques], dtype=np.int64
        )
        maxln_flat = maxln_u[codes]
    else:
        maxln_flat = np.zeros(0, dtype=np.int64)
    hit_cum = np.concatenate(
        ([0], np.cumsum(maxln_flat > 0, dtype=np.int64))
    )
    found_by_row: list[list] = []
    for r, tokens in enumerate(tokens_by_row):
        o0, o1 = offsets[r], offsets[r + 1]
        if hit_cum[o1] == hit_cum[o0]:
            found_by_row.append([])
        else:
            found_by_row.append(
                spec.detect_mentions_pruned(tokens, gaz, maxln_flat[o0:o1])
            )
    return found_by_row


def _link_rows(texts, gaz, evecs, idx, score_mode, vec_fn, evec_key):
    """Shared kernel prelude: tokenize → batch-interned detection →
    batch scoring. ``texts`` is a plain list of strings (guide §4: the
    kernels iterate bare column lists, not itertuples rows — pandas
    row tuples materialize every cell, Timestamps included, at ~1 µs
    per row·column). Returns picked_by_row."""
    tokens_by_row = [spec.tokenize(t or "") for t in texts]
    interned = _intern_tokens(tokens_by_row)
    found_by_row = _detect_all(tokens_by_row, gaz, idx, interned)
    return _pick_all(
        tokens_by_row, found_by_row, gaz, evecs, score_mode, vec_fn,
        evec_key, interned,
    )


def _score_senses(senses, tokens, begin, end, evecs, score_mode, ctx_cache, vec_fn=None):
    """Candidate scores for one mention span, shared by both kernels.
    Modes (spec.SCORE_MODES): centroid cosine, LR logistic context
    (LREntityScorer.java:36-50), or prior-only. The per-span ctx cache
    avoids recomputing the context when a span has many candidates.
    ``vec_fn`` switches the word-vector source from the built-in
    pseudo-embedding to a file-backed store (spec.store_vec_fn)."""
    total = sum(s[1] for s in senses)
    if score_mode == "prior":
        return [
            (eid, spec.score_candidate(occ / total if total else 0.0, 0.0, "prior"))
            for eid, occ, _doc in senses
        ]
    key = (begin, end)
    if score_mode == "lr":
        # the (matrix, counts) pair is span-invariant — cache it so k
        # candidate senses cost k matrix-vector products, not k full
        # Counter+stack rebuilds
        mat = ctx_cache.get(key, _MISSING)
        if mat is _MISSING:
            mat = spec.lr_context_matrix(
                tokens[:begin] + tokens[end:], vec_fn or _cached_word_vec
            )
            ctx_cache[key] = mat
        return [
            (
                eid,
                spec.score_candidate(
                    occ / total if total else 0.0,
                    spec.lr_score_from_matrix(
                        mat, spec.entity_vec(evecs, eid)
                    ),
                    "lr",
                ),
            )
            for eid, occ, _doc in senses
        ]
    if score_mode != "centroid":
        raise ValueError(f"unknown score_mode {score_mode!r} (see spec.SCORE_MODES)")
    ctx = ctx_cache.get(key)
    if ctx is None:
        # shared-spec centroid (batch-primitive wrapper) with the
        # executor word-vector cache — identical values either way
        ctx = spec.centroid(tokens[:begin] + tokens[end:], vec_fn or _cached_word_vec)
        ctx_cache[key] = ctx
    return [
        (
            eid,
            spec.score_candidate(
                occ / total if total else 0.0,
                spec.cosine(ctx, spec.entity_vec(evecs, eid)),
                "centroid",
            ),
        )
        for eid, occ, _doc in senses
    ]


def _turn_layout(conv: DataFrame, n_partitions: int | None) -> DataFrame:
    """The kernels' input layout: only the columns they read (guide
    §4 — mapInPandas is opaque to Catalyst's pruning, so without the
    select unused columns like ts cross the Arrow boundary on every
    row), hash-partitioned by conv_id and sorted by (conv_id,
    turn_idx) inside each partition, so each conversation arrives
    contiguous and turn-ordered (the north-rule layout, mirroring
    grisp's one-page-per-map-call atomicity,
    LabelSensesStep.java:199-311)."""
    n_partitions = n_partitions or conv.sparkSession.sparkContext.defaultParallelism
    return conv.select(
        "conv_id", "turn_idx", "role", "tool", "text"
    ).repartition(n_partitions, "conv_id").sortWithinPartitions(
        "conv_id", "turn_idx"
    )


_MENTION_COLS = ("begin", "end", "surface", "entity_id", "score")


def _linked_frame(pdf: pd.DataFrame, picked_by_row) -> pd.DataFrame:
    """One LINKED_SCHEMA row per picked mention of each ``pdf`` row,
    built column-wise (a row gather plus one transpose)."""
    ridx = [i for i, picked in enumerate(picked_by_row) for _ in picked]
    out = pdf[["conv_id", "turn_idx", "role", "tool"]].iloc[ridx]
    out = out.reset_index(drop=True)
    mentions = [m for picked in picked_by_row for m in picked]
    cols = zip(*mentions) if mentions else [[]] * len(_MENTION_COLS)
    for name, col in zip(_MENTION_COLS, cols):
        out[name] = col
    return out


def link_mentions(
    conv: DataFrame,
    gaz_bc,
    evec_bc,
    n_partitions: int | None = None,
    score_mode: str = "centroid",
    wvec_bc=None,
) -> DataFrame:
    """conversations → linked mentions, one Arrow pass over
    _turn_layout. Rows need not be unique per (conv_id, turn_idx):
    each row links on its own."""
    # driver-side stable broadcast ids, captured into the closure
    cache_key = gaz_bc._jbroadcast.id()
    evec_key = evec_bc._jbroadcast.id()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gaz = gaz_bc.value
        evecs = evec_bc.value
        vec_fn = spec.store_vec_fn(wvec_bc.value) if wvec_bc is not None else None
        idx = _first_token_index(gaz, cache_key)
        for pdf in batches:
            picked_by_row = _link_rows(
                pdf["text"].tolist(), gaz, evecs, idx, score_mode, vec_fn,
                evec_key,
            )
            yield _linked_frame(pdf, picked_by_row)

    return _turn_layout(conv, n_partitions).mapInPandas(run, schema=LINKED_SCHEMA)


TRIPLES_SCHEMA = "conv_id string, turn_idx int, subj long, pred string, obj string"


def _triples_frame(pdf: pd.DataFrame, picked_by_row, canon_get, carry):
    """TRIPLES_SCHEMA frame of ``pdf``'s linked rows, given in
    (conv_id, turn_idx) order, under spec's turn-window rule, and the
    window carry for the rows that follow."""
    cols, carry = spec.window_triples(
        pdf["conv_id"].tolist(), pdf["turn_idx"].tolist(),
        pdf["role"].tolist(), pdf["tool"].tolist(),
        [{canon_get(p[3], p[3]) for p in picked} for picked in picked_by_row],
        carry,
    )
    return pd.DataFrame(cols), carry


def link_and_extract(
    conv: DataFrame,
    gaz_bc,
    evec_bc,
    canon_bc,
    n_partitions: int | None = None,
    score_mode: str = "centroid",
    wvec_bc=None,
) -> DataFrame:
    """Fused map-side pipeline: detection + linking + canonicalization
    + per-turn-window triple extraction in ONE Arrow pass.

    _turn_layout delivers each conversation contiguous and turn-ordered
    inside its partition, so the 2-turn window is a running carry
    (spec.window_triples' previous conv_id / turn_idx / entity set)
    held ACROSS pandas batches of the same partition — no groupBy, no
    window shuffle, no explode. After the single layout shuffle,
    triple extraction is embarrassingly parallel, which is grisp's own
    architecture (everything map-side against broadcast caches,
    README.md:9) and the reason the job scales linearly at 10^12
    turns.

    The window follows spec's turn-window rule (literal turn t-1, a
    reset at every turn_idx gap), the same rule the staged path
    (link_mentions → canonicalize.rewrite_linked →
    triples.extract_triples) evaluates in SQL; a duplicate
    (conv_id, turn_idx) key fails the task with spec's
    duplicate_key_error. ``canon_bc`` broadcasts {entity_id:
    canonical_id} from canonicalize.canonical_map."""
    # driver-side stable broadcast ids, captured into the closure
    cache_key = gaz_bc._jbroadcast.id()
    evec_key = evec_bc._jbroadcast.id()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gaz = gaz_bc.value
        evecs = evec_bc.value
        canon_get = canon_bc.value.get
        vec_fn = spec.store_vec_fn(wvec_bc.value) if wvec_bc is not None else None
        idx = _first_token_index(gaz, cache_key)
        carry = spec.NO_TURN
        for pdf in batches:
            picked_by_row = _link_rows(
                pdf["text"].tolist(), gaz, evecs, idx, score_mode, vec_fn,
                evec_key,
            )
            triples, carry = _triples_frame(pdf, picked_by_row, canon_get, carry)
            yield triples

    return _turn_layout(conv, n_partitions).mapInPandas(run, schema=TRIPLES_SCHEMA)
