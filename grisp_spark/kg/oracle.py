"""Pure-Python reference oracle for the KG pipeline.

Implements the grisp extraction semantics (mention detection →
candidate generation → prior+context linking → redirect/CC
canonicalization → per-turn-window triples → label statistics)
row-by-row in plain Python, sharing the primitive functions in
kg/spec.py with the Spark stages. The pytest P/R≥0.95 gate compares
the Spark pipeline's emitted triple set to this oracle's
(BASELINE.json north_rule).

Semantics mirrored from the reference:
- per-document pre-aggregation for doc counts (LabelSensesStep.java:199-311)
- sense ordering / tie-breaks (DumpExtractor.java:930-944)
- redirect chain resolution, cycle-safe (RedirectCache.java:156-198) —
  realized as connected components with min-id canonical (documented
  deviation: grisp returns -1 on cycles; we keep the component)
- triple shape from the reference's only explicit triple extractor
  (ProcessInfoBoxes.java:117-151: subject / property / value)
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd

from grisp_spark.kg import spec

Triple = tuple[str, int, int, str, str]  # (conv_id, turn_idx, subj, pred, obj)


def build_gazetteer(kb: dict[str, pd.DataFrame]) -> dict[str, list[tuple[int, int, int]]]:
    """surface → [(entity_id, link_occ, link_doc)] ordered per O1."""
    gaz: dict[str, list[tuple[int, int, int]]] = defaultdict(list)
    for r in kb["label_stats"].itertuples(index=False):
        if len(r.label) >= spec.MAX_LABEL_CHARS:
            continue
        gaz[r.label].append((int(r.entity_id), int(r.link_occ), int(r.link_doc)))
    return {k: spec.order_senses(v) for k, v in gaz.items()}


def canonical_map(kb: dict[str, pd.DataFrame]) -> dict[int, int]:
    """Connected components over redirect equivalence edges; canonical
    = min entity_id in component. Union-find (the oracle's stand-in for
    the distributed pointer-jumping loop). A redirect target with no
    entities row still participates as a CC node (it can be the min-id
    canonical) but is NOT a key of the returned map — mirroring the
    Spark path, where connected_components sees every edge endpoint
    and the map joins back onto entities.entity_id only."""
    ents = kb["entities"]
    ids = [int(e) for e in ents.entity_id]
    parent: dict[int, int] = {e: e for e in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo

    for r in ents.itertuples(index=False):
        if pd.notna(r.redirect_to):
            t = _exact_id(r.redirect_to)
            parent.setdefault(t, t)
            union(int(r.entity_id), t)
    return {e: find(e) for e in ids}


def _exact_id(v) -> int:
    """Entity-id conversion that REFUSES silent float rounding: a
    pandas float64 column (how a nullable long materializes after
    toPandas) cannot represent ids above 2^53, and int(float) would
    quietly return the rounded neighbour — the bug the Spark collect
    path fixed with a string cast (linking.build_kb_broadcasts). The
    oracle defends loudly instead of diverging: pass redirect ids as
    Int64/object/string frames when ids can exceed 2^53."""
    if isinstance(v, float):
        if abs(v) >= 2**53:
            raise ValueError(
                f"redirect id {v!r} arrived as float64 and exceeds 2^53 — "
                "exact value lost upstream; cast the column to string or "
                "Int64 before handing the frame to the oracle"
            )
        if v != int(v):
            raise ValueError(f"non-integral redirect id {v!r}")
    return int(v)


def entity_vectors(
    kb: dict[str, pd.DataFrame], vec_fn=None
) -> dict[int, np.ndarray]:
    return {
        int(r.entity_id): spec.centroid(list(r.context_vocab), vec_fn)
        for r in kb["entities"].itertuples(index=False)
    }


def run_oracle(
    conversations: pd.DataFrame,
    kb: dict[str, pd.DataFrame],
    score_mode: str = "centroid",
    word_vectors: dict | None = None,
) -> dict[str, object]:
    gaz = build_gazetteer(kb)
    idx = spec.build_first_token_index(gaz)
    canon = canonical_map(kb)
    vec_fn = spec.store_vec_fn(word_vectors) if word_vectors is not None else None
    evecs = entity_vectors(kb, vec_fn)

    conv_sorted = conversations.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    dup = conv_sorted.duplicated(["conv_id", "turn_idx"])
    if dup.any():
        first = conv_sorted[dup].iloc[0]
        raise spec.duplicate_key_error(first.conv_id, first.turn_idx)

    mentions_rows = []
    linked_rows = []
    triples: set[Triple] = set()

    # label statistics with per-document pre-aggregation (A1/A3)
    text_occ: dict[str, int] = defaultdict(int)
    text_doc_sets: dict[str, set[str]] = defaultdict(set)
    link_occ: dict[tuple[str, int], int] = defaultdict(int)
    link_doc_sets: dict[tuple[str, int], set[str]] = defaultdict(set)

    prev_key = None
    prev_set: set[int] = set()
    for row in conv_sorted.itertuples(index=False):
        # the window reaches back to the LITERAL turn t-1 only
        if prev_key != (row.conv_id, row.turn_idx - 1):
            prev_set = set()
        prev_key = (row.conv_id, row.turn_idx)
        tokens = spec.tokenize(row.text or "")
        found = spec.detect_mentions(tokens, gaz, idx)
        cur_set: set[int] = set()
        for begin, end, surface in found:
            mentions_rows.append((row.conv_id, row.turn_idx, begin, end, surface))
            text_occ[surface] += 1
            text_doc_sets[surface].add(row.conv_id)
            senses = gaz[surface]
            total = sum(s[1] for s in senses)
            ctx_words = tokens[:begin] + tokens[end:]
            ctx = (
                spec.centroid(ctx_words, vec_fn) if score_mode == "centroid" else None
            )
            cands = []
            for eid, occ, _doc in senses:
                prior = occ / total if total else 0.0
                if score_mode == "prior":
                    ctx_score = 0.0
                elif score_mode == "lr":
                    ctx_score = spec.lr_context_score(
                        ctx_words, spec.entity_vec(evecs, eid), vec_fn
                    )
                else:
                    ctx_score = spec.cosine(ctx, spec.entity_vec(evecs, eid))
                cands.append((eid, spec.score_candidate(prior, ctx_score, score_mode)))
            picked = spec.pick_sense(cands)
            if picked is None:
                continue
            eid, score = picked
            # identity default for a linked entity with no entities
            # row — same as the fused path's canon.get(eid, eid) and
            # the staged path's left-join coalesce(canonical, entity)
            ceid = canon.get(eid, eid)
            linked_rows.append(
                (row.conv_id, row.turn_idx, begin, end, surface, eid, ceid, score)
            )
            link_occ[(surface, eid)] += 1
            link_doc_sets[(surface, eid)].add(row.conv_id)
            cur_set.add(ceid)

        # triples for this turn (window = turn t-1 ∪ turn t)
        for e in sorted(cur_set):
            triples.add((row.conv_id, int(row.turn_idx), e, "mentioned_by", row.role))
            if row.tool is not None and not (
                isinstance(row.tool, float) and pd.isna(row.tool)
            ):
                triples.add(
                    (row.conv_id, int(row.turn_idx), e, "used_with_tool", row.tool)
                )
        window = sorted(prev_set | cur_set)
        for i, a in enumerate(window):
            for b in window[i + 1 :]:
                if a in cur_set or b in cur_set:
                    triples.add(
                        (row.conv_id, int(row.turn_idx), a, "co_occurs_with", str(b))
                    )
        prev_set = cur_set

    label_stats_rows = []
    for surface in sorted(text_occ):
        senses = gaz[surface]
        for eid, _occ, _doc in senses:
            lo = link_occ.get((surface, eid), 0)
            if lo == 0:
                continue
            label_stats_rows.append(
                (
                    surface,
                    eid,
                    lo,
                    len(link_doc_sets[(surface, eid)]),
                    text_occ[surface],
                    len(text_doc_sets[surface]),
                )
            )

    return {
        "mentions": pd.DataFrame(
            mentions_rows, columns=["conv_id", "turn_idx", "begin", "end", "surface"]
        ),
        "linked": pd.DataFrame(
            linked_rows,
            columns=[
                "conv_id", "turn_idx", "begin", "end", "surface",
                "entity_id", "canonical_id", "score",
            ],
        ),
        "triples": triples,
        "label_stats": pd.DataFrame(
            label_stats_rows,
            columns=["label", "entity_id", "link_occ", "link_doc", "text_occ", "text_doc"],
        ),
        "canonical_map": canon,
    }


def precision_recall(
    got: set[Triple], expected: set[Triple]
) -> tuple[float, float]:
    if not got or not expected:
        return (0.0, 0.0)
    tp = len(got & expected)
    return tp / len(got), tp / len(expected)
