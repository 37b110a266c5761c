"""Shuffle-join mention linking — the oversized-gazetteer path.

``linking.link_mentions`` broadcasts the gazetteer dict, the Spark
analogue of grisp's executor-local LMDB caches (LabelCache.java:46
holds ~64M labels ≈ 10-15 GB as a python dict) — at and beyond that
scale the broadcast is the bottleneck. This module produces the SAME
linked-mention rows with the KB kept DISTRIBUTED end to end:

1. tokenize turns JVM-side (``regexp_extract_all`` on the shared
   spec.BOUNDARY_PATTERN);
2. join token positions against a DERIVED first-token index table
   (first token → max surface length, the distributed twin of
   spec.build_first_token_index) — only positions that can start a
   surface survive, so candidate inflation is bounded by real matches,
   not by MAX_LABEL_TOKENS;
3. expand candidate ngrams JVM-side (``transform``/``slice``) and
   equi-join them against the per-label sense table (sort-merge at
   scale — uniform string keys, AQE handles residual skew);
4. re-group the matched surfaces with their senses per conversation
   row (ROW_KEY) and run the broadcast path's own kernel
   (linking._link_rows: spec's greedy parse + the batch scorer) on
   each row's text against the Arrow batch's gazetteer subset —
   parity is structural, not re-implemented.

Entity context vectors are computed distributed too (mapInPandas over
the entities table) and ride the sense table as float32 arrays, so no
stage ever collects KB rows to the driver. Scale shape: two KB-sized
shuffles (index agg + sense agg, both O(|labels|)) plus corpus-side
equi-joins keyed by token/surface/turn — every join is hash-partition
colocatable; nothing is O(corpus × labels).

Reference: the stage replaces LabelSensesStep.java:190-328's
map-side LMDB probes with joins when the dictionary outgrows
executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grisp_spark.kg import linking, spec
from grisp_spark.kg.linking import LINKED_SCHEMA

# above this many labels the broadcast dict stops being the right
# plan (~1-2 GB of python dict); link_mentions_adaptive, the staged
# pipeline's linker, flips to the shuffle path (KGPipeline's
# broadcast_label_limit defaults to this)
BROADCAST_LABEL_LIMIT = 5_000_000


def _ngram_key_sql(col):
    """spec.ngram_key as a JVM expression (first char upper-cased)."""
    return F.concat(
        F.upper(F.substring(col, 1, 1)), col.substr(F.lit(2), F.length(col))
    )


def first_token_index_table(labels: DataFrame) -> DataFrame:
    """(first_tok, max_len): distributed spec.build_first_token_index."""
    return (
        labels.select(
            F.lower(F.substring_index("label", " ", 1)).alias("first_tok"),
            F.size(F.split("label", " ")).alias("ln"),
        )
        .groupBy("first_tok")
        .agg(F.max("ln").alias("max_len"))
    )


def entity_vectors_table(entities: DataFrame, wvec_bc=None) -> DataFrame:
    """(entity_id, vec float32[]) computed DISTRIBUTED — the same
    spec.centroid(context_vocab) the driver-side build_broadcasts
    runs, as a mapInPandas over the entities table."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vec_fn = spec.store_vec_fn(wvec_bc.value) if wvec_bc is not None else None
        for pdf in batches:
            vecs = [
                spec.centroid(list(vocab), vec_fn)
                for vocab in pdf["context_vocab"]
            ]
            yield pd.DataFrame({"entity_id": pdf["entity_id"], "vec": vecs})

    return entities.select("entity_id", "context_vocab").mapInPandas(
        run, schema="entity_id long, vec array<float>"
    )


# Row identity for the per-row joins: (conv_id, turn_idx) need not be
# unique, so rows also key on a hash of their text — derived from
# content, it is the same on every recompute of the frame, unlike
# monotonically_increasing_id after a shuffle. Rows that share all
# three columns share their text (barring a 64-bit hash collision) and
# link identically.
ROW_KEY = ["conv_id", "turn_idx", "text_hash"]


def _candidate_surfaces(rows_tok: DataFrame, idx: DataFrame) -> DataFrame:
    """(ROW_KEY, surface) for every ngram of a row that starts at a
    token able to start a surface (join vs the index) and is at most
    that token's max_len long — expanded JVM-side. A superset of the
    row's gazetteer matches; the kernel's spec parse picks among
    them."""
    positions = rows_tok.select(
        *ROW_KEY, F.posexplode("tokens").alias("pos", "tok")
    ).select(*ROW_KEY, "pos", F.lower("tok").alias("first_tok"))
    starts = (
        positions.join(idx, "first_tok")
        .groupBy(*ROW_KEY)
        .agg(F.collect_list(F.struct("pos", "max_len")).alias("starts"))
    )
    expanded = rows_tok.join(starts, ROW_KEY).select(
        *ROW_KEY, "tokens", F.explode("starts").alias("s")
    )
    # a start past the row's end can only come from another text under
    # the same key (a hash collision); dropping it keeps slice in range
    return expanded.filter(F.col("s.pos") < F.size("tokens")).select(
        *ROW_KEY,
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.col("s.max_len"),
                        F.lit(spec.MAX_LABEL_TOKENS),
                        F.size("tokens") - F.col("s.pos"),
                    ),
                ),
                lambda ln: _ngram_key_sql(
                    F.concat_ws(" ", F.slice("tokens", F.col("s.pos") + 1, ln))
                ),
            )
        ).alias("surface"),
    )


def _batch_kb(cands_by_row, with_vectors: bool):
    """The per-batch gazetteer {surface: ordered senses} and entity
    vectors {entity_id: float32 vector} of the rows' joined candidates.
    Every surface is a full-gazetteer surface and every gazetteer
    ngram of a row is among its candidates (the JVM tokens and first-
    token case folding are spec's), so spec's parse of the row's own
    tokens against this subset finds exactly the mentions it finds
    against the full gazetteer."""
    gaz: dict = {}
    evecs: dict = {}
    for cands in cands_by_row:
        for c in cands:
            surface = c["surface"]
            if surface in gaz:
                continue
            senses = c["senses"]
            gaz[surface] = spec.order_senses(
                [(int(s["entity_id"]), int(s["link_occ"]), int(s["link_doc"]))
                 for s in senses]
            )
            if with_vectors:
                for s in senses:
                    evecs[int(s["entity_id"])] = np.asarray(s["vec"], dtype=np.float32)
    return gaz, evecs


def link_mentions_shuffle(
    conv: DataFrame,
    kb: dict[str, DataFrame],
    n_partitions: int | None = None,
    score_mode: str = "centroid",
    wvec_bc=None,
) -> DataFrame:
    """conversations → linked mentions, KB distributed (no broadcast
    dict, no driver collect). Row-identical to
    ``linking.link_mentions`` over the same KB on any input (parity
    tests: tests/test_linking_shuffle.py)."""
    if score_mode not in spec.SCORE_MODES:
        raise ValueError(f"unknown score_mode {score_mode!r} (see spec.SCORE_MODES)")
    spark = conv.sparkSession
    n_partitions = n_partitions or spark.sparkContext.defaultParallelism

    labels = kb["label_stats"].filter(
        F.length("label") < spec.MAX_LABEL_CHARS
    ).select("label", "entity_id", "link_occ", "link_doc")

    sense_fields = [
        F.col("entity_id"),
        F.col("link_occ"),
        F.col("link_doc"),
    ]
    if score_mode == "prior":
        senses_src = labels
        sense_struct = F.struct(*sense_fields)
    else:
        evecs = entity_vectors_table(kb["entities"], wvec_bc)
        # LEFT join: a label_stats row whose entity_id has no entities
        # row must keep its sense (the broadcast path keeps it and
        # scores it with the zero vector, spec.centroid's empty-vocab
        # result) — an inner join would silently drop it and the
        # greedy region parse would diverge between the two paths
        zero_vec = F.array_repeat(
            F.lit(0.0).cast("float"), spec.EMBED_DIM
        )
        senses_src = labels.join(evecs, "entity_id", "left").withColumn(
            "vec", F.coalesce(F.col("vec"), zero_vec)
        )
        sense_struct = F.struct(*sense_fields, F.col("vec"))
    senses = senses_src.groupBy("label").agg(
        F.collect_list(sense_struct).alias("senses")
    )

    rows = conv.select(
        "conv_id", "turn_idx", "role", "tool", "text",
        F.xxhash64("text").alias("text_hash"),
    ).repartition(n_partitions, "conv_id")
    rows_tok = rows.select(
        *ROW_KEY,
        F.regexp_extract_all(
            F.coalesce("text", F.lit("")), F.lit(spec.BOUNDARY_PATTERN), 0
        ).alias("tokens"),
    )
    cands = _candidate_surfaces(rows_tok, first_token_index_table(labels))
    cands_per_row = (
        cands.join(senses, cands.surface == senses.label)
        .groupBy(*ROW_KEY)
        .agg(F.collect_list(F.struct("surface", "senses")).alias("cands"))
    )
    row_frame = rows.join(cands_per_row, ROW_KEY).select(
        "conv_id", "turn_idx", "role", "tool", "text", "cands"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vec_fn = spec.store_vec_fn(wvec_bc.value) if wvec_bc is not None else None
        for pdf in batches:
            gaz, evecs = _batch_kb(pdf["cands"].tolist(), score_mode != "prior")
            picked_by_row = linking._link_rows(
                pdf["text"].tolist(), gaz, evecs,
                spec.build_first_token_index(gaz), score_mode, vec_fn, None,
            )
            yield linking._linked_frame(pdf, picked_by_row)

    return row_frame.mapInPandas(run, schema=LINKED_SCHEMA)


def link_mentions_adaptive(
    conv: DataFrame,
    kb: dict[str, DataFrame],
    n_partitions: int | None = None,
    score_mode: str = "centroid",
    wvec_bc=None,
    broadcast_label_limit: int = BROADCAST_LABEL_LIMIT,
) -> DataFrame:
    """Pick the plan by gazetteer size: broadcast dict (map-side, one
    layout shuffle — linking.link_mentions) while the label table fits
    executor memory, shuffle joins beyond — closing the documented
    caveat at LabelCache.java:46 scale."""
    n_labels = kb["label_stats"].count()
    if n_labels <= broadcast_label_limit:
        spark = conv.sparkSession
        gaz_bc, evec_bc = linking.build_broadcasts(spark, kb, wvec_bc)
        return linking.link_mentions(
            conv, gaz_bc, evec_bc, n_partitions, score_mode, wvec_bc
        )
    return link_mentions_shuffle(conv, kb, n_partitions, score_mode, wvec_bc)
