"""Per-turn-window (subj, pred, obj) triple extraction.

Triple shape follows the reference's explicit triple extractor
(ProcessInfoBoxes.java:117-151: subject / property / value). Over
transcripts:

- (entity, 'mentioned_by', role)       — per turn with the entity linked
- (entity, 'used_with_tool', tool)     — tool turns only
- (a, 'co_occurs_with', b), a < b      — within the 2-turn window
  W_t = E_{t-1} ∪ E_t, emitted at turn t iff at least one side is in
  E_t (so a pair fully inside E_{t-1} was already emitted at t-1)

The window is spec's turn-window rule (literal turn t-1, a reset at a
turn_idx gap) evaluated in SQL; spec.window_triples is the same rule
for the Arrow kernels. (conv_id, turn_idx) must be a row key of the
conversations (KGPipeline.stage_linked checks it): the per-turn
groupBy below would merge two rows under one key.

All JVM-side: collect_set per turn, lag window, double explode — no
Python in this stage, and no redundant work:

- turns with no linked mentions emit nothing and contribute an empty
  E_{t-1}, so the stage runs on linked mentions alone — the previous
  design joined a distinct()-ed spine of ALL conversations (a full
  shuffle of the corpus) just to model empty turns. The lag over
  linked turns only sees the previous turn WITH mentions, so the
  window takes its entities only when that turn is turn_idx−1: a
  linked turn t-1 contributes E_{t-1}, and a turn t-1 without
  mentions or a gap contributes the same empty set.
- every branch emits rows unique by construction (ents are sets; the
  window array is a sorted set; preds are disjoint across branches),
  so there is NO final distinct() — that was an 11s full-output
  shuffle doing nothing.
- the shared ``turns`` frame is persisted: three branches consume it,
  and without the persist the Arrow linking stage upstream recomputes
  three times."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def extract_triples(linked: DataFrame) -> DataFrame:
    """linked mentions (conv_id, turn_idx, role, tool, canonical_id)
    → triples (conv_id, turn_idx, subj, pred, obj)."""
    empty = F.array().cast("array<bigint>")
    per_turn = linked.groupBy("conv_id", "turn_idx").agg(
        F.array_sort(F.collect_set("canonical_id")).alias("ents"),
        F.first("role").alias("role"),
        F.first("tool").alias("tool"),
    )
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    turns = per_turn.withColumn(
        "prev_ents",
        F.when(
            F.lag("turn_idx").over(w) == F.col("turn_idx") - 1, F.lag("ents").over(w)
        ).otherwise(empty),
    )
    turns = turns.withColumn("prev_ents", F.coalesce("prev_ents", empty)).persist()

    cur = turns.select(
        "conv_id", "turn_idx", "role", "tool", F.explode("ents").alias("subj")
    )
    mentioned = cur.select(
        "conv_id", "turn_idx", "subj",
        F.lit("mentioned_by").alias("pred"), F.col("role").alias("obj"),
    )
    used_tool = cur.filter(F.col("tool").isNotNull()).select(
        "conv_id", "turn_idx", "subj",
        F.lit("used_with_tool").alias("pred"), F.col("tool").alias("obj"),
    )

    windowed = turns.withColumn(
        "window", F.array_sort(F.array_union("prev_ents", "ents"))
    )
    pairs = (
        windowed.select(
            "conv_id", "turn_idx", "ents",
            F.explode("window").alias("a"), F.col("window").alias("win"),
        )
        .select(
            "conv_id", "turn_idx", "ents", "a", F.explode("win").alias("b")
        )
        .filter(
            (F.col("a") < F.col("b"))
            & (F.array_contains("ents", F.col("a")) | F.array_contains("ents", F.col("b")))
        )
        .select(
            "conv_id", "turn_idx",
            F.col("a").alias("subj"),
            F.lit("co_occurs_with").alias("pred"),
            F.col("b").cast("string").alias("obj"),
        )
    )
    return mentioned.unionByName(used_tool).unionByName(pairs)
