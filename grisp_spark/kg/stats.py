"""Label statistics builder — grisp steps 3+5 analogue.

Computes the gazetteer's own statistics back from the corpus:
link_occ/link_doc per (label, sense) from linked mentions (A1/A2,
LabelSensesStep.java:199-311,427-464) and text_occ/text_doc per label
from all detected occurrences (A3, LabelOccurrencesStep.java:153-239),
merged like the reference's sorted full-outer label merge
(DumpExtractor.java:701-853). Doc counts use count_distinct(conv_id) —
identical to the reference's count-1-per-doc-then-sum because
detection pre-aggregates per conversation.

Partial aggregation (the reference's combiner-as-reducer) is Spark's
default hash-agg plus AQE's skew handling; the explicit two-phase
salted aggregation for hot keys is queries_relational2.q16_salted_stats."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def occ_doc_agg(
    df: DataFrame, keys: list[str], occ: str, doc: str, doc_col: str = "conv_id"
) -> DataFrame:
    """groupBy(keys).agg(count(*), countDistinct(doc_col)) computed as
    a two-level aggregate: per-(keys, doc) partial counts first, then
    sum + count. Identical values, but no Expand doubling the
    pre-shuffle stream — the map-side partial agg on (keys, doc)
    compresses repeated tokens within a conversation BEFORE the
    shuffle, which is the difference between shuffling the token
    stream and shuffling the vocabulary at 100 TB (measured ~30%
    faster at sf0.1 on the exploded-token agg, A/B in BENCH notes)."""
    return (
        df.groupBy(*keys, doc_col)
        .agg(F.count("*").alias("_c"))
        .groupBy(*keys)
        # count(doc_col), not count(*): countDistinct excluded NULL
        # docs, so the NULL-doc group must not count as a document
        # (occ still includes its rows, matching the old count(*))
        .agg(F.sum("_c").alias(occ), F.count(doc_col).alias(doc))
    )


def link_stats(linked: DataFrame) -> DataFrame:
    return occ_doc_agg(linked, ["surface", "entity_id"], "link_occ", "link_doc")


def text_stats(mentions: DataFrame) -> DataFrame:
    return occ_doc_agg(mentions, ["surface"], "text_occ", "text_doc")


def build_label_stats(mentions: DataFrame, linked: DataFrame) -> DataFrame:
    """(label, entity_id, link_occ, link_doc, text_occ, text_doc) for
    every linked sense — the J5 merge. Linked surfaces are a subset of
    detected surfaces, so this is a left join from the link side; the
    reference's A-only/B-only warning branches become the sanity view
    below."""
    ls = link_stats(linked)
    ts = text_stats(mentions)
    return (
        ls.join(ts, "surface", "left")
        .select(
            F.col("surface").alias("label"),
            "entity_id",
            "link_occ",
            "link_doc",
            F.coalesce("text_occ", F.lit(0)).alias("text_occ"),
            F.coalesce("text_doc", F.lit(0)).alias("text_doc"),
        )
    )


def sanity_violations(label_stats: DataFrame) -> DataFrame:
    """Labels where summed link_occ exceeds text_occ — the reference's
    weird-label warning (DumpExtractor.java:785-789). Should be empty
    by construction (every linked mention is a detected mention)."""
    per_label = label_stats.groupBy("label", "text_occ").agg(
        F.sum("link_occ").alias("sum_link_occ")
    )
    return per_label.filter(F.col("sum_link_occ") > F.col("text_occ"))
