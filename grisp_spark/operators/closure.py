"""Iterative-join graph closure operators.

The reference resolves redirect chains by chasing LMDB pointers with
a visited-set cycle check (util/RedirectCache.java:156-198). The
distributed equivalents here:

- ``resolve_chains``: pointer jumping (ptr ← ptr∘ptr) — O(log L)
  shuffle-join rounds for chains of length L.
- ``connected_components``: min-label propagation to fixpoint over
  undirected edges — canonicalization for surface-form equivalence
  (cycles are simply components; min-id is the canonical, a documented
  deviation from grisp's -1-on-cycle).

Both cut lineage every round with ``localCheckpoint`` so the plan
doesn't grow exponentially — the per-round shuffle is keyed by node
id, so at 100 TB the cost is rounds × one hash shuffle of the edge
set, and AQE coalesces the (shrinking) frontier.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_chains(
    edges: DataFrame,
    max_rounds: int = 16,
    driver_threshold: int | None = None,
) -> DataFrame:
    """(src, dst) pointer table → (src, terminal). Terminal nodes are
    rows with src == dst (or dst absent from src column). Cycle-safe:
    pointer jumping converges inside a cycle to a fixed orbit; callers
    wanting grisp's drop-on-cycle behavior can anti-join terminals
    against cycle members.

    Like ``connected_components``, redirect/pointer tables are usually
    broadcast-sized even on a 100 TB corpus (the reference's redirect
    set is ~40M rows, RedirectCache.java:59) — below
    ``driver_threshold`` edges (default DRIVER_CC_THRESHOLD) the chain
    walk runs on the driver in one collect instead of O(log L)
    iterative join rounds, each of which costs a full job of scheduling
    latency (r8 measurement: the q13 chain graph resolves in 6 rounds
    ≈ 12 jobs distributed vs 2 jobs on the driver). The driver walk
    simulates the SAME pointer doubling (same max_rounds, same orbit
    behavior on cycles), so results are identical in every regime; a
    non-functional pointer table (duplicate src) falls back to the
    distributed path, whose join semantics duplicates exercise."""
    if driver_threshold is None:
        driver_threshold = DRIVER_CC_THRESHOLD
    if (
        driver_threshold > 0
        and edges.limit(driver_threshold + 1).count() <= driver_threshold
    ):
        pdf = edges.select("src", "dst").toPandas()
        if not pdf["src"].duplicated().any():
            spark = edges.sparkSession
            ptr = dict(zip(pdf["src"].tolist(), pdf["dst"].tolist()))
            for _ in range(max_rounds):
                moved = False
                nxt = {}
                for s, d in ptr.items():
                    nd = ptr.get(d, d)
                    if nd != d:
                        moved = True
                    nxt[s] = nd
                ptr = nxt
                if not moved:
                    break
            # Arrow path (pandas input): the list-of-tuples overload
            # builds a PythonRDD whose tasks each need a pickle-mode
            # python worker — a 32-fork spawn storm serialized on the
            # SparkEnv.createPythonWorker monitor, measured 1.2-4.6 s
            # inside q13's timed window (jstack evidence in
            # OPTIMIZATION_r08.md). pandas → Arrow converts on the
            # driver; the scan tasks stay pure JVM.
            out = pd.DataFrame(
                sorted((int(s), int(d)) for s, d in ptr.items()),
                columns=["src", "terminal"],
                dtype="int64",
            )
            return spark.createDataFrame(out, "src long, terminal long")
    cur = edges.select("src", "dst")
    for _ in range(max_rounds):
        a, b = cur.alias("a"), cur.alias("b")
        # the moved flag rides the round's own join (advanced iff the
        # jump target exists and differs) — probing convergence via a
        # second nxt⋈cur join would double the per-round shuffle cost
        nxt = a.join(b, F.col("a.dst") == F.col("b.src"), "left").select(
            F.col("a.src").alias("src"),
            F.coalesce(F.col("b.dst"), F.col("a.dst")).alias("dst"),
            (
                F.col("b.dst").isNotNull() & (F.col("b.dst") != F.col("a.dst"))
            ).alias("moved"),
        )
        # non-eager checkpoint: the convergence probe below is the
        # materializing action, so each round costs ONE job (the r02
        # shape — eager checkpoint + separate filter/count — ran two
        # jobs per round and regressed q13 by 71%)
        nxt = nxt.localCheckpoint(eager=False)
        moved = nxt.agg(F.max("moved")).first()[0]
        cur = nxt.select("src", "dst")
        if not moved:
            break
    return cur.select("src", F.col("dst").alias("terminal"))


def bfs_depth(
    edges: DataFrame, roots: DataFrame, max_rounds: int = 32
) -> DataFrame:
    """Min-hop depth of every reachable node from a root set, by
    level-synchronous BFS over directed (src → dst) edges — the
    analogue of the reference's page/category depth summary
    (PageDepthSummary semantics: distance from the root category).

    ``roots`` is an (id) frame at depth 0. Each round expands the
    frontier one hop (edge join), drops already-seen nodes
    (anti-join against the accumulated depth table), and stops when
    the frontier empties; the emptiness probe is the same count that
    materializes the round's checkpoint, so a round costs one job.
    Level order guarantees first arrival IS min depth. Raises only if
    the frontier can STILL expand after ``max_rounds`` rounds (a graph
    whose eccentricity equals max_rounds completes; a silent cap would
    mislabel deeper nodes as unreachable)."""
    # the edge plan is re-joined every round — materialize it once or
    # each round re-runs the caller's whole derivation pipeline
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    depth = roots.select("id", F.lit(0).alias("depth")).localCheckpoint(
        eager=True
    )
    frontier = depth
    for rnd in range(1, max_rounds + 2):
        nxt = (
            frontier.join(edges, frontier.id == edges.src)
            .select(F.col("dst").alias("id"), F.lit(rnd).alias("depth"))
            .distinct()
            .join(depth.select("id"), "id", "left_anti")
            .localCheckpoint(eager=False)
        )
        n_new = nxt.count()
        if n_new == 0:
            return depth
        if rnd > max_rounds:
            raise RuntimeError(
                f"bfs_depth did not converge in {max_rounds} rounds"
            )
        depth = depth.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt
    raise AssertionError("unreachable")


DRIVER_CC_THRESHOLD = 2_000_000


def connected_components(
    edges: DataFrame, max_rounds: int = 20, driver_threshold: int = DRIVER_CC_THRESHOLD
) -> DataFrame:
    """Undirected edges (src, dst) → (id, component) with component =
    min node id in the component.

    Equivalence graphs are usually broadcast-sized even when the
    corpus is 100 TB (the reference's redirect set is ~40M rows,
    RedirectCache.java:59) — below ``driver_threshold`` edges we
    union-find on the driver in one pass, the same driver-side-cache
    strategy grisp uses for redirects (DumpExtractor.java:325-344).
    Above it, iterative min-label propagation to fixpoint; rounds
    bounded by graph diameter."""
    if edges.limit(driver_threshold + 1).count() <= driver_threshold:
        return _driver_union_find(edges)
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sym = sym.distinct().localCheckpoint(eager=True)
    nodes = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        msgs = sym.join(nodes, sym.src == nodes.id).select(
            F.col("dst").alias("id"), F.col("component")
        )
        new_nodes = (
            nodes.select("id", "component")
            .union(msgs)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            # non-eager: the changed-probe join below materializes it
            .localCheckpoint(eager=False)
        )
        changed = (
            new_nodes.alias("n")
            .join(nodes.alias("o"), F.col("n.id") == F.col("o.id"))
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        nodes = new_nodes
        if changed == 0:
            break
    return nodes


def union_find_pairs(pairs) -> dict[int, int]:
    """Pure-python min-id union-find over (src, dst) pairs: the single
    implementation behind both the driver-side CC regime here and the
    fused-broadcast canonical map (canonicalize.union_find_mapping).
    Returns {node: component} for every node that appears in a pair
    (component = min id in the component)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in pairs:
        ra, rb = find(int(s)), find(int(d))
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Exact same (id, component) contract, computed on the driver."""
    spark = edges.sparkSession
    pdf = edges.select("src", "dst").toPandas()
    comp = union_find_pairs(zip(pdf["src"], pdf["dst"]))
    # pandas input → Arrow conversion on the driver; the list overload
    # would spawn pickle-mode python workers per partition (see
    # resolve_chains' driver path)
    out = pd.DataFrame(
        sorted(comp.items()), columns=["id", "component"], dtype="int64"
    )
    return spark.createDataFrame(out, "id long, component long")
