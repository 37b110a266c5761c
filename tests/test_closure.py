"""Closure operators: driver fast path ≡ distributed iterative path."""

from grisp_spark.operators.closure import connected_components, resolve_chains


def _edges(spark):
    # two chains, one cycle, one isolated self-loop
    rows = [(90, 91), (91, 0), (92, 93), (93, 94), (94, 1), (95, 96), (96, 95), (7, 7)]
    return spark.createDataFrame(rows, "src long, dst long")


def test_cc_driver_path(spark):
    got = {
        (r.id, r.component)
        for r in connected_components(_edges(spark)).collect()
    }
    expected = {
        (0, 0), (90, 0), (91, 0),
        (1, 1), (92, 1), (93, 1), (94, 1),
        (95, 95), (96, 95), (7, 7),
    }
    assert got == expected


def test_cc_distributed_path_matches_driver(spark):
    e = _edges(spark)
    driver = {(r.id, r.component) for r in connected_components(e).collect()}
    dist = {
        (r.id, r.component)
        for r in connected_components(e, driver_threshold=0).collect()
    }
    assert dist == driver


def test_resolve_chains_terminal(spark):
    rows = [(90, 91), (91, 0), (0, 0), (92, 93), (93, 1), (1, 1)]
    e = spark.createDataFrame(rows, "src long, dst long")
    got = {(r.src, r.terminal) for r in resolve_chains(e).collect()}
    assert got == {(90, 0), (91, 0), (0, 0), (92, 1), (93, 1), (1, 1)}


def test_bfs_depth_min_hop_and_bounds(spark):
    """Diamond graph: a node reachable at depths 2 and 3 must get 2
    (level order = min-hop); unreachable nodes are absent; cycles
    don't loop (anti-join drops seen nodes); exceeding max_rounds
    raises instead of silently capping."""
    from grisp_spark.operators.closure import bfs_depth

    # 1→2→4, 1→3, 3→4 (diamond), 4→1 (cycle back), 9→10 unreachable
    edges = spark.createDataFrame(
        [(1, 2), (2, 4), (1, 3), (3, 4), (4, 1), (9, 10)],
        "src long, dst long",
    )
    roots = spark.createDataFrame([(1,)], "id long")
    got = {r.id: r.depth for r in bfs_depth(edges, roots).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2}

    import pytest as _pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        bfs_depth(chain, spark.createDataFrame([(0,)], "id long"), max_rounds=3)
    # eccentricity EXACTLY max_rounds completes (the raise fires only
    # when the frontier can still expand afterwards)
    short = spark.createDataFrame(
        [(i, i + 1) for i in range(3)], "src long, dst long"
    )
    got3 = {
        r.id: r.depth
        for r in bfs_depth(
            short, spark.createDataFrame([(0,)], "id long"), max_rounds=3
        ).collect()
    }
    assert got3 == {0: 0, 1: 1, 2: 2, 3: 3}
