"""connected_components / dedup_survivors unit tests.

Every solve below 1M rows takes the driver path; the `paths` fixture
re-runs a check with the cap forced to 0, so the distributed solvers
stay covered by the same assertions."""

from __future__ import annotations

import random

import pytest

from chapterhousedb_spark.operators import cluster
from chapterhousedb_spark.operators.cluster import (
    components_update,
    connected_components,
    connected_components_star,
    dedup_survivors,
)


@pytest.fixture
def paths(monkeypatch):
    """Iterate a check over both sides of the driver-solve threshold:
    the default cap (driver path), then cap=0 (distributed solvers)."""
    default = cluster._LOCAL_MAX_ROWS

    def each():
        for cap in (default, 0):
            monkeypatch.setattr(cluster, "_LOCAL_MAX_ROWS", cap)
            yield cap

    return each


@pytest.fixture
def distributed(monkeypatch):
    """Force the distributed solvers, where `max_iters` applies."""
    monkeypatch.setattr(cluster, "_LOCAL_MAX_ROWS", 0)


def _comps(spark, edges, nodes=None, **kw):
    e = spark.createDataFrame(edges or [], "id_a long, id_b long")
    n = spark.createDataFrame([(x,) for x in nodes], "doc_id long") if nodes else None
    df = connected_components(e, nodes=n, **kw)
    return {r["id"]: r["component"] for r in df.collect()}


def test_chain_needs_multiple_rounds(spark, paths):
    # path 1-2-3-4-5: diameter 4, forces several propagation rounds
    for _ in paths():
        got = _comps(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_two_components_and_orientation(spark, paths):
    # edges in mixed orientation + a duplicate edge
    for _ in paths():
        got = _comps(spark, [(2, 1), (1, 2), (3, 2), (10, 11)])
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_singletons_via_nodes(spark, paths):
    for _ in paths():
        got = _comps(spark, [(1, 2)], nodes=[1, 2, 7, 9])
        assert got == {1: 1, 2: 1, 7: 7, 9: 9}


def test_empty_edges_all_singletons(spark, paths):
    for _ in paths():
        got = _comps(spark, [], nodes=[4, 5, 6])
        assert got == {4: 4, 5: 5, 6: 6}


def test_max_iters_raises_on_long_chain(spark, distributed):
    edges = [(i, i + 1) for i in range(1, 9)]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, max_iters=2)


def test_survivors_sizes(spark, paths):
    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    for _ in paths():
        got = {
            r["doc_id"]: r["cluster_size"]
            for r in dedup_survivors(docs, pairs).collect()
        }
        # clusters: {1,2,3} -> 1, {5,6} -> 5, singletons 4 and 7
        assert got == {1: 3, 5: 2, 4: 1, 7: 1}


def _update(spark, labels, new_edges, new_nodes=None):
    lab = spark.createDataFrame(
        [(i, c) for i, c in labels.items()], "id long, component long"
    )
    e = spark.createDataFrame(new_edges or [], "id_a long, id_b long")
    n = (
        spark.createDataFrame([(x,) for x in new_nodes], "doc_id long")
        if new_nodes
        else None
    )
    df = components_update(lab, e, new_nodes=n)
    return {r["id"]: r["component"] for r in df.collect()}


def test_components_update_equals_full_recompute(spark, paths):
    """The incremental invariant: folding a batch into existing labels
    == recomputing components on the union graph."""
    base_edges = [(1, 2), (2, 3), (10, 11), (20, 21), (30, 31)]
    base_nodes = [1, 2, 3, 10, 11, 20, 21, 30, 31, 40]  # 40 = singleton
    # batch: bridges two old components (3-10), attaches a new node to
    # an old one (21-50), pairs two brand-new nodes (60-61), and admits
    # an isolated new node (70)
    batch_edges = [(3, 10), (21, 50), (60, 61)]
    batch_nodes = [50, 60, 61, 70]
    for _ in paths():
        labels = _comps(spark, base_edges, nodes=base_nodes)
        got = _update(spark, labels, batch_edges, new_nodes=batch_nodes)
        want = _comps(
            spark, base_edges + batch_edges, nodes=base_nodes + batch_nodes
        )
        assert got == want
        # spot meaning: 1-2-3-10-11 merged under min id 1; 70 singleton
        assert got[10] == 1 and got[11] == 1 and got[70] == 70
        # untouched components keep their labels verbatim
        assert got[30] == 30 and got[31] == 30 and got[40] == 40


def test_components_update_chained_batches(spark, paths):
    """Several successive batch folds stay equal to the one-shot
    recompute — the actual ingest-loop usage pattern."""
    batches = [
        ([(2, 5)], [5]),
        ([(7, 8), (8, 9)], [7, 8, 9]),
        ([(5, 9)], []),  # merges the two growing clusters
    ]
    for _ in paths():
        all_edges = [(1, 2)]
        nodes = [1, 2]
        labels = _comps(spark, all_edges, nodes=nodes)
        for edges, new in batches:
            labels = _update(spark, labels, edges, new_nodes=new or None)
            all_edges = all_edges + edges
            nodes = nodes + new
            want = _comps(spark, all_edges, nodes=nodes)
            assert labels == want, (edges, labels, want)
        assert set(labels.values()) == {1}


def test_components_update_empty_batch_is_identity_plus_singletons(spark, paths):
    for _ in paths():
        labels = _comps(spark, [(1, 2)], nodes=[1, 2, 3])
        got = _update(spark, labels, [], new_nodes=[50])
        assert got == {1: 1, 2: 1, 3: 3, 50: 50}


def test_components_update_randomized_vs_recompute(spark, paths):
    """Randomized cross-check with fixed seeds: random base graph,
    random batch, incremental == full recompute."""
    for _ in paths():
        for seed in (7, 23):
            rng = random.Random(seed)
            base_nodes = list(range(1, 40))
            base_edges = [
                (rng.choice(base_nodes), rng.choice(base_nodes))
                for _ in range(25)
            ]
            labels = _comps(spark, base_edges, nodes=base_nodes)
            new_nodes = list(range(100, 110))
            pool = base_nodes + new_nodes
            batch = [(rng.choice(pool), rng.choice(new_nodes)) for _ in range(12)]
            got = _update(spark, labels, batch, new_nodes=new_nodes)
            want = _comps(
                spark, base_edges + batch, nodes=base_nodes + new_nodes
            )
            assert got == want, seed


# ------------------------------------------- large-star / small-star


def _star(spark, edges, nodes=None, **kw):
    e = spark.createDataFrame(edges or [], "id_a long, id_b long")
    n = spark.createDataFrame([(x,) for x in nodes], "doc_id long") if nodes else None
    df = connected_components_star(e, nodes=n, **kw)
    return {r["id"]: r["component"] for r in df.collect()}


def test_star_basic_shapes(spark, paths):
    for _ in paths():
        assert _star(spark, [(1, 2), (2, 3), (3, 4), (4, 5)]) == {
            1: 1, 2: 1, 3: 1, 4: 1, 5: 1
        }
        assert _star(spark, [(2, 1), (1, 2), (3, 2), (10, 11)]) == {
            1: 1, 2: 1, 3: 1, 10: 10, 11: 10
        }
        assert _star(spark, [(1, 2)], nodes=[1, 2, 7, 9]) == {
            1: 1, 2: 1, 7: 7, 9: 9
        }
        assert _star(spark, [], nodes=[4, 5, 6]) == {4: 4, 5: 5, 6: 6}
        # self-loops are dropped, not componentized
        assert _star(spark, [(3, 3), (1, 2)], nodes=[1, 2, 3]) == {
            1: 1, 2: 1, 3: 3
        }


def test_star_equals_min_label_on_random_graphs(spark, paths):
    """Equality with connected_components on random graphs (VERDICT r9
    #7's done-criterion) — three seeds, mixed density, with isolated
    nodes in the node frame."""
    for _ in paths():
        for seed in (3, 17, 99):
            rng = random.Random(seed)
            n = 60
            edges = [
                (rng.randrange(n), rng.randrange(n))
                for _ in range(rng.choice((25, 60, 140)))
            ]
            edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]
            e = spark.createDataFrame(edges, "id_a long, id_b long")
            nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
            want = {
                r["id"]: r["component"]
                for r in connected_components(
                    e, nodes=nodes, max_iters=80
                ).collect()
            }
            got = {
                r["id"]: r["component"]
                for r in connected_components_star(e, nodes=nodes).collect()
            }
            assert got == want, seed


def test_star_chain_converges_in_log_rounds(spark, distributed):
    """The adversarial case the escape hatch exists for: a 512-node
    path has diameter 511, so min-label propagation cannot converge in
    14 rounds — the alternating algorithm must (O(log^2 n): ~10 rounds
    at n=512), with identical labels."""
    edges = [(i, i + 1) for i in range(511)]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, max_iters=14)
    got = {
        r["id"]: r["component"]
        for r in connected_components_star(e, max_iters=14).collect()
    }
    assert got == {i: 0 for i in range(512)}


def test_algorithm_kwarg_unifies_solvers(spark, paths):
    """connected_components(algorithm=...) switches solvers without
    changing call sites: 'star' == 'label' on the same graph, an
    unknown name errors, and 'star' handles the chain 'label' cannot
    at the same max_iters."""
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    for _ in paths():
        lab = {r["id"]: r["component"] for r in connected_components(e).collect()}
        star = {
            r["id"]: r["component"]
            for r in connected_components(e, algorithm="star").collect()
        }
        assert lab == star == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
        with pytest.raises(ValueError, match="algorithm"):
            connected_components(e, algorithm="bogus")
        got = {
            r["id"]: r["component"]
            for r in connected_components(
                chain, max_iters=12, algorithm="star"
            ).collect()
        }
        assert got == {i: 0 for i in range(201)}


# ------------------------------------------- driver path vs distributed


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda r: (r[0] is None, r)
    )


def test_driver_path_equals_distributed_on_random_graphs(spark, paths):
    """Both sides of the cap give the same rows for both algorithms, on
    random graphs with negative ids, self-loops, duplicate and
    mixed-orientation edges, null endpoints (dropped), isolated nodes,
    a null node id, nodes that miss some endpoints, and empty edges."""
    cases = []
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        edges = [
            (rng.randrange(-25, 25), rng.randrange(-25, 25))
            for _ in range(rng.choice((15, 40)))
        ]
        edges += [edges[0][::-1], edges[1], (4, 4), (None, 4), (5, None)]
        nodes = (
            None
            if seed == 1
            else rng.sample(range(-25, 25), 30) + [90, 91, None]
        )
        cases.append((edges, nodes))
    cases.append(([], [4, 5, 6]))
    for edges, nodes in cases:
        e = spark.createDataFrame(edges, "id_a long, id_b long")
        n = (
            None
            if nodes is None
            else spark.createDataFrame([(x,) for x in nodes], "doc_id long")
        )
        for algorithm in ("label", "star"):
            on_driver, distributed_rows = (
                _rows(connected_components(e, nodes=n, algorithm=algorithm))
                for _ in paths()
            )
            assert on_driver == distributed_rows, (algorithm, edges, nodes)


def test_small_solve_runs_at_most_two_jobs(spark):
    """A <=100-edge graph costs one capped collect, not a job per round:
    at most 2 Spark jobs for the whole call, for either algorithm."""
    rng = random.Random(5)
    e = spark.createDataFrame(
        [(rng.randrange(200), rng.randrange(200)) for _ in range(100)],
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    for algorithm in ("label", "star"):
        before = dag.nextJobId()
        labels = connected_components(e, nodes=nodes, algorithm=algorithm)
        assert dag.nextJobId() - before <= 2, algorithm
        assert labels.count() == 200
