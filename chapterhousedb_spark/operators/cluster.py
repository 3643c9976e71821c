"""Connected-components clustering over near-dup pairs.

Pair generators (minhash/simhash/ngram/embedding near-dup) emit edges;
an actual dedup pipeline needs the transitive closure of those edges —
"doc A ~ B and B ~ C" must collapse to ONE cluster so exactly one
survivor is kept per group. This module turns an edge list into
(id, component) labels with component = min id in the component, the
standard canonical-survivor convention.

Scale-adaptive solve (one place for every entry point): the projected
edges plus the node ids, as (id, id) rows, are checkpointed once and
collected in ONE capped `limit(cap + 1)` action. At or under
`_LOCAL_MAX_ROWS` rows the graph is solved on the driver by a numpy
union-find and returned as one local frame — a near-dup graph of a few
hundred edges costs one collect instead of a Spark job per round, whose
per-job constants dominate at that size. Over the cap the checkpointed
rows feed one of the two distributed solvers below, so the pair plan
upstream runs once either way; `max_iters` only bounds those solvers.

Distributed solver 1, iterative min-label propagation: every round each
node takes the min of its own label and its neighbors' labels;
converged when no label changes. Rounds needed = graph diameter, and
near-dup graphs are dense clumps with tiny diameter (a dup cluster is
near-clique shaped), so 2-4 rounds is typical regardless of corpus size.
Per round: one equi-join of labels against the symmetric edge list
keyed on node id, one min-aggregate — both shuffle on node id, both
benefit from map-side partial aggregation. Convergence is detected with
a 1-row aggregate. `localCheckpoint` after every round truncates
lineage so the plan stays O(1) deep instead of growing per iteration
(an un-checkpointed iterative join would hand Catalyst an exponentially
nested plan).

Distributed solver 2, for adversarial graphs with large diameter (long
chains, not dup-shaped): `connected_components_star` implements the
published alternating large-star/small-star construction (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14), which
converges in O(log^2 n) rounds regardless of diameter — same
interface, same (id, min-id component) output, equality test-pinned.

Reference parity note: the reference engine (ChapterhouseDB) has no
clustering operator — this is part of the beyond-reference
training-data surface (SURVEY.md §7.3.6).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# Edges plus node ids solved on the driver; above it the distributed
# solvers run. 1M rows (~16 MB of longs) covers every sf0.1 graph.
_LOCAL_MAX_ROWS = 1 << 20


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    id_col: str = "id",
    component_col: str = "component",
    max_iters: int | None = None,
    algorithm: str = "label",
) -> DataFrame:
    """(id, component) labels; component = min node id in the component.

    edges: undirected pairs (any orientation, duplicates fine); pairs
    with a null endpoint are dropped.
    nodes: optional 1-column frame of ALL node ids — pass it to also
    label isolated nodes (singleton components), e.g. every document in
    a corpus, not only those appearing in some pair.

    Graphs of at most `_LOCAL_MAX_ROWS` edges + nodes are solved on the
    driver (module docstring); larger ones by the distributed solver
    that `algorithm` names: "label" (default — min-label propagation,
    diameter rounds, the cheap choice for near-clique dedup graphs) or
    "star" (connected_components_star: O(log^2 n) rounds for
    chain-shaped graphs). Identical output either way (test-pinned),
    so callers switch solvers without changing call sites. The one
    difference: with nodes=None, a node whose only edges are
    self-loops is labeled by "label" and dropped by "star".

    max_iters: rounds budget of the distributed solver; None resolves
    per-algorithm — 30 propagation rounds for "label", 50 alternating
    rounds for "star" (ADVICE r10: forwarding the label default
    silently tightened the star solver's documented budget for callers
    switching via the kwarg).
    """
    if algorithm not in ("label", "star"):
        raise ValueError(
            f"algorithm must be 'label' or 'star', got {algorithm!r}"
        )
    star = algorithm == "star"
    e = edges.select(
        F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
    ).where(F.col("s").isNotNull() & F.col("d").isNotNull())
    if star or nodes is not None:
        # self-loops connect nothing; only "label" without a node frame
        # keeps them, as the declaration of their node
        e = e.where(F.col("s") != F.col("d"))
    if nodes is not None:
        node = F.col(nodes.columns[0]).cast("long")
        e = e.unionByName(nodes.select(node.alias("s"), node.alias("d")))
    # ONE checkpoint of the edges and the (id, id) node rows before the
    # capped collect: over the cap the distributed solver reads these
    # blocks instead of re-running the pair plan
    rows = e.localCheckpoint(eager=False)
    labels = _solve_on_driver(rows, nodes is not None, star)
    if labels is None:
        node_ids = None
        if nodes is not None:
            is_node = F.col("s").eqNullSafe(F.col("d"))
            node_ids = rows.where(is_node).select(F.col("s").alias("id"))
            rows = rows.where(~is_node)
        if max_iters is None:
            max_iters = 50 if star else 30
        solve = _star_rounds if star else _label_rounds
        labels = solve(rows, node_ids, max_iters)
    return labels.select(
        F.col("id").alias(id_col), F.col("comp").alias(component_col)
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    id_col: str = "id",
    component_col: str = "component",
    max_iters: int = 50,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., SoCC'14) — the documented escape hatch for CHAIN-shaped
    graphs (VERDICT r9 #7): same interface and same (id, component =
    min member id) output as `connected_components`, but convergence
    is O(log^2 n) ROUNDS regardless of graph diameter, where min-label
    propagation needs diameter rounds (a 512-node path: 10 alternating
    rounds vs 511 propagation rounds — test-pinned). Self-loops are
    dropped, not componentized. Small graphs take the same driver path
    as `connected_components` (module docstring)."""
    return connected_components(
        edges, src, dst, nodes, id_col, component_col, max_iters, "star"
    )


def _solve_on_driver(
    rows: DataFrame, has_nodes: bool, star: bool
) -> DataFrame | None:
    """(id, comp) labels as one local frame, or None over the cap.

    One action collects `rows`: the (s, d) edges and, with a node frame,
    the node ids as (id, id) self-rows — self-loop edges are dropped
    then, so s == d marks exactly the node rows. The output replays
    each distributed solver's node set: "label" labels every member of
    a component holding a node, with the min node id; "star" labels
    every non-root edge endpoint plus every node. Under the documented
    contract (nodes covers every endpoint) both are the min-id labeling
    of all nodes."""
    t = rows.limit(_LOCAL_MAX_ROWS + 1).toArrow()
    if t.num_rows > _LOCAL_MAX_ROWS:
        return None
    # edges are null-free, so a null row is a null node id; both
    # distributed solvers label it (null, null)
    null_node = t.column("s").null_count > 0
    t = t.filter(pc.is_valid(t.column("s")))
    s = t.column("s").to_numpy()
    d = t.column("d").to_numpy()
    ids, inv = np.unique(np.concatenate([s, d]), return_inverse=True)
    u, v = inv[: len(s)], inv[len(s) :]
    n = len(ids)
    root = _min_roots(n, u, v)
    if has_nodes:
        is_node = np.zeros(n, dtype=bool)
        is_node[u[u == v]] = True
    else:
        is_node = np.ones(n, dtype=bool)
    if star:
        keep = is_node | (root != np.arange(n))
        comp = root
    else:
        # min node index per component; n marks a component without one
        first = np.full(n, n)
        np.minimum.at(first, root[is_node], np.flatnonzero(is_node))
        comp = first[root]
        keep = comp < n
    out_id = pa.array(ids[keep], pa.int64())
    out_comp = pa.array(ids[comp[keep]], pa.int64())
    if null_node:
        out_id = pa.concat_arrays([out_id, pa.nulls(1, pa.int64())])
        out_comp = pa.concat_arrays([out_comp, pa.nulls(1, pa.int64())])
    return rows.sparkSession.createDataFrame(
        pa.table({"id": out_id, "comp": out_comp})
    )


def _min_roots(n: int, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Union-find over n nodes and the edges (u[i], v[i]), vectorized:
    every root hooks onto the smallest root it shares an edge with
    (min-root union), then pointer jumping halves every path at once
    until each node points at its root; repeat until no edge joins two
    roots. Pointers only ever go to smaller indices, so the forest is
    acyclic and each component's root is its min index; every round
    hooks at least one root, so it terminates."""
    parent = np.arange(n)
    while True:
        ru, rv = parent[u], parent[v]
        cross = ru != rv
        if not cross.any():
            return parent
        np.minimum.at(
            parent,
            np.maximum(ru[cross], rv[cross]),
            np.minimum(ru[cross], rv[cross]),
        )
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up


def _label_rounds(
    e: DataFrame, node_ids: DataFrame | None, max_iters: int
) -> DataFrame:
    """Distributed min-label propagation over the (s, d) edges; node_ids
    (column id) defaults to every endpoint.

    Monotone convergence: labels only ever decrease, so the global
    label sum strictly decreases every non-converged round — one cheap
    1-row aggregate per round detects the fixpoint without a join.
    """
    # symmetrize in ONE pass over the edge source (union of e with its
    # flip would consume the upstream plan twice)
    sym = e.select(
        F.explode(
            F.array(
                F.struct(F.col("s"), F.col("d")),
                F.struct(F.col("d").alias("s"), F.col("s").alias("d")),
            )
        ).alias("x")
    ).select("x.s", "x.d")
    # pre-partition on the join key and persist THAT: every round's
    # labels-edges join then reuses the cached distribution (Exchange
    # only on the small label side), instead of re-shuffling the edge
    # list once per round
    sym = sym.repartition("d").persist(StorageLevel.MEMORY_AND_DISK)

    if node_ids is None:
        node_ids = sym.select(F.col("s").alias("id")).distinct()

    # LAZY localCheckpoint: the convergence aggregate right below is the
    # round's ONLY action — it computes every partition (a global sum),
    # which materializes the checkpoint in the SAME job, so each round
    # costs one Spark job instead of two (eager checkpoint + separate
    # agg). Lineage truncation and cached-partition reuse are identical
    # to the eager form once that first action has run.
    labels = node_ids.select("id", F.col("id").alias("comp")).localCheckpoint(
        eager=False
    )
    # decimal sum: immune to long overflow even at 1e9 nodes with 64-bit ids
    sum_expr = F.sum(F.col("comp").cast("decimal(38,0)"))
    prev_sum = labels.agg(sum_expr).first()[0]

    for _ in range(max_iters):
        neighbor = labels.join(sym, labels["id"] == sym["d"]).select(
            F.col("s").alias("id"), "comp"
        )
        new_labels = (
            labels.union(neighbor).groupBy("id").agg(F.min("comp").alias("comp"))
        ).localCheckpoint(eager=False)
        new_sum = new_labels.agg(sum_expr).first()[0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(graph diameter exceeds max_iters — raise it, or use "
            "connected_components_star for chain-shaped graphs)"
        )

    sym.unpersist()
    return labels


def _star_rounds(
    e: DataFrame, node_ids: DataFrame | None, max_iters: int
) -> DataFrame:
    """Distributed large-star/small-star rounds over the (s, d) edges
    (self-loops already dropped); node_ids (column id) defaults to every
    endpoint.

    Per round (both stars are one groupBy + one join keyed on node id,
    map-side-combinable, nothing collected):
    - large-star: around each node u, every LARGER neighbor re-hangs
      onto m = min(neighbors + self) — long tails fold toward minima
      without densifying small nodes;
    - small-star: edges orient larger -> smaller, and around each u
      every smaller neighbor (and u itself) hangs onto its min.
    Edges only ever re-point DOWNWARD, so the edge multiset hash is a
    monotone convergence witness: the loop stops when a full
    large+small round leaves the (count, hash-sum) signature unchanged
    — at that fixpoint the edge set IS the star labeling (u -> root).
    localCheckpoint truncates the iterative lineage per round, same as
    the propagation loop.

    Trade-off vs min-label: ~2x the shuffles per round and a distinct
    per star, so on near-clique dedup graphs (diameter 2-4) the
    propagation wins; on adversarial components (linked lists of
    paraphrase chains, web-graph tails) this is the difference between
    10 rounds and thousands."""
    e = e.select(F.col("s").alias("u"), F.col("d").alias("v"))
    if node_ids is None:
        node_ids = e.select(F.col("u").alias("id")).union(
            e.select(F.col("v").alias("id"))
        )
    node_ids = node_ids.distinct()

    # lazy checkpoint: _sig's count+hash aggregate computes every
    # partition, materializing the checkpoint in the same job (one job
    # per round instead of checkpoint + sig — see the label loop)
    E = e.distinct().localCheckpoint(eager=False)

    def _sig(frame: DataFrame) -> tuple:
        row = frame.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum of a 64-bit hash: an order-independent set
            # signature immune to long overflow
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev = _sig(E)
    for _ in range(max_iters):
        # ---- large-star
        sym = E.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("x")
        ).select("x.u", "x.v")
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        # NO mid-round distinct (r16, guide §2.4): the small-star
        # distinct below collapses any duplicate large-star edges
        # identically (min over a multiset == min over a set, and the
        # join/union rows dedup at the round-end distinct), so the
        # round-end E is bit-identical with or without it — dropping it
        # removes one full (u, v) exchange + two hash aggregates per
        # round. Volume stays bounded: the large-star output is at most
        # one row per sym edge either way, and the round-end partial
        # aggregation still dedups map-side before its exchange.
        E = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        # ---- small-star (edges now orient larger -> smaller)
        ori = E.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        smins = ori.groupBy("u").agg(F.min("v").alias("m"))
        E = (
            ori.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        cur = _sig(E)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iters} "
            "alternating rounds — pathological only beyond ~2^sqrt("
            f"{max_iters}) nodes; raise max_iters"
        )

    # fixpoint edges are (member -> root); roots and isolated nodes
    # label themselves
    member_labels = E.select(F.col("u").alias("id"), F.col("v").alias("comp"))
    singletons = node_ids.join(
        member_labels.select("id"), "id", "left_anti"
    ).select("id", F.col("id").alias("comp"))
    return member_labels.unionByName(singletons)


def components_update(
    labels: DataFrame,
    new_edges: DataFrame,
    new_nodes: DataFrame | None = None,
    id_col: str = "id",
    component_col: str = "component",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Incrementally fold a batch of new edges (and optional new nodes)
    into existing component labels WITHOUT recomputing components from
    scratch — the maintenance step the cross-corpus ingest gates
    (dedup.minhash/simhash `_cross`, similarity cross embedding
    near-dup) feed: each admitted crawl batch yields batch><corpus +
    batch self pairs, and the corpus' cluster labels must absorb them.

    Invariant: the result equals `connected_components` run on the
    full union graph (old membership + new edges + new nodes) — the
    unit tests assert exact equality.

    Why it's cheap: a component whose members touch NO new-edge
    endpoint cannot change (new edges are the only new connectivity),
    so only the TOUCHED components re-solve. Existing membership of a
    touched component is encoded as star edges (member -> label); the
    label is itself the component's min member id, so the star is a
    faithful, diameter-2 stand-in for the original edge set. The
    subgraph solve then runs over |touched members| + |batch| rows —
    independent of corpus size.

    At 100 TB: one semi-join finds touched components (shuffle keyed
    on id), one join keyed on component pulls their members, and the
    solve runs on the small slice (on the driver while it fits under
    the cap); the untouched label mass
    is a single anti-join pass-through with no propagation rounds.
    Labels only ever DECREASE (new mins can only merge components), so
    repeated batch folds converge exactly like the batch solver.
    """
    lab = labels.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(component_col).cast("long").alias("comp"),
    )
    # checkpoint the batch edges: the solve, the touched-component
    # lookup and the untouched pass-through all read them, and they
    # usually come straight out of a near-dup pair plan
    e = new_edges.select(
        F.col(src).cast("long").alias("id_a"),
        F.col(dst).cast("long").alias("id_b"),
    ).localCheckpoint(eager=False)
    endpoints = (
        e.select(F.col("id_a").alias("id"))
        .union(e.select(F.col("id_b").alias("id")))
        .distinct()
    )
    touched_comps = (
        lab.join(endpoints, "id", "left_semi").select("comp").distinct()
    )
    touched = lab.join(touched_comps, "comp")
    # star edges reconstruct touched-component membership; the label
    # node (min id) is itself a member, so connectivity is preserved
    star = touched.select(
        F.col("id").alias("id_a"), F.col("comp").alias("id_b")
    )
    sub_nodes = endpoints.union(touched.select("id"))
    if new_nodes is not None:
        sub_nodes = sub_nodes.union(
            new_nodes.select(
                F.col(new_nodes.columns[0]).cast("long").alias("id")
            )
        )
    sub_labels = connected_components(
        star.union(e),
        src="id_a",
        dst="id_b",
        nodes=sub_nodes.distinct(),
        id_col="id",
        component_col="comp",
    )
    # a pre-labeled node re-solved in the subgraph must NOT also keep
    # its old row: untouched = everything whose component was not
    # touched. New-node singletons exist only in sub_labels.
    untouched = lab.join(touched_comps, "comp", "left_anti")
    return untouched.unionByName(sub_labels).select(
        F.col("id").alias(id_col), F.col("comp").alias(component_col)
    )


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """One row per cluster: the canonical survivor (min id) + cluster size.

    The end state of a dedup pipeline: pairs -> components -> keep-list.
    Singleton documents (no near-dup) survive as their own cluster of 1.
    """
    comps = connected_components(
        pairs, src=src, dst=dst, nodes=docs.select(id_col), id_col=id_col
    )
    return (
        comps.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .select(F.col("component").alias(id_col), "cluster_size")
    )
