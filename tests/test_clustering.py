"""Near-dup cluster formation: connected components over pair graphs.

Covers both execution phases of ``connected_components``
(operators/dedup.py): min-label propagation for the shallow clique-like
graphs near-dup dedup produces, and the large-star/small-star
contraction fallback (Kiveris et al., "Connected Components in
MapReduce and Beyond") that keeps adversarial diameters — templated
chain spam, mirrored pagination — at O(log^2 n) rounds instead of
diameter-many.  Every labeling is verified against an independent
pure-Python union-find.
"""

import random

from bigquery_delta_plugins_spark.operators.dedup import (
    connected_components,
    near_dup_clusters,
)


def _union_find(edges):
    """Independent oracle: path-halving union-find with min-id roots."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in parent}


def _cc(spark, edges, **kw):
    stats = {}
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        (r["id"], r["component"])
        for r in connected_components(df, stats=stats, **kw).collect()
    }
    return got, stats


def test_connected_components_basic(spark):
    """Chain, clique, and separate pair resolve to min-id components in
    a bounded number of one-shuffle rounds; vertices outside the pair
    graph never appear (singletons are not clusters)."""
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)]
    got, stats = _cc(spark, edges)
    assert got == _union_find(edges)
    assert stats["star_rounds"] == 0  # diameter 3 stays on the fast path


def test_connected_components_deep_chain_converges(spark):
    """A diameter-1000 path graph — the shape the round-4 rail RAISED
    on — now converges through the large-star/small-star fallback in
    O(log^2 n) rounds with the identical min-id labeling."""
    edges = [(i, i + 1) for i in range(1000)]
    got, stats = _cc(spark, edges)
    assert got == _union_find(edges)
    assert got == {(i, 0) for i in range(1001)}
    assert 0 < stats["star_rounds"] <= 15  # log-ish, nowhere near 1000


def test_connected_components_big_clique_fast_path(spark):
    """A 1000-member clique (499,500 edges) converges on the min-label
    fast path in 2 rounds — the common near-dup shape never pays the
    contraction."""
    n = 1000
    edges = [(i, j) for i in range(n) for j in range(i + 1, n)]
    got, stats = _cc(spark, edges)
    assert got == {(i, 0) for i in range(n)}
    assert stats["label_rounds"] <= 3 and stats["star_rounds"] == 0


def test_connected_components_random_vs_union_find(spark):
    """Randomized sparse graphs (diameter > label budget, so the star
    phase runs) match an independent union-find exactly."""
    rnd = random.Random(42)
    for _ in range(2):
        edges = [
            (rnd.randrange(400), rnd.randrange(400)) for _ in range(500)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        got, stats = _cc(spark, edges)
        assert got == _union_find(edges)


def test_connected_components_forced_star_small_graph(spark):
    """label_rounds=1 forces the contraction phase on a toy graph —
    the two phases agree on the labeling."""
    edges = [(1, 2), (2, 3), (3, 4), (10, 11)]
    got, stats = _cc(spark, edges, label_rounds=1)
    assert got == _union_find(edges)
    assert stats["star_rounds"] > 0


def test_connected_components_releases_intermediate_storage(spark):
    """Iterative rounds must not accrete cached blocks: after the call,
    the only storage the operator may leave behind is the returned
    frame's own checkpoint (reclaimed on GC per the _finish contract).
    Runs both phases to cover both release paths."""
    sc = spark.sparkContext._jsc.sc()

    def cached_rdd_ids():
        return {i.id() for i in sc.getRDDStorageInfo()}

    before = cached_rdd_ids()
    edges = [(i, i + 1) for i in range(200)]  # deep: star phase runs
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    result = connected_components(df)
    result.count()
    leaked = cached_rdd_ids() - before
    # at most the returned frame's single checkpoint RDD survives
    assert len(leaked) <= 1


def test_near_dup_clusters_transitive(spark):
    """A~B and B~C near-dups land in ONE cluster even when the A/C pair
    itself never surfaced — the transitive-closure property that makes
    cluster-level dedup stronger than pairwise deletion."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base + " one"),
            (2, base + " one more"),
            (3, base + " one more word"),
            (4, "completely different content about spark shuffles at scale"),
        ],
        "doc_id long, text string",
    )
    rows = near_dup_clusters(docs, "doc_id", "text", threshold=0.4).collect()
    got = {(r["doc_id"], r["cluster_id"], r["cluster_size"]) for r in rows}
    assert {r["doc_id"] for r in rows} >= {1, 2, 3}
    assert 4 not in {r["doc_id"] for r in rows}
    assert got >= {(1, 1, 3), (2, 1, 3), (3, 1, 3)}


def test_star_fused_check_matches_per_round_check(spark):
    """r6 fused convergence: on small graphs the contraction loop runs
    TWO rounds per signature check.  This pins the soundness argument
    (equal fused signatures imply the per-round fixpoint) as data: the
    fused and per-round paths produce the IDENTICAL labeling on a deep
    chain plus a detached component, the fused path never runs more
    than two extra (no-op) rounds, and both match union-find."""
    from pyspark.sql import functions as F

    from bigquery_delta_plugins_spark.operators import dedup as DD

    edges_raw = [(i, i + 1) for i in range(80)] + [(200, 201), (201, 202)]
    df = spark.createDataFrame(edges_raw, "id_a long, id_b long")
    pairs = df.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    edges.count()
    vertices = edges.select(F.col("src").alias("id")).distinct()
    out = {}
    try:
        for fuse in (False, True):
            stats = {"label_rounds": 0, "star_rounds": 0}
            res = DD._cc_rounds(edges, vertices, 1, 40, stats, fuse=fuse)
            out[fuse] = (
                {(r["id"], r["component"]) for r in res.collect()},
                stats["star_rounds"],
            )
    finally:
        edges.unpersist()
    assert out[True][0] == out[False][0] == _union_find(edges_raw)
    assert out[True][1] > 0  # contraction phase actually ran
    assert out[False][1] <= out[True][1] <= out[False][1] + 2


def test_star_fused_odd_max_iter_runs_last_round(spark):
    """An odd ``max_iter`` must not drop its last round on the fused
    (two rounds per check) path: with ``max_iter=1`` a star forest —
    already the contraction fixpoint — converges in the one fused step
    instead of raising a false "did not converge"."""
    from bigquery_delta_plugins_spark.operators import dedup as DD

    # every non-root points straight at its component min: a fixpoint
    edges = spark.createDataFrame([(2, 1), (3, 1), (11, 10)], "src long, dst long")
    vertices = spark.createDataFrame([(v,) for v in (1, 2, 3, 10, 11)], "id long")
    stats = {"label_rounds": 0, "star_rounds": 0}
    res = DD._cc_rounds(edges, vertices, 0, 1, stats, fuse=True)
    got = {(r["id"], r["component"]) for r in res.collect()}
    assert got == _union_find([(1, 2), (1, 3), (10, 11)])
    assert stats["star_rounds"] == 2
