"""Connected components: iterative large-star / small-star (§4.3).

Reproduces the reference's cluster semantics — every duplicate chain
resolves to its earliest member (backward refs only,
rabin/rabin_dedup.c:1606-1615) — as transitive closure with
representative = min(doc_id).

Algorithm: Kiveris et al., "Connected Components in MapReduce and Beyond"
(SoCC 2014), alternating large-star/small-star over the edge list;
converges in O(log n) rounds, each round is two hash-partitioned
aggregations + joins — no driver-side graph state, scales to edge lists
that don't fit anywhere.

Each iteration is localCheckpoint'ed to truncate lineage (the loop would
otherwise build an exponentially growing plan). The checkpoint is LAZY
(eager=False): the per-round fixpoint signature — a 1-row aggregate —
triggers it, so every round costs exactly ONE Spark job instead of an
eager-materialize job plus a signature job. At 60k docs the loop is
~6 rounds; halving the per-round barrier count matters for the N→4N
scaling efficiency more than any per-row math here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# edge sets at or below this row count (after canonicalization) are
# clustered by a driver-side union-find (one collect) instead of the
# distributed large-star/small-star loop, whose ~3 jobs/round x O(log n)
# rounds are pure scheduling overhead at metadata scale — the measured
# flat tail of the assignments stage (stage efficiency 0.46 at 2->8
# cores, BENCH_SCALING r3). 200k edges collect to a few MB. Above the
# gate the distributed path runs unchanged, so the 100-TB plan shape is
# untouched.
DRIVER_CC_MAX_EDGES = 200_000


def union_find_min_labels(edges) -> dict[int, int]:
    """Driver-side connected components over a COLLECTED edge list:
    node -> min(doc_id of its component), exactly the label
    `connected_components` computes distributively.

    For batch-scale graphs (operators/incremental.py: the edges of ONE
    increment, never the corpus) the distributed loop's ~3 jobs/round x
    O(log n) rounds are pure scheduling overhead — the same judgment call
    as `_merge_closure`'s driver-side chain resolution. Callers gate on
    edge count and fall back to `connected_components` above the gate, so
    the 100-TB path is unchanged."""
    parent: dict[int, int] = {}
    size: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        if a == b:
            continue
        for v in (a, b):
            if v not in parent:
                parent[v] = v
                size[v] = 1
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if size[ra] < size[rb]:
            ra, rb = rb, ra
        parent[rb] = ra
        size[ra] += size[rb]
    # min label per root, then one labeling pass
    mins: dict[int, int] = {}
    for v in parent:
        r = find(v)
        if r not in mins or v < mins[r]:
            mins[r] = v
    return {v: mins[find(v)] for v in parent}


def _canon(edges: DataFrame) -> DataFrame:
    """Orient src > dst, drop self-loops, distinct."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect strictly-larger neighbors of each node to the neighborhood min."""
    bidir = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = bidir.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.select(
        "src", F.least("src", "mn").alias("m")
    )
    return (
        bidir.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame, canonical: bool = False) -> DataFrame:
    """Within each node's not-larger neighborhood, link all to the min.
    `canonical=True` skips re-orientation when the caller guarantees
    src > dst, self-loop-free, distinct edges — _large_star's output is
    exactly that (m <= src < dst on every emitted row), so the in-loop
    call saves a full distinct shuffle of the edge set per round."""
    oriented = edges if canonical else _canon(edges)  # src > dst
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    joined = oriented.join(mins, "src")
    to_min = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    self_edge = mins.select("src", F.col("m").alias("dst"))
    return (
        to_min.unionByName(self_edge)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _signature(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("sig"),
    ).collect()[0]
    return int(row["n"]), int(row["sig"])


def connected_components(
    edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """edges(src, dst) -> labels(doc_id, cluster_id=min of component).

    Only nodes appearing in edges are labeled; callers default isolated
    docs to their own doc_id.
    """
    e = _canon(edges).localCheckpoint(eager=False)
    prev = _signature(e)
    for _ in range(max_iter):
        e = _small_star(_large_star(e), canonical=True).localCheckpoint(
            eager=False
        )
        cur = _signature(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} iters")
    # converged edge set is a forest of stars (node -> component min):
    # labels for non-root nodes, plus the roots themselves
    labels = e.select(F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id"))
    roots = e.select(F.col("dst").alias("doc_id"), F.col("dst").alias("cluster_id"))
    return labels.unionByName(roots).groupBy("doc_id").agg(
        F.min("cluster_id").alias("cluster_id")
    )


def long_pair_frame(spark, pairs, schema: str) -> DataFrame:
    """A two-long-column frame (`schema`, e.g. "doc_id long, cluster_id
    long") from driver-side pairs, built through pandas: with Arrow on
    the rows become JVM-side local data, so reading them starts no Python
    worker (a frame built from a list is a Python RDD, and every scan of
    it does)."""
    import pandas as pd

    cols = [c.split()[0] for c in schema.split(",")]
    return spark.createDataFrame(
        pd.DataFrame(list(pairs), columns=cols, dtype="int64"), schema
    )


def cluster_labels(
    edges: DataFrame, driver_max_edges: int | None = None
) -> DataFrame:
    """edges(src, dst) -> labels(doc_id, cluster_id=min of component),
    identical to `connected_components` — but dispatched by measured edge
    count: at or below `driver_max_edges` (default DRIVER_CC_MAX_EDGES) a
    driver-side union-find replaces the distributed loop. Dedup edge sets
    are metadata-scale relative to the corpus (bounded by verified dup
    pairs, not docs), so even multi-100k-doc runs usually take the driver
    path; a 100-TB boilerplate-heavy run exceeds the gate and falls back
    to the distributed loop unchanged.

    One bounded collect (at most gate + 1 rows) both picks the path and
    feeds the union-find."""
    gate = DRIVER_CC_MAX_EDGES if driver_max_edges is None else driver_max_edges
    e = _canon(edges)
    rows = e.limit(gate + 1).collect()
    if len(rows) <= gate:
        lab = union_find_min_labels((r["src"], r["dst"]) for r in rows)
        return long_pair_frame(
            e.sparkSession, lab.items(), "doc_id long, cluster_id long"
        )
    return connected_components(e)
