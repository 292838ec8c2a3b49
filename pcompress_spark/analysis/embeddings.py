"""Similarity search over an embedding column (`array<float>`).

Three paths, mirroring the reference's exact-vs-sketched dedup split
(full index vs segmented similarity index, /root/reference/rabin/global/
index.c:119-215):

- `brute_force_topk`   — exact cosine top-k; the correctness baseline.
  JVM-side only: `zip_with` elementwise product + `aggregate` fold, ranked
  with a window. Scales as |Q|x|C| compute, but the JOIN SHAPE is a
  block-grid shuffle equi-join (never a broadcast of either side).
- `lsh_ann_topk`       — scale path, data-oblivious: random-hyperplane
  (sign) LSH buckets the corpus; each query probes only its own
  bucket(s), then exact cosine reranks within the bucket. Sub-linear
  probe cost; recall depends on bits/tables; every drop is measurable vs
  the brute-force baseline.
- `ivf_ann_topk`       — scale path, data-adaptive: IVF-flat inverted
  file (spherical k-means coarse quantizer trained on a bounded sample,
  vectors stored in their home cell, queries probe their nprobe nearest
  cells, exact rerank). Both approximate paths carry a driver-checkable
  recall certificate over exact strong pairs.

All arithmetic is double-precision with left-to-right fold order so the
DuckDB oracle (same fold order via list_dot_product) reproduces values
bit-for-bit at test scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from pcompress_spark.cache import tracked_persist
from pyspark.sql import types as T


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _round6(col):
    """floor(x*1e6 + 0.5)/1e6 — engine-portable rounding. Spark's round()
    goes through BigDecimal-of-shortest-string and can disagree with a
    C++ engine rounding the same binary double; floor on the raw double
    is bit-deterministic everywhere."""
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def cosine_expr(a, b):
    """Cosine similarity of two array<double> columns — whole-stage codegen,
    no UDF. dot/(|a||b|); 0.0 when either norm is 0."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(
        F.aggregate(F.zip_with(a, a, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    )
    nb = F.sqrt(
        F.aggregate(F.zip_with(b, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    )
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def _dot_expr(a, b):
    """Left-to-right fold dot product (same summation order everywhere)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm_frame(df: DataFrame, id_alias: str, vec_alias: str, norm_alias: str):
    """(id, cast-to-double vector, norm) — persisted so the cast and the
    norm fold run once per vector, not once per joined pair (a per-pair
    array-expression re-evaluation is the dominant cost of a naive
    cosine cross join: O(pairs*dim) interpreted lambda steps)."""
    out = df.select(
        F.col("__id").alias(id_alias), F.col("__v").alias(vec_alias)
    ).withColumn(norm_alias, F.sqrt(_dot_expr(F.col(vec_alias), F.col(vec_alias))))
    return tracked_persist(out)


def _cos_from_parts(va, vb, na, nb):
    """cosine given precomputed norms: the dot fold runs once per pair and
    the value is bit-identical to cosine_expr (same fold order)."""
    return F.when((na > 0) & (nb > 0), _dot_expr(va, vb) / (na * nb)).otherwise(
        F.lit(0.0)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: int = 16,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector in the corpus.

    -> (query_id, neighbor_id, cos_sim, rank). Self-matches excluded.

    Scale shape: **block-grid equi-join**, never a broadcast of either
    side. The corpus is hash-partitioned into `blocks` blocks by vec id;
    each query row is replicated once per block with a `_partner` key and
    the score join is a plain shuffle equi-join `_partner == _blk` —
    SortMergeJoin/ShuffledHashJoin in the plan, O(|Q|·blocks + |C|)
    shuffle rows, no BroadcastNestedLoopJoin and no executor-sized
    collection anywhere (the round-1 `broadcast(corpus)` version OOMs at
    100×). Exactness is unchanged: every (query, neighbor) pair meets in
    exactly one cell. Rank ties break on neighbor_id and sims are rounded
    before ranking so the ordering is reproducible across engines and
    partitionings.
    """
    q = _norm_frame(
        queries.select(
            F.col(id_col).alias("__id"), _as_double(vec_col).alias("__v")
        ),
        "query_id", "qv", "qn",
    )
    c = _norm_frame(
        corpus.select(
            F.col(id_col).alias("__id"), _as_double(vec_col).alias("__v")
        ),
        "neighbor_id", "cv", "cn",
    )
    qr = q.withColumn(
        "_partner", F.explode(F.array(*[F.lit(j) for j in range(blocks)]))
    ).hint("shuffle_hash")
    cb = c.withColumn(
        "_blk", F.pmod(F.xxhash64("neighbor_id"), F.lit(blocks)).cast("int")
    ).hint("shuffle_hash")
    scored = (
        qr.join(
            cb,
            (F.col("_partner") == F.col("_blk"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn(
            "cos_sim",
            _round6(
                _cos_from_parts(
                    F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
                )
            ),
        )
        .select("query_id", "neighbor_id", "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def make_bucket_udf(planes: np.ndarray):
    """pandas UDF: embedding -> array of per-table bucket ids.

    planes has shape (tables, bits, dim); the bucket id of table t is the
    packed sign-bit vector against planes[t], offset by t<<56 so ids never
    collide across tables. Vectorized: one (batch, dim) @ (dim, T*B)
    matmul per Arrow batch.
    """
    tables, bits, dim = planes.shape
    flat = planes.reshape(tables * bits, dim).astype(np.float64)
    weights = (1 << np.arange(bits, dtype=np.uint64)).astype(np.uint64)
    offsets = (np.arange(tables, dtype=np.uint64) << np.uint64(56))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def bucket_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        signs = (mat @ flat.T) >= 0  # (batch, tables*bits)
        signs = signs.reshape(len(vecs), tables, bits)
        ids = (signs.astype(np.uint64) * weights).sum(axis=2) + offsets
        return pd.Series(list(ids.view(np.int64)))

    return bucket_udf


def lsh_ann_topk(
    corpus: DataFrame,
    k: int = 5,
    bits: int = 8,
    tables: int = 1,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate all-pairs top-k: multi-table hyperplane sign-LSH
    bucketing, exact cosine rerank over the union of bucket candidates.

    -> (query_id, neighbor_id, cos_sim, rank). At 100 TB the bucket join is
    a hash-partitioned self-join on `bucket` (tables * 2^bits keys — size
    bits so corpus/2^bits rows fit a partition, add tables for recall);
    recall is measured against `brute_force_topk` in tests, never assumed.
    """
    cands = lsh_bucket_candidates(
        corpus, bits, tables, dim, seed, id_col, vec_col, directed=True
    ).select(
        F.col("id_a").alias("query_id"), F.col("id_b").alias("neighbor_id")
    )
    base = corpus.select(
        F.col(id_col).alias("__id"), _as_double(vec_col).alias("__v")
    )
    vecs_q = _norm_frame(base, "query_id", "qv", "qn")
    vecs_n = _norm_frame(base, "neighbor_id", "nv", "nn")
    scored = (
        cands.join(vecs_q, "query_id")
        .join(vecs_n, "neighbor_id")
        .withColumn(
            "cos_sim",
            _round6(
                _cos_from_parts(F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn"))
            ),
        )
        .select("query_id", "neighbor_id", "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def hyperplanes_mt(dim: int, bits: int, tables: int, seed: int = 42) -> np.ndarray:
    """Deterministic (tables, bits, dim) Gaussian hyperplane tensor."""
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal((tables, bits, dim))


def lsh_bucket_candidates(
    corpus: DataFrame,
    bits: int,
    tables: int,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    directed: bool = False,
) -> DataFrame:
    """Candidate pairs from multi-table hyperplane-LSH bucket co-occurrence
    — the ONE bucket machinery both the ANN top-k and the recall
    certificate run through (a certificate of a different code path would
    certify nothing). directed=True emits both (a,b) and (b,a) (top-k
    neighbor lists); False emits unordered id_a < id_b pairs."""
    bucket_udf = make_bucket_udf(hyperplanes_mt(dim, bits, tables, seed))
    tagged = corpus.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
    ).withColumn("bucket", F.explode(bucket_udf(F.col("v"))))
    a = tagged.alias("a")
    b = tagged.alias("b")
    rel = (
        F.col("a.id") != F.col("b.id")
        if directed
        else F.col("a.id") < F.col("b.id")
    )
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & rel)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def ann_recall_certify(
    corpus: DataFrame,
    threshold: float,
    bits: int = 3,
    tables: int = 24,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall lower-bound certificate for the LSH-bucketed ANN path:
    one row per STRONG pair (exact cosine >= threshold, computed by the
    exact triangle-grid join — SQL-expressible ground truth) with
    `retrieved` = whether hyperplane-LSH bucket co-occurrence proposed the
    pair. The paired oracle asserts retrieved == true for every strong
    pair, turning 'approximate by design' into a driver-checkable recall
    floor (the reference likewise round-trip-verifies even its
    approximate similarity index, test/t4.tst).

    Config note: b=3/T=24 retrieves every >= 0.4-cosine pair of the
    test corpus at every sf with margin (miss probability per pair
    (1-(1-θ/π)^3)^24 ≈ 2e-5 at cos 0.4); the sub-linear scale shape is
    the same as lsh_ann_topk's — this IS the same bucket join."""
    strong = cosine_pairs_above(
        corpus, threshold, id_col=id_col, vec_col=vec_col
    )
    cands = lsh_bucket_candidates(
        corpus, bits, tables, dim, seed, id_col, vec_col, directed=False
    )
    return strong.join(
        cands.withColumn("retrieved", F.lit(True)), ["id_a", "id_b"], "left"
    ).select(
        "id_a",
        "id_b",
        "cos_sim",
        F.coalesce("retrieved", F.lit(False)).alias("retrieved"),
    )


def train_centroids(
    corpus: DataFrame,
    nlist: int,
    dim: int = 64,
    seed: int = 42,
    sample: int = 4096,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Spherical k-means coarse quantizer for the IVF path, trained
    deterministically on a BOUNDED sample: the `sample` vectors with the
    smallest xxhash64(id, seed) (a partition- and order-invariant choice),
    Lloyd-iterated `iters` times in numpy on the driver. The sample is
    fixed-size regardless of corpus size, so at 100 TB training cost is
    unchanged (a distributed top-k + a ~2 MB collect); only assignment
    scales, and that is one vectorized matmul pass per Arrow batch.
    Returns an L2-normalized (nlist, dim) float64 matrix."""
    rows = (
        corpus.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
        .withColumn("_h", F.xxhash64(F.col("id"), F.lit(seed)))
        .orderBy("_h")
        .limit(sample)
        .select("v")
        .collect()
    )
    X = np.array([r.v for r in rows], dtype=np.float64)
    n = np.linalg.norm(X, axis=1, keepdims=True)
    Xn = np.divide(X, n, out=np.zeros_like(X), where=n > 0)
    C = Xn[:nlist].copy()
    for _ in range(max(0, iters)):
        assign = np.argmax(Xn @ C.T, axis=1)
        for j in range(nlist):
            members = Xn[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        cn = np.linalg.norm(C, axis=1, keepdims=True)
        C = np.divide(C, cn, out=C, where=cn > 0)
    return C


def make_ivf_probe_udf(centroids: np.ndarray, nprobe: int):
    """pandas UDF: embedding -> ordered array of the `nprobe` nearest
    centroid ids (spherical assignment: max dot against the normalized
    centroids; element 1 is the vector's home cell). One (batch, dim) @
    (dim, nlist) matmul per Arrow batch; ties break on centroid index
    (stable argsort) so assignment is deterministic."""
    C = centroids.astype(np.float64)
    p = min(nprobe, len(C))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)
        mat = np.divide(mat, nrm, out=np.zeros_like(mat), where=nrm > 0)
        order = np.argsort(-(mat @ C.T), axis=1, kind="stable")[:, :p]
        return pd.Series(list(order.astype(np.int32)))

    return probe_udf


def ivf_cell_pairs(
    corpus: DataFrame,
    nlist: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    directed: bool = False,
) -> DataFrame:
    """Candidate pairs from IVF cell probing — the ONE cell machinery both
    the IVF top-k and its recall certificate run through. Every vector is
    STORED in its home cell (nearest centroid); a probe side explodes each
    vector to its `nprobe` nearest cells and equi-joins the stored side on
    cell id. directed=True emits (query, neighbor) in both directions
    (neighbor found when its home cell is among the query's probes);
    False emits unordered id_a < id_b pairs retrieved in either direction.

    Scale shape: hash-partitioned shuffle equi-join on cell id, probe
    cost ~ nprobe/nlist of the corpus per query; at 100 TB nlist grows so
    cells stay partition-sized (the classic FAISS IVF-flat trade), and
    centroid training stays O(sample)."""
    probe_udf = make_ivf_probe_udf(
        train_centroids(corpus, nlist, dim, seed, id_col=id_col, vec_col=vec_col),
        nprobe,
    )
    tagged = tracked_persist(
        corpus.select(
            F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
        ).withColumn("_probes", probe_udf(F.col("v")))
    )
    stored = tagged.select(
        "id", F.element_at("_probes", 1).alias("cell")
    )
    probes = tagged.select("id", F.explode("_probes").alias("cell"))
    q, s = probes.alias("q"), stored.alias("s")
    if directed:
        return (
            q.join(s, (F.col("q.cell") == F.col("s.cell"))
                   & (F.col("q.id") != F.col("s.id")))
            .select(F.col("q.id").alias("id_a"), F.col("s.id").alias("id_b"))
            .distinct()
        )
    return (
        q.join(s, (F.col("q.cell") == F.col("s.cell"))
               & (F.col("q.id") != F.col("s.id")))
        .select(
            F.least("q.id", "s.id").alias("id_a"),
            F.greatest("q.id", "s.id").alias("id_b"),
        )
        .distinct()
    )


def ivf_ann_topk(
    corpus: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat approximate all-pairs top-k: coarse-quantizer cells
    (train_centroids) + nprobe-cell probing + exact cosine rerank.

    -> (query_id, neighbor_id, cos_sim, rank). The third ANN path next to
    `brute_force_topk` (exact baseline) and `lsh_ann_topk` (hash-bucketed):
    IVF gives data-adaptive partitions where hyperplane LSH gives
    data-oblivious ones; recall is measured against brute force in tests,
    never assumed."""
    cands = ivf_cell_pairs(
        corpus, nlist, nprobe, dim, seed, id_col, vec_col, directed=True
    ).select(
        F.col("id_a").alias("query_id"), F.col("id_b").alias("neighbor_id")
    )
    base = corpus.select(
        F.col(id_col).alias("__id"), _as_double(vec_col).alias("__v")
    )
    vecs_q = _norm_frame(base, "query_id", "qv", "qn")
    vecs_n = _norm_frame(base, "neighbor_id", "nv", "nn")
    scored = (
        cands.join(vecs_q, "query_id")
        .join(vecs_n, "neighbor_id")
        .withColumn(
            "cos_sim",
            _round6(
                _cos_from_parts(F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn"))
            ),
        )
        .select("query_id", "neighbor_id", "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def ivf_recall_certify(
    corpus: DataFrame,
    threshold: float,
    nlist: int = 16,
    nprobe: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall lower-bound certificate for the IVF path, same contract as
    `ann_recall_certify`: one row per exact strong pair (cosine >=
    threshold, triangle-grid exact join) with `retrieved` = whether IVF
    cell probing proposed the pair (either direction). The paired oracle
    asserts retrieved for every strong pair. Unlike the LSH certificate's
    analytic miss bound, IVF has no closed-form guarantee (a pair can
    straddle a Voronoi boundary) — the certificate exists precisely to
    MEASURE that on the fixture instead of assuming it; nprobe is the
    recall/cost dial."""
    strong = cosine_pairs_above(
        corpus, threshold, id_col=id_col, vec_col=vec_col
    )
    cands = ivf_cell_pairs(
        corpus, nlist, nprobe, dim, seed, id_col, vec_col, directed=False
    )
    return strong.join(
        cands.withColumn("retrieved", F.lit(True)), ["id_a", "id_b"], "left"
    ).select(
        "id_a",
        "id_b",
        "cos_sim",
        F.coalesce("retrieved", F.lit(False)).alias("retrieved"),
    )


def _grid_cells(q, g: int):
    """Array of the g grid cells (ci, cj) covering block q (triangle
    replication): an unordered block pair (p, q) owns exactly the cell
    (min, max)."""
    return F.array(
        *[
            F.struct(
                F.least(q, F.lit(j)).alias("ci"),
                F.greatest(q, F.lit(j)).alias("cj"),
            )
            for j in range(g)
        ]
    )


def cosine_pairs_above(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: int = 8,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine >= threshold — embedding
    near-duplicate detection. EXACT (recall 1 by construction — this is
    what lets the DuckDB oracle certify it), but scale-shaped: the n²
    comparisons are distributed by a **triangle block-grid equi-join**
    (each vector hashed to one of `blocks` blocks and replicated to its
    `blocks` grid cells; every unordered pair meets in exactly one cell).
    The join is a shuffle equi-join on (ci, cj) — no cartesian/
    BroadcastNestedLoopJoin, cells are uniform by hashing, and each cell's
    (n/B)² comparisons are independent tasks. The inherent O(n²) cost is
    the price of exactness — the sub-quadratic approximate path is
    `lsh_ann_topk`, whose recall is measured, not assumed."""
    base = corpus.select(
        F.col(id_col).alias("__id"), _as_double(vec_col).alias("__v")
    )
    a = _norm_frame(base, "id_a", "va", "na")
    b = _norm_frame(base, "id_b", "vb", "nb")
    g = max(2, blocks)
    ar = (
        a.withColumn("_q", F.pmod(F.xxhash64("id_a"), F.lit(g)).cast("int"))
        .withColumn("_cell", F.explode(_grid_cells(F.col("_q"), g)))
        .select("id_a", "va", "na", "_q", "_cell.ci", "_cell.cj")
        .hint("shuffle_hash")
    )
    br = (
        b.withColumn("_r", F.pmod(F.xxhash64("id_b"), F.lit(g)).cast("int"))
        .withColumn("_cell", F.explode(_grid_cells(F.col("_r"), g)))
        .select("id_b", "vb", "nb", "_r", "_cell.ci", "_cell.cj")
        .hint("shuffle_hash")
    )
    return (
        ar.join(
            br,
            (ar["ci"] == br["ci"])
            & (ar["cj"] == br["cj"])
            & (F.col("id_a") < F.col("id_b"))
            # each pair from exactly one cell: same-block pairs share all g
            # cells, keep only the diagonal one
            & (
                (F.col("_q") != F.col("_r"))
                | ((ar["ci"] == F.col("_q")) & (ar["cj"] == F.col("_q")))
            ),
        )
        .withColumn(
            "cos_sim",
            _round6(
                _cos_from_parts(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: int = 8,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023), in the
    exact oracle-certifiable form:

      (vec_id, sem_cluster, keep)

    Embedding pairs with cosine >= threshold (EXACT — cosine_pairs_above's
    triangle block-grid join, recall 1 by construction) form a graph;
    connected components label every vector with its component min id
    (operators/components.cluster_labels — the same earliest-wins rep rule
    as the text channels, rabin_dedup.c:1606-1615); keep = the component
    representative only. Published SemDeDup approximates this with
    within-kmeans-cluster pruning — that IS this repo's IVF cell layout
    (ivf_ann_topk), so the approximate scale path is the same machinery
    with cosine_pairs_above swapped for the cell-local pair join; this
    exact form is what the DuckDB oracle can certify end to end."""
    from pcompress_spark.operators.components import cluster_labels

    edges = cosine_pairs_above(
        corpus, threshold, id_col=id_col, vec_col=vec_col, blocks=blocks
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    labels = cluster_labels(edges)
    return (
        corpus.select(F.col(id_col).alias("vec_id"))
        .join(
            labels.select(
                F.col("doc_id").alias("vec_id"),
                F.col("cluster_id").alias("sem_cluster"),
            ),
            "vec_id",
            "left",
        )
        .withColumn("sem_cluster", F.coalesce("sem_cluster", "vec_id"))
        .withColumn("keep", F.col("vec_id") == F.col("sem_cluster"))
        .select("vec_id", "sem_cluster", "keep")
    )
