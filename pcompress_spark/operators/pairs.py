"""Bucket → candidate-pair generation, shared by every LSH-family channel.

This is the distributed replacement for the reference's semaphore-serialized
global hash index (pcompress.c:2617-2624 + rabin/global/index.c:485-558):
the shuffle exchange on the bucket key IS the distributed hashtable, and the
"probe chain" becomes a self-equi-join within each bucket.

Skew strategy (north_rule), in escalation order by bucket size m:
1. identical-text docs are collapsed to one delegate *before* any bucketing
   (operators/exact.py) — the biggest bucket inflators never reach the join;
2. m <= salt_min: plain bucket self-join (m²/2 pairs land in one task's
   key group — fine when m is small);
3. salt_min < m <= cap: **salted triangle repartitioning** — docs get a
   salt group q = pmod(xxhash64(doc_id), g) and are replicated to the g
   grid cells (min(q,j), max(q,j)); the self-join key becomes
   (bucket, cell), so the m²/2 pairs of one hot bucket spread over
   g(g+1)/2 independent key groups (≈ m²/g² pairs each) instead of one.
   Every pair is produced exactly once (dedup filter below) — no recall
   loss, pure skew-breaking;
4. m > cap: all-pairs would explode even salted; downgrade to a star on
   the bucket's min doc_id (m-1 edges) — connectivity for clustering is
   preserved, pair count is bounded, and the downgrade is *logged*, never
   silent;
5. AQE skew-join splitting handles residual hot keys in the self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pcompress_spark.cache import tracked_persist


def _triangle_cells(g: int):
    """Array column of the g grid cells (cell_i, cell_j) covering salt
    group `_q`: for j in [0,g), cell = (min(q,j), max(q,j))."""
    q = F.col("_q")
    return F.array(
        *[
            F.struct(
                F.least(q, F.lit(j)).alias("ci"),
                F.greatest(q, F.lit(j)).alias("cj"),
            )
            for j in range(g)
        ]
    )


def bucket_pairs(
    buckets: DataFrame,
    key_cols: list[str],
    cap: int,
    id_col: str = "doc_id",
    salt_min: int = 256,
    salt_groups: int = 16,
    carry: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """All candidate pairs (id_a < id_b) from same-bucket co-occurrence.

    Returns (pairs, hot_buckets) where hot_buckets is the log of buckets
    that exceeded `cap` and were star-connected instead of all-paired:
    (key_cols…, n_docs).

    Pair columns: (id_a, id_b, *carry, is_star). `carry` names key columns
    to re-emit on each pair (equal on both sides by construction — used by
    the fused channel path to keep the channel tag). `is_star` is true for
    pairs produced by the over-cap star downgrade. An over-cap bucket
    suppresses member-member emission, so a raw per-bucket co-occurrence
    count UNDERCOUNTS for any pair sharing such a bucket — callers that
    count co-occurrence must exclude star rows from the count and add
    back each pair's shared over-cap bucket keys instead (the hot-key
    intersect in operators/fused.py makes the count exact)."""
    carry = carry or []
    # bands must partition [0, inf): small <= salt_min < med <= cap < star
    salt_min = min(salt_min, cap)
    # the bucket frame is referenced several times (stats + join sides) —
    # persist so any upstream Python-UDF stage runs exactly once
    buckets = tracked_persist(buckets)
    # stats is read by several DAG branches in ONE action (the joined
    # classification, both self-join sides, the hot log, and the caller's
    # hot-doc semi-join) — Spark does not dedup identical subplans across
    # branches unless the exchange is reused, so persist it: one ~3M-group
    # aggregation instead of up to five
    stats = tracked_persist(
        buckets.groupBy(*key_cols).agg(
            F.count(F.lit(1)).alias("_n"), F.min(id_col).alias("_rep")
        )
    )
    joined = buckets.join(stats, key_cols)

    small = joined.filter(F.col("_n") <= salt_min).select(*key_cols, id_col)
    a, b = small.alias("a"), small.alias("b")
    cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in key_cols]
    cond.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    small_pairs = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        *[F.col(f"a.{k}").alias(k) for k in carry],
        F.lit(False).alias("is_star"),
    )

    # salted triangle join for hot-but-allowed buckets
    g = max(2, salt_groups)
    med = (
        joined.filter((F.col("_n") > salt_min) & (F.col("_n") <= cap))
        .withColumn("_q", F.pmod(F.xxhash64(F.col(id_col)), F.lit(g)))
        .withColumn("_cell", F.explode(_triangle_cells(g)))
        .select(*key_cols, id_col, "_q", "_cell.ci", "_cell.cj")
    )
    ma, mb = med.alias("a"), med.alias("b")
    mcond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in key_cols]
    mcond += [
        F.col("a.ci") == F.col("b.ci"),
        F.col("a.cj") == F.col("b.cj"),
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
        # emit each pair from exactly one cell: same-salt pairs share all g
        # cells (keep only the diagonal one); cross-salt pairs share exactly
        # one cell, no filter needed
        (F.col("a._q") != F.col("b._q"))
        | ((F.col("a.ci") == F.col("a._q")) & (F.col("a.cj") == F.col("a._q"))),
    ]
    med_pairs = ma.join(mb, mcond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        *[F.col(f"a.{k}").alias(k) for k in carry],
        F.lit(False).alias("is_star"),
    )

    big = joined.filter((F.col("_n") > cap) & (F.col(id_col) != F.col("_rep")))
    star_pairs = big.select(
        F.col("_rep").alias("id_a"),
        F.col(id_col).alias("id_b"),
        *[F.col(k) for k in carry],
        F.lit(True).alias("is_star"),
    )

    hot = stats.filter(F.col("_n") > cap).select(
        *key_cols, F.col("_n").alias("n_docs")
    )
    return small_pairs.unionByName(med_pairs).unionByName(star_pairs), hot
