"""Unit tests for verification-path operators: rolling hash identity,
degree cap, signature prefilter, and the JVM-side exact Jaccard join."""

import os
import sys

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pcompress_spark.config import PipelineConfig  # noqa: E402
from pcompress_spark.functions import hashing as H  # noqa: E402
from pcompress_spark.operators import verify  # noqa: E402


def test_rolling_hash_equals_naive():
    rng = np.random.default_rng(7)
    for n, w in [(16, 16), (17, 16), (300, 16), (4000, 64), (4096, 2048)]:
        b = rng.integers(0, 256, size=n).astype(np.uint8)
        fast = H.window_hashes_all(b.tobytes(), w)
        naive = H._poly_window_hash(np.lib.stride_tricks.sliding_window_view(b, w))
        assert fast.shape == naive.shape
        assert (fast == naive).all()


def test_degree_cap_keeps_clique_connected(spark):
    # a 10-node clique (45 pairs) capped at degree 3: far fewer pairs, but
    # every node keeps >=1 edge and the union-find stays one component
    rows = [
        (i, j, 20) for i in range(10) for j in range(i + 1, 10)
    ]
    cands = spark.createDataFrame(rows, "id_a long, id_b long, mh_overlap int")
    kept, dropped = verify.cap_candidate_degree(cands, cap=3)
    kept_rows = kept.collect()
    assert 0 < len(kept_rows) < 45
    # connectivity via DSU
    parent = list(range(10))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in kept_rows:
        parent[find(int(r.id_a))] = find(int(r.id_b))
    assert len({find(i) for i in range(10)}) == 1
    # drops are logged, not silent
    assert dropped.count() > 0


def test_degree_cap_noop_below_cap(spark):
    rows = [(1, 2, 5), (2, 3, 4), (7, 9, 1)]
    cands = spark.createDataFrame(rows, "id_a long, id_b long, mh_overlap int")
    kept, dropped = verify.cap_candidate_degree(cands, cap=64)
    assert kept.count() == 3
    assert dropped.count() == 0


def test_prefilter_respects_other_channels(spark):
    cands = spark.createDataFrame(
        [
            (1, 2, ["minhash"], 1),
            (1, 3, ["minhash"], 0),
            (2, 3, ["winnow"], None),
            (3, 4, ["minhash"], 2),
        ],
        "id_a long, id_b long, channels array<string>, mh_overlap int",
    )
    out, dropped = verify.prefilter_candidates(cands, min_matches=2)
    got = {(r.id_a, r.id_b) for r in out.collect()}
    # drops are logged, never silent
    assert dropped.count() > 0
    # (1,2) has only 1 matching value -> dropped; (1,3) zero -> dropped;
    # (2,3) proposed by winnow -> bypasses the signature filter; (3,4)
    # meets the gate
    assert got == {(2, 3), (3, 4)}


def test_pair_jaccard_matches_numpy(spark):
    cfg = PipelineConfig()
    texts = {
        1: "the quick brown fox jumps over the lazy dog " * 8,
        2: "the quick brown fox jumps over the lazy dog " * 7 + "something new here ",
        3: "completely different content with no overlap at all whatsoever " * 6,
    }
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    cands = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in verify.pair_jaccard(cands, docs, cfg).collect()
    }
    for (a, b), j in got.items():
        sa = H.shingle_hashes(texts[a], cfg.shingle_width)
        sb = H.shingle_hashes(texts[b], cfg.shingle_width)
        assert abs(j - H.jaccard(sa, sb)) < 1e-12
    assert got[(1, 2)] > 0.5
    # zero-overlap pair may be absent (jaccard 0) or present with 0
    assert got.get((1, 3), 0.0) < 0.05
