"""The planted truth against the exact oracle's golden labels.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import os
import sys

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from pcompress_spark import datagen  # noqa: E402
from perfbench import planted  # noqa: E402

FIXTURES = os.path.join(ROOT, "fixtures")


def _golden():
    clusters = pd.read_parquet(os.path.join(FIXTURES, "golden_clusters_n1000.parquet"))
    pairs = pd.read_parquet(os.path.join(FIXTURES, "golden_pairs_n1000.parquet"))
    return clusters, pairs


def test_golden_clusters_score():
    """The oracle's clusters over docs 0..999 merge no two planted groups,
    link every reachable planted pair, and give the planted recall the
    golden pairs give."""
    clusters, pairs = _golden()
    labels = {
        planted.index_of(u): c for u, c in zip(clusters["url"], clusters["cluster_id"])
    }
    truth = planted.Truth(range(1000))
    score = truth.score(labels)
    assert score.over_merged == 0
    assert score.reachable_recall == 1.0
    assert score.ok

    linked = planted.components(
        range(1000),
        [
            (planted.index_of(a), planted.index_of(b))
            for a, b in zip(pairs["url_a"], pairs["url_b"])
        ],
    )
    hits = sum(1 for a, b in truth.pairs if linked[a] == linked[b])
    assert score.planted_recall == hits / len(truth.pairs)
    assert 0.99 <= score.planted_recall < 1.0  # one near-lo pair is unreachable


def test_score_flags_over_merge_and_missed_pairs():
    truth = planted.Truth(range(1000))
    groups = dict(truth.groups)
    assert planted.Truth(range(1000)).score(groups).planted_recall == 1.0
    one = dict.fromkeys(groups, 0)
    assert truth.score(one).over_merged == 1 and not truth.score(one).ok
    alone = {i: i for i in groups}
    assert truth.score(alone).planted_recall == 0.0


def test_offset_for():
    off = planted.offset_for(12)
    assert off == 12 * planted.STRIDE and off % datagen.BLOCK == 0
    assert planted.offset_for(12 + planted.SEEDS) == off
    assert planted.offset_for(-1) == (planted.SEEDS - 1) * planted.STRIDE
