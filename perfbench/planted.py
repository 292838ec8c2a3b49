"""Workload inputs from a seed, and the planted ground truth they carry.

Every doc of the synthetic corpus is a pure function of its index
(``datagen.gen_doc``). The workload seed only picks where the corpus
starts: ``offset = (seed mod SEEDS) * STRIDE``, a multiple of
``datagen.BLOCK``, so each seed yields a fresh corpus with the same
planted class mix while ``datagen.SEED`` stays fixed.

The planted truth follows datagen's per-block class layout (FIXTURES.md):
an exact, near-hi, near-lo or substring doc is a planted duplicate of the
base doc it was built from (a chained near-lo doc of its predecessor), and
all boilerplate docs form one group. Groups are the connected components
of those planted pairs; every other doc stands alone.
"""

from __future__ import annotations

import os
from collections import defaultdict
from collections.abc import Iterable, Mapping
from dataclasses import dataclass

from pcompress_spark import datagen
from pcompress_spark.config import DEFAULT_CONFIG, PipelineConfig
from pcompress_spark.functions import hashing as H
from pcompress_spark.oracle import has_common_substring

STRIDE = 1_000_000
SEEDS = 10_000  # doc urls carry a 10-digit index
MIN_RECALL = 0.99


def offset_for(seed: int) -> int:
    return (seed % SEEDS) * STRIDE


def write_pages(indices, path: str, files: int) -> None:
    """Generate the docs of ``indices`` with ``datagen.gen_doc`` and write
    them as ``files`` parquet files (scan parallelism for the reader)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    indices = list(indices)
    os.makedirs(path, exist_ok=True)
    step = -(-len(indices) // files)
    for k in range(0, len(indices), step):
        pdf = pd.DataFrame([datagen.gen_doc(i) for i in indices[k : k + step]])
        pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"]).dt.tz_localize(None)
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(path, f"part-{k // step:05d}.parquet"),
            coerce_timestamps="us",
        )


def index_of(url: str) -> int:
    """Doc index encoded in a generated url (``.../<block>/<index>``)."""
    return int(url.rsplit("/", 1)[1])


def _parent(i: int) -> int | None:
    """The doc that doc ``i`` was derived from, or None for a unique or
    boilerplate doc. Mirrors ``datagen.gen_tokens``."""
    cls = datagen._doc_class(i)
    if cls in ("unique", "boilerplate"):
        return None
    local = i % datagen.BLOCK
    nearhi_end = datagen._NEARHI_END
    if cls == "near_lo" and (local - nearhi_end) % 3 == 2 and local - 1 >= nearhi_end:
        return i - 1
    return datagen._base_index(i)


def planted_pairs(indices: Iterable[int]) -> list[tuple[int, int]]:
    """Planted duplicate pairs among ``indices``: (parent, child) for every
    derived doc whose parent is present, plus a chain through the
    boilerplate docs (one group)."""
    present = set(indices)
    pairs = []
    boiler = []
    for i in sorted(present):
        if datagen._doc_class(i) == "boilerplate":
            boiler.append(i)
            continue
        p = _parent(i)
        if p is not None and p in present:
            pairs.append((p, i))
    pairs += list(zip(boiler, boiler[1:]))
    return pairs


def components(nodes: Iterable[int], pairs: Iterable[tuple[int, int]]) -> dict[int, int]:
    """node -> component id (the component's min node)."""
    parent = {i: i for i in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in parent}


def is_reachable(a: int, b: int, cfg: PipelineConfig = DEFAULT_CONFIG) -> bool:
    """Would the exact oracle (``oracle.compute_golden``) call the two docs
    duplicates? Equal text, shingle Jaccard >= tau_extra, or a shared
    verbatim span of >= substring_min_len chars.

    A near-lo mutation can push a planted pair below every threshold; no
    correct run links such a pair directly."""
    (ta, la), (tb, lb) = datagen.gen_tokens(a), datagen.gen_tokens(b)
    text_a, text_b = " ".join(ta), " ".join(tb)
    if text_a == text_b:
        return True
    sa = H.shingles_for(text_a, la, cfg.shingle_width, cfg.cjk_shingle_chars)
    sb = H.shingles_for(text_b, lb, cfg.shingle_width, cfg.cjk_shingle_chars)
    if H.jaccard(sa, sb) >= cfg.tau_extra:
        return True
    return has_common_substring(text_a, text_b, cfg.substring_min_len)


@dataclass(frozen=True)
class Score:
    planted_recall: float  # share of planted pairs that share a cluster
    reachable_recall: float  # the same, over pairs the oracle would link
    over_merged: int  # clusters holding docs of two or more planted groups

    @property
    def ok(self) -> bool:
        """The gate. Recall is taken over the reachable pairs: on a corpus
        of a few blocks the unreachable near-lo pairs alone can hold
        planted recall under MIN_RECALL (0.9866 at 1,000 docs, offset
        11,000,000)."""
        return self.reachable_recall >= MIN_RECALL and self.over_merged == 0


class Truth:
    """Planted truth of one corpus, computed once and reused per rep."""

    def __init__(self, indices: Iterable[int], cfg: PipelineConfig = DEFAULT_CONFIG):
        self.indices = sorted(set(indices))
        self.pairs = planted_pairs(self.indices)
        self.groups = components(self.indices, self.pairs)
        self.reachable = [
            (a, b)
            for a, b in self.pairs
            if datagen._doc_class(b) in ("exact", "boilerplate")
            or is_reachable(a, b, cfg)
        ]

    def score(self, clusters: Mapping[int, int]) -> Score:
        """Score a doc-index -> cluster labelling of exactly this corpus."""
        if sorted(clusters) != self.indices:
            raise ValueError("labelling does not cover the corpus")

        def recall(pairs):
            hits = sum(1 for a, b in pairs if clusters[a] == clusters[b])
            return hits / len(pairs) if pairs else 1.0

        spans = defaultdict(set)
        for i, c in clusters.items():
            spans[c].add(self.groups[i])
        over = sum(1 for g in spans.values() if len(g) > 1)
        return Score(recall(self.pairs), recall(self.reachable), over)
