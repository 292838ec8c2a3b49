"""Per-phase floor profile of the incremental add_batch path.

Bootstraps a corpus, runs ONE add_batch over a fresh batch, then reads
the Spark UI REST API (/api/v1) for every job in the add_batch window and
attributes wall + task time to the `incr:*` phase markers set by
IncrementalDedupIndex._phase. Output: one JSON line `INCRPROFILE {...}`
with per-phase {jobs, wall_s, task_s} plus the uncovered gap (driver-side
time between jobs — scheduling, planning, py4j), which is the fixed-floor
component no stage tuning can remove.

Usage: python scripts/incr_profile.py [--corpus N] [--batch M] [--cpus C]
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pcompress_spark.datagen import gen_pages_spark  # noqa: E402
from pcompress_spark.operators.incremental import (  # noqa: E402
    IncrementalDedupIndex,
)
from pcompress_spark.session import get_spark  # noqa: E402


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=10) as r:
        return json.loads(r.read())


def _parse_rest_ts(s: str):
    """Tolerant parse of a Spark REST timestamp to a NAIVE UTC datetime.
    The UI emits `%Y-%m-%dT%H:%M:%S.%fGMT`; fall back to ISO-8601
    variants rather than silently zeroing the duration. Raises
    ValueError if no form matches (counted by the caller)."""
    from datetime import datetime, timezone

    s = s.strip()
    for suffix in ("GMT", "UTC", "Z"):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            break
    for fmt in ("%Y-%m-%dT%H:%M:%S.%f", "%Y-%m-%dT%H:%M:%S"):
        try:
            return datetime.strptime(s, fmt)
        except ValueError:
            continue
    # last resort: fromisoformat handles offsets like +00:00 — normalize
    # an aware result to naive UTC so it subtracts from the naive forms
    ts = datetime.fromisoformat(s)
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
    return ts


def main() -> int:
    corpus = 50000
    batch = 10000
    cpus = 32
    if "--corpus" in sys.argv:
        corpus = int(sys.argv[sys.argv.index("--corpus") + 1])
    if "--batch" in sys.argv:
        batch = int(sys.argv[sys.argv.index("--batch") + 1])
    if "--cpus" in sys.argv:
        cpus = int(sys.argv[sys.argv.index("--cpus") + 1])

    spark = get_spark(
        "incr-profile", master=f"local[{cpus}]", extra_conf={"spark.ui.enabled": "true"}
    )
    sc = spark.sparkContext
    ui = sc.uiWebUrl
    if not ui:
        print("INCRPROFILE {\"err\": \"no UI\"}")
        return 1
    app = sc.applicationId
    base = f"{ui}/api/v1/applications/{app}"

    total = corpus + batch
    pages = gen_pages_spark(spark, total, partitions=64)
    pages = pages.persist()
    pages.count()
    boot = pages.limit(corpus)
    inc = pages.subtract(boot)

    import shutil

    idx_dir = "/tmp/incr_profile_idx"
    shutil.rmtree(idx_dir, ignore_errors=True)
    idx = IncrementalDedupIndex(spark, index_dir=idx_dir)
    idx.bootstrap(boot)

    jobs_before = {j["jobId"] for j in _api(base, "/jobs")}
    t0 = time.time()
    idx.add_batch(inc)
    wall = time.time() - t0

    phases: dict[str, dict[str, float]] = {}
    covered_ms = 0.0
    parse_failures = 0
    for j in _api(base, "/jobs"):
        if j["jobId"] in jobs_before:
            continue
        desc = j.get("description") or j.get("name") or "?"
        key = desc if desc.startswith("incr:") else "other"
        sub = j.get("submissionTime")
        comp = j.get("completionTime")
        dur = 0.0
        if sub and comp:
            try:
                dur = (
                    _parse_rest_ts(comp) - _parse_rest_ts(sub)
                ).total_seconds()
            except ValueError:
                # count it — a silently-zeroed job duration inflates
                # driver_gap_s with no trace (r4 ADVICE)
                parse_failures += 1
        p = phases.setdefault(key, {"jobs": 0, "wall_s": 0.0})
        p["jobs"] += 1
        p["wall_s"] = round(p["wall_s"] + dur, 2)
        covered_ms += dur
    out = {
        "corpus": corpus,
        "batch": batch,
        "cpus": cpus,
        "add_batch_wall_s": round(wall, 1),
        "job_wall_sum_s": round(covered_ms, 1),
        "driver_gap_s": round(wall - covered_ms, 1),
        "ts_parse_failures": parse_failures,
        "phases": dict(
            sorted(phases.items(), key=lambda kv: -kv[1]["wall_s"])
        ),
    }
    print("INCRPROFILE " + json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
