"""Scaling evidence: same flagship job at N and 4N parallelism.

The north rule's two-cluster-size criterion is evidenced in this sandbox
by running the identical pipeline (same input, same config) at local[8]
and local[32] in separate processes (fresh JVM each) and reporting
throughput at both plus efficiency = (docs/sec@32 / docs/sec@8) / 4.

Writes BENCH_SCALING.json at the repo root, unless the file there
already holds more legs (see `write_artifact`).

Usage: python scripts/scaling_bench.py [--docs N]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def gen_input(docs: int) -> str:
    """Write the input corpus parquet ONCE; every leg reads the identical
    files — 'same job, same input' is then literal (one byte layout), and
    the measured window is the ENGINE (scan → dedup → clusters), not
    synthetic datagen."""
    path = f"/tmp/scale_input_{docs}"
    code = f"""
import sys
sys.path.insert(0, {REPO!r})
from pcompress_spark.session import get_spark
from pcompress_spark.datagen import gen_pages_spark
spark = get_spark("gen", master="local[16]")
gen_pages_spark(spark, {docs}, partitions=64).write.mode(
    "overwrite").parquet({path!r})
"""
    subprocess.run(
        [sys.executable, "-c", code], check=True, timeout=1800, cwd=REPO,
        capture_output=True,
    )
    return path


def run_at(cpus: int, docs: int, input_path: str) -> dict:
    """Run the flagship pipeline in a subprocess; returns timing info.

    Spark session startup is excluded from the measured window (the
    subprocess prints its own post-warmup timing) — we are measuring
    engine throughput, not JVM boot.

    Each leg is CONFINED to exactly `cpus` CPUs with taskset: local[N]
    caps task slots but leaves JVM GC/JIT/IO threads and python workers
    free to use every other core on the box, which silently gifts the
    small leg fractional extra cores (measured ~+20%% at local[2]) and
    biases efficiency down. An executor on a real N-core node pays for
    its GC/JIT/shuffle threads out of its own N cores — the confined
    measurement is the honest N-vs-4N-executors analog. The JVM sizes
    its internal pools from sched_getaffinity, so taskset also
    right-sizes GC/JIT threads per leg.
    """
    code = f"""
import json, time, sys, shutil, tempfile
sys.path.insert(0, {REPO!r})
from pcompress_spark.session import get_spark
from pcompress_spark.pipeline import DedupPipeline
from pcompress_spark.config import PipelineConfig
spark = get_spark("scale{cpus}", master="local[{cpus}]")
spark.range(1000).selectExpr("sum(id)").collect()
ckpt = tempfile.mkdtemp(prefix="scale_ckpt_")
import os as _os
def _machine_busy():
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return (sum(f) - f[3] - f[4]) / _os.sysconf("SC_CLK_TCK")
busy0 = _machine_busy()
t0 = time.time()
pages = spark.read.parquet({input_path!r})
pipe = DedupPipeline(spark, PipelineConfig(), checkpoint_dir=ckpt,
                     resume=False)
rows = pipe.run(pages).count()
wall = time.time() - t0
stages = {{}}
for rec in pipe.ckpt.lineage():
    stages[rec["stage"]] = stages.get(rec["stage"], 0) + rec["wall_ms"]
shutil.rmtree(ckpt, ignore_errors=True)
print("SCALERESULT " + json.dumps({{"cpus": {cpus}, "rows": rows,
      "wall_s": round(wall, 2), "docs_per_sec": round({docs} / wall, 1),
      "machine_cpu_s": round(_machine_busy() - busy0, 1),
      "stages_ms": stages}}))
"""
    t0 = time.time()
    argv = [sys.executable, "-c", code]
    if shutil.which("taskset"):
        argv = ["taskset", "-c", f"0-{cpus - 1}"] + argv
    out = subprocess.run(
        argv,
        capture_output=True,
        text=True,
        timeout=3600,
        cwd=REPO,
    )
    for line in out.stdout.splitlines():
        if line.startswith("SCALERESULT "):
            rec = json.loads(line[len("SCALERESULT "):])
            rec["total_proc_s"] = round(time.time() - t0, 1)
            return rec
    raise RuntimeError(f"no result from cpus={cpus}: {out.stderr[-2000:]}")


def _cpu_topology() -> dict:
    """Record what the legs actually ran on: logical CPUs, SMT state —
    session boxes differ (16 phys + SMT vs 32 phys no-SMT observed), and
    which adjacent leg pair stays within physical cores depends on it."""
    topo = {"logical_cpus": os.cpu_count()}
    try:
        with open("/sys/devices/system/cpu/smt/active") as fh:
            topo["smt_active"] = fh.read().strip() == "1"
    except OSError:
        topo["smt_active"] = None
    return topo


def main() -> None:
    """N=2 vs 4N=8 cores is the honest N→4N datapoint: this sandbox has
    16 physical cores + SMT, so the 8→32 logical-thread step additionally
    measures hyperthreading (hardware ceiling ~2.5x even for perfect code
    — see BENCH notes). All requested legs are measured min-of-N and every
    adjacent pair's efficiency is reported."""
    docs = 40000
    if "--docs" in sys.argv:
        docs = int(sys.argv[sys.argv.index("--docs") + 1])
    legs = [2, 8]
    if "--cores" in sys.argv:
        legs = [int(x) for x in sys.argv[sys.argv.index("--cores") + 1].split(",")]
    reps = 2
    if "--reps" in sys.argv:
        reps = int(sys.argv[sys.argv.index("--reps") + 1])
    # min-of-reps per leg (the sandbox has noisy co-tenants; the minimum
    # approximates quiet-machine performance), legs interleaved so drift
    # hits all legs equally
    sys.path.insert(0, REPO)
    from pcompress_spark.warmup import ensure_warm

    # pay the VM's cold page-fault cost ONCE, before any leg: each leg
    # boots a fresh JVM whose heap/shuffle pages otherwise fault through
    # a host path measured at 0.01-0.4 GB/s on degraded sandbox VMs —
    # 3-6x wall inflation concentrated in the shuffle stages, which
    # would corrupt the N-vs-4N comparison unevenly
    ensure_warm()
    input_path = gen_input(docs)
    runs: dict[int, list] = {c: [] for c in legs}
    for _ in range(reps):
        for c in legs:
            runs[c].append(run_at(c, docs, input_path))
            print(json.dumps(runs[c][-1]), flush=True)
    best = {c: min(rs, key=lambda r: r["wall_s"]) for c, rs in runs.items()}
    result: dict = {"docs": docs, "reps": reps}
    for c in legs:
        result[f"local{c}"] = best[c]
    pairs = []
    for lo, hi in zip(legs, legs[1:]):
        eff = (best[hi]["docs_per_sec"] / best[lo]["docs_per_sec"]) / (hi / lo)
        # per-stage efficiency: which stage stops scaling (measured, not
        # guessed — the r2 verdict's lever (c))
        stage_eff = {}
        lo_st, hi_st = best[lo].get("stages_ms", {}), best[hi].get("stages_ms", {})
        for st in sorted(set(lo_st) & set(hi_st)):
            if lo_st[st] > 0 and hi_st[st] > 0:
                stage_eff[st] = round((lo_st[st] / hi_st[st]) / (hi / lo), 3)
        pairs.append(
            {
                "from": lo,
                "to": hi,
                "speedup": round(
                    best[hi]["docs_per_sec"] / best[lo]["docs_per_sec"], 3
                ),
                "scaling_efficiency": round(eff, 3),
                "stage_efficiency": stage_eff,
            }
        )
    result["legs"] = pairs
    if pairs:
        # headline numbers = the first adjacent pair (the physical-core leg)
        result["speedup"] = pairs[0]["speedup"]
        result["scaling_efficiency"] = pairs[0]["scaling_efficiency"]
    result["cpu_topology"] = _cpu_topology()
    result["criterion"] = (
        f"efficiency >= 0.8 from N to 4N cores (N={legs[0]}); legs that "
        "cross into SMT threads (see cpu_topology) measure the "
        "hyperthread ceiling, not plan scaling, and are reported "
        "separately; each leg taskset-confined to exactly its core count "
        "so GC/JIT/IO threads and python workers pay for themselves as "
        "on a real N-core executor"
    )
    print(json.dumps(result))
    write_artifact(os.path.join(REPO, "BENCH_SCALING.json"), result)


def write_artifact(path: str, result: dict) -> bool:
    """Write `result` to `path` unless the artifact already there holds
    more legs: a shorter re-run (one leg, or none) must not replace a
    fuller scaling record. Returns whether it wrote; a refused result
    stays on stdout."""
    try:
        with open(path) as fh:
            old = json.load(fh)
    except (OSError, ValueError):
        old = {}
    have, new = len(old.get("legs", [])), len(result.get("legs", []))
    if have > new:
        print(
            f"scaling_bench: {path} holds {have} legs, this run {new}; "
            "not overwritten",
            file=sys.stderr,
        )
        return False
    with open(path, "w") as fh:
        fh.write(json.dumps(result) + "\n")
    return True


if __name__ == "__main__":
    main()
