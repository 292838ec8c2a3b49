"""Guest-memory warmup: neutralize slow host-side page-fault paths.

Some sandbox VMs (Firecracker-class, memory-oversubscribed hosts) deliver
first-touch anonymous memory at 0.01-0.4 GB/s — 50-1000x slower than the
~16 GB/s the same pages sustain once resident. Two mechanisms compound:

 1. the host demand-allocates VM memory, so every page the guest has
    never touched costs a host-side fault (measured here: 105 s to fault
    in 2 GB cold vs 0.9 s warm);
 2. virtio-balloon FREE PAGE REPORTING (feature bit 5) hands freed guest
    pages straight back to the host, so even memory a finished process
    already paid for re-faults through the slow path on reuse.

A Spark run is exactly the worst case: each bench leg boots a fresh JVM
that grows a multi-GB heap, shuffle buffers, and Arrow pools from cold
pages — measured as 3-6x wall-time inflation concentrated in the
shuffle-heavy stages (sigs/assignments, whose working sets are small and
quickly resident, were unaffected; candidates/verify/edges tripled their
machine-CPU seconds).

Remedy: fault in most of the VM's memory once, paying the slow cost a
single time outside every measured window. This is environment
preparation, not benchmark staging: the measured jobs still allocate,
shuffle, and spill exactly as before — their pages just come off the
guest free list like they would on any healthy host. It changes no
machine setting, so pages a finished process frees can still re-cool
through mechanism 2.

The warm-up is best-effort and a no-op on healthy machines (the probe
gates it), so bench harnesses call `ensure_warm()` unconditionally.
"""

from __future__ import annotations

import os
import sys
import time

# pages already faulted by this process's probes/warmups stay warm; track
# so repeated ensure_warm() calls in one process are cheap
_warmed = False


def cold_fault_rate_gbps(sample_mb: int = 256) -> float:
    """Fault in `sample_mb` of fresh anonymous memory; return GB/s."""
    import mmap

    n = sample_mb * 1024 * 1024
    t0 = time.time()
    m = mmap.mmap(-1, n)
    step = 4096
    for off in range(0, n, step):
        m[off] = 1
    dt = time.time() - t0
    m.close()
    return (n / 1e9) / dt


def _available_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024 / 1024
    return 0.0


def ensure_warm(
    min_rate_gbps: float = 1.0,
    reserve_gb: float = 12.0,
    budget_s: float | None = None,
    log=None,
) -> dict:
    """Probe the cold-fault rate; when degraded, fault in
    (MemAvailable - reserve_gb) once. Returns a report dict.

    budget_s caps the warmup wall time (default 900 s, override with
    $PCOMPRESS_WARM_BUDGET_S): on a host degraded to ~0.01 GB/s a full
    warm would take hours — partial warmth still covers the hottest
    pages and the bench must not stall unboundedly.

    Keep every chunk alive until the end: releasing early would recycle
    the same pages instead of faulting fresh ones, leaving the rest of
    the machine cold.
    """
    global _warmed
    log = log or (lambda msg: print(msg, file=sys.stderr, flush=True))
    if budget_s is None:
        budget_s = float(os.environ.get("PCOMPRESS_WARM_BUDGET_S", "900"))
    rep = {"warmed_gb": 0}
    rate = cold_fault_rate_gbps()
    rep["cold_fault_gbps_before"] = round(rate, 2)
    if rate >= min_rate_gbps or _warmed:
        return rep
    target = max(0.0, _available_gb() - reserve_gb)
    log(
        f"[warmup] cold page-fault rate {rate:.2f} GB/s — faulting in "
        f"up to {target:.0f} GB once (budget {budget_s:.0f}s, one-time "
        "cost, outside measured windows)"
    )
    chunks = []
    t0 = time.time()
    one_gb = 1024 * 1024 * 1024
    try:
        import mmap

        for _ in range(int(target)):
            if time.time() - t0 > budget_s:
                rep["budget_exhausted"] = True
                break
            m = mmap.mmap(-1, one_gb)
            for off in range(0, one_gb, 4096):
                m[off] = 1
            chunks.append(m)
            rep["warmed_gb"] += 1
    except (OSError, MemoryError):
        pass  # stop at whatever fit; partial warmth is still warmth
    finally:
        for m in chunks:
            m.close()
    rep["warm_seconds"] = round(time.time() - t0, 1)
    rep["cold_fault_gbps_after"] = round(cold_fault_rate_gbps(), 2)
    _warmed = True
    log(f"[warmup] done: {rep}")
    return rep


if __name__ == "__main__":
    print(ensure_warm())
