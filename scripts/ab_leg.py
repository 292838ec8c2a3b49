"""One instrumented pipeline leg for perf attribution.

Runs the flagship pipeline once in THIS process at --cores over the
pre-written corpus (scaling_bench.gen_input layout), printing per-stage
lineage (wall + rows) and the candidate/edge row counts — the numbers
needed to attribute a wall-time change to pair volume vs stage cost.

Usage: python scripts/ab_leg.py --cores 8 --docs 100000
       [--input /tmp/scale_input_100000] [--eventlog]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pcompress_spark.config import PipelineConfig  # noqa: E402
from pcompress_spark.pipeline import DedupPipeline  # noqa: E402
from pcompress_spark.session import get_spark  # noqa: E402


def main() -> None:
    cores = int(sys.argv[sys.argv.index("--cores") + 1]) if "--cores" in sys.argv else 8
    docs = int(sys.argv[sys.argv.index("--docs") + 1]) if "--docs" in sys.argv else 100000
    inp = (
        sys.argv[sys.argv.index("--input") + 1]
        if "--input" in sys.argv
        else f"/tmp/scale_input_{docs}"
    )
    cfg = PipelineConfig()
    extra = {}
    if "--eventlog" in sys.argv:
        evdir = f"/tmp/spark-events-{cores}"
        os.makedirs(evdir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
        }
    spark = get_spark(f"ab{cores}", master=f"local[{cores}]", extra_conf=extra)
    spark.range(1000).selectExpr("sum(id)").collect()
    ckpt = tempfile.mkdtemp(prefix="ab_ckpt_")

    def machine_busy_s() -> float:
        """Whole-machine busy CPU seconds from /proc/stat (box assumed
        otherwise quiet): total minus idle+iowait, in seconds."""
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        idle = f[3] + f[4]
        return (sum(f) - idle) / os.sysconf("SC_CLK_TCK")

    busy0 = machine_busy_s()
    t0 = time.time()
    pages = spark.read.parquet(inp)
    pipe = DedupPipeline(spark, cfg, checkpoint_dir=ckpt, resume=False)
    rows = pipe.run(pages).count()
    wall = time.time() - t0
    print(f"== cores={cores} wall={wall:.1f}s rows={rows}")
    for rec in pipe.ckpt.lineage():
        print("  " + json.dumps(rec))
    # edge count from the checkpointed table (metadata-only)
    print("  edges_rows:", spark.read.parquet(pipe.ckpt.path("edges")).count())
    print(
        "  candidates_rows:",
        spark.read.parquet(pipe.ckpt.path("candidates")).count(),
    )
    print("  machine_busy_s:", round(machine_busy_s() - busy0, 1))
    print("  cpu_tree_s:", round(_tree_cpu_seconds(), 1))
    import shutil

    shutil.rmtree(ckpt, ignore_errors=True)


def _tree_cpu_seconds() -> float:
    """Total utime+stime (incl. dead, reaped descendants) of this process
    tree — the JVM and every python worker — via /proc. cutime/cstime of
    self covers reaped children; live descendants are walked and summed."""
    tick = os.sysconf("SC_CLK_TCK")

    def stat(pid: str):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            # fields after comm: state ppid ... utime(11) stime(12)
            # cutime(13) cstime(14) relative to post-comm index
            return int(f[1]), int(f[11]), int(f[12]), int(f[13]), int(f[14])
        except OSError:
            return None

    me = os.getpid()
    kids: dict[int, list[int]] = {}
    info: dict[int, tuple] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            s = stat(pid)
            if s:
                info[int(pid)] = s
                kids.setdefault(s[0], []).append(int(pid))
    total, stack = 0, [me]
    while stack:
        p = stack.pop()
        if p in info:
            ppid, ut, st, cut, cst = info[p]
            total += ut + st + cut + cst
            stack.extend(kids.get(p, []))
    return total / tick


if __name__ == "__main__":
    main()
