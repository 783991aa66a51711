"""Weak-scaling evidence: crawl throughput vs INPUT size at fixed cores.

The north rule's N->4N criterion measures core scaling (BENCH/BASELINE.md);
this companion measures the other axis a 10^10-URL frontier stresses —
does per-URL cost stay flat as the frontier grows? Superlinear frontier
management (an O(frontier) scan per epoch, an unbounded driver collect, a
skewed bucket) shows up here as urls/sec DECAYING with corpus size even on
one host.

Protocol: same sf0.1 table inputs, same 32 cores, corpus scaled 1x -> 4x by
site count (hot-host skew scaled proportionally), fresh JVM per run via
`bench.py --crawl-only` (warmup crawl untimed inside each JVM), ABBA order
to cancel window drift on this noisy VM. Pass = 4x throughput >= 0.8x the
1x throughput (flat within window noise).

Usage: python BENCH/input_scaling.py [reps]   # reps = ABBA blocks, default 1
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SCALES = {
    "1x": "40,10,400,80",
    "4x": "160,10,400,320",
}


def run_one(tag: str) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.1"
    env["SPARK_GRAFT_CPUS"] = "32"
    env["SPARK_GRAFT_CRAWL_SCALE"] = SCALES[tag]
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, "bench.py", "--crawl-only"],
        cwd=str(REPO), env=env, capture_output=True, text=True, check=True,
    )
    line = out.stdout.strip().splitlines()[-1]
    crawl = json.loads(line)["crawl"]
    crawl["scale"] = tag
    crawl["proc_wall_s"] = round(time.time() - t0, 1)
    print(json.dumps(crawl), flush=True)
    return crawl


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    runs: list[dict] = []
    for _ in range(reps):
        for tag in ("1x", "4x", "4x", "1x"):  # ABBA
            runs.append(run_one(tag))
    by = {t: sorted(r["urls_per_sec"] for r in runs if r["scale"] == t)
          for t in SCALES}
    med = {t: v[len(v) // 2] if len(v) % 2 else (v[len(v) // 2 - 1] + v[len(v) // 2]) / 2
           for t, v in by.items()}
    ratio = round(med["4x"] / med["1x"], 3)
    result = {
        "metric": "weak scaling: crawl urls/sec at 1x vs 4x input, 32 cores",
        "runs": runs,
        "median_urls_per_sec": med,
        "throughput_ratio_4x_over_1x": ratio,
        "pass_flat_within_noise": ratio >= 0.8,
    }
    out = REPO / "BENCH" / "input_scaling_r4.json"
    out.write_text(json.dumps(result, indent=1))
    print(json.dumps({"median": med, "ratio": ratio}))


if __name__ == "__main__":
    main()
