#!/usr/bin/env python
"""Interleaved two-level scaling measurement — drift-robust variant of
scaling_bench.py (VERDICT r2 #9: quantify the noise, don't average over
it). The sequential protocol runs all low-level runs, then all high-level
runs; on a box with slow co-tenant drift that biases the ratio by
whatever the load did in between. Here the levels ALTERNATE in segments
(lo, hi, lo, hi, ...), each segment a fresh JVM doing 1 warm-up + K timed
runs, and efficiency is computed per adjacent (lo, hi) segment pair —
drift slower than a segment cancels out of the per-pair ratios. Reports
the per-pair efficiencies, their median, and min/median per level.

Env: SPARK_GRAFT_SCALING_LEVELS (default "1,4"),
SPARK_GRAFT_SCALING_MULT (default 16), SPARK_GRAFT_SCALING_SEGMENTS
(default 3 pairs), SPARK_GRAFT_SF_DIR. Writes BENCH/scaling_interleaved.json.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pypdfocr_spark.session import get_spark
from pypdfocr_spark import pipeline
from pypdfocr_spark.config import ExtractConfig

cores, runs = int(sys.argv[1]), int(sys.argv[2])
corpus_path = sys.argv[3]
spark = get_spark(f"scale-{{cores}}", master=f"local[{{cores}}]")
spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
spark.conf.set("spark.sql.files.openCostInBytes", str(16 * 1024 * 1024))
spark.sparkContext.setLogLevel("ERROR")
corpus = spark.read.parquet(corpus_path)
times, n = [], 0
for i in range(runs + 1):  # first = warm-up
    t0 = time.monotonic()
    n = pipeline.extract(corpus, ExtractConfig()).count()
    dt = time.monotonic() - t0
    if i:
        times.append(dt)
print(json.dumps({{"cores": cores, "n_docs": n,
                   "runs_sec": [round(t, 3) for t in times]}}))
"""


def run_segment(cores: int, runs: int, corpus_path: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", CHILD.format(repo=REPO), str(cores), str(runs), corpus_path],
        capture_output=True, text=True, check=True, cwd=REPO,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    mult = int(os.environ.get("SPARK_GRAFT_SCALING_MULT", "16"))
    lo_n, hi_n = (
        int(x) for x in os.environ.get("SPARK_GRAFT_SCALING_LEVELS", "1,4").split(",")
    )
    pairs = int(os.environ.get("SPARK_GRAFT_SCALING_SEGMENTS", "3"))
    runs_per_segment = 2
    tag = os.path.basename(os.path.normpath(sf_dir))
    corpus_path = f"/tmp/pypdfocr_spark_corpus_{tag}_x{mult}"
    sys.path.insert(0, REPO)
    from pypdfocr_spark import pipeline

    if pipeline.corpus_layout(corpus_path) != pipeline.REPLICATED_LAYOUT:
        shutil.rmtree(corpus_path, ignore_errors=True)
        code = (
            f"import sys; sys.path.insert(0, {REPO!r});"
            "from pypdfocr_spark.session import get_spark;"
            "from pypdfocr_spark import pipeline;"
            "s = get_spark('mat', master='local[32]'); s.sparkContext.setLogLevel('ERROR');"
            f"df = pipeline.build_corpus_df(s, {sf_dir!r}, replicate={mult}).repartition(192)"
            ".sortWithinPartitions('n_bytes'); "
            f"df.write.mode('overwrite').parquet({corpus_path!r}); "
            f"pipeline.stamp_corpus_layout({corpus_path!r}, pipeline.REPLICATED_LAYOUT)"
        )
        subprocess.run([sys.executable, "-c", code], check=True, cwd=REPO)

    segs: list[tuple[dict, dict]] = []
    n_docs = 0
    for p in range(pairs):
        lo = run_segment(lo_n, runs_per_segment, corpus_path)
        hi = run_segment(hi_n, runs_per_segment, corpus_path)
        n_docs = lo["n_docs"]
        segs.append((lo, hi))
        print(f"pair {p + 1}/{pairs}: lo={lo['runs_sec']} hi={hi['runs_sec']}", flush=True)

    per_pair = []
    for lo, hi in segs:
        r_lo = n_docs / min(lo["runs_sec"])
        r_hi = n_docs / min(hi["runs_sec"])
        per_pair.append(round((r_hi / r_lo) / (hi_n / lo_n), 3))
    lo_all = [t for lo, _ in segs for t in lo["runs_sec"]]
    hi_all = [t for _, hi in segs for t in hi["runs_sec"]]
    result = {
        "sf": tag,
        "levels": [lo_n, hi_n],
        "n_docs": n_docs,
        "pairs": [
            {"lo_runs_sec": lo["runs_sec"], "hi_runs_sec": hi["runs_sec"], "eff": e}
            for (lo, hi), e in zip(segs, per_pair)
        ],
        "per_pair_efficiency": per_pair,
        "efficiency_median_of_pairs": round(statistics.median(per_pair), 3),
        "efficiency_overall_min": round(
            (n_docs / min(hi_all)) / (n_docs / min(lo_all)) / (hi_n / lo_n), 3
        ),
        "lo_spread_sec": round(max(lo_all) - min(lo_all), 3),
        "hi_spread_sec": round(max(hi_all) - min(hi_all), 3),
        "protocol": f"{pairs} interleaved (lo,hi) JVM pairs, 1 warm-up + "
                    f"{runs_per_segment} timed runs per segment, per-pair min estimator",
    }
    print(json.dumps(result))
    os.makedirs(f"{REPO}/BENCH", exist_ok=True)
    with open(f"{REPO}/BENCH/scaling_interleaved.json", "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
