#!/usr/bin/env python
"""Scaling evidence for the round-5 curation operators.

Same two-level protocol as scaling_bench.py: the identical job at
local[4] and local[16] (16 physical cores; never 8 vs 32 — SMT pollutes
the ratio), each level its own JVM, 1 warm-up + 3 timed runs, MIN
estimator with medians disclosed. Inputs are deterministic synthetic
corpora (seeded, byte-stable across runs).

Two jobs, one gate through two plan shapes:

* **gate**: parquet scan → fix_text_df → bloom_probe_df → survivor
  filter → classifier_score_df (fixed seeded weights) → threshold count.
  Entirely map-only (three Arrow stages, zero Exchange) — the 100-TB
  shape for encoding repair, cross-corpus dedup probes, and model
  scoring. CAVEAT for reading its two-level ratio on one box: each task
  pipelines THREE Python workers, so the local[4] level really drives up
  to 12 cores — the measured "efficiency" under-reads the true N→4N
  scaling of the per-core work.
* **gate_fused**: the same semantics through ``recipe.web_gate`` (TWO
  Arrow stages — the production front door). Same n_out as gate by
  construction (cross-checked), fewer Python crossings, and a less
  oversubscription-distorted ratio.

Env knobs: CURATION_BENCH_DOCS (default 400000), CURATION_BENCH_LEVELS
(default "4,16").
Writes BENCH/curation_scaling.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def build_corpus(n_docs: int) -> str:
    """Seeded corpus parquet: ~400-char docs, 30% carrying one of 500
    shared fragments (the substring-dedup signal), written once."""
    root = f"/tmp/curation_bench_{n_docs}"
    marker = os.path.join(root, "_DONE")
    if os.path.exists(marker):
        return root
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root, exist_ok=True)

    def words(seed: str, n: int) -> str:
        out = []
        k = 0
        while len(out) < n:
            h = hashlib.md5(f"{seed}:{k}".encode()).hexdigest()
            out.extend(h[i : i + 6] for i in range(0, 30, 6))
            k += 1
        return " ".join(out[:n])

    frags = [words(f"frag:{i}", 12) for i in range(500)]
    ids, texts = [], []
    for i in range(n_docs):
        body = words(f"doc:{i}", 48)
        sel = int(hashlib.md5(f"pick:{i}".encode()).hexdigest()[:8], 16)
        if sel % 10 < 3:  # 30% carry a shared fragment mid-doc
            f = frags[sel % 500]
            body = body[:160] + " " + f + " " + body[160:]
        ids.append(i)
        texts.append(body)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
        os.path.join(root, "docs.parquet"),
    )
    with open(marker, "w") as f:
        f.write("ok")
    return root


CHILD = r"""
import json, statistics, sys, time
import numpy as np
sys.path.insert(0, {repo!r})
from pypdfocr_spark.session import get_spark
from pypdfocr_spark import bloom, classifier, textfix
from pyspark.sql import functions as F

cores = int(sys.argv[1]); root = sys.argv[2]
job = sys.argv[3]; n_docs = int(sys.argv[4])
spark = get_spark(f"curation-scaling-{{cores}}", master=f"local[{{cores}}]")
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet(root + "/docs.parquet").where(
    F.col("doc_id") < n_docs
).repartition(cores * 4).persist()
docs.count()

nb = 1 << 16
model = classifier.QualityModel(
    np.random.RandomState(7).standard_normal(nb), 0.0, nb, True
)
bitmap = bloom.bloom_build(
    docs.where(F.col("doc_id") % 11 == 0), "text",
    num_bits=1 << 22, num_hashes=7,
)
if job == "gate":
    def run_once():
        fixed = textfix.fix_text_df(docs)
        survivors = bloom.bloom_probe_df(fixed, bitmap).where(
            ~F.col("maybe_seen")
        )
        scored = classifier.classifier_score_df(survivors, model)
        return scored.where(F.col("quality_prob") >= 0.4).count()
else:
    from pypdfocr_spark import recipe
    def run_once():
        return recipe.web_gate(docs, model, bitmap, threshold=0.4).count()

times, n = [], 0
for i in range(4):
    t0 = time.monotonic()
    n = run_once()
    dt = time.monotonic() - t0
    if i:
        times.append(dt)
med = statistics.median(times); best = min(times)
print(json.dumps({{"cores": cores, "job": job, "n_out": n,
                   "runs_sec": [round(t, 3) for t in times],
                   "median_sec": round(med, 3), "best_sec": round(best, 3),
                   "docs_per_sec": round(n_docs / best, 2),
                   "docs_per_sec_median": round(n_docs / med, 2)}}))
"""


def run_level(cores: int, root: str, job: str, n_docs: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", CHILD.format(repo=REPO),
         str(cores), root, job, str(n_docs)],
        capture_output=True, text=True, check=True, cwd=REPO,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    n_docs = int(os.environ.get("CURATION_BENCH_DOCS", "400000"))
    levels = [
        int(x)
        for x in os.environ.get("CURATION_BENCH_LEVELS", "4,16").split(",")
    ]
    root = build_corpus(n_docs)
    out = {"n_docs_gate": n_docs, "jobs": {}}
    for job in ("gate", "gate_fused"):
        results = [run_level(c, root, job, n_docs) for c in levels]
        lo, hi = results[0], results[-1]
        eff = (hi["docs_per_sec"] / lo["docs_per_sec"]) / (
            hi["cores"] / lo["cores"]
        )
        out["jobs"][job] = {
            "levels": results,
            "scaling_efficiency": round(eff, 3),
        }
        print(json.dumps(out["jobs"][job]))
    out["estimator"] = "min of 3 (median disclosed)"
    path = os.path.join(REPO, "BENCH", "curation_scaling.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
        f.write("\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
