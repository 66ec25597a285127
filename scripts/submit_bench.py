#!/usr/bin/env python
"""Two-level scaling evidence through the real launch mechanism:
``spark-submit --py-files pypdfocr_spark.zip`` (BASELINE.json north_rule:
"run via spark-submit --py-files ... at two cluster sizes (N and 4N
executors)").

Unlike scaling_interleaved.py (in-process children; the primary,
lowest-noise scaling number), every child here is a full spark-submit
job launched from a NEUTRAL working directory with PYTHONPATH scrubbed,
so the engine can only come from the ``--py-files`` zip — each run
asserts the PKG_SOURCE provenance line points inside the zip. Timing is
the CLI's own wall_sec (session build excluded, extract + lineage commit
included), i.e. the end-to-end resumable-job throughput.

Protocol (drift-robust, same shape as scaling_interleaved.py): segments
alternate (lo, hi, lo, hi, ...); each segment is 1 warm-up + K timed
submits; efficiency per adjacent pair from per-level min estimators.
A final ``--resume`` submit against a committed output dir must extract
0 new documents (north_rule: resumable from the last committed snapshot).

Env: SPARK_GRAFT_SUBMIT_LEVELS (default "1,4" — the same pair as
scaling_interleaved.py: this box has 16 physical / 32 logical cores, and
4->16 runs into its measured no-Spark memory-bandwidth/SMT ceiling, see
BENCH/BASELINE.md), SPARK_GRAFT_SUBMIT_MULT (default 4),
SPARK_GRAFT_SUBMIT_PAIRS (default 2), SPARK_GRAFT_SF_DIR.
Writes BENCH/submit.json.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import zipfile

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or os.path.join(
    os.path.dirname(__import__("pyspark").__file__), "bin", "spark-submit"
)


def build_zip(dst: str) -> str:
    """Zip the package exactly as a deploy step would for --py-files."""
    zip_path = os.path.join(dst, "pypdfocr_spark.zip")
    pkg = os.path.join(REPO, "pypdfocr_spark")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, dirs, files in os.walk(pkg):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return zip_path


def ensure_corpus(sf_dir: str, mult: int) -> str:
    """The cached corpus for ``sf_dir`` replicated ``mult`` times, rebuilt
    unless its ``_LAYOUT`` stamp names the layout written here."""
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    from pypdfocr_spark import pipeline

    tag = os.path.basename(os.path.normpath(sf_dir))
    corpus_path = f"/tmp/pypdfocr_spark_corpus_{tag}" + (f"_x{mult}" if mult > 1 else "")
    layout = pipeline.CORPUS_LAYOUT if mult == 1 else pipeline.REPLICATED_LAYOUT
    if pipeline.corpus_layout(corpus_path) != layout:
        shutil.rmtree(corpus_path, ignore_errors=True)
        if mult == 1:
            # the unreplicated path is the cache bench.py and
            # __spark_entry__ reuse: write their split light/heavy layout
            write = f"pipeline.materialize_corpus(s, {sf_dir!r}, {corpus_path!r})"
        else:
            write = (
                f"pipeline.build_corpus_df(s, {sf_dir!r}, replicate={mult}).repartition(192)"
                f".sortWithinPartitions('n_bytes').write.mode('overwrite').parquet({corpus_path!r});"
                f"pipeline.stamp_corpus_layout({corpus_path!r}, {layout!r})"
            )
        code = (
            f"import sys; sys.path.insert(0, {REPO!r});"
            "from pypdfocr_spark.session import get_spark;"
            "from pypdfocr_spark import pipeline;"
            "s = get_spark('mat', master='local[32]'); s.sparkContext.setLogLevel('ERROR');"
            + write
        )
        subprocess.run([sys.executable, "-c", code], check=True, cwd=REPO)
    return corpus_path


def run_submit(
    master: str,
    corpus: str,
    out: str,
    zip_path: str,
    workdir: str,
    resume: bool = False,
    repeat: int = 0,
) -> dict:
    """One spark-submit job; returns {'wall_sec', 'run_id', 'pkg_source'}
    (or {'runs_sec': [...]} when repeat > 1)."""
    entry = os.path.join(workdir, "submit_entry.py")
    if not os.path.exists(entry):
        shutil.copy(os.path.join(REPO, "scripts", "submit_entry.py"), entry)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    argv = [
        SPARK_SUBMIT,
        "--master", master,
        "--conf", "spark.ui.enabled=false",
        "--py-files", zip_path,
        entry,
        "--corpus", corpus,
        "--out", out,
        "--master", master,  # keep the in-code session builder in agreement
    ]
    if resume:
        argv.append("--resume")
    if repeat > 1:
        argv += ["--repeat", str(repeat)]
    proc = subprocess.run(
        argv, capture_output=True, text=True, cwd=workdir, env=env, timeout=1800
    )
    if proc.returncode != 0:
        raise RuntimeError(f"spark-submit failed:\n{proc.stderr[-4000:]}")
    # spark-submit merges the python app's stderr into its own stdout on
    # this layout — accept the provenance line from either stream
    pkg_source = next(
        (
            ln.split("=", 1)[1]
            for ln in (proc.stdout + "\n" + proc.stderr).splitlines()
            if ln.startswith("PKG_SOURCE=")
        ),
        "",
    )
    if zip_path not in pkg_source:
        raise RuntimeError(
            f"engine was NOT imported from the --py-files zip: {pkg_source!r}"
        )
    stats = json.loads(proc.stdout.strip().splitlines()[-1])
    stats["pkg_source"] = pkg_source
    return stats


def extracted_rows(out: str) -> int:
    con = duckdb.connect()
    return con.execute(f"SELECT count(*) FROM '{out}/extracted/*.parquet'").fetchone()[0]


def segment(level: int, runs: int, corpus: str, zip_path: str, workdir: str) -> list[float]:
    """One spark-submit JVM at local[level] running 1 warm-up + `runs`
    timed extract+commit cycles (--repeat). Timing inside one JVM is the
    steady-state regime a 10^12-doc job runs in — a cold JVM's JIT/startup
    is a fixed cost that amortizes to zero there, but at sandbox job sizes
    (~20 s) it dominates and fakes the scaling ratio (measured: cold-JVM
    per-run protocol gave 0.47 at 1->4 where warm in-JVM runs give ~0.86)."""
    out = tempfile.mkdtemp(prefix=f"submit_out_{level}_", dir=workdir)
    stats = run_submit(
        f"local[{level}]", corpus, out, zip_path, workdir, repeat=runs + 1
    )
    shutil.rmtree(out, ignore_errors=True)
    return stats["runs_sec"][1:]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    mult = int(os.environ.get("SPARK_GRAFT_SUBMIT_MULT", "4"))
    lo_n, hi_n = (
        int(x) for x in os.environ.get("SPARK_GRAFT_SUBMIT_LEVELS", "1,4").split(",")
    )
    pairs = int(os.environ.get("SPARK_GRAFT_SUBMIT_PAIRS", "2"))
    runs_per_segment = 2

    corpus = ensure_corpus(sf_dir, mult)
    workdir = tempfile.mkdtemp(prefix="pypdfocr_submit_")
    zip_path = build_zip(workdir)
    n_docs = duckdb.connect().execute(
        f"SELECT count(*) FROM '{corpus}/**/*.parquet'"
    ).fetchone()[0]

    segs: list[tuple[list[float], list[float]]] = []
    for p in range(pairs):
        lo = segment(lo_n, runs_per_segment, corpus, zip_path, workdir)
        hi = segment(hi_n, runs_per_segment, corpus, zip_path, workdir)
        segs.append((lo, hi))
        print(f"pair {p + 1}/{pairs}: lo={lo} hi={hi}", flush=True)

    # resume evidence: commit once, then --resume against the same out dir
    out = tempfile.mkdtemp(prefix="submit_resume_", dir=workdir)
    run_submit(f"local[{hi_n}]", corpus, out, zip_path, workdir)
    before = extracted_rows(out)
    run_submit(f"local[{hi_n}]", corpus, out, zip_path, workdir, resume=True)
    after = extracted_rows(out)
    resume_new_rows = after - before

    per_pair = [
        round((n_docs / min(hi)) / (n_docs / min(lo)) / (hi_n / lo_n), 3)
        for lo, hi in segs
    ]
    lo_all = [t for lo, _ in segs for t in lo]
    hi_all = [t for _, hi in segs for t in hi]
    result = {
        "mechanism": "spark-submit --py-files pypdfocr_spark.zip, neutral cwd, "
                     "PYTHONPATH scrubbed, per-run zip-provenance assert",
        "sf": os.path.basename(os.path.normpath(sf_dir)),
        "mult": mult,
        "n_corpus_rows": n_docs,
        # rate denominator = documents actually extracted (the corpus
        # includes ~20% suffix-excluded urls the source filter drops)
        "n_docs": before,
        "levels": [lo_n, hi_n],
        "pairs": [
            {"lo_runs_sec": lo, "hi_runs_sec": hi, "eff": e}
            for (lo, hi), e in zip(segs, per_pair)
        ],
        "per_pair_efficiency": per_pair,
        "efficiency_median_of_pairs": round(statistics.median(per_pair), 3),
        "docs_per_sec_lo": round(before / min(lo_all), 2),
        "docs_per_sec_hi": round(before / min(hi_all), 2),
        "resume_new_rows": resume_new_rows,
        "first_run_rows": before,
        "protocol": f"{pairs} interleaved (lo,hi) spark-submit pairs; each segment = "
                    f"ONE submit JVM running 1 warm-up + {runs_per_segment} timed "
                    "extract+commit cycles (--repeat); per-pair min estimator; "
                    "run wall = extract + lineage commit (session build excluded)",
    }
    print(json.dumps(result))
    os.makedirs(f"{REPO}/BENCH", exist_ok=True)
    with open(f"{REPO}/BENCH/submit.json", "w") as f:
        json.dump(result, f)
    shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    main()
