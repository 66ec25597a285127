"""The benchmark's workloads: inputs, set-up, one timed pass, and the
correctness gate, each driving the engine through its public functions.

* ``extract_light``: HTML and short PDFs only, the map-only Arrow path.
* ``commit_resume``: the mixed corpus (light documents and the
  multi-hundred-page tail, so the explode, salt exchange, per-page stage
  and JVM reassembly run too), split in two by url hash. A pass extracts
  and commits (``lineage.commit``) the first half, then runs
  ``lineage.resume_filter`` -> ``pipeline.extract`` -> ``lineage.commit``
  over the whole corpus.

The extract passes end in Spark's ``noop`` sink, so every output column
is computed and nothing is collected; the commit pass ends in its parquet
tables.
"""

from __future__ import annotations

import functools
import multiprocessing as mp
import os
import shutil
import time
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass
from multiprocessing import resource_tracker

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from pypdfocr_spark import corpus, lineage, pipeline
from pypdfocr_spark.config import DEFAULT_ROUTE, DEFAULT_TARGETS, ExtractConfig

# commit_resume takes the first base rows: the full light/heavy/excluded mix
COMMIT_BASE_ROWS = 2000
OUT_COLS = ("extracted_text", "extracted_norm", "route", "n_pages", "status")


@dataclass(frozen=True)
class Rows:
    """The base rows a workload replicates: base ids below ``below`` (all
    when None), with or without the multi-hundred-page tail (base id
    ``% 100 == 0``). Its repr is part of the input stamp, so changing
    the rule regenerates the inputs."""

    below: int | None = None
    tail: bool = True

    def __call__(self, i: int, text: str) -> bool:
        return (self.below is None or i < self.below) and (self.tail or i % 100 != 0)


# ----------------------------------------------------------------- oracle
def _oracle_chunk(rows: list[dict]) -> list[dict]:
    return corpus.oracle_extract(rows, DEFAULT_TARGETS, DEFAULT_ROUTE)


def oracle(rows: list[dict], workers: int) -> dict[str, tuple]:
    """``corpus.oracle_extract`` over ``rows`` (url, html), split across
    ``workers`` spawned processes; url -> expected output tuple."""
    rows = sorted(rows, key=lambda r: -len(r["html"]))  # deal big docs first
    chunks = [rows[i::workers] for i in range(workers)]
    try:
        with ProcessPoolExecutor(workers, mp_context=mp.get_context("spawn")) as pool:
            parts = list(pool.map(_oracle_chunk, chunks))
    finally:
        # the spawn context also starts multiprocessing's resource tracker,
        # which otherwise outlives this process; stop it and wait for it
        resource_tracker._resource_tracker._stop()
    return {o["url"]: tuple(o[c] for c in OUT_COLS) for part in parts for o in part}


def count_failed(expected: dict[str, tuple], got: list[tuple]) -> int:
    """Documents whose row is missing, duplicated, ``error:*`` or differs
    from the oracle, plus rows the oracle does not expect."""
    seen: dict[str, tuple] = {}
    bad = 0
    for url, *vals in got:
        if url in seen or url not in expected:
            bad += 1
            continue
        seen[url] = tuple(vals)
    for url, want in expected.items():
        have = seen.get(url)
        if have is None or have != want or str(have[4]).startswith("error:"):
            bad += 1
    return bad


# -------------------------------------------------------------- workload
class Workload:
    """Inputs, corpus and noop-sink extract passes of one workload."""

    def __init__(self, spec: Spec, spark, work: str, seed: int, workers: int):
        self.spec, self.spark, self.seed, self.workers = spec, spark, seed, workers
        self.work = work
        self.inputs_dir = os.path.join(work, "inputs", f"{spec.name}-seed{seed}")
        self.corpus_dir = os.path.join(work, "corpus", spec.name)
        self.cfg = ExtractConfig()

    # -- set-up
    def prepare_inputs(self) -> bool:
        s = self.spec
        params = {"workload": s.name, "copies": s.copies, "rows": repr(s.keep)}
        return inputs.ensure_inputs(
            self.inputs_dir, self.seed, params,
            {"documents": lambda: inputs.documents_table(self.seed, s.copies, s.keep)},
        )

    def materialize(self) -> None:
        pipeline.materialize_corpus(self.spark, self.inputs_dir, self.corpus_dir)

    def corpus_rows(self) -> list[dict]:
        """The materialized (url, html) rows the pipeline keeps (source filter)."""
        rows = pq.read_table(self.corpus_dir, columns=["url", "html"]).to_pylist()
        return [r for r in rows if not r["url"].endswith(corpus.EXCLUDED_SUFFIXES)]

    # -- passes
    def _extract(self):
        return pipeline.extract(self.spark.read.parquet(self.corpus_dir), self.cfg)

    def warmup(self) -> list[tuple]:
        """The first, untimed pass (part of set-up); its output is what
        ``check`` sees."""
        return [tuple(r) for r in self._extract().select("url", *OUT_COLS).collect()]

    def before_pass(self) -> None:
        """Untimed preparation of the next pass."""

    def run_pass(self) -> dict:
        """One timed pass; returns what ``after_pass`` needs."""
        self._extract().write.format("noop").mode("overwrite").save()
        return {}

    def after_pass(self, info: dict) -> dict:
        """Untimed check of one pass: ``failed`` documents and the pass's
        own layer figures."""
        return {"failed": 0}

    # -- correctness
    def check(self, warm_rows: list[tuple]) -> dict:
        """Compare the warm-up output with the oracle. Returns docs
        expected, docs failed, and the per-doc (url, payload, n_pages)."""
        rows = self.corpus_rows()
        expected = oracle(rows, self.workers)
        return {
            "docs": len(expected),
            "failed": count_failed(expected, warm_rows),
            "units": [(r["url"], r["html"], expected[r["url"]][3]) for r in rows],
        }


def _parquet_files(path: str) -> list[str]:
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(os.path.join(path, n) for n in names if n.endswith(".parquet"))


def _urls(files: list[str]) -> list[str]:
    return [u for f in files for u in pq.read_table(f, columns=["url"]).column("url").to_pylist()]


class CommitResume(Workload):
    """Extract + commit the first url-hash half, then resume over the
    whole corpus. Each pass commits into a fresh output directory."""

    def _out(self, tag: str) -> str:
        return os.path.join(self.work, "commit", self.spec.name, tag)

    def before_pass(self) -> None:
        shutil.rmtree(self._out("pass"), ignore_errors=True)

    def _commit_pass(self, out: str) -> dict:
        corpus_df = self.spark.read.parquet(self.corpus_dir)
        first = corpus_df.where(F.xxhash64("url") % 2 == 0)
        t0 = time.perf_counter()
        lineage.commit(pipeline.extract(first, self.cfg), out)
        t1 = time.perf_counter()
        first_files = _parquet_files(os.path.join(out, "extracted"))
        t2 = time.perf_counter()
        rest = lineage.resume_filter(corpus_df, out)
        t3 = time.perf_counter()
        lineage.commit(pipeline.extract(rest, self.cfg), out)
        t4 = time.perf_counter()
        return {"out": out, "first_files": first_files,
                "commit_s": (t1 - t0) + (t4 - t3), "resume_filter_s": t3 - t2}

    def run_pass(self) -> dict:
        return self._commit_pass(self._out("pass"))

    def after_pass(self, info: dict) -> dict:
        """Exactly-once gate on the committed table: every kept url once,
        and no url of the first commit extracted again by the resume."""
        files = _parquet_files(os.path.join(info["out"], "extracted"))
        first_list = _urls(info["first_files"])
        first = set(first_list)
        second = _urls([f for f in files if f not in set(info["first_files"])])
        committed = first_list + second
        kept = self.kept_urls
        reextracted = sum(u in first for u in second)
        missing, extra = len(kept - set(committed)), len(set(committed) - kept)
        failed = missing + extra + len(committed) - len(set(committed))
        size = sum(os.path.getsize(f) for d in ("extracted", "lineage")
                   for f in _parquet_files(os.path.join(info["out"], d)))
        return {
            "failed": failed,
            "lineage.commit_s": info["commit_s"],
            "lineage.resume_filter_s": info["resume_filter_s"],
            "lineage.resume_reextracted_frac": reextracted / len(second) if second else 0.0,
            "catalog.bytes_per_doc": size / len(committed) if committed else 0.0,
        }

    @functools.cached_property
    def kept_urls(self) -> set[str]:
        return {r["url"] for r in self.corpus_rows()}

    def warmup(self) -> list[tuple]:
        """One full untimed pass; its committed rows are what ``check``
        sees, so a url committed twice or never fails there."""
        out = self._out("warm")
        shutil.rmtree(out, ignore_errors=True)
        self._commit_pass(out)
        table = pq.read_table(os.path.join(out, "extracted"), columns=["url", *OUT_COLS])
        return [tuple(r.values()) for r in table.to_pylist()]


@dataclass(frozen=True)
class Spec:
    name: str
    copies: int  # seeded replicates of the kept base rows
    keep: Rows
    kind: type = Workload


SPECS = {
    s.name: s
    for s in (
        Spec("extract_light", copies=1, keep=Rows(tail=False)),
        Spec("commit_resume", copies=1, keep=Rows(below=COMMIT_BASE_ROWS), kind=CommitResume),
    )
}
