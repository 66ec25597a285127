"""spark-submit entry point (north rule: launched with
``spark-submit --py-files pypdfocr_spark.zip`` on a multi-executor
cluster; in the sandbox it runs under plain ``python`` on local[N]).

Usage::

    python -m pypdfocr_spark.cli --sf-dir /root/testdata/sf0.001 \
        --out /tmp/out [--resume] [--watch INPUT_DIR --checkpoint DIR]

Mirrors the reference CLI surface (ref: pypdfocr/pypdfocr.py:107-227):
single-input batch mode vs ``--watch`` streaming mode are mutually
exclusive, routing config comes from a YAML/JSON file (``--config``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from . import lineage, pipeline
from .config import DEFAULT_ROUTE, DEFAULT_TARGETS, ExtractConfig
from .kernels.route import normalize_targets
from .session import get_spark


def _read_with_retry(path: str, attempts: int = 6, delay: float = 0.0) -> str:
    """Open-with-retry parity: the reference retries the config open 6×
    on IOError (ref: pypdfocr/pypdfocr.py:61-64 `@retry(count=6,
    exc_type=IOError)`) — written for flaky network mounts. Same intent
    here, minus the reference decorator's fall-through bug."""
    last: OSError | None = None
    for _ in range(attempts):
        try:
            with open(path) as f:
                return f.read()
        except OSError as exc:
            last = exc
            if delay:
                time.sleep(delay)
    raise last  # type: ignore[misc]


def load_config(
    path: str | None,
    preprocess: bool = False,
    scratch_dir: str | None = None,
) -> ExtractConfig:
    """YAML (like the reference, ref: pypdfocr/pypdfocr.py:92-103) or JSON
    routing config. Mapping key order is preserved — first-match routing
    depends on it (ref: pypdfocr/pypdfocr.py:301-307). ``preprocess`` /
    ``scratch_dir`` CLI flags override the file keys of the same name."""
    raw: dict = {}
    if path:
        text = _read_with_retry(path)
        try:
            import yaml  # safe_load keeps dict insertion order on py>=3.7

            raw = yaml.safe_load(text) or {}
        except ImportError:  # pragma: no cover - yaml is present in sandbox
            raw = json.loads(text)
    targets = normalize_targets(list(raw.get("folders", {}).items())) or list(DEFAULT_TARGETS)
    return ExtractConfig(
        targets=targets,
        default_route=raw.get("default_folder", DEFAULT_ROUTE),
        use_filename=bool(raw.get("match_using_filename", True)),
        preprocess=preprocess or bool(raw.get("preprocess", False)),
        scratch_dir=scratch_dir or raw.get("scratch_dir"),
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="pypdfocr-spark")
    p.add_argument("--sf-dir", help="driver table dir to derive the corpus from")
    p.add_argument("--corpus", help="existing corpus parquet path (F1 schema)")
    p.add_argument("--out", required=True, help="output dir: commits append to <out>/extracted")
    p.add_argument("--config", help="routing config (YAML or JSON)")
    p.add_argument("--resume", action="store_true", help="skip committed urls")
    p.add_argument(
        "--watch",
        help="streaming: process the corpus files in this dir present at start, "
        "then exit (the checkpoint skips them on the next start)",
    )
    p.add_argument("--checkpoint", help="streaming checkpoint dir")
    p.add_argument("--master", default=None)
    p.add_argument(
        "--preprocess",
        action="store_true",
        help="opt-in ImageMagick cleanup before OCR (reference -p; "
        "subprocess strategy only)",
    )
    p.add_argument(
        "--scratch-dir",
        default=None,
        help="shared scratch mount for per-page staging of real PDFs; "
        "must be reachable from every executor (unset = whole-doc tasks)",
    )
    p.add_argument(
        "--repeat",
        type=int,
        default=1,
        help="bench mode: run the extract+commit cycle N times (first is a "
        "JVM/JIT warm-up) into out/r0..r{N-1}, print per-run wall times — "
        "steady-state throughput, the regime a 10^12-doc job runs in",
    )
    args = p.parse_args(argv)

    if bool(args.watch) == bool(args.sf_dir or args.corpus):
        p.error("exactly one of --watch or (--sf-dir | --corpus) is required")
    if args.watch and not args.checkpoint:
        p.error("--watch requires --checkpoint")

    spark = get_spark("pypdfocr-spark-cli", master=args.master)
    cfg = load_config(args.config, preprocess=args.preprocess, scratch_dir=args.scratch_dir)
    # Job-scoped scratch prefix (the contract in config.scratch_dir):
    # staging goes under <scratch>/job-<id> so job-end cleanup can remove
    # THIS job's files unconditionally without racing concurrent jobs on
    # the same shared mount. Applied AFTER load_config so a config-file
    # scratch_dir is scoped exactly like the CLI flag — an unscoped value
    # would make _clean_scratch rmtree the shared mount itself.
    if cfg.scratch_dir:
        import dataclasses
        import uuid as _uuid

        cfg = dataclasses.replace(
            cfg,
            scratch_dir=os.path.join(cfg.scratch_dir, f"job-{_uuid.uuid4().hex[:12]}"),
        )

    if args.watch:
        from .stream import watch_extract

        q = watch_extract(spark, args.watch, args.out, args.checkpoint, cfg)
        try:
            q.awaitTermination()
        finally:
            # the watch loop stages pages under the same job-scoped
            # prefix for as long as it runs; without this the dir leaked
            # one job-<id> per launch (ADVICE r3)
            _clean_scratch(cfg)
        return 0

    corpus_df = (
        spark.read.parquet(args.corpus)
        if args.corpus
        else pipeline.build_corpus_df(spark, args.sf_dir)
    )
    if args.resume:
        corpus_df = lineage.resume_filter(corpus_df, args.out)
    # finally-scoped so a failed run releases its job-scoped staging too
    # (a dead job's pages are useless; crash-without-finally leftovers
    # remain the operator's clean_scratch maintenance sweep)
    if args.repeat > 1:
        runs_sec = []
        try:
            for i in range(args.repeat):
                t0 = time.monotonic()
                result = pipeline.extract(corpus_df, cfg)
                lineage.commit(result, f"{args.out}/r{i}")
                runs_sec.append(round(time.monotonic() - t0, 2))
        finally:
            _clean_scratch(cfg)
        print(json.dumps({"runs_sec": runs_sec, "n_warmup": 1}))
        return 0
    t0 = time.monotonic()
    try:
        result = pipeline.extract(corpus_df, cfg)
        stats = lineage.commit(result, args.out)
    finally:
        _clean_scratch(cfg)
    print(json.dumps({"run_id": stats["run_id"], "wall_sec": round(time.monotonic() - t0, 2)}))
    return 0


def _clean_scratch(cfg: ExtractConfig) -> None:
    """Job-end scratch cleanup (the promise in config.scratch_dir):
    remove THIS job's staging subdir entirely — it is job-scoped, so no
    other job can be using it, which makes the unconditional rmtree safe.
    Deliberately does NOT age-sweep the shared parent here: directory
    mtimes stop updating once staging ends, so an age sweep from job B
    could delete a still-running job A's dir mid-OCR (silent blank
    pages). Crash leftovers are the operator's `subproc.clean_scratch`
    maintenance call with a max_age they know exceeds any job's wall
    time. Best-effort — a cleanup failure must not fail a committed job."""
    if cfg.scratch_dir:
        try:
            import shutil

            shutil.rmtree(cfg.scratch_dir, ignore_errors=True)
        except Exception:
            pass


if __name__ == "__main__":
    sys.exit(main())
