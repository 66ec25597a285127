"""End-to-end launch-mechanism test: the engine runs under real
``spark-submit --py-files pypdfocr_spark.zip`` (north_rule launch shape),
from a neutral cwd with PYTHONPATH scrubbed — the import provably comes
from the zip — and a second ``--resume`` submit extracts 0 new documents
(resume from the last committed snapshot).

One JVM launch per submit (~20 s each); kept to two submits over the
tiny sf0.001 corpus.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import submit_bench  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def submit_env(tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("submit"))
    zip_path = submit_bench.build_zip(wd)
    corpus = submit_bench.ensure_corpus(SF_DIR, 1)
    return wd, zip_path, corpus


def test_submit_runs_from_zip_and_resumes(submit_env):
    wd, zip_path, corpus = submit_env
    out = os.path.join(wd, "out")

    stats = submit_bench.run_submit("local[8]", corpus, out, zip_path, wd)
    # provenance: the engine import resolved inside the --py-files zip
    assert zip_path in stats["pkg_source"]
    assert stats["wall_sec"] > 0
    rows = submit_bench.extracted_rows(out)
    assert rows > 0

    # corpus minus the suffix-excluded urls == extracted rows
    import duckdb

    # escape the LIKE underscores: the engine filter is a literal
    # endswith('_ocr.pdf'), not a single-char-wildcard match
    expected = duckdb.connect().execute(
        f"SELECT count(*) FROM '{corpus}/**/*.parquet' "
        "WHERE NOT (url LIKE '%!_ocr.pdf' ESCAPE '!' "
        "OR url LIKE '%!_test.pdf' ESCAPE '!')"
    ).fetchone()[0]
    assert rows == expected

    # resume: a second submit against the committed output adds nothing
    stats2 = submit_bench.run_submit(
        "local[8]", corpus, out, zip_path, wd, resume=True
    )
    assert zip_path in stats2["pkg_source"]
    assert submit_bench.extracted_rows(out) == rows

    # every committed row carries its run id (the empty resume run
    # commits no rows — nothing was extracted)
    committed = duckdb.connect().execute(
        f"SELECT count(DISTINCT run_id), count(*) FROM '{out}/extracted/*.parquet'"
    ).fetchone()
    assert committed[0] == 1 and committed[1] == rows
