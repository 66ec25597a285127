"""Seeded benchmark inputs with a verified content stamp.

The engine derives its whole corpus from a ``documents`` table
(``doc_id, text, lang, source, n_chars``). The base rows are the
engine's sf0.1 fixture table, kept verbatim in ``data/documents.parquet``
(5,000 rows, ``doc_id`` 0..4999, ``source = src{doc_id % 20}``). This
module writes replicates of it into a per-seed directory.

``--seed`` picks the ``doc_id`` offset of each replicate. Every offset
is a multiple of ``ID_STRIDE``, which every ``doc_id % m`` rule of the
corpus keeps (``m`` in 2, 3, 4, 5, 7, 10, 11, 20, 50, 100), so a seed
changes urls, timestamps and hash placement but not the amount of work:
format, page count, heavy/light class and source stay per base row.

A directory is reused only when its ``STAMP.json`` names the same
generator (the sha256 of this file and of the base table), seed and
parameters, and every file's sha256 still matches. Anything else is
wiped and regenerated.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

BASE_TABLE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")
ID_STRIDE = 23_100  # 2^2 * 3 * 5^2 * 7 * 11: lcm of every doc_id % m rule


@functools.cache
def base_rows() -> tuple[dict, ...]:
    """The base table's rows, in ``doc_id`` order; ``doc_id`` is the base id."""
    rows = pq.read_table(BASE_TABLE).to_pylist()
    rows.sort(key=lambda r: r["doc_id"])
    assert [r["doc_id"] for r in rows] == list(range(len(rows))), "base ids must be 0..n-1"
    return tuple(rows)


def replicate_offsets(seed: int, copies: int) -> list[int]:
    """Distinct ``doc_id`` offsets, one per replicate, chosen by ``seed``."""
    rng = random.Random(seed)
    return [k * ID_STRIDE for k in rng.sample(range(1, 4000), copies)]


def documents_table(seed: int, copies: int, keep) -> pa.Table:
    """``copies`` replicates of the base rows that pass ``keep(base_id,
    text)``, a filter on properties that every offset preserves."""
    cols: dict[str, list] = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for off in replicate_offsets(seed, copies):
        for r in base_rows():
            if keep(r["doc_id"], r["text"]):
                cols["doc_id"].append(r["doc_id"] + off)
                for c in ("text", "lang", "source", "n_chars"):
                    cols[c].append(r[c])
    return pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.int64()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
        "source": pa.array(cols["source"], pa.string()),
        "n_chars": pa.array(cols["n_chars"], pa.int64()),
    })


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def generator_stamp() -> str:
    """sha256 of this module and of the base table, so that a change to
    either regenerates every input directory."""
    return hashlib.sha256((_sha256(__file__) + _sha256(BASE_TABLE)).encode()).hexdigest()


def stamp_ok(path: str, expected: dict) -> bool:
    """True when ``path`` holds a stamp equal to ``expected`` (generator,
    seed, parameters) whose listed files all exist with the recorded sha256."""
    try:
        with open(os.path.join(path, "STAMP.json")) as f:
            stamp = json.load(f)
    except (OSError, ValueError):
        return False
    if {k: stamp.get(k) for k in expected} != expected:
        return False
    files = stamp.get("files")
    if not isinstance(files, dict) or not files:
        return False
    return all(
        os.path.isfile(os.path.join(path, name))
        and _sha256(os.path.join(path, name)) == digest
        for name, digest in files.items()
    )


def ensure_inputs(path: str, seed: int, params: dict, tables: dict) -> bool:
    """Make ``path`` hold ``tables`` (name -> zero-arg builder of a pyarrow
    table) for ``seed``/``params``. Returns True when a verified copy was
    reused, False when the directory was (re)generated."""
    expected = {"generator": generator_stamp(), "seed": seed, "params": params}
    if stamp_ok(path, expected):
        return True
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    files = {}
    for name, build in tables.items():
        fname = f"{name}.parquet"
        pq.write_table(build(), os.path.join(tmp, fname))
        files[fname] = _sha256(os.path.join(tmp, fname))
    with open(os.path.join(tmp, "STAMP.json"), "w") as f:
        json.dump({**expected, "files": files}, f, indent=1, sort_keys=True)
    os.rename(tmp, path)
    return False
