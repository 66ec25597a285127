"""Seeded inputs: same seed, same bytes; stale or tampered inputs are
regenerated, never reused on presence alone."""

import os

import pyarrow.parquet as pq

import inputs


def _tables(seed):
    return {"documents": lambda: inputs.documents_table(seed, 2, lambda i, t: i < 300 and i % 100 != 0)}


def test_offsets_keep_every_class_rule():
    for off in inputs.replicate_offsets(7, 5):
        for m in (2, 3, 4, 5, 7, 10, 11, 20, 50, 100):
            assert off % m == 0
    assert inputs.replicate_offsets(7, 5) == inputs.replicate_offsets(7, 5)
    assert inputs.replicate_offsets(7, 5) != inputs.replicate_offsets(8, 5)


def test_same_seed_same_table_other_seed_other_ids():
    a = inputs.documents_table(1, 2, lambda i, t: i < 300)
    b = inputs.documents_table(1, 2, lambda i, t: i < 300)
    c = inputs.documents_table(2, 2, lambda i, t: i < 300)
    assert a.equals(b)
    assert a.column("text").equals(c.column("text"))
    assert a.column("doc_id") != c.column("doc_id")


def test_replicates_carry_the_base_rows():
    base = inputs.base_rows()
    assert len(base) == 5000
    rows = inputs.documents_table(3, 2, lambda i, t: i < 50).to_pylist()
    assert len(rows) == 100
    for r in rows:
        b = base[r["doc_id"] % inputs.ID_STRIDE]
        assert r["doc_id"] != b["doc_id"]
        assert (r["text"], r["lang"], r["source"], r["n_chars"]) == (
            b["text"], b["lang"], b["source"], b["n_chars"])


def test_stamp_reuse_and_regeneration(tmp_path):
    path = str(tmp_path / "in")
    params = {"n": 300}
    assert inputs.ensure_inputs(path, 1, params, _tables(1)) is False
    assert inputs.ensure_inputs(path, 1, params, _tables(1)) is True
    # a different seed or generator parameters never reuse the directory
    assert inputs.ensure_inputs(path, 1, {"n": 301}, _tables(1)) is False
    assert inputs.ensure_inputs(path, 2, {"n": 301}, _tables(2)) is False
    ids = pq.read_table(os.path.join(path, "documents.parquet")).column("doc_id")
    assert ids.equals(inputs.documents_table(2, 2, lambda i, t: i < 300 and i % 100 != 0).column("doc_id"))


def test_tampered_or_unstamped_inputs_are_regenerated(tmp_path):
    path = str(tmp_path / "in")
    inputs.ensure_inputs(path, 1, {}, _tables(1))
    with open(os.path.join(path, "documents.parquet"), "ab") as f:
        f.write(b"x")
    stamp = {"generator": inputs.generator_stamp(), "seed": 1, "params": {}}
    assert not inputs.stamp_ok(path, stamp)
    assert inputs.ensure_inputs(path, 1, {}, _tables(1)) is False
    os.remove(os.path.join(path, "STAMP.json"))
    assert inputs.ensure_inputs(path, 1, {}, _tables(1)) is False


def test_the_row_rule_is_part_of_the_stamp(tmp_path):
    import workloads

    light, mixed = workloads.Rows(tail=False), workloads.Rows(below=2000)
    assert [light(i, "") for i in (100, 101, 4999)] == [False, True, True]
    assert [mixed(i, "") for i in (0, 1999, 2000)] == [True, True, False]
    path = str(tmp_path / "in")
    assert inputs.ensure_inputs(path, 1, {"rows": repr(mixed)}, _tables(1)) is False
    assert inputs.ensure_inputs(path, 1, {"rows": repr(workloads.Rows(below=1000))}, _tables(1)) is False
