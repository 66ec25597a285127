"""``pyworker.keep_zip_directories``: a Python worker's zip importers keep
their directories across ``importlib.invalidate_caches()`` while their
archives are unchanged, and re-read an archive that changed."""

import zipfile
import zipimport

import pandas as pd

from pypdfocr_spark.pyworker import keep_zip_directories


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_rewritten_zip_is_reread(tmp_path, monkeypatch):
    keep_zip_directories()
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["first_mod"])
    importer = zipimport.zipimporter(str(archive))
    assert importer.find_spec("first_mod") is not None
    assert importer.find_spec("second_mod") is None
    importer.invalidate_caches()

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda archive: reads.append(archive) or real(archive)
    )
    importer.invalidate_caches()
    assert reads == []
    assert importer.find_spec("first_mod") is not None

    _write_zip(archive, ["first_mod", "second_mod"])
    importer.invalidate_caches()
    assert importer.find_spec("second_mod") is not None

    archive.unlink()
    importer.invalidate_caches()
    assert importer.find_spec("first_mod") is None


def test_worker_keeps_zip_directories(spark):
    """Inside a Python worker that imported the package, a full
    ``importlib.invalidate_caches()`` (what PySpark runs before every
    task) re-reads no zip directory."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pypdfocr_spark  # noqa: F401  (installs keep_zip_directories)

        reads = []
        real = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        n_zip = sum(
            isinstance(imp, zipimport.zipimporter)
            for imp in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"zip_importers": [n_zip], "reads": [len(reads)]})

    rows = spark.range(4, numPartitions=4).mapInPandas(
        probe, "zip_importers long, reads long"
    ).collect()
    assert len(rows) == 4
    assert all(r["zip_importers"] >= 1 for r in rows), rows
    assert [r["reads"] for r in rows] == [0] * 4
