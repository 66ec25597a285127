"""Subprocess-backed kernel tests — fully mocked binaries, mirroring the
reference's approach (ref: test/test_tesseract.py:13-137, test/test_gs.py:
13-48 run everything under a patched subprocess). The kernels and the
pipeline's Arrow-row functions are plain Python; only the heavy-path tests
take the Spark session, to reassemble their page rows in the JVM.
"""

import json
import subprocess
from dataclasses import replace

import pandas as pd
import pytest

from pypdfocr_spark import envcheck
from pypdfocr_spark import pipeline
from pypdfocr_spark.config import ExtractConfig
from pypdfocr_spark.kernels import hocr, subproc
from pypdfocr_spark.schema import PAGE_TEXT_SCHEMA

PDF = b"%PDF-1.4 fake body"


# ------------------------------------------------------------ command shapes
def test_tesseract_cmd_shape():
    # ref: pypdfocr_tesseract.py:163 — flag spelling pinned explicitly
    cmd = subproc.build_tesseract_cmd(
        "tesseract", "/tmp/p_1.jpg", "/tmp/p_1", "deu", psm_flag="-psm"
    )
    assert cmd == ["tesseract", "/tmp/p_1.jpg", "/tmp/p_1", "-psm", "1",
                   "-c", "hocr_font_info=1", "-l", "deu", "hocr"]


def test_tesseract_psm_flag_by_version(monkeypatch):
    """tesseract renamed -psm to --psm in 3.05; hardcoding the reference's
    '-psm' would break OCR on every 4.x/5.x cluster the version gate
    admits."""

    def fake_version(blob):
        class R:
            stdout = blob
            stderr = ""
        return lambda cmd, **kw: R()

    subproc._PSM_CACHE.clear()
    monkeypatch.setattr(subproc.subprocess, "run", fake_version("tesseract 5.3.0\n"))
    assert subproc._tesseract_psm_flag("t5") == "--psm"
    monkeypatch.setattr(subproc.subprocess, "run", fake_version("tesseract 3.02.02\n"))
    assert subproc._tesseract_psm_flag("t3") == "-psm"
    monkeypatch.setattr(subproc.subprocess, "run", fake_version("tesseract v4.1.1\n"))
    assert subproc._tesseract_psm_flag("t4") == "--psm"
    # cached: no re-probe even though run() is now a version-5 fake
    monkeypatch.setattr(subproc.subprocess, "run", fake_version("tesseract 5.0\n"))
    assert subproc._tesseract_psm_flag("t3") == "-psm"
    subproc._PSM_CACHE.clear()


def test_resolve_strategy_rejects_typo():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown ocr_strategy"):
        envcheck.resolve_ocr_strategy("subproc")


def test_gs_cmd_shape_devices():
    cmd = subproc.build_gs_cmd("gs", "jpggrey", 300, "/t/d_%d.jpg", "/t/d.pdf")
    # ref: pypdfocr_gs.py:65-74 device table, :171 cmd shape
    assert "-sDEVICE=jpeggray" in cmd and "-dJPEGQ=75" in cmd and "-r300" in cmd
    assert cmd[0] == "gs" and "-q" in cmd and "-dNOPAUSE" in cmd
    assert "-sOutputFile=/t/d_%d.jpg" in cmd and cmd[-1] == "/t/d.pdf"
    color = subproc.build_gs_cmd("gs", "jpg", 400, "o_%d.jpg", "d.pdf")
    assert "-sDEVICE=jpeg" in color and "-r400" in color


def test_gs_cmd_page_range():
    cmd = subproc.build_gs_cmd("gs", "jpg", 300, "o_%d.jpg", "d.pdf",
                               first_page=7, last_page=7)
    assert "-dFirstPage=7" in cmd and "-dLastPage=7" in cmd


def test_run_gs_outdated_detection(monkeypatch):
    def boom(cmd, **kw):
        raise subprocess.CalledProcessError(
            1, cmd, output="Error: /undefined in .getdeviceparams\n", stderr=""
        )

    monkeypatch.setattr(subproc.subprocess, "run", boom)
    with pytest.raises(subproc.GsOutdatedError):
        subproc.run_gs(["gs", "-q"])

    def boom2(cmd, **kw):
        raise subprocess.CalledProcessError(1, cmd, output="no such device", stderr="")

    monkeypatch.setattr(subproc.subprocess, "run", boom2)
    with pytest.raises(subproc.SubprocessKernelError):
        subproc.run_gs(["gs", "-q"])


# ------------------------------------------------------------- dpi detection
PDFIMAGES_OUT = (
    "page   num  type   width height color comp bpc  enc interp  object ID\n"
    "---------------------------------------------------------------------\n"
    "   1     0  image    2550  3300  gray    1   8  jpeg   no         8  0\n"
)


def _fake_probe(identify_line: str):
    def run(cmd, **kw):
        class R:
            stdout = ""
        r = R()
        if cmd[0] == "pdfimages":
            r.stdout = PDFIMAGES_OUT
        else:
            r.stdout = identify_line
        return r

    return run


def test_detect_dpi_arithmetic(monkeypatch, tmp_path):
    # identify: width=612 xdensity=72 height=792 ydensity=72 (pts @72dpi)
    # → xdpi = round(2550/612*72) = 300, ydpi = round(3300/792*72) = 300
    monkeypatch.setattr(subproc.subprocess, "run", _fake_probe("612 72 792 72\n"))
    geom = subproc.detect_dpi(str(tmp_path / "x.pdf"))
    assert geom["output_dpi"] == 300 and geom["greyscale"] is True
    assert geom["width_pt"] == pytest.approx(612.0)
    assert geom["height_pt"] == pytest.approx(792.0)


def test_detect_dpi_clamps_to_300(monkeypatch, tmp_path):
    # big page, small raster → computed dpi < 300 → clamp (ref gs.py:156)
    monkeypatch.setattr(
        subproc.subprocess, "run", _fake_probe("1224 72 1584 72\n")
    )
    geom = subproc.detect_dpi(str(tmp_path / "x.pdf"))
    assert geom["output_dpi"] == 300


def test_detect_dpi_takes_max_axis(monkeypatch, tmp_path):
    # x-axis 300dpi, y-axis 600dpi → max wins (ref gs.py:153-155)
    monkeypatch.setattr(subproc.subprocess, "run", _fake_probe("612 72 396 72\n"))
    geom = subproc.detect_dpi(str(tmp_path / "x.pdf"))
    assert geom["output_dpi"] == 600


def test_detect_dpi_fallback_on_missing_probe(monkeypatch, tmp_path):
    def boom(cmd, **kw):
        raise FileNotFoundError(cmd[0])

    monkeypatch.setattr(subproc.subprocess, "run", boom)
    geom = subproc.detect_dpi(str(tmp_path / "x.pdf"))
    assert geom == subproc.DEFAULT_GEOMETRY


# ------------------------------------------------------------- output probes
def test_make_hocr_probes_html_then_hocr(monkeypatch, tmp_path):
    img = tmp_path / "page_1.jpg"
    img.write_bytes(b"")

    def fake_run(cmd, **kw):
        (tmp_path / "page_1.html").write_text("<html/>")

    monkeypatch.setattr(subproc.subprocess, "run", fake_run)
    assert subproc.make_hocr_from_img(str(img)).endswith("page_1.html")

    (tmp_path / "page_1.html").unlink()

    def fake_run_hocr(cmd, **kw):
        (tmp_path / "page_1.hocr").write_text("<html/>")

    monkeypatch.setattr(subproc.subprocess, "run", fake_run_hocr)
    assert subproc.make_hocr_from_img(str(img)).endswith("page_1.hocr")

    (tmp_path / "page_1.hocr").unlink()
    monkeypatch.setattr(subproc.subprocess, "run", lambda cmd, **kw: None)
    with pytest.raises(subproc.OcrError):
        subproc.make_hocr_from_img(str(img))


def test_make_imgs_natural_page_order_and_cleanup(monkeypatch, tmp_path):
    pdf = tmp_path / "doc.pdf"
    pdf.write_bytes(PDF)
    stale = tmp_path / "doc_99.jpg"
    stale.write_bytes(b"stale")  # pre-existing output must be removed (ref :209-211)

    def fake_gs(cmd):
        for i in (2, 10, 1):
            (tmp_path / f"doc_{i}.jpg").write_bytes(b"img")

    monkeypatch.setattr(subproc, "run_gs", fake_gs)
    imgs = subproc.make_imgs_from_pdf(str(pdf), 300, greyscale=False)
    names = [p.rsplit("/", 1)[-1] for p in imgs]
    assert names == ["doc_1.jpg", "doc_2.jpg", "doc_10.jpg"]  # natural sort
    assert not stale.exists()


# -------------------------------------------------------- whole-doc kernel
def test_rasterize_page_range_private_dir_and_no_leak(monkeypatch, tmp_path):
    """Concurrent per-page tasks over the SAME pdf must not share an
    output dir (gs numbers '%d' from 1 regardless of -dFirstPage, and the
    cleanup loop would delete a sibling's image); the private temp dir is
    removed before returning — page tasks must not leak disk."""
    import glob
    import os

    pdf = tmp_path / "doc.pdf"
    pdf.write_bytes(PDF)
    seen_dirs = []

    def fake_gs(cmd):
        template = next(a for a in cmd if a.startswith("-sOutputFile=")).split("=", 1)[1]
        seen_dirs.append(os.path.dirname(template))
        page = next(a for a in cmd if a.startswith("-dFirstPage=")).split("=")[1]
        with open(template % 1, "wb") as f:  # gs restarts numbering at 1
            f.write(b"img-page-" + page.encode())

    monkeypatch.setattr(subproc, "run_gs", fake_gs)
    a, ext_a = subproc.rasterize_page_range(str(pdf), page=3, dpi=300, greyscale=False)
    b, _ = subproc.rasterize_page_range(str(pdf), page=7, dpi=300, greyscale=False)
    assert (a, ext_a) == (b"img-page-3", "jpg") and b == b"img-page-7"
    assert seen_dirs[0] != seen_dirs[1]  # private dir per call
    assert not os.path.exists(seen_dirs[0]) and not os.path.exists(seen_dirs[1])  # cleaned


def _fake_ocr_stack(monkeypatch, page_words):
    """gs writes one image per page; tesseract writes engine-emitted hOCR
    whose parse yields the given words — the full chain, zero binaries."""
    subproc._PSM_CACHE["tesseract"] = "--psm"  # skip the version probe

    def fake_gs(cmd):
        # find the output template argument
        template = next(a for a in cmd if a.startswith("-sOutputFile=")).split("=", 1)[1]
        for i in range(1, len(page_words) + 1):
            with open(template % i, "wb") as f:
                f.write(b"img")

    def fake_tess(cmd, **kw):
        img, base = cmd[1], cmd[2]
        page_no = int(img.rsplit("_", 1)[1].split(".")[0])
        words = page_words[page_no - 1]
        page = {
            "dpi": 300, "w_px": 2550, "h_px": 3300,
            "words": [
                {"t": w, "b": [10 + 80 * j, 10, 80 + 80 * j, 40], "l": 0}
                for j, w in enumerate(words)
            ],
        }
        with open(base + ".hocr", "w", encoding="utf-8") as f:
            f.write(hocr.emit_hocr([page]))

    monkeypatch.setattr(subproc, "run_gs", fake_gs)
    monkeypatch.setattr(subproc.subprocess, "run", fake_tess)
    monkeypatch.setattr(subproc, "detect_dpi", lambda p, **kw: dict(subproc.DEFAULT_GEOMETRY))


def test_extract_doc_subprocess_end_to_end(monkeypatch):
    _fake_ocr_stack(monkeypatch, [["hello", "world"], ["second", "page"]])
    pages, status = subproc.extract_doc_subprocess(PDF)
    assert status == "ok"
    assert pages == ["hello world", "second page"]


def test_extract_doc_subprocess_non_pdf():
    assert subproc.extract_doc_subprocess(b"not a pdf") == ([], "unsupported")


def test_extract_doc_subprocess_gs_failure(monkeypatch):
    def fake_gs(cmd):
        raise subproc.SubprocessKernelError("gs failed")

    monkeypatch.setattr(subproc, "run_gs", fake_gs)
    monkeypatch.setattr(subproc, "detect_dpi", lambda p, **kw: dict(subproc.DEFAULT_GEOMETRY))
    assert subproc.extract_doc_subprocess(PDF) == ([], "decode_error")


# ------------------------------------------------------ strategy resolution
def test_resolve_ocr_strategy_sandbox_default():
    # no tesseract/gs in this container → builtin
    assert envcheck.resolve_ocr_strategy("auto") == "builtin"
    assert envcheck.resolve_ocr_strategy("builtin") == "builtin"
    assert envcheck.resolve_ocr_strategy("subprocess") == "subprocess"


def test_resolve_ocr_strategy_with_binaries(monkeypatch):
    monkeypatch.setattr(envcheck, "select_ocr_strategy", lambda *a, **k: "subprocess")
    monkeypatch.setattr(envcheck, "binary_available", lambda name: True)
    assert envcheck.resolve_ocr_strategy("auto") == "subprocess"


# ------------------------------------------------- pipeline row-fn dispatch
def _corpus_pdf_row(url, payload):
    import datetime

    return {
        "url": url, "warc_ts": datetime.datetime(2024, 1, 1),
        "html": payload, "lang": "en",
    }


def test_light_path_dispatches_to_subprocess(monkeypatch):
    monkeypatch.setattr(
        subproc, "extract_doc_subprocess",
        lambda payload, **kw: (["via subprocess"], "ok"),
    )
    cfg = replace(ExtractConfig(), ocr_strategy="subprocess")
    pdf = pd.DataFrame([_corpus_pdf_row("https://x/a.pdf", PDF)])
    out = pipeline._extract_rows(pdf, cfg)
    assert out["extracted_text"].iloc[0] == "via subprocess"
    assert out["status"].iloc[0] == "ok"


def test_heavy_path_carries_pdf_to_page_stage(monkeypatch):
    """Probe-unavailable fallback: with no pdfinfo/pdfimages on PATH, a
    real heavy PDF degrades to ONE ``doc`` row carrying the payload — the
    graceful floor under the distributed page split
    (test_heavy_real_pdf_page_split below)."""
    monkeypatch.setattr(subproc, "pdf_page_count", lambda path, **kw: None)
    monkeypatch.setattr(
        subproc, "extract_doc_subprocess",
        lambda payload, **kw: (["p1", "p2", "p3"], "ok"),
    )
    cfg = replace(ExtractConfig(), ocr_strategy="subprocess", heavy_payload_bytes=4)
    pdf = pd.DataFrame([_corpus_pdf_row("https://x/a.pdf", PDF)])
    pages = pipeline._explode_rows(pdf, cfg)
    assert len(pages) == 1
    assert pages["kind"].iloc[0] == "doc" and pages["page_json"].iloc[0] == PDF
    page_out = pipeline._page_text_rows(pages, cfg)
    # one row PER PAGE so reassembly routes with per-page early exit
    assert list(page_out["page_text"]) == ["p1", "p2", "p3"]
    assert list(page_out["page_no"]) == [0, 1, 2]
    assert set(page_out["n_pages"]) == {3}
    assert set(page_out["status"]) == {"ok"}


def test_heavy_path_non_utf8_synpdf_is_decode_error():
    from pypdfocr_spark.kernels import codec

    cfg = ExtractConfig()
    bad = codec.MAGIC + b'{"dpi":300}\n\xff\xfe garbage' + b"x" * 300_000
    pdf = pd.DataFrame([_corpus_pdf_row("https://x/bad.pdf", bad)])
    pages = pipeline._explode_rows(pdf, cfg)  # must not raise
    assert len(pages) == 1 and int(pages["n_pages"].iloc[0]) == 0
    out = pipeline._page_text_rows(pages, cfg)
    assert out["status"].iloc[0] == "decode_error"


# --------------------------------------- distributed page split (real PDFs)
def test_pdf_page_count_pdfinfo_only(monkeypatch):
    def fake_pdfinfo(cmd, **kw):
        class R:
            stdout = "Title:   x\nPages:          17\nEncrypted: no\n"
            stderr = ""
        return R()

    monkeypatch.setattr(subproc.subprocess, "run", fake_pdfinfo)
    assert subproc.pdf_page_count("/t/d.pdf") == 17

    # review fix: NO pdfimages fallback — it counts image-bearing pages
    # only, so a text-tail PDF would probe short and the page split would
    # silently drop pages; an uncertain count must be None (whole-doc path)
    def fake_pdfimages_only(cmd, **kw):
        if cmd[0] == "pdfinfo":
            raise FileNotFoundError(cmd[0])
        raise AssertionError("pdfimages must not be used for page counts")

    monkeypatch.setattr(subproc.subprocess, "run", fake_pdfimages_only)
    assert subproc.pdf_page_count("/t/d.pdf") is None

    def fake_nothing(cmd, **kw):
        raise FileNotFoundError(cmd[0])

    monkeypatch.setattr(subproc.subprocess, "run", fake_nothing)
    assert subproc.pdf_page_count("/t/d.pdf") is None


def test_stage_pdf_content_addressed_idempotent(tmp_path):
    p1 = subproc.stage_pdf(PDF, str(tmp_path))
    p2 = subproc.stage_pdf(PDF, str(tmp_path))  # retry / concurrent attempt
    assert p1 == p2
    with open(p1, "rb") as f:
        assert f.read() == PDF
    other = subproc.stage_pdf(b"%PDF-other", str(tmp_path))
    assert other != p1
    # no .part leftovers
    assert not [f for f in tmp_path.iterdir() if f.name.endswith(".part")]


def test_clean_scratch_age_guard(tmp_path):
    import os as _os

    fresh = subproc.stage_pdf(PDF, str(tmp_path))
    stale = subproc.stage_pdf(b"%PDF-stale", str(tmp_path))
    _os.utime(stale, (1, 1))  # epoch-old
    assert subproc.clean_scratch(str(tmp_path), max_age_s=3600) == 1
    assert _os.path.exists(fresh) and not _os.path.exists(stale)


def _fake_page_range_ocr_stack(monkeypatch, page_words):
    """gs honoring -dFirstPage/-dLastPage (restarting '%d' numbering at 1,
    like real gs) + tesseract deriving words from the TRUE page number in
    the image filename — the full distributed per-page chain, zero
    binaries."""
    subproc._PSM_CACHE["tesseract"] = "--psm"

    def fake_gs(cmd):
        template = next(a for a in cmd if a.startswith("-sOutputFile=")).split("=", 1)[1]
        first = next((int(a.split("=")[1]) for a in cmd if a.startswith("-dFirstPage=")), 1)
        last = next((int(a.split("=")[1]) for a in cmd if a.startswith("-dLastPage=")),
                    len(page_words))
        for i in range(1, last - first + 2):  # gs numbers outputs from 1
            with open(template % i, "wb") as f:
                f.write(b"img")

    def fake_tess(cmd, **kw):
        img, base = cmd[1], cmd[2]
        page_no = int(img.rsplit("_", 1)[1].split(".")[0])
        words = page_words[page_no - 1]
        page = {
            "dpi": 300, "w_px": 2550, "h_px": 3300,
            "words": [
                {"t": w, "b": [10 + 80 * j, 10, 80 + 80 * j, 40], "l": 0}
                for j, w in enumerate(words)
            ],
        }
        with open(base + ".hocr", "w", encoding="utf-8") as f:
            f.write(hocr.emit_hocr([page]))

    monkeypatch.setattr(subproc, "run_gs", fake_gs)
    monkeypatch.setattr(subproc.subprocess, "run", fake_tess)
    monkeypatch.setattr(subproc, "detect_dpi", lambda p, **kw: dict(subproc.DEFAULT_GEOMETRY))
    monkeypatch.setattr(subproc, "pdf_page_count", lambda p, **kw: len(page_words))


def _reassemble_in_jvm(spark, page_out, cfg):
    """Page rows → ``pipeline._jvm_reassemble`` over a Spark frame → pandas."""
    cols = [f.name for f in PAGE_TEXT_SCHEMA.fields]
    df = spark.createDataFrame(page_out[cols], PAGE_TEXT_SCHEMA)
    return pipeline._jvm_reassemble(df, cfg).toPandas()


def test_heavy_real_pdf_page_split(spark, monkeypatch, tmp_path):
    """VERDICT r2 #3 done-criterion: a multi-page real %PDF heavy doc
    produces per-page rows under ocr_strategy='subprocess' (one slim
    staged-path row per page — no payload bytes in the shuffle), each page
    OCR'd by its own task via gs -dFirstPage/-dLastPage, and the
    reassembled document text is byte-identical to the whole-document
    kernel's output."""
    words = [["alpha", "beta"], ["gamma"], ["delta", "epsilon", "zeta"]]
    _fake_page_range_ocr_stack(monkeypatch, words)
    cfg = replace(
        ExtractConfig(), ocr_strategy="subprocess", heavy_payload_bytes=4,
        scratch_dir=str(tmp_path / "scratch"),
    )
    pdf = pd.DataFrame([_corpus_pdf_row("https://x/big.pdf", PDF)])

    pages = pipeline._explode_rows(pdf, cfg)
    assert len(pages) == 3 and list(pages["page_no"]) == [0, 1, 2]
    assert set(pages["kind"]) == {"staged"}
    metas = [json.loads(s) for s in pages["page_json"]]
    assert all("pdf_path" in m for m in metas)
    assert [m["page"] for m in metas] == [1, 2, 3]  # gs pages are 1-based
    staged = metas[0]["pdf_path"]
    with open(staged, "rb") as f:
        assert f.read() == PDF

    # each page row is independently processable (simulate the salted
    # shuffle scattering rows to different tasks: one batch per row,
    # reversed order)
    outs = [pipeline._page_text_rows(pages.iloc[[i]], cfg) for i in (2, 0, 1)]
    page_out = pd.concat(outs, ignore_index=True)
    assert set(page_out["status"]) == {"ok"}
    assert sorted(page_out["page_text"]) == sorted(" ".join(w) for w in words)

    reassembled = _reassemble_in_jvm(spark, page_out, cfg)
    whole_pages, whole_status = subproc.extract_doc_subprocess(PDF)
    assert whole_status == "ok"
    assert reassembled["extracted_text"].iloc[0] == "\n".join(whole_pages)
    assert reassembled["extracted_text"].iloc[0].encode() == \
        "\n".join(" ".join(w) for w in words).encode()  # byte-identity
    assert int(reassembled["n_pages"].iloc[0]) == 3


def test_heavy_real_pdf_page_split_ocr_failure_statuses(spark, monkeypatch, tmp_path):
    words = [["one"], ["two"]]
    _fake_page_range_ocr_stack(monkeypatch, words)
    cfg = replace(
        ExtractConfig(), ocr_strategy="subprocess", heavy_payload_bytes=4,
        scratch_dir=str(tmp_path / "scratch"),
    )
    pdf = pd.DataFrame([_corpus_pdf_row("https://x/big.pdf", PDF)])
    pages = pipeline._explode_rows(pdf, cfg)

    def tess_fails(cmd, **kw):
        return None  # writes no output file → OcrError

    monkeypatch.setattr(subproc.subprocess, "run", tess_fails)
    out = pipeline._page_text_rows(pages, cfg)
    assert set(out["status"]) == {"ocr_error"}

    def gs_fails(cmd):
        raise subproc.SubprocessKernelError("gs failed")

    monkeypatch.setattr(subproc, "run_gs", gs_fails)
    out = pipeline._page_text_rows(pages, cfg)
    assert set(out["status"]) == {"decode_error"}
    # doc-level parity: a failed page fails the doc like the light path
    doc = _reassemble_in_jvm(spark, out, cfg)
    assert doc["status"].iloc[0] == "decode_error"
    assert doc["extracted_text"].iloc[0] == "" and int(doc["n_pages"].iloc[0]) == 0


# ------------------------------------------- ImageMagick preprocess (T3)
def test_convert_cmd_shape():
    """ref pypdfocr_preprocess.py:65-95: the exact option chain, argv
    form (no shell, no backslash-paren os.name special case)."""
    cmd = subproc.build_convert_cmd("convert", "/t/p_1.jpg", "/t/p_1_preprocess.jpg")
    assert cmd[0] == "convert" and cmd[1] == "/t/p_1.jpg"
    assert cmd[-1] == "/t/p_1_preprocess.jpg"
    assert "(" in cmd and ")" in cmd and "-respect-parenthesis" in cmd
    joined = " ".join(cmd)
    assert "-lat 15x15+5%" in joined
    assert "-contrast-stretch 0" in joined
    assert "-compose copy_opacity -composite" in joined
    assert "-modulate 100,100" in joined and "-blur 1x1" in joined
    assert "-adaptive-sharpen 0x2" in joined
    assert "-morphology Thinning Rectangle:1x30+0+0" in joined
    assert "-define morphology:compose=darken" in joined
    # negate bracket around the thinning (white-on-black morphology)
    ni = [i for i, a in enumerate(cmd) if a == "-negate"]
    mi = cmd.index("-morphology")
    assert any(i < mi for i in ni[1:]) and any(i > mi for i in ni)


def test_preprocess_img_subprocess_success_and_graceful(monkeypatch, tmp_path):
    img = tmp_path / "page_1.jpg"
    img.write_bytes(b"img")

    def fake_convert(cmd, **kw):
        with open(cmd[-1], "wb") as f:
            f.write(b"preprocessed")

    monkeypatch.setattr(subproc.subprocess, "run", fake_convert)
    out = subproc.preprocess_img_subprocess(str(img))
    assert out.endswith("page_1_preprocess.jpg")
    with open(out, "rb") as f:
        assert f.read() == b"preprocessed"

    # failure → return the input unchanged (ref :92-93)
    def boom(cmd, **kw):
        raise subprocess.CalledProcessError(1, cmd, output="", stderr="err")

    monkeypatch.setattr(subproc.subprocess, "run", boom)
    assert subproc.preprocess_img_subprocess(str(tmp_path / "p2.jpg")) == str(tmp_path / "p2.jpg")
    # convert "succeeds" but writes nothing → also graceful
    monkeypatch.setattr(subproc.subprocess, "run", lambda cmd, **kw: None)
    assert subproc.preprocess_img_subprocess(str(tmp_path / "p3.jpg")) == str(tmp_path / "p3.jpg")


def test_extract_doc_subprocess_with_preprocess(monkeypatch):
    """Opt-in preprocess slots between gs and tesseract; its graceful
    failure must not change the extraction result."""
    _fake_ocr_stack(monkeypatch, [["hi"]])
    seen = []

    def fake_pre(img_path, binary="convert"):
        seen.append(img_path)
        return img_path  # graceful identity

    monkeypatch.setattr(subproc, "preprocess_img_subprocess", fake_pre)
    pages, status = subproc.extract_doc_subprocess(PDF, preprocess=True)
    assert (pages, status) == (["hi"], "ok") and len(seen) == 1
    pages2, _ = subproc.extract_doc_subprocess(PDF, preprocess=False)
    assert pages2 == ["hi"] and len(seen) == 1  # not called when off


def test_scratch_dir_none_falls_back_to_whole_doc(monkeypatch):
    """Review fix: with no shared scratch configured, a real %PDF heavy
    doc must NOT be staged to executor-local /tmp (paths would be
    unreachable after the shuffle on a multi-host cluster) — it takes the
    single-task ``doc`` row instead."""
    _fake_page_range_ocr_stack(monkeypatch, [["a"], ["b"]])
    cfg = replace(ExtractConfig(), ocr_strategy="subprocess", heavy_payload_bytes=4)
    assert cfg.scratch_dir is None
    pdf = pd.DataFrame([_corpus_pdf_row("https://x/big.pdf", PDF)])
    pages = pipeline._explode_rows(pdf, cfg)
    assert len(pages) == 1
    assert pages["kind"].iloc[0] == "doc" and pages["page_json"].iloc[0] == PDF


def test_preprocess_flag_reaches_page_kernel(monkeypatch, tmp_path):
    """Review fix: cfg.preprocess must actually reach the subprocess
    kernels (it was previously unplumbed dead code)."""
    seen = []

    def spy(pdf_path, page, dpi, greyscale, height_pt, **kw):
        seen.append(kw.get("preprocess"))
        return "text"

    monkeypatch.setattr(subproc, "extract_page_subprocess", spy)
    cfg = replace(
        ExtractConfig(), ocr_strategy="subprocess", preprocess=True,
        scratch_dir=str(tmp_path / "s"),
    )
    pdf = pd.DataFrame(
        [{
            "url": "https://x/p.pdf", "warc_ts": None, "lang": "en",
            "page_no": 0, "n_pages": 1, "height_pt": 792.0, "output_dpi": 300,
            "kind": "staged",
            "page_json": json.dumps({"pdf_path": "/nonexistent", "page": 1,
                                     "greyscale": True}).encode(),
            "byte_count": 10,
        }]
    )
    out = pipeline._page_text_rows(pdf, cfg)
    assert list(out["page_text"]) == ["text"]
    assert seen == [True]
