"""Artifact (T9/T10/K1) rendering math + skew-spread evidence tests."""

import json
import math
import re
import zlib

import pytest
from pyspark.sql import functions as F

from pypdfocr_spark import artifact, pipeline, spans
from pypdfocr_spark.config import ExtractConfig

from tests.conftest import SF_SMOKE


def _word(text, x, y, angle=0, size=10):
    return {"text": text, "bbox": [0, 0, 1, 1], "font_size": size,
            "x_pt": x, "y_pt": y, "angle": angle}


def test_render_text_page_unrotated_keeps_placement():
    page = artifact.render_text_page(
        [{"bbox": [], "textangle": 0, "baseline": [0, 0],
          "words": [_word("hi", 100.0, 700.0)]}],
        612.0, 792.0, rotate=0,
    )
    w = page["words"][0]
    assert (w["x"], w["y"]) == (100.0, 700.0)
    assert w["mode"] == 3 and w["font"] == "Helvetica"


def test_render_text_page_rotation_ctm():
    # 90° merge rotation around (width/2, width/2) = (306, 306)
    # (ref: pypdfocr_pdf.py:194 passes the width for both coordinates)
    page = artifact.render_text_page(
        [{"bbox": [], "textangle": 0, "baseline": [0, 0],
          "words": [_word("hi", 306.0, 0.0)]}],
        612.0, 792.0, rotate=90,
    )
    w = page["words"][0]
    # rotating (306, 0) by 90° around (306, 306) → (612, 306)
    assert math.isclose(w["x"], 612.0, abs_tol=1e-6)
    assert math.isclose(w["y"], 306.0, abs_tol=1e-6)


def test_searchable_doc_roundtrip():
    blob = artifact.render_searchable_doc(
        [[{"bbox": [], "textangle": 0, "baseline": [0, 0],
           "words": [_word("a", 1.0, 2.0), _word("b", 3.0, 4.0)]}], []],
        612.0, 792.0, rotations=[0, 180],
    )
    assert blob.startswith(b"%SYNOCR1%")
    doc = json.loads(blob[len(b"%SYNOCR1%"):])
    assert len(doc["pages"]) == 2
    assert [w["t"] for w in doc["pages"][0]["words"]] == ["a", "b"]
    assert doc["pages"][1]["rotate"] == 180


def test_with_artifacts_column(spark):
    df = spans.extract_spans(pipeline.build_corpus_df(spark, SF_SMOKE), ExtractConfig())
    out = artifact.with_artifacts(df.where(F.col("n_pages") <= 3).limit(5))
    rows = out.collect()
    assert rows
    for r in rows:
        assert bytes(r["artifact"]).startswith(b"%SYNOCR1%")
        doc = json.loads(bytes(r["artifact"])[9:])
        n_words_artifact = sum(len(p["words"]) for p in doc["pages"])
        n_words_spans = sum(len(ln["words"]) for p in r["spans"] for ln in p["lines"])
        assert n_words_artifact == n_words_spans


def test_heavy_pages_spread_across_partitions(spark):
    """Skew evidence: a multi-hundred-page doc's pages land on many
    partitions after the salt (north rule: explicit skew handling) —
    measured on the heavy page stage both extractions run."""
    cfg = ExtractConfig()
    _, heavy = pipeline._split(pipeline.build_corpus_df(spark, SF_SMOKE), cfg)
    k = spark.sparkContext.defaultParallelism
    pages = pipeline._salted_pages(heavy, cfg).select(
        "url", F.spark_partition_id().alias("pid")
    )
    per_doc = (
        pages.groupBy("url")
        .agg(F.countDistinct("pid").alias("n_parts"), F.count(F.lit(1)).alias("n_pages"))
        .collect()
    )
    big = [r for r in per_doc if r["n_pages"] >= 100]
    assert big, "smoke corpus must contain 100+ page docs"
    for r in big:
        # pages of one doc spread over (almost) all partitions
        assert r["n_parts"] >= min(k, r["n_pages"]) * 0.5, r


def test_size_split_uses_stats_column(spark):
    """The light/heavy predicate must reach the parquet scan as a pushed
    filter on the stats-bearing n_bytes column (row-group pruning)."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        pipeline.build_corpus_df(spark, SF_SMOKE).write.parquet(f"{d}/c")
        corpus = spark.read.parquet(f"{d}/c")
        df = pipeline.extract(corpus, ExtractConfig())
        # formatted explain keeps full (untruncated) PushedFilters lines
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # the size predicate itself must reach the scans' pushed filters,
        # not merely appear in ReadSchema (light branch: Or(IsNull, LtEq);
        # heavy branch: GreaterThan)
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert any("GreaterThan(n_bytes" in ln for ln in pushed), pushed
        assert any(
            "Or(IsNull(n_bytes)" in ln or "LessThanOrEqual(n_bytes" in ln for ln in pushed
        ), pushed


# -- reading the searchable PDF back, without a PDF library ------------------

_OBJ_TOKEN = re.compile(rb"<<|>>|\[|\]|/[^\s/\[\]<>()]+|[^\s/\[\]<>()]+")
_CONTENT_TOKEN = re.compile(rb"\(((?:\\.|[^\\()])*)\)|[^\s()]+", re.S)


def _parse_obj(data: bytes):
    """A dict/array/name/number/``n 0 R`` object; a ref reads as ("R", n)."""
    toks = _OBJ_TOKEN.findall(data)

    def val(i):
        t = toks[i]
        if t == b"<<":
            d, i = {}, i + 1
            while toks[i] != b">>":
                d[toks[i][1:].decode()], i = val(i + 1)
            return d, i + 1
        if t == b"[":
            a, i = [], i + 1
            while toks[i] != b"]":
                v, i = val(i)
                a.append(v)
            return a, i + 1
        if t.startswith(b"/"):
            return t[1:].decode(), i + 1
        if toks[i + 2 : i + 3] == [b"R"]:
            assert toks[i + 1] == b"0"
            return ("R", int(t)), i + 3
        return float(t), i + 1

    v, end = val(0)
    assert end == len(toks), data
    return v


def _read_pdf(blob: bytes) -> "tuple[dict, dict]":
    """(trailer, {num: (dict, inflated stream or None)}), every object
    found through the xref table."""
    assert blob.startswith(b"%PDF-1.4\n")
    m = re.search(rb"\nstartxref\n(\d+)\n%%EOF\n\Z", blob)
    xref = int(m.group(1))
    assert blob[xref:].startswith(b"xref\n")
    table, _, tail = blob[xref:].partition(b"trailer\n")
    rows = table.split(b"\n")
    assert rows[1].startswith(b"0 ") and rows[2] == b"0000000000 65535 f "
    size = int(rows[1][2:])
    trailer = _parse_obj(tail[: tail.index(b"\nstartxref\n")])
    assert trailer["Size"] == size
    objs = {}
    for num, row in enumerate(rows[3 : 2 + size], 1):
        assert row[10:] == b" 00000 n ", row
        hdr = f"{num} 0 obj\n".encode()
        body = blob[int(row[:10]):]
        assert body.startswith(hdr), (num, body[:20])
        dic_bytes, _, rest = body[len(hdr):].partition(b"\n")
        dic = _parse_obj(dic_bytes)
        stream = None
        if rest.startswith(b"stream\n"):
            n = int(dic["Length"])
            stream, rest = rest[7 : 7 + n], rest[7 + n :]
            assert rest.startswith(b"\nendstream\n")
            rest = rest[len(b"\nendstream\n"):]
            if dic.get("Filter") == "FlateDecode":
                stream = zlib.decompress(stream)
        assert rest.startswith(b"endobj\n"), num
        objs[num] = (dic, stream)
    return trailer, objs


def _pdf_pages(blob: bytes) -> "tuple[list[dict], dict]":
    """Each page's dict, its content stream and its shown words, as
    (font size, Tm operands, unescaped Tj string), checking on the way
    that the page-tree, font and text-mode structure is the layer's;
    and every object, as :func:`_read_pdf` returns them."""
    trailer, objs = _read_pdf(blob)
    catalog, _ = objs[trailer["Root"][1]]
    assert catalog["Type"] == "Catalog"
    tree, _ = objs[catalog["Pages"][1]]
    assert tree["Type"] == "Pages" and tree["Count"] == len(tree["Kids"])
    pages = []
    for kid in tree["Kids"]:
        page, _ = objs[kid[1]]
        assert page["Type"] == "Page" and page["Parent"] == catalog["Pages"]
        font, _ = objs[page["Resources"]["Font"]["F1"][1]]
        assert font == {"Type": "Font", "Subtype": "Type1", "BaseFont": "Helvetica"}
        content = objs[page["Contents"][1]][1]
        words, operands, size, mode, tm, n_tf, pos = [], [], None, None, None, 0, 0
        for m in _CONTENT_TOKEN.finditer(content):
            assert not content[pos : m.start()].strip(), content[pos : m.start()]
            tok, pos = m.group(0), m.end()
            if m.group(1) is not None:
                operands.append(re.sub(rb"\\(.)", rb"\1", m.group(1), flags=re.S).decode("latin-1"))
                continue
            if not tok[:1].isalpha():
                operands.append(tok)
                continue
            if tok == b"Tr":
                mode = int(operands[0])
            elif tok == b"Tf":
                assert operands[0] == b"/F1"
                size, n_tf = float(operands[1]), n_tf + 1
            elif tok == b"Tm":
                tm = [float(x) for x in operands]
            elif tok == b"Tj":
                assert mode == 3  # invisible text
                words.append((size, tm, operands[0]))
            operands = []
        assert content.count(b"BT\n3 Tr\n") == 1 and content.endswith(b"ET\n")
        # one Tf per run of equal sizes
        assert n_tf == sum(1 for i, w in enumerate(words) if i == 0 or w[0] != words[i - 1][0])
        pages.append({"page": page, "content": content, "words": words})
    return pages, objs


def test_searchable_pdf_text_roundtrip():
    """K1 as a real PDF: the invisible-text layer written by
    artifact.render_searchable_pdf carries EXACTLY the JSON artifact's
    placement (text, x, y, size, angle as the Tm rotation, mode 3), the
    optional page image inflates back bit-for-bit, string escapes
    survive, and the uncompressed-contents form is the same body."""
    import numpy as np

    def word(t, x, y, size=10.0, angle=0):
        return {"text": t, "x_pt": x, "y_pt": y, "font_size": size, "angle": angle}

    pages = [
        [{"words": [word("Hello", 72.0, 700.5), word("(w\\or(ld))", 120.25, 700.5, 12.0)]},
         {"words": [word("rotated", 200.0, 650.0, 10.0, 90)]}],
        [{"words": [word("page2", 36.0, 36.0, 8.0)]}],
    ]
    img0 = np.arange(48, dtype=np.uint8).reshape(6, 8)
    pay = artifact.render_searchable_pdf(
        pages, 612.0, 792.0, rotations=[0, 90], page_images=[img0, None]
    )
    want = json.loads(artifact.render_searchable_doc(pages, 612.0, 792.0, [0, 90])[9:])
    got, objs = _pdf_pages(pay)
    assert len(got) == 2
    assert re.search(rb"/Type /Pages /Count 2 ", pay)
    assert "Rotate" not in got[0]["page"] and got[1]["page"]["Rotate"] == 90
    for want_page, got_page in zip(want["pages"], got):
        assert got_page["page"]["MediaBox"] == [0, 0, want_page["w"], want_page["h"]]
        assert len(want_page["words"]) == len(got_page["words"])
        for wj, (size, tm, text) in zip(want_page["words"], got_page["words"]):
            assert text == wj["t"] and size == wj["size"]
            rad = math.radians(wj["angle"])
            c, s = math.cos(rad), math.sin(rad)
            for g, w in zip(tm, [c, s, -s, c, wj["x"], wj["y"]]):
                assert math.isclose(g, w, abs_tol=1e-6), (wj, tm)
    # page 1 draws the gray image XObject under its text layer
    assert got[0]["content"].startswith(b"q 612.0 0 0 792.0 0 0 cm /Im0 Do Q\nBT\n")
    img_dic, img_raw = objs[got[0]["page"]["Resources"]["XObject"]["Im0"][1]]
    assert (img_dic["Width"], img_dic["Height"], img_dic["ColorSpace"]) == (8, 6, "DeviceGray")
    assert img_raw == img0.tobytes()
    assert "XObject" not in got[1]["page"]["Resources"]
    # compress=False writes the same content body, unfiltered
    plain = artifact.render_searchable_pdf(
        pages, 612.0, 792.0, rotations=[0, 90], page_images=[img0, None], compress=False
    )
    got_plain, plain_objs = _pdf_pages(plain)
    for p, q in zip(got_plain, got):
        assert "Filter" not in plain_objs[p["page"]["Contents"][1]][0]
        assert p["content"] == q["content"]


def test_with_artifacts_pdf_roundtrip(spark):
    """fmt="pdf": the artifact column is a real searchable PDF whose
    invisible text layer shows exactly the span words in order — the
    searchable round trip over actual extraction output."""
    df = spans.extract_spans(pipeline.build_corpus_df(spark, SF_SMOKE), ExtractConfig())
    out = artifact.with_artifacts(df.where(F.col("n_pages") <= 3).limit(5), fmt="pdf")
    rows = out.collect()
    assert rows
    for r in rows:
        pages, _ = _pdf_pages(bytes(r["artifact"]))
        assert len(pages) == len(r["spans"])
        got_words = [text for p in pages for _, _, text in p["words"]]
        want_words = [
            w["text"] for p in r["spans"] for ln in p["lines"] for w in ln["words"]
        ]
        assert got_words == want_words
