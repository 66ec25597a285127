"""Searchable-document artifact rendering (T9/T10/K1 in SURVEY §2) —
optional, off the correctness path (the byte-identity surface is
text/spans, SURVEY §1.1 #5/#6), kept exact so artifact parity is
achievable on a real deployment.

The reference renders each page's invisible text layer onto a
reportlab canvas (render mode 3, Helvetica at the hOCR-reported size,
ref: pypdfocr/pypdfocr_pdf.py:58-78,216-250), concatenates the text pages,
and merges page k of the original with page k of the text layer —
applying a rotate-around-page-center CTM when the original page carries a
nonzero ``/Rotate`` (ref: pypdfocr/pypdfocr_pdf.py:165-201,92-130).

Two forms carry the same placement, computed once by
:func:`render_text_page` with the reference's merge math (kernels.merge):

* :func:`render_searchable_doc` — a deterministic JSON "searchable
  document": per page, the final device-space placement of every
  invisible word after the rotation merge;
* :func:`render_searchable_pdf` — a real PDF with that layer, written by
  the minimal :class:`PdfWriter` below (no reportlab/PyPDF2).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from .kernels import merge


def render_text_page(lines: list[dict], width_pt: float, height_pt: float, rotate: int = 0) -> dict:
    """One page's text layer: every word with its final (merged) position.

    * base placement comes from the span fields (``x_pt``/``y_pt`` — the
      ``(x*72/dpi, height − y*72/dpi)`` transform already applied at parse
      time, ref: pypdfocr/pypdfocr_pdf.py:349);
    * render mode 3 = invisible (ref :76);
    * nonzero page rotation applies the rotate-around-point CTM the
      reference uses at merge time with tx = ty = width/2
      (ref: pypdfocr/pypdfocr_pdf.py:194 — note the reference passes the
      media box *width* for both tx and ty).
    """
    ctm = merge.rotate_around_point_ctm(rotate, width_pt / 2, width_pt / 2) if rotate else None
    words = []
    for line in lines:
        for w in line["words"]:
            x, y = w["x_pt"], w["y_pt"]
            if ctm is not None:
                x, y = merge.apply_ctm(ctm, x, y)
            words.append(
                {
                    "t": w["text"],
                    "x": round(x, 4),
                    "y": round(y, 4),
                    "size": w["font_size"],
                    "angle": w["angle"],
                    "mode": 3,          # invisible text (ref :76)
                    "font": "Helvetica",  # ref :344
                }
            )
    return {"w": round(width_pt, 4), "h": round(height_pt, 4), "rotate": rotate, "words": words}


def render_searchable_doc(
    spans_pages: list[list[dict]],
    width_pt: float,
    height_pt: float,
    rotations: list[int] | None = None,
) -> bytes:
    """K1: the merged searchable-document artifact (magic + JSON pages),
    page-wise zip of original rotation with its text layer
    (ref: pypdfocr/pypdfocr_pdf.py:165-171)."""
    rotations = rotations or [0] * len(spans_pages)
    pages = [
        render_text_page(lines, width_pt, height_pt, rot)
        for lines, rot in zip(spans_pages, rotations)
    ]
    return b"%SYNOCR1%" + json.dumps({"pages": pages}, separators=(",", ":")).encode()


class PdfRef:
    """An ``n 0 R`` indirect reference."""

    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num


def _ser(v) -> bytes:
    """Serialize a Python value as a PDF object (``str`` is a name)."""
    if isinstance(v, dict):
        return b"<< " + b" ".join(
            b"/" + k.encode() + b" " + _ser(x) for k, x in v.items()
        ) + b" >>"
    if isinstance(v, list):
        return b"[ " + b" ".join(_ser(x) for x in v) + b" ]"
    if isinstance(v, PdfRef):
        return f"{v.num} 0 R".encode()
    if isinstance(v, str):
        return b"/" + v.encode()
    if isinstance(v, float):
        return f"{v:.4f}".rstrip("0").rstrip(".").encode() or b"0"
    return str(v).encode()


class PdfWriter:
    """Deterministic PDF emitter: numbered objects and streams, written
    in number order (plain objects first, then streams) behind a
    classic xref table."""

    def __init__(self):
        self.objects: "dict[int, bytes]" = {}
        self.streams: "dict[int, tuple[bytes, bytes]]" = {}
        self._next = 1

    def alloc(self) -> int:
        n = self._next
        self._next += 1
        return n

    def put(self, num: int, obj) -> PdfRef:
        self.objects[num] = _ser(obj)
        return PdfRef(num)

    def put_stream(self, num: int, dic: dict, raw: bytes) -> PdfRef:
        self.streams[num] = (_ser({**dic, "Length": len(raw)}), raw)
        return PdfRef(num)

    def finish(self, root: PdfRef) -> bytes:
        out = bytearray(b"%PDF-1.4\n")
        offsets: "dict[int, int]" = {}
        for num in sorted(self.objects):
            offsets[num] = len(out)
            out += f"{num} 0 obj\n".encode() + self.objects[num] + b"\nendobj\n"
        for num in sorted(self.streams):
            offsets[num] = len(out)
            body, raw = self.streams[num]
            out += f"{num} 0 obj\n".encode() + body + b"\nstream\n" + raw
            out += b"\nendstream\nendobj\n"
        xref_off = len(out)
        size = self._next
        out += f"xref\n0 {size}\n".encode()
        out += b"0000000000 65535 f \n"
        for n in range(1, size):
            out += f"{offsets[n]:010d} 00000 n \n".encode()
        out += b"trailer\n" + _ser({"Size": size, "Root": root})
        out += b"\nstartxref\n" + str(xref_off).encode() + b"\n%%EOF\n"
        return bytes(out)


def _pdf_escape(text: str) -> bytes:
    out = text.encode("latin-1", "replace")
    return out.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def render_searchable_pdf(
    spans_pages: "list[list[dict]]",
    width_pt: float,
    height_pt: float,
    rotations: "list[int] | None" = None,
    page_images: "list | None" = None,
    compress: bool = True,
) -> bytes:
    """K1 as a real PDF: the invisible text layer (render mode 3,
    Helvetica, one Tm+Tj per word — the reference's reportlab form,
    ref: pypdfocr/pypdfocr_pdf.py:58-78) over an optional Flate
    page-image XObject, built with :class:`PdfWriter`. The placement is
    :func:`render_text_page`'s, so every ``Tm`` carries exactly the
    position :func:`render_searchable_doc` records, with the word's
    angle as the text-matrix rotation. Page rotation is carried as the
    page's ``/Rotate`` with the merge CTM applied to the words, the
    reference's merge-time behavior."""
    import math
    import zlib

    import numpy as np

    rotations = rotations or [0] * len(spans_pages)
    wr = PdfWriter()
    catalog_num, pages_num, font_num = wr.alloc(), wr.alloc(), wr.alloc()
    font_ref = wr.put(
        font_num, {"Type": "Font", "Subtype": "Type1", "BaseFont": "Helvetica"}
    )
    page_nums = []
    for pno, (lines, rot) in enumerate(zip(spans_pages, rotations)):
        layer = render_text_page(lines, width_pt, height_pt, rot)
        body = bytearray()
        resources: dict = {"Font": {"F1": font_ref}}
        if page_images is not None and page_images[pno] is not None:
            img = np.asarray(page_images[pno], dtype="uint8")
            gray = img.ndim == 2
            h, w = img.shape[:2]
            img_ref = wr.put_stream(
                wr.alloc(),
                {"Type": "XObject", "Subtype": "Image", "Width": w, "Height": h,
                 "BitsPerComponent": 8, "Filter": "FlateDecode",
                 "ColorSpace": "DeviceGray" if gray else "DeviceRGB"},
                zlib.compress(img.tobytes(), 6),
            )
            resources["XObject"] = {"Im0": img_ref}
            body += (
                f"q {layer['w']} 0 0 {layer['h']} 0 0 cm /Im0 Do Q\n".encode()
            )
        body += b"BT\n3 Tr\n"
        last_size = None
        for word in layer["words"]:
            if word["size"] != last_size:
                body += f"/F1 {word['size']} Tf\n".encode()
                last_size = word["size"]
            rad = math.radians(word["angle"])
            cos, sin = round(math.cos(rad), 6), round(math.sin(rad), 6)
            body += (
                f"{cos} {sin} {-sin} {cos} {word['x']} {word['y']} Tm\n".encode()
            )
            body += b"(" + _pdf_escape(word["t"]) + b") Tj\n"
        body += b"ET\n"
        content_dic: dict = {}
        raw = bytes(body)
        if compress:
            content_dic["Filter"] = "FlateDecode"
            raw = zlib.compress(raw, 6)
        content_ref = wr.put_stream(wr.alloc(), content_dic, raw)
        num = wr.alloc()
        page_nums.append(num)
        page: dict = {
            "Type": "Page", "Parent": PdfRef(pages_num),
            "MediaBox": [0, 0, layer["w"], layer["h"]],
            "Resources": resources, "Contents": content_ref,
        }
        if rot:
            page["Rotate"] = rot
        wr.put(num, page)
    root = wr.put(catalog_num, {"Type": "Catalog", "Pages": PdfRef(pages_num)})
    wr.put(
        pages_num,
        {"Type": "Pages", "Count": len(page_nums),
         "Kids": [PdfRef(n) for n in page_nums]},
    )
    return wr.finish(root)


def with_artifacts(spans_df: DataFrame, fmt: str = "json") -> DataFrame:
    """Append an ``artifact`` binary column to span-level extraction
    output (spans.extract_spans) via an Arrow-batched stage. ``fmt``
    "json" emits the byte-identity JSON form (%SYNOCR1%); "pdf" emits a
    real searchable PDF (:func:`render_searchable_pdf`) with the same
    word placement."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    if fmt not in ("json", "pdf"):
        raise ValueError(f"unsupported artifact format {fmt!r}")
    render = render_searchable_doc if fmt == "json" else render_searchable_pdf
    schema = StructType(list(spans_df.schema.fields) + [StructField("artifact", BinaryType())])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            artifacts = []
            for span_pages in pdf["spans"]:
                pages = [
                    [ln if isinstance(ln, dict) else ln for ln in p["lines"]]
                    for p in span_pages
                ]
                artifacts.append(render(pages, 612.0, 792.0))
            out = pdf.copy()
            out["artifact"] = artifacts
            yield out

    return spans_df.mapInPandas(gen, schema)
