"""Unit tests for the pure kernels (no Spark) — the reference-parity layer.

Mirrors the reference's test strategy (SURVEY §5): golden fixtures for the
hOCR parser incl. malformed input and attribute defaults, routing config
order-sensitivity, normalization byte-exactness.
"""

from pypdfocr_spark.kernels import codec, hocr, htmlx, merge, textstats
from pypdfocr_spark.kernels.normalize import ascii_ignore, normalize_page_text
from pypdfocr_spark.kernels.route import (
    first_matching_folder,
    normalize_targets,
    route_document,
)
from pypdfocr_spark import corpus

from tests import reference

XHTML = "http://www.w3.org/1999/xhtml"


def _hocr_one_word(word_title, line_title="bbox 10 20 500 60; baseline 0 -2"):
    return (
        f'<html xmlns="{XHTML}"><head><title>t</title></head><body>'
        f'<div class="ocr_page" id="page_1" title="bbox 0 0 2550 3300">'
        f'<span class="ocr_line" title="{line_title}">'
        f'<span class="ocrx_word" title="{word_title}">Hello</span>'
        f"</span></div></body></html>"
    )


# ---------------------------------------------------------------- normalize
def test_ascii_ignore_drops_non_ascii():
    # ref: pypdfocr/pypdfocr_pdffiler.py:47 — encode('ascii','ignore')
    assert ascii_ignore("héllo wörld ✓") == "hllo wrld "


def test_normalize_order_ascii_then_newline():
    assert normalize_page_text("a\nbé\nc") == "a b c"


# ---------------------------------------------------------------- routing
TARGETS = normalize_targets(
    [("patents", ["PATENT", 2003]), ("recipes", ["recipes"]), ("finance", ["chase card"])]
)


def test_keyword_int_coercion_and_lowering():
    # ref: pypdfocr/pypdfocr.py:306 — str(k).lower()
    assert TARGETS[0] == ("patents", ["patent", "2003"])


def test_first_match_wins_in_config_order():
    # doc matches both 'recipes' and 'patent' — config order decides
    # (ref: pypdfocr/pypdfocr_pdffiler.py:53-58)
    assert first_matching_folder("my patent recipes", TARGETS) == "patents"
    assert first_matching_folder("great RECIPES here", TARGETS) == "recipes"
    assert first_matching_folder("nothing", TARGETS) is None


def test_route_document_page_early_exit():
    # first page with ANY match decides (ref: pypdfocr_pdffiler.py:66-68)
    pages = ["nothing here", "tasty recipes", "a patent too"]
    assert route_document(pages, "f.pdf", TARGETS, default="d") == "recipes"


def test_route_document_filename_fallback_and_default():
    assert (
        route_document(["x"], "my_patent_scan.pdf", TARGETS, use_filename=True, default="d")
        == "patents"
    )
    assert route_document(["x"], "plain.pdf", TARGETS, use_filename=True, default="d") == "d"
    assert route_document(["x"], "plain.pdf", TARGETS, use_filename=False, default=None) is None


# ---------------------------------------------------------------- hOCR parse
def test_parse_full_attributes_and_placement():
    xml = _hocr_one_word(
        "bbox 100 200 400 260; x_wconf 90; x_font Arial; x_fsize 12",
        "bbox 10 20 500 60; baseline 0.005 -2; textangle 90",
    )
    lines = hocr.parse_hocr_page(xml, 1, height=792.0, dpi=300)
    assert len(lines) == 1
    line = lines[0]
    assert line["textangle"] == 90
    assert line["baseline"] == [0.005, -2.0]
    w = line["words"][0]
    assert w["text"] == "Hello"
    assert w["font_size"] == 12
    # angle 90 anchor = (x0, y1) = (100, 260)  (ref: pypdfocr_pdf.py:332-337)
    assert w["x_pt"] == 100 * 72.0 / 300
    assert w["y_pt"] == 792.0 - 260 * 72.0 / 300


def test_parse_defaults_baseline_textangle_fontsize():
    # absent baseline → [0,0] (ref :304-307); absent textangle → 0
    # (ref :298-302); absent fontspec → size 8 (ref :357-364)
    xml = _hocr_one_word("bbox 1 2 3 4", "bbox 0 0 10 10")
    line = hocr.parse_hocr_page(xml, 1, 792.0, 300)[0]
    assert line["baseline"] == [0.0, 0.0]
    assert line["textangle"] == 0
    assert line["words"][0]["font_size"] == 8
    # angle 0 anchor = (x0, y1[sic y0]) = (1, 2)
    assert line["words"][0]["x_pt"] == 1 * 72.0 / 300


def test_parse_garbage_returns_empty():
    # ref: pypdfocr/pypdfocr_pdf.py:276-281 — garbage hOCR → no text, no raise
    assert hocr.parse_hocr_page("<<<not xml", 1, 792.0, 300) == []
    assert hocr.parse_hocr_page("", 1, 792.0, 300) == []


def test_parse_nested_child_text_space_joined():
    # word text = ' '.join of descendant .text (ref :315-319)
    xml = (
        f'<html xmlns="{XHTML}"><body>'
        f'<div class="ocr_page" id="page_1">'
        f'<span class="ocr_line" title="bbox 0 0 9 9">'
        f'<span class="ocrx_word" title="bbox 0 0 9 9">He<em>llo</em> </span>'
        f"</span></div></body></html>"
    )
    line = hocr.parse_hocr_page(xml, 1, 792.0, 300)[0]
    assert line["words"][0]["text"] == "He llo"


def test_missing_page_returns_empty():
    xml = _hocr_one_word("bbox 1 2 3 4")
    assert hocr.parse_hocr_page(xml, 7, 792.0, 300) == []


def test_natural_keys_order():
    # ref: pypdfocr/pypdfocr_pdf.py:258-267 — p_10 after p_2
    names = ["d_10.jpg", "d_2.jpg", "d_1.jpg"]
    assert sorted(names, key=hocr.natural_keys) == ["d_1.jpg", "d_2.jpg", "d_10.jpg"]


def test_emit_parse_roundtrip_multipage():
    pages = [
        {
            "dpi": 300,
            "rotate": 0,
            "w_px": 2550,
            "h_px": 3300,
            "words": [
                {"t": "alpha", "b": [50, 100, 150, 140], "l": 0},
                {"t": "beta", "b": [200, 100, 300, 140], "l": 0},
                {"t": "gamma&<ok>", "b": [50, 160, 150, 200], "l": 1},
            ],
        },
        {
            "dpi": 300,
            "rotate": 90,
            "w_px": 2550,
            "h_px": 3300,
            "words": [{"t": "delta", "b": [50, 100, 150, 140], "l": 0}],
        },
    ]
    doc = hocr.emit_hocr(pages)
    p1 = hocr.parse_hocr_page(doc, 1, 792.0, 300)
    p2 = hocr.parse_hocr_page(doc, 2, 792.0, 300)
    assert hocr.page_text_from_spans(p1) == "alpha beta\ngamma&<ok>"
    assert hocr.page_text_from_spans(p2) == "delta"
    assert p2[0]["textangle"] == 90


# ---------------------------------------------------------------- codec
def test_codec_roundtrip_and_garbage():
    pages = [{"dpi": 300, "words": [{"t": "x", "b": [1, 2, 3, 4], "l": 0}]}]
    assert codec.decode_doc(codec.encode_doc(pages)) == pages
    assert codec.decode_doc(b"junk") is None
    assert codec.decode_doc(codec.MAGIC + b"{broken") is None
    # valid-but-empty is distinct from garbage
    assert codec.decode_doc(codec.encode_doc([])) == []


def test_geometry_clamp_and_max():
    # 200 dpi native → clamped to 300 (ref: pypdfocr_gs.py:150-156)
    g = codec.detect_geometry([{"dpi": 200, "w_px": 1700, "h_px": 2200}])
    assert g["output_dpi"] == 300
    g = codec.detect_geometry([{"dpi": 400, "w_px": 3400, "h_px": 4400}])
    assert g["output_dpi"] == 400
    # page physical size in points is dpi-independent
    assert abs(g["width_pt"] - 612.0) < 1e-9


def test_rasterize_identity_at_same_dpi():
    pages = [{"dpi": 300, "w_px": 2550, "h_px": 3300, "words": [{"t": "x", "b": [10, 20, 30, 40], "l": 0}]}]
    assert codec.rasterize(pages, 300) == pages


def test_rasterize_scales_boxes():
    pages = [{"dpi": 200, "w_px": 1700, "h_px": 2200, "words": [{"t": "x", "b": [100, 200, 300, 400], "l": 0}]}]
    out = codec.rasterize(pages, 300)[0]
    assert out["words"][0]["b"] == [150, 300, 450, 600]
    assert out["w_px"] == 2550


def test_round_half_away():
    assert codec.round_half_away(0.5) == 1
    assert codec.round_half_away(1.5) == 2
    assert codec.round_half_away(2.5) == 3
    assert codec.round_half_away(-0.5) == -1


# ---------------------------------------------------------------- htmlx
def test_strip_boilerplate():
    html = (
        "<html><head><title>T</title><style>a{}</style></head><body>"
        "<nav>menu items</nav><header>big header</header>"
        "<p>real content here</p><p>second para</p>"
        "<script>evil()</script><footer>foot</footer></body></html>"
    )
    assert htmlx.strip_boilerplate(html) == "real content here\nsecond para"
    # tag-level filtering keeps a link farm living in a plain <div>
    farm = (
        "<div><a href='/a'>Related story one</a> <a href='/b'>Another story"
        "</a></div><p>Closing thought.</p>"
    )
    assert htmlx.strip_boilerplate(farm) == "Related story one Another story\nClosing thought."


def test_strip_boilerplate_entities_and_whitespace():
    assert htmlx.strip_boilerplate("<p>a&amp;b   c\n d</p>") == "a&b c d"


# ---------------------------------------------------------------- merge math
def test_rotation_ctm_90_around_point():
    ctm = merge.rotate_around_point_ctm(90, 306, 306)
    # rotating (306, 0) by 90° around (306,306) → (612, 306)
    x, y = merge.apply_ctm(ctm, 306, 0)
    assert abs(x - 612) < 1e-9 and abs(y - 306) < 1e-9
    # identity at the pivot
    x, y = merge.apply_ctm(ctm, 306, 306)
    assert abs(x - 306) < 1e-9 and abs(y - 306) < 1e-9


def test_rotation_ctm_zero_is_identity():
    ctm = merge.rotate_around_point_ctm(0, 100, 100)
    assert [round(v, 12) for v in ctm] == [1, 0, 0, 1, 0, 0]


# ---------------------------------------------------------------- textstats
def test_minhash_deterministic_and_similarity_monotone():
    a = reference.minhash_signature("the quick brown fox jumps over the lazy dog")
    b = reference.minhash_signature("the quick brown fox jumps over the lazy dog")
    c = reference.minhash_signature("completely different words entirely here now")
    assert a == b
    overlap_same = sum(x == y for x, y in zip(a, b))
    overlap_diff = sum(x == y for x, y in zip(a, c))
    assert overlap_same == len(a) and overlap_diff < len(a)


def test_simhash_close_for_similar_docs():
    a = reference.simhash64("the quick brown fox jumps over the lazy dog today")
    b = reference.simhash64("the quick brown fox jumps over the lazy cat today")
    c = reference.simhash64("zzz yyy xxx www vvv uuu ttt sss rrr qqq")
    assert reference.hamming64(a, b) < reference.hamming64(a, c)


def test_lang_id_markers():
    assert textstats.lang_id("the cat and the dog is a pet") == "en"
    assert textstats.lang_id("der hund und die katze ist da") == "de"
    assert textstats.lang_id("xyzzy plugh") == "unk"


def test_quality_stats():
    q = reference.quality_stats("The cat, the dog.")
    assert q["n_tokens"] == 4
    assert q["stopword_ratio"] == 0.5
    assert 0 < q["punct_ratio"] < 0.3


def test_bag_fingerprint_order_insensitive():
    assert reference.bag_fingerprint("a b c") == reference.bag_fingerprint("c b a b")


# ---------------------------------------------------------------- corpus identity
def test_extract_identity_pdf_doc():
    text = "spark group query row data slow small filter customer line"
    row = corpus.build_corpus_row(1, text, "en", "src1")
    assert row["url"].endswith(".pdf")
    pages, status = corpus.extract_doc(row["html"])
    extracted, n_pages = "\n".join(pages), len(pages)
    assert status == "ok" and n_pages == 1
    assert normalize_page_text(extracted) == text


def test_extract_identity_html_doc():
    text = "join a filter window row join stream customer data group sort merge fast"
    row = corpus.build_corpus_row(9, text, "de", "src9")
    assert row["url"].endswith(".html")
    pages, status = corpus.extract_doc(row["html"])
    extracted, n_pages = "\n".join(pages), len(pages)
    assert status == "ok"
    assert normalize_page_text(extracted) == text


def test_extract_identity_multipage_and_dpi_variants():
    # 90 tokens → 3 pages; doc_id 14 → dpi 200 → clamped raster at 300
    text = " ".join(f"tok{i}" for i in range(90))
    row = corpus.build_corpus_row(14, text, "en", "src14")
    pages, status = corpus.extract_doc(row["html"])
    extracted, n_pages = "\n".join(pages), len(pages)
    assert n_pages == 3
    assert normalize_page_text(extracted) == text


def test_extract_identity_heavy_doc():
    text = "alpha beta gamma delta epsilon"
    row = corpus.build_corpus_row(200, text, "en", "src0")
    pages, status = corpus.extract_doc(row["html"])
    extracted, n_pages = "\n".join(pages), len(pages)
    assert n_pages == len(text.split()) * corpus.HEAVY_REPEAT // corpus.WORDS_PER_PAGE
    expected = " ".join(text.split() * corpus.HEAVY_REPEAT)
    assert normalize_page_text(extracted) == expected


def test_oracle_extract_excludes_and_routes():
    targets = normalize_targets([("sparky", ["spark"]), ("misc", ["window"])])
    rows = [
        corpus.build_corpus_row(3, "hello world", "en", "src3"),  # _ocr.pdf → excluded
        corpus.build_corpus_row(1, "spark window stuff", "en", "src1"),
        corpus.build_corpus_row(2, "nothing to match", "en", "src2"),
        corpus.build_corpus_row(7, "plain words only", "en", "src7"),  # filename has 'spark'
    ]
    out = corpus.oracle_extract(rows, targets, "default")
    assert len(out) == 3
    by_url = {r["url"]: r for r in out}
    assert [r["route"] for r in out] == ["sparky", "default", "sparky"]
    assert all(r["status"] == "ok" for r in out)


def test_page_texts_from_hocr_matches_full_parse():
    """r6: the text-only parse must reproduce the full span parse's text
    surface on adversarial hOCR — garbage XML, lines without bbox, words
    without bbox, nested word spans, textangle pages, childless words,
    whitespace-only words — byte for byte, page for page."""
    adversarial = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<html xmlns="http://www.w3.org/1999/xhtml"><head><title/></head><body>'
        '<div class="ocr_page" id="page_1" title="bbox 0 0 100 100">'
        '<span class="ocr_line" title="bbox 0 0 50 10; textangle 90">'
        '<span class="ocrx_word" title="bbox 0 0 10 10">rotated</span>'
        '<span class="ocrx_word" title="no box here">dropped</span>'
        '<span class="ocrx_word" title="bbox 1 1 2 2">  </span>'
        '<span class="ocrx_word" title="bbox 2 2 3 3">a<b>b</b>c</span>'
        "</span>"
        '<span class="ocr_line" title="missing bbox entirely">'
        '<span class="ocrx_word" title="bbox 0 0 1 1">ghost</span></span>'
        '<span class="ocr_line" title="bbox 0 20 50 30">'
        '<span class="other">skip</span>'
        '<span class="ocrx_word" title="bbox 5 5 6 6"></span></span>'
        "</div>"
        '<div class="ocr_page" id="page_2" title="bbox 0 0 100 100">'
        '<span class="ocr_line" title="bbox 0 0 9 9; baseline 0 -2">'
        '<span class="ocrx_word" title="bbox 0 0 4 4; x_font F; x_fsize 9">ok'
        "</span></span></div>"
        "</body></html>"
    )
    ref = [
        hocr.page_text_from_spans(spans)
        for spans in hocr.parse_hocr_all(adversarial, 792.0, 300)
    ]
    assert hocr.page_texts_from_hocr(adversarial) == ref
    assert ref[1] == "ok"  # sanity: real content survives
    # garbage tolerance parity
    assert hocr.page_texts_from_hocr("<<<not xml") == []
    assert hocr.page_texts_from_hocr("") == []
