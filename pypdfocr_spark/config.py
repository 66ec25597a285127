"""Job configuration (the reference's YAML config → a plain dataclass;
SURVEY §1.1 #7). Keyword→folder routing stays an *ordered* sequence —
dict insertion order in the reference config decides first-match routing
(ref: pypdfocr/pypdfocr.py:301-307, pypdfocr/pypdfocr_pdffiler.py:53-58)."""

from __future__ import annotations

from dataclasses import dataclass, field

from .kernels.route import normalize_targets

# Demo routing config over the synthetic corpus vocabulary (F4 shape;
# mirrors the reference's test/test_pypdfocr_config.yaml folder:keywords map).
DEFAULT_TARGETS: list[tuple[str, list[str]]] = normalize_targets(
    [
        ("spark_docs", ["spark"]),
        ("analytics", ["window", "vector"]),
        ("storage", ["column", "table"]),
    ]
)
DEFAULT_ROUTE = "default"

# Payloads larger than this take the exploded per-page path (skew
# breaking for multi-hundred-page docs; BASELINE.json north_star).
HEAVY_PAYLOAD_BYTES = 200_000


@dataclass(frozen=True)
class ExtractConfig:
    """Everything the extraction pipeline needs; broadcast by closure
    into the Arrow UDFs (small, picklable)."""

    targets: list[tuple[str, list[str]]] = field(default_factory=lambda: list(DEFAULT_TARGETS))
    default_route: str = DEFAULT_ROUTE
    use_filename: bool = True  # the reference's -n flag (pypdfocr.py:169-170)
    heavy_payload_bytes: int = HEAVY_PAYLOAD_BYTES
    # OCR kernel strategy: 'auto' resolves driver-side (envcheck) to
    # 'subprocess' when new-enough tesseract + gs exist on the executors'
    # image, else 'builtin' (the deterministic synthetic codec). Mirrors
    # the reference's pluggable binary override (ref: pypdfocr.py:314-324).
    ocr_strategy: str = "auto"
    # Opt-in ImageMagick cleanup pass before OCR (the reference's
    # preprocess stage, off by default there too — README.rst:223-229);
    # honored by the subprocess kernels (kernels.subproc
    # preprocess_img_subprocess), a no-op for the builtin codec.
    preprocess: bool = False
    # Shared scratch for staging real-PDF payloads so the page explode can
    # rasterize one page per task (subproc.stage_pdf). Must be reachable
    # from every executor: on a cluster a shared mount (HDFS/NFS/FUSE)
    # with a job-scoped prefix, cleaned at job end (cli calls
    # subproc.clean_scratch after commit). None (the default) DISABLES
    # page-split staging — real PDFs fall back to a single whole-doc task
    # — because an executor-local default would silently blank pages on
    # any multi-host cluster (staged path unreachable after the shuffle).
    scratch_dir: str | None = None
    # Binary names/paths for the subprocess kernels. The reference lets
    # every external tool be overridden from YAML config ('binary:'
    # override design, ref: pypdfocr/pypdfocr.py:314-324); carrying them
    # here gives real clusters the same knob (e.g. a non-PATH tesseract
    # build) and lets the fake-binary e2e test inject hermetic stubs by
    # absolute path — executors never probe PATH either way.
    gs_binary: str = "gs"
    tesseract_binary: str = "tesseract"
    convert_binary: str = "convert"
    pdfinfo_binary: str = "pdfinfo"
    pdfimages_binary: str = "pdfimages"
    identify_binary: str = "identify"
