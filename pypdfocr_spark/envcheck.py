"""Driver-side environment checks (T5 in SURVEY §2.3).

Reimplements the reference's dotted-version gate for external binaries —
``_is_version_uptodate`` with all its quirks
(ref: pypdfocr/pypdfocr_tesseract.py:77-125):

* version parsed from ``tesseract -v`` output, ``dev`` suffix stripped
  (ref :90-95);
* on Windows (``os.name == 'nt'``) only the first two components of the
  *required* version are compared, because 3.02.02 reports as 3.02
  (ref :101-104);
* comparison semantics: equal-and-same-length → good; any component
  greater → good; shorter actual version → too old (3.02 < 3.02.01).

Used to gate the subprocess-backed kernel strategies on a real cluster;
in the sandbox (no binaries) the deterministic stand-ins are selected.
"""

from __future__ import annotations

import shutil


def version_is_uptodate(ver_str: str, required: str, windows: bool = False) -> bool:
    """Exact reimplementation of the reference's comparison loop
    (ref: pypdfocr/pypdfocr_tesseract.py:97-125)."""
    if ver_str.endswith("dev"):
        ver_str = ver_str[:-3]
    ver = [int(x) for x in ver_str.split(".")]
    req = [int(x) for x in required.split(".")]
    if windows:
        req = req[:2]

    version_good = False
    for i, num in enumerate(req):
        if len(ver) < i + 1:
            # minor component missing → lower than required (3.02 < 3.02.01)
            break
        if ver[i] == num and len(ver) == i + 1 and len(ver) == len(req):
            version_good = True
            continue
        if ver[i] > num:
            version_good = True
            break
        if ver[i] < num:
            break
    return version_good


def binary_available(name: str) -> bool:
    """Is an external tool on PATH? (the reference errors out with
    installation instructions, ref: pypdfocr_tesseract.py:64-70; we select
    the pure-Python stand-in strategy instead)."""
    return shutil.which(name) is not None


def resolve_ocr_strategy(requested: str = "auto") -> str:
    """Driver-side strategy resolution for ExtractConfig.ocr_strategy:
    explicit values pass through; 'auto' becomes 'subprocess' only when a
    new-enough tesseract AND ghostscript are both on PATH (the subprocess
    kernel needs the full rasterize→OCR chain), else 'builtin'."""
    if requested in ("builtin", "subprocess"):
        return requested
    if requested != "auto":
        # a typo must not silently fall back to auto-resolution
        raise ValueError(
            f"unknown ocr_strategy {requested!r}: expected 'auto', 'builtin' "
            "or 'subprocess'"
        )
    if select_ocr_strategy() == "subprocess" and binary_available("gs"):
        return "subprocess"
    return "builtin"


def select_ocr_strategy(required_tesseract: str = "3.02.02") -> str:
    """'subprocess' when a new-enough tesseract exists, else 'builtin'
    (the deterministic stand-in). Mirrors the reference's pluggable
    ``binary:`` override design (ref: pypdfocr/pypdfocr.py:314-324)."""
    if not binary_available("tesseract"):
        return "builtin"
    import subprocess

    try:
        out = subprocess.run(
            ["tesseract", "-v"], capture_output=True, text=True, timeout=10
        )
        blob = (out.stdout or "") + (out.stderr or "")
        for line in blob.splitlines():
            if "tesseract" in line:
                ver = line.split(" ")[1]
                return "subprocess" if version_is_uptodate(ver, required_tesseract) else "builtin"
    except Exception:
        pass
    return "builtin"
