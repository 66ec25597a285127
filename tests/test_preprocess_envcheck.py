"""Tests for the T5 version gate and OCR strategy selection."""

import pytest

from pypdfocr_spark.envcheck import binary_available, select_ocr_strategy, version_is_uptodate


# --------------------------------------------------------------- T5 versions
# The reference's own test matrix (test/test_tesseract.py:13-137 checks
# these comparison cases against _is_version_uptodate).
@pytest.mark.parametrize(
    "ver,req,windows,expected",
    [
        ("3.02.02", "3.02.02", False, True),   # equal
        ("3.03.02", "3.02.02", False, True),   # minor greater
        ("4.0", "3.02.02", False, True),       # major greater
        ("3.01.02", "3.02.02", False, False),  # minor lower
        ("3.02", "3.02.02", False, False),     # shorter → lower (3.02 < 3.02.01)
        ("3.02", "3.02.02", True, True),       # NT quirk: req truncated to 3.02
        ("3.05.02dev", "3.02.02", False, True),  # dev suffix stripped
        ("5.3.0", "3.02.02", False, True),
    ],
)
def test_version_gate_matrix(ver, req, windows, expected):
    assert version_is_uptodate(ver, req, windows=windows) is expected


def test_strategy_selection_without_binaries():
    # sandbox has no tesseract → builtin stand-in selected
    assert not binary_available("tesseract")
    assert select_ocr_strategy() == "builtin"

