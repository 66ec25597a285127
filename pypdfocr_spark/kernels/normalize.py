"""Text normalization kernel (S6 in SURVEY §2.1).

Reimplements the page-text normalization of the reference filer:
``text.encode('ascii', 'ignore'); text.replace('\\n', ' ')``
(ref: pypdfocr/pypdfocr_pdffiler.py:47-48). This normalization is part of
the byte-identity contract: routing (P1) runs over the normalized text.

Python-2 ``str.encode('ascii','ignore')`` on a byte string decodes as
ascii first; on the unicode text PyPDF2 returns it simply drops all
codepoints > 127 — which is exactly what we implement.
"""

from __future__ import annotations

def ascii_ignore(s: str) -> str:
    """Drop every non-ASCII codepoint (``encode('ascii','ignore')``)."""
    return s.encode("ascii", "ignore").decode("ascii")


def newlines_to_spaces(s: str) -> str:
    """``text.replace('\\n', ' ')`` (ref: pypdfocr/pypdfocr_pdffiler.py:48)."""
    return s.replace("\n", " ")


def normalize_page_text(s: str) -> str:
    """Full S6 normalization: ascii-ignore then newline→space, in that
    order (matching the reference statement order,
    pypdfocr/pypdfocr_pdffiler.py:47-48)."""
    return newlines_to_spaces(ascii_ignore(s))
