"""pypdfocr_spark — a PySpark-native distributed main-content extraction engine.

A from-scratch rebuild of the *capabilities* of ``virantha/pypdfocr``
(reference at /root/reference, v0.9.1): the
preprocess → rasterize → OCR → hOCR-parse → text-layer-reassembly →
keyword-route dataflow, re-expressed as an idiomatic Spark DataFrame
pipeline over a Common-Crawl-style table of pages
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

Design notes (vs the reference's subprocess-and-filesystem architecture):

* Every per-document stage is a **vectorized Arrow stage** (``mapInPandas`` /
  scalar ``pandas_udf``) — no row-at-a-time Python, no intermediate files.
* The corpus is **one distributed table**; a "page" is a row produced by
  exploding a pages array, not a globbed filename
  (ref: pypdfocr/pypdfocr_gs.py:208-218 recovers pages by filename glob +
  natural sort — here page_no is an explicit int column).
* Skew from multi-hundred-page documents is broken by exploding pages
  *before* the expensive OCR stage and hash-repartitioning on
  ``(url, page_no)``; light documents take a shuffle-free intra-row path.
* Lineage/metrics are data (a per-partition metrics table), and resume is a
  ``left_anti`` join of the input against committed urls — the distributed
  analog of the reference watcher's processed-set sentinel
  (ref: pypdfocr/pypdfocr_watcher.py:97-109).

Kernels under :mod:`pypdfocr_spark.kernels` are importable without Spark and
serve as the single-machine oracle for the byte-identity tests.

Importing the package installs :func:`pyworker.keep_zip_directories`, so
a Python worker that unpickles any of its UDFs stops re-reading every zip
importer's directory at the start of each task.
"""

from .pyworker import keep_zip_directories

__version__ = "0.1.0"

keep_zip_directories()
