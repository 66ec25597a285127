"""Model-based quality scoring — the DCLM/fastText pattern, Spark-native.

The strongest single curation signal in recent pipelines (DCLM, FineWeb-
Edu) is not a heuristic but a tiny supervised classifier: a linear model
that scores "good" (curated/reference) against "bad" (raw crawl)
documents, keeping the corpus rows it scores above a threshold. The
fastText architecture those pipelines use IS a hashed-bag-of-ngrams
linear model — exactly what distributes well:

* **features** are computed JVM-side: lowercase word unigrams + adjacent
  bigrams, murmur3-hashed (``F.hash``, whole-stage codegen) into
  ``num_buckets`` ids — only int arrays cross the Arrow boundary, never
  token strings;
* **scoring** is MAP-ONLY: weights ride a SparkContext broadcast, one
  Arrow stage computes sigmoid(w·x + b) per doc — zero shuffle at any
  corpus size (same shape as ``bloom.bloom_probe_df``).

The weights come from outside this module (a :class:`QualityModel`
trained offline); hashing and features are exact, so a model scores
the same on any cluster layout.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)


@dataclass
class QualityModel:
    weights: np.ndarray          # float64[num_buckets]
    bias: float
    num_buckets: int
    bigrams: bool


def hashed_feature_col(text_col: str, num_buckets: int, bigrams: bool = True):
    """Array of hashed feature bucket ids for one document — unigrams +
    adjacent bigrams over lowercase whitespace tokens, all in JVM
    expressions. Feature VALUE is implicit: each occurrence contributes
    1/n_features (fastText-style mean pooling), so documents of any
    length live on the same scale."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), "\\s+"), lambda t: t != "")
    uni = F.transform(toks, lambda t: F.pmod(F.hash(t), F.lit(num_buckets)))
    if not bigrams:
        return uni
    n = F.size(toks)
    big = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.pmod(
                F.hash(F.concat_ws(" ", F.element_at(toks, i + 1),
                                   F.element_at(toks, i + 2))),
                F.lit(num_buckets),
            ),
        ),
    ).otherwise(F.array().cast("array<int>"))
    return F.concat(uni, big)


SCORE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("quality_prob", DoubleType()),
    ]
)


def classifier_score_df(
    df: DataFrame,
    model: QualityModel,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score a corpus under a trained model: (doc_id, quality_prob).
    Map-only — JVM feature hashing → one Arrow stage against the
    broadcast weight vector. Empty documents score sigmoid(bias)."""
    bc = df.sparkSession.sparkContext.broadcast(model.weights.tobytes())
    bias = float(model.bias)

    def run(batches):
        import pandas as pd

        w = np.frombuffer(bc.value, dtype=np.float64)
        for pdf in batches:
            ids, probs = [], []
            for did, buckets in zip(pdf["_id"], pdf["_fx"]):
                idx = np.asarray(buckets, dtype=np.int64)
                z = bias if len(idx) == 0 else bias + w[idx].sum() / len(idx)
                ids.append(int(did))
                probs.append(float(1.0 / (1.0 + np.exp(-z))))
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"),
                 "quality_prob": pd.Series(probs, dtype="float64")}
            )

    prepared = df.select(
        F.col(id_col).cast("long").alias("_id"),
        hashed_feature_col(text_col, model.num_buckets, model.bigrams).alias("_fx"),
    )
    return prepared.mapInPandas(run, SCORE_SCHEMA)
