"""Model-based quality scoring (classifier.py): feature hashing parity,
map-only scoring plan, and the fused web gate against its chained form."""

import random

import numpy as np
from pyspark.sql import functions as F

from pypdfocr_spark import classifier


GOOD_VOCAB = ["research", "method", "result", "theory", "measure",
              "chapter", "evidence", "analysis", "history", "science"]
SPAM_VOCAB = ["cheap", "winner", "click", "bonus", "prize",
              "offer", "deal", "limited", "free", "casino"]


def _corpus(spark, n_per_class, seed=0, start=0):
    rng = random.Random(seed)
    rows = []
    for i in range(n_per_class):
        good = " ".join(rng.choice(GOOD_VOCAB) for _ in range(rng.randint(8, 20)))
        spam = " ".join(rng.choice(SPAM_VOCAB) for _ in range(rng.randint(8, 20)))
        rows.append((start + 2 * i, good, 1))
        rows.append((start + 2 * i + 1, spam, 0))
    return spark.createDataFrame(rows, "doc_id LONG, text STRING, label INT")


def _vocab_model(spark, nb=1 << 12):
    """A fixed-weight model that separates the two vocabularies: each
    GOOD_VOCAB word's bucket weighs +1, each SPAM_VOCAB word's -1, every
    other bucket (bigrams included) 0."""
    words = spark.createDataFrame([(w,) for w in GOOD_VOCAB + SPAM_VOCAB], "w STRING")
    weights = np.zeros(nb)
    for r in words.select("w", F.pmod(F.hash("w"), F.lit(nb)).alias("b")).collect():
        weights[r["b"]] += 1.0 if r["w"] in GOOD_VOCAB else -1.0
    return classifier.QualityModel(weights, 0.0, nb, True)


def test_feature_hashing_matches_local_replica(spark):
    """The JVM bucket ids (F.hash = murmur3, seed 42) pinned against
    themselves on the string side: same token -> same bucket across docs,
    unigram+bigram layout and counts exactly as specified."""
    df = spark.createDataFrame(
        [(0, "Alpha beta GAMMA"), (1, "alpha beta"), (2, ""), (3, "solo")],
        "doc_id LONG, text STRING",
    )
    nb = 1 << 10
    rows = df.select(
        "doc_id",
        classifier.hashed_feature_col("text", nb).alias("fx"),
        F.pmod(F.hash(F.lit("alpha")), F.lit(nb)).alias("h_alpha"),
        F.pmod(F.hash(F.lit("beta")), F.lit(nb)).alias("h_beta"),
        F.pmod(F.hash(F.lit("gamma")), F.lit(nb)).alias("h_gamma"),
        F.pmod(F.hash(F.lit("alpha beta")), F.lit(nb)).alias("h_ab"),
        F.pmod(F.hash(F.lit("beta gamma")), F.lit(nb)).alias("h_bg"),
        F.pmod(F.hash(F.lit("solo")), F.lit(nb)).alias("h_solo"),
    ).collect()
    r = {x["doc_id"]: x for x in rows}
    assert list(r[0]["fx"]) == [r[0]["h_alpha"], r[0]["h_beta"], r[0]["h_gamma"],
                                r[0]["h_ab"], r[0]["h_bg"]]
    assert list(r[1]["fx"]) == [r[1]["h_alpha"], r[1]["h_beta"], r[1]["h_ab"]]
    assert list(r[2]["fx"]) == []
    assert list(r[3]["fx"]) == [r[3]["h_solo"]]   # no bigrams for 1 token


def test_score_plan_is_map_only(spark):
    df = _corpus(spark, 2, seed=8)
    model = classifier.QualityModel(np.zeros(1 << 10), 0.0, 1 << 10, True)
    plan = classifier.classifier_score_df(df, model) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def _mangle(s: str) -> str:
    return s.encode("utf-8").decode("cp1252")


def test_web_gate_fused_matches_chained(spark):
    """recipe.web_gate (2 Arrow stages) must be row-identical to the
    chained fix -> bloom-probe -> score composition (3 Arrow stages) on
    a corpus mixing mojibake, Bloom-seen docs, and both quality classes."""
    from pypdfocr_spark import bloom, recipe, textfix

    model = _vocab_model(spark)

    rng = random.Random(12)
    rows = []
    for i in range(60):
        vocab = GOOD_VOCAB if i % 2 == 0 else SPAM_VOCAB
        text = " ".join(rng.choice(vocab) for _ in range(12)) + " café"
        rows.append((i, _mangle(text) if i % 3 == 0 else text))
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    # reference set = the REPAIRED text of every 5th doc (hashing must
    # see NFC bytes, so seen-ness is decided post-fix in both paths)
    fixed = textfix.fix_text_df(df)
    reference = fixed.where(F.col("doc_id") % 5 == 0)
    bitmap = bloom.bloom_build(reference, "text", num_bits=1 << 16, num_hashes=5)

    chained = (
        bloom.bloom_probe_df(fixed.select("doc_id", "text"), bitmap, num_hashes=5)
        .join(classifier.classifier_score_df(fixed, model), "doc_id")
        .select("doc_id", "text", "maybe_seen", "quality_prob")
    )
    fused = recipe.web_gate(df, model, bitmap, num_hashes=5, return_flags=True)
    got = {r["doc_id"]: r for r in fused.collect()}
    want = {r["doc_id"]: r for r in chained.collect()}
    assert set(got) == set(want) and len(got) == 60
    for did in want:
        assert got[did]["text"] == want[did]["text"]
        assert got[did]["maybe_seen"] == want[did]["maybe_seen"]
        assert abs(got[did]["quality_prob"] - want[did]["quality_prob"]) < 1e-12
    assert any(r["maybe_seen"] for r in want.values())  # probe non-vacuous
    probs = sorted(r["quality_prob"] for r in want.values())
    assert probs[0] < 0.5 < probs[-1]                   # both classes present

    # default form: survivors only = fresh AND above threshold
    kept = {r["doc_id"] for r in recipe.web_gate(
        df, model, bitmap, num_hashes=5, threshold=0.5
    ).collect()}
    assert kept == {
        d for d, r in want.items()
        if not r["maybe_seen"] and r["quality_prob"] >= 0.5
    }
    assert kept  # non-vacuous


def test_web_gate_plan_is_map_only(spark):
    from pypdfocr_spark import recipe

    df = spark.createDataFrame([(0, "alpha beta")], "doc_id LONG, text STRING")
    model = classifier.QualityModel(np.zeros(1 << 10), 0.0, 1 << 10, True)
    plan = (
        recipe.web_gate(df, model, bytes(1 << 10), return_flags=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_web_gate_no_bitmap_no_fix(spark):
    from pypdfocr_spark import recipe

    model = _vocab_model(spark)
    test = _corpus(spark, 10, seed=14, start=700)
    flags = recipe.web_gate(test, model, None, fix=False, return_flags=True)
    rows = flags.collect()
    assert len(rows) == 20 and not any(r["maybe_seen"] for r in rows)
    want = {r["doc_id"]: r["quality_prob"]
            for r in classifier.classifier_score_df(test, model).collect()}
    for r in rows:
        assert abs(r["quality_prob"] - want[r["doc_id"]]) < 1e-12
