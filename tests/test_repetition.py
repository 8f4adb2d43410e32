"""functions/text.repetition_signals — Gopher-style duplicate-line
signals, hand-computed expectations."""

import pytest
from pyspark.sql import functions as F

from metadata_enhanced_pretrain_datapipeline_spark.functions.text import repetition_signals


def _sig(spark, text):
    df = spark.createDataFrame([(text,)], "text string")
    row = df.select(repetition_signals(F.col("text")).alias("s")).collect()[0]["s"]
    return row["dup_line_frac"], row["dup_line_char_frac"]


def test_no_duplicates(spark):
    frac, char_frac = _sig(spark, "alpha\nbeta\ngamma")
    assert frac == 0.0 and char_frac == 0.0


def test_half_duplicate_lines(spark):
    # 4 lines, "aa" twice: dup_line_frac = (4-3)/4; chars 2+2+3+4=11, dup 4
    frac, char_frac = _sig(spark, "aa\naa\nbbb\ncccc")
    assert frac == pytest.approx(0.25)
    assert char_frac == pytest.approx(4 / 11)


def test_blank_and_whitespace_lines_ignored(spark):
    # blank/whitespace-only lines are dropped before counting; the two
    # identical 'x' lines still count as duplicates
    frac, char_frac = _sig(spark, "x\n\n   \nx")
    assert frac == pytest.approx(0.5)
    assert char_frac == pytest.approx(1.0)


def test_trimmed_before_compare(spark):
    # trim happens before equality: ' a ' and 'a' are the same line
    frac, _ = _sig(spark, " a \na")
    assert frac == pytest.approx(0.5)


def test_empty_and_null_text(spark):
    assert _sig(spark, "") == (None, None)
    df = spark.createDataFrame([(None,)], "text string")
    row = df.select(repetition_signals(F.col("text")).alias("s")).collect()[0]["s"]
    assert row is None or (row["dup_line_frac"] is None and row["dup_line_char_frac"] is None)


def test_all_one_line_repeated(spark):
    frac, char_frac = _sig(spark, "spam\nspam\nspam")
    assert frac == pytest.approx(2 / 3)
    assert char_frac == pytest.approx(1.0)


def test_ngram_repetition_hand_computed(spark):
    from metadata_enhanced_pretrain_datapipeline_spark.functions.text import (
        ngram_repetition_signals,
    )

    # "a b c a b c a b x": 2-gram "a b" occurs 3x (ties impossible: "b c"
    # 2x). top chars = 3 * len("ab") = 6 over 9 token chars.
    # 5-grams: "a b c a b" (starts 1,4) duplicated -> covers positions
    # 1..8 (union of [1,5] and [4,8]); position 9 ("x") uncovered ->
    # dup frac = 8/9.
    df = spark.createDataFrame([(1, "a b c a b c a b x")],
                               "id long, text string")
    s = df.select(ngram_repetition_signals(
        F.col("text"), top_n=2, dup_n=5).alias("s")).head()["s"]
    assert abs(s["top_ngram_char_frac"] - 6 / 9) < 1e-9
    assert abs(s["dup_ngram_char_frac"] - 8 / 9) < 1e-9


def test_ngram_repetition_short_docs_null_no_dups_zero(spark):
    from metadata_enhanced_pretrain_datapipeline_spark.functions.text import (
        ngram_repetition_signals,
    )

    df = spark.createDataFrame(
        [(1, "only"), (2, "all words here differ fully now")],
        "id long, text string")
    rows = {r.id: r["s"] for r in df.select(
        "id", ngram_repetition_signals(F.col("text")).alias("s")).collect()}
    assert rows[1]["top_ngram_char_frac"] is None   # < 2 tokens
    assert rows[1]["dup_ngram_char_frac"] is None   # < 5 tokens
    assert rows[2]["top_ngram_char_frac"] is not None  # max count 1 still tops
    assert rows[2]["dup_ngram_char_frac"] == 0.0    # no duplicated 5-gram


def test_gopher_quality_signals_hand_computed(spark):
    from metadata_enhanced_pretrain_datapipeline_spark.functions.text import (
        gopher_quality_signals,
    )
    from pyspark.sql import functions as F

    # 3 non-empty lines: one bullet, one ellipsis ending; 9 ws tokens,
    # 7 with a letter ('-' and '42' have none); symbols: 1 '#', 1 '...'
    text = "- alpha beta\ngamma 42 #tag\nwait for it..."
    df = spark.createDataFrame([(1, text)], "id long, text string")
    s = df.select(gopher_quality_signals(F.col("text")).alias("s")).head()["s"]
    assert abs(s["alpha_word_frac"] - 7 / 9) < 1e-6
    assert abs(s["bullet_line_frac"] - 1 / 3) < 1e-6
    assert abs(s["ellipsis_line_frac"] - 1 / 3) < 1e-6
    assert abs(s["symbol_word_ratio"] - 2 / 9) < 1e-6


def test_gopher_quality_keep_thresholds(spark):
    from metadata_enhanced_pretrain_datapipeline_spark.functions.text import (
        gopher_quality_keep,
    )
    from pyspark.sql import functions as F

    good = "the quick brown fox is one of the best and a joy to watch in"
    soup = " ".join(["####"] * 20)  # no alpha words, symbol flood
    df = spark.createDataFrame(
        [(1, good), (2, soup), (3, "")], "id long, text string")
    rows = {r.id: r.k for r in df.select(
        "id", gopher_quality_keep(F.col("text"), min_words=10).alias("k")
    ).collect()}
    assert rows[1] is True
    assert rows[2] is False
    assert rows[3] is False  # empty doc: NULL signals -> dropped


def _gopher_fixture(spark):
    """Pages that sit on each Gopher threshold (and one step past it),
    plus empty, whitespace-only and NULL text. With min_words=5 and
    max_words=50 each ``*_edge`` row is kept and each ``*_over`` row is
    dropped by exactly that rule."""
    lines = ["the cat and dog"] * 10
    rows = {
        "words_min_edge": "the cat and the dog",         # 5 words, mean 3.0
        "words_min_over": "the cat and dog",
        "words_max_edge": " ".join(["the cat and dog sat"] * 10),
        "words_max_over": " ".join(["the cat and dog sat"] * 10) + " now",
        "mean_10_edge": "the and abcdefghijklmno abcdefghijklmno abcdefghijklmn",
        "mean_10_over": "the and abcdefghijklmno abcdefghijklmno abcdefghijklmno",
        "mean_3_over": "the a of to and",                # mean 2.2
        "stop_2_edge": "the cat sat and sleeps",
        "stop_2_over": "the cat sat with dogs",
        "alpha_08_edge": "the cats and dogs sat upon the mats 42 17",
        "alpha_08_over": "the cats and dogs sat upon the 99 42 17",
        "bullet_09_edge": "\n".join(["•cat and dog"] * 9 + ["cat and dog"]),
        "bullet_09_over": "\n".join(["•cat and dog"] * 10),
        "ellipsis_03_edge": "\n".join([l + "..." for l in lines[:3]] + lines[3:]),
        "ellipsis_03_over": "\n".join([l + "…" for l in lines[:4]] + lines[4:]),
        "symbol_01_edge": " ".join(["#tag"] * 2 + ["the cat and dog sat on mat"] * 2
                                   + ["the cat and dog"]),  # 2 / 20
        "symbol_01_over": " ".join(["#tag"] * 3 + ["the cat and dog sat on mat"] * 2
                                   + ["the cat and dog"]),  # 3 / 21
        "empty": "",
        "blank": "  \n \t ",
        "null": None,
    }
    return spark.createDataFrame(list(rows.items()), "id string, text string")


def _reference_keep(text, min_words=50, max_words=100_000, min_stopwords=2):
    """The Gopher keep restated from the public signal functions."""
    from metadata_enhanced_pretrain_datapipeline_spark.functions.text import (
        gopher_quality_signals,
        quality_stats,
    )
    from pyspark.sql import functions as F

    qs, g = quality_stats(text), gopher_quality_signals(text)
    n = qs["n_tokens"]
    mean = F.round(qs["avg_token_len"], 6)
    n_stop = F.round(qs["stopword_ratio"] * n)
    return F.coalesce(
        (n >= min_words) & (n <= max_words) & (mean >= 3.0) & (mean <= 10.0)
        & (n_stop >= min_stopwords)
        & (g["alpha_word_frac"] >= 0.8) & (g["bullet_line_frac"] <= 0.9)
        & (g["ellipsis_line_frac"] <= 0.3) & (g["symbol_word_ratio"] <= 0.1),
        F.lit(False))


def test_gopher_quality_keep_matches_reference_on_thresholds(spark):
    from metadata_enhanced_pretrain_datapipeline_spark.functions.text import (
        gopher_quality_keep,
        gopher_quality_signals,
    )
    from pyspark.sql import functions as F

    df = _gopher_fixture(spark)
    text = F.col("text")
    tight = {"min_words": 5, "max_words": 50}
    with_sig = df.select("id", "text", gopher_quality_signals(text).alias("sig"))
    rows = with_sig.select(
        "id",
        gopher_quality_keep(text).alias("default"),
        _reference_keep(text).alias("ref_default"),
        gopher_quality_keep(text, **tight).alias("tight"),
        gopher_quality_keep(text, signals=F.col("sig"), **tight).alias("tight_sig"),
        _reference_keep(text, **tight).alias("ref_tight"),
    ).collect()
    for r in rows:
        assert r.default is r.ref_default, r
        assert r.tight is r.tight_sig is r.ref_tight, r
    tight_kept = {r.id: r.tight for r in rows}
    # the fixture is on the edges it claims: every edge row is kept and
    # every over row dropped, so each threshold's comparison is exercised
    for name, kept in tight_kept.items():
        assert kept is name.endswith("_edge"), (name, kept)
    # default bounds: only the 50- and 51-word pages reach min_words=50
    assert {r.id for r in rows if r.default} == {"words_max_edge", "words_max_over"}


def test_gopher_quality_keep_splits_the_page_twice(spark):
    """One token split and one line split in the analyzed plan: the text,
    tokens and signals are bound once, not re-derived per rule."""
    from metadata_enhanced_pretrain_datapipeline_spark.functions.text import (
        gopher_quality_keep,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a b",)], "text string")
    plan = df.select(gopher_quality_keep(F.col("text")).alias("k"))._jdf.queryExecution()
    assert plan.analyzed().toString().count("split(") == 2
