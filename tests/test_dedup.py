import pytest
from pyspark.sql import functions as F

from metadata_enhanced_pretrain_datapipeline_spark.operators import dedup


def test_dedup_exact_first_wins(spark):
    df = spark.createDataFrame([(1, "k"), (2, "k"), (3, "j")], "id long, k string")
    out = dedup.dedup_exact(df, F.col("k"), [F.col("id")]).collect()
    assert sorted((r.k, r.id) for r in out) == [("j", 3), ("k", 1)]


def test_dedup_exact_text_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")], "doc_id long, text string"
    )
    out = dedup.dedup_exact_text(df)
    assert sorted(r.doc_id for r in out.collect()) == [1, 3]


def test_minhash_identical_docs_same_signature(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "z y x w v u t s")],
        "doc_id long, text string",
    )
    sigs = dedup.minhash_signatures(df, num_hashes=8).collect()
    by_id = {r.doc_id: tuple(r[f"mh_{i}"] for i in range(8)) for r in sigs}
    assert by_id[1] == by_id[2] != by_id[3]


def test_minhash_lsh_finds_duplicates(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=4).collect()
    pairset = {(r.id_a, r.id_b) for r in pairs}
    # docs 9,19,29,39 share an identical body — all pairs must be candidates
    assert {(9, 19), (9, 29), (9, 39), (19, 29), (19, 39), (29, 39)} <= pairset


def test_jaccard_exact_value(spark):
    # shingle sets: {a b c, b c d} vs {a b c} -> intersection 1, union 2
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c")], "doc_id long, text string")
    out = dedup.jaccard_pairs(df).collect()
    assert len(out) == 1 and abs(out[0].jaccard - 0.5) < 1e-9


def test_simhash_identical_equal_and_stable(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "completely other words here now")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    assert out[1] == out[2]
    assert 0 <= out[1] < (1 << 16)


def test_embedding_near_dup_finds_clone(spark):
    rows = [
        (1, [1.0, 0.0, 2.0, 0.5]),
        (2, [1.0, 0.0, 2.0, 0.5]),  # exact clone of 1
        (3, [-1.0, 3.0, -2.0, 0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = dedup.embedding_near_dup(df, threshold=0.99, num_planes=4).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(1, 2)}


def test_short_docs_do_not_crash_shingle_ops(spark):
    """Regression: sequence(1, k-n+1) descends for k < n — short/empty docs
    must yield zero shingles, not out-of-range element_at errors."""
    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words"), (4, "a b c d e")],
        "doc_id long, text string",
    )
    sigs = dedup.minhash_signatures(df, num_hashes=4).collect()
    assert len(sigs) == 4  # no crash; short docs have null/min-less sigs
    sims = dedup.simhash(df).collect()
    assert len(sims) == 4
    assert dedup.jaccard_pairs(df).count() >= 0


def test_minhash_lsh_short_docs_not_candidates(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "x y z w v u"), (4, "x y z w v u")],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(df, num_hashes=8, bands=4).collect()}
    assert pairs == {(3, 4)}  # shingle-less docs never pair with anything


def test_embedding_near_dup_matches_brute_force_within_buckets(spark):
    """Pairs produced = brute-force cosine>=t pairs restricted to shared
    LSH buckets — and the degenerate-bucket cap drops oversized buckets."""
    import itertools
    import math

    from metadata_enhanced_pretrain_datapipeline_spark.operators.similarity import lsh_bucket
    from pyspark.sql import functions as F

    rows = [(i, [math.sin(i * 1.7 + d) for d in range(6)]) for i in range(40)]
    rows += [(100 + i, rows[i][1]) for i in range(5)]  # exact clones
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = {(r.id_a, r.id_b)
           for r in dedup.embedding_near_dup(df, threshold=0.98, num_planes=4,
                                             max_bucket_size=1024).collect()}

    buckets = {r.vec_id: r.b for r in df.select(
        "vec_id", lsh_bucket(F.col("embedding"), 4).alias("b")).collect()}
    vecs = dict(rows)

    import numpy as np

    def cos(a, b):
        # float32 first: the implementation computes over array<float>
        # values, and float64-only oracle arithmetic can disagree at the
        # threshold boundary
        fa, fb = np.asarray(a, np.float32), np.asarray(b, np.float32)
        return float(fa @ fb) / (float(np.linalg.norm(fa)) * float(np.linalg.norm(fb)))

    want = {(a, b) for a, b in itertools.combinations(sorted(vecs), 2)
            if buckets[a] == buckets[b] and cos(vecs[a], vecs[b]) >= 0.98}
    assert got == want and len(want) >= 5  # the clone pairs are in there


def test_embedding_near_dup_bucket_cap_drops_degenerate(spark):
    # 30 identical vectors in one bucket; cap of 8 removes the whole bucket
    rows = [(i, [1.0, 2.0, 0.5, 1.5]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = dedup.embedding_near_dup(df, threshold=0.5, num_planes=4,
                                      max_bucket_size=8).count()
    uncapped = dedup.embedding_near_dup(df, threshold=0.5, num_planes=4,
                                        max_bucket_size=None).count()
    assert capped == 0 and uncapped == 30 * 29 // 2


def test_minhash_dedup_drops_clones_keeps_min_id(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(1, base), (2, base), (3, base + " extra"),
            (10, "completely different words about spark arrow shuffles joins")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r.doc_id for r in dedup.minhash_dedup(df, bands=8).collect())
    assert 1 in kept and 10 in kept          # component minimum + unique doc
    assert 2 not in kept                     # exact clone of 1 dropped
    # invariant: kept ∪ dropped = input
    pairs = dedup.minhash_lsh_pairs(df, bands=8)
    dropped = {r.id_b for r in pairs.collect()}
    assert set(kept) | dropped == {1, 2, 3, 10}


def test_contamination_hits_counts_shared_ngrams(spark):
    # doc 1 contains the benchmark's 4-gram twice-worth of overlap windows;
    # doc 2 shares nothing; doc 3 is a verbatim superset of the benchmark
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "x alpha beta gamma delta y"),
         (2, "unrelated words entirely different from everything here"),
         (3, "alpha beta gamma delta")],
        "doc_id long, text string")
    got = {r.doc_id: r.contam_hits
           for r in dedup.contamination_hits(docs, bench, shingle_n=4).collect()}
    # the benchmark has exactly one distinct 4-gram; both overlapping docs
    # share exactly that one
    assert got == {1: 1, 3: 1}
    kept = sorted(r.doc_id for r in
                  dedup.decontaminate(docs, bench, shingle_n=4).collect())
    assert kept == [2]


def test_contamination_min_hits_threshold(spark):
    bench = spark.createDataFrame(
        [(100, "one two three four five six")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "one two three four five six"),   # 3 shared 4-grams
         (2, "zz one two three four zz")],     # 1 shared 4-gram
        "doc_id long, text string")
    flagged = sorted(
        r.doc_id for r in dedup.contamination_hits(
            docs, bench, shingle_n=4, min_hits=2).collect())
    assert flagged == [1]


def test_drop_boilerplate_lines_removes_shared_keeps_order(spark):
    docs = [
        (1, "unique alpha line\nCOOKIE BANNER\nanother unique one"),
        (2, "COOKIE BANNER\nsecond doc body text"),
        (3, "third doc text\nCOOKIE BANNER"),
        (4, "COOKIE BANNER"),           # only boilerplate -> doc dropped
        (5, "untouched document here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r.text
           for r in dedup.drop_boilerplate_lines(df, max_docs=2).collect()}
    assert 4 not in out                                  # nothing left
    assert out[1] == "unique alpha line\nanother unique one"  # order kept
    assert out[2] == "second doc body text"
    assert out[5] == "untouched document here"
    bl = {r.line for r in dedup.boilerplate_lines(df, max_docs=2).collect()}
    assert bl == {"COOKIE BANNER"}


def test_drop_boilerplate_preserves_other_columns(spark):
    docs = [(1, "shared line\nbody", "en"), (2, "shared line\nmore", "de"),
            (3, "shared line", "fr")]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    out = {r.doc_id: (r.text, r.lang)
           for r in dedup.drop_boilerplate_lines(df, max_docs=2).collect()}
    assert out == {1: ("body", "en"), 2: ("more", "de")}


def test_duplicate_clusters_transitive_chain(spark):
    # chain 1-2, 2-3, 3-4 must collapse into ONE cluster (greedy
    # drop_near_duplicates would leave 3 only transitively linked);
    # 10-11 is a separate component
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
    got = {r.doc_id: r.cluster_id
           for r in dedup.duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_duplicate_clusters_long_path_converges(spark):
    # a worst-case path graph: min label must travel the full diameter
    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long")
    got = {r.doc_id: r.cluster_id
           for r in dedup.duplicate_clusters(pairs).collect()}
    assert set(got.values()) == {0} and len(got) == n + 1


def test_duplicate_clusters_pointer_doubling_log_rounds(spark):
    # 200-node path: plain min-propagation needs ~200 rounds (the label 0
    # travels one hop per round); pointer doubling must close it in
    # ~log2(200) — assert <= 10 to leave slack, and that the stats dict
    # reports convergence
    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    stats = {}
    got = {r.doc_id: r.cluster_id
           for r in dedup.duplicate_clusters(
               pairs, max_iterations=12, stats=stats).collect()}
    assert set(got.values()) == {0} and len(got) == n
    assert stats["converged"] is True
    assert stats["iterations"] <= 10


def test_duplicate_clusters_raises_when_unconverged(spark):
    import pytest
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="no fixpoint after 1 rounds"):
        dedup.duplicate_clusters(pairs, max_iterations=1)


def test_duplicate_clusters_rejects_non_integral_ids(spark):
    # the sum-based convergence witness is exact over integers only; a
    # string id would cast to NULL and fake convergence after round 1
    # (ADVICE r12) — the operator must refuse loudly instead
    import pytest
    pairs = spark.createDataFrame(
        [("a", "b")], "id_a string, id_b string")
    with pytest.raises(TypeError, match="integral"):
        dedup.duplicate_clusters(pairs)


def test_duplicate_clusters_empty_graph(spark):
    # empty pair graph: trivially converged, zero rounds, empty output
    stats = {}
    out = dedup.duplicate_clusters(
        spark.createDataFrame([], "id_a long, id_b long"),
        stats=stats).collect()
    assert out == []
    assert stats["converged"] is True and stats["iterations"] == 0


def test_duplicate_clusters_fixpoint_detected_in_one_round(spark):
    # a graph already at fixpoint (only self-pairs) must converge with
    # max_iterations=1: the witness is seeded with the initial label sum
    # (ADVICE r12 — prev_sum=None used to force a second round)
    stats = {}
    got = {r.doc_id: r.cluster_id
           for r in dedup.duplicate_clusters(
               spark.createDataFrame([(5, 5), (9, 9)],
                                     "id_a long, id_b long"),
               max_iterations=1, stats=stats).collect()}
    assert got == {5: 5, 9: 9}
    assert stats["converged"] is True and stats["iterations"] == 1


def test_excise_repeated_ngrams_kills_shared_span(spark):
    # a 5-gram shared by 3 docs is excised from ALL of them; unique
    # suffixes survive; untouched and short docs pass through whole
    docs = [
        (1, "alpha beta gamma delta epsilon unique tail one"),
        (2, "alpha beta gamma delta epsilon other ending two"),
        (3, "alpha beta gamma delta epsilon third closing xyz"),
        (4, "totally different words with no overlap here ok"),
        (5, "short doc"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: (r.n_kept_words, r.text)
           for r in dedup.excise_repeated_ngrams(df, n=5, min_count=3).collect()}
    assert out[1] == (3, "unique tail one")
    assert out[2] == (3, "other ending two")
    assert out[3] == (3, "third closing xyz")
    assert out[4] == (8, "totally different words with no overlap here ok")
    assert out[5] == (2, "short doc")


def test_excise_repeated_ngrams_long_span_fully_covered(spark):
    # a repeated span LONGER than n disappears wholesale: every word in
    # the span is covered by some repeated n-gram window (overlapping
    # windows all trip the counter), including a fully-excised doc
    span = "one two three four five six seven"
    docs = [(1, f"{span} tail"), (2, f"head {span}"), (3, span)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: (r.n_kept_words, r.text)
           for r in dedup.excise_repeated_ngrams(df, n=5, min_count=3).collect()}
    assert out[1] == (1, "tail")
    assert out[2] == (1, "head")
    assert out[3] == (0, "")


def test_excise_degenerate_boilerplate_doc(spark):
    # thousands of flagged windows merge into ONE covered range, so the
    # per-word test stays O(1) even for a fully-repeated spam doc
    docs = [(1, " ".join(["spam"] * 2000)),
            (2, " ".join(["spam"] * 2000) + " unique")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: (r.n_kept_words, r.text)
           for r in dedup.excise_repeated_ngrams(df, n=5, min_count=2).collect()}
    assert out[1] == (0, "")
    assert out[2] == (1, "unique")


def test_dedup_against_normalized_cross_corpus(spark):
    seen = spark.createDataFrame(
        [(100, "  THE   Quick brown FOX  ")], "doc_id long, text string")
    fresh = spark.createDataFrame(
        [(1, "the quick brown fox"),       # normalized clone of seen -> drop
         (2, "a genuinely new document")],
        "doc_id long, text string")
    kept = [r.doc_id for r in dedup.dedup_against(fresh, seen).collect()]
    assert kept == [2]


def test_segment_dedup_first_wins_and_reassembly(spark):
    from pyspark.sql import functions as F

    segs = spark.createDataFrame(
        [(1, 0, "alpha beta"), (1, 1, "gamma delta"),
         (2, 0, "gamma delta"),   # dup of (1,1) -> dropped
         (2, 1, "epsilon"),
         (3, 0, "alpha beta"),    # dup of (1,0) -> dropped
         (3, 1, "gamma delta")],  # dup -> doc 3 fully deduped
        "doc_id long, pos int, segment string")
    docs = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    kept = dedup.segment_dedup(segs)
    out = {(r.doc_id, r.pos): r.segment for r in kept.collect()}
    assert out == {(1, 0): "alpha beta", (1, 1): "gamma delta", (2, 1): "epsilon"}
    re = {r.doc_id: (r.n_kept, r.kept_text)
          for r in dedup.reassemble_segments(kept, docs).collect()}
    # doc 3 must survive as an EMPTY row, not vanish
    assert re == {1: (2, "alpha beta gamma delta"), 2: (1, "epsilon"),
                  3: (0, "")}


def test_segment_dedup_ties_broken_by_position(spark):
    # same segment twice within ONE doc: the earlier position wins
    segs = spark.createDataFrame(
        [(5, 3, "dup seg"), (5, 1, "dup seg"), (5, 2, "mid")],
        "doc_id long, pos int, segment string")
    kept = {(r.doc_id, r.pos) for r in dedup.segment_dedup(segs).collect()}
    assert kept == {(5, 1), (5, 2)}


def test_bloom_anti_join_equals_plain_anti_join(spark):
    from pyspark.sql import functions as F

    # 500 corpus keys, seen = multiples of 3; tiny bloom (2^10 bits) to
    # force plenty of false positives through the exact-verify path
    corpus = spark.range(500).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    seen = spark.range(0, 500, 3).select(F.col("id").alias("sk"))
    out = dedup.bloom_anti_join(
        corpus, seen, df_key=F.col("k").cast("string"),
        seen_key=F.col("sk").cast("string"), num_bits=1 << 10, num_hashes=3)
    expect = corpus.join(seen, corpus.k == seen.sk, "left_anti")
    got = sorted((r.k, r.v) for r in out.collect())
    want = sorted((r.k, r.v) for r in expect.collect())
    assert got == want and len(want) == 333


def test_bloom_no_false_negatives(spark):
    from pyspark.sql import functions as F

    # every seen member must be dropped even with a saturated 64-bit bloom
    corpus = spark.range(100).select(F.col("id").alias("k"))
    seen = spark.range(100).select(F.col("id").alias("sk"))
    out = dedup.bloom_anti_join(
        corpus, seen, df_key=F.col("k").cast("string"),
        seen_key=F.col("sk").cast("string"), num_bits=64, num_hashes=2)
    assert out.count() == 0


def test_snapshot_diff_labels(spark):
    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "gone")], "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed!"), (4, "fresh")], "doc_id long, text string")
    out = {r.doc_id: r.change
           for r in dedup.snapshot_diff(old, new, "doc_id").collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_snapshot_diff_null_text_and_duplicate_keys(spark):
    # NULL text on a PRESENT key must not read as absent; duplicate-key
    # crawl records must not fan out the diff (review findings)
    old = spark.createDataFrame(
        [(1, None), (2, "x"), (2, "x")], "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "now filled"), (2, "x")], "doc_id long, text string")
    rows = dedup.snapshot_diff(old, new, "doc_id").collect()
    out = {r.doc_id: r.change for r in rows}
    assert len(rows) == 2
    assert out == {1: "changed", 2: "unchanged"}


def test_multi_benchmark_equals_per_benchmark_passes(spark):
    """The single-pass multi-benchmark result must equal running
    contamination_hits once per benchmark — the equivalence the operator
    exists to provide without re-scanning the corpus."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, f"w{i} common phrase tail {' '.join(f't{i}{j}' for j in range(6))}")
         for i in range(12)],
        "doc_id long, text string",
    )
    b1 = docs.filter(F.col("doc_id") % 3 == 0)
    b2 = docs.filter(F.col("doc_id") % 4 == 0)
    benches = (
        b1.withColumn("benchmark_id", F.lit("b1"))
        .unionByName(b2.withColumn("benchmark_id", F.lit("b2")))
    )
    multi = {
        (r.doc_id, r.benchmark_id): r.contam_hits
        for r in dedup.multi_benchmark_contamination(
            docs, benches, shingle_n=3).collect()
    }
    want = {}
    for name, bench in [("b1", b1), ("b2", b2)]:
        for r in dedup.contamination_hits(docs, bench, shingle_n=3).collect():
            want[(r.doc_id, name)] = r.contam_hits
    assert multi == want and multi  # equal and non-trivial


def test_minhash_store_roundtrip_dedup(spark, tmp_path):
    """The incremental-dedup workflow end to end: band keys written to
    parquet (the signature store), read back cold, and a new snapshot
    deduped against the LOADED store — an exact near-twin of a seen doc
    must drop, novel docs must survive, and short no-shingle docs must
    never be flagged."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    seen = spark.createDataFrame(
        [(i, f"{base} seen variant {i} " + "filler words here " * 3)
         for i in range(5)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (100, f"{base} seen variant 2 " + "filler words here " * 3),  # near-twin
            (101, "completely different content about spark catalyst optimizer internals and shuffles"),
            (102, "xy"),  # too short to shingle: must never be flagged
        ],
        "doc_id long, text string",
    )
    store = dedup.minhash_band_keys(
        dedup.minhash_signatures(seen, num_hashes=8), num_hashes=8, bands=4)
    path = str(tmp_path / "store")
    store.write.parquet(path)
    loaded = spark.read.parquet(path)
    kept = {r.doc_id for r in dedup.minhash_dedup_against(
        new, loaded, num_hashes=8, bands=4).collect()}
    assert 100 not in kept      # twin of seen doc 2: collides, dropped
    assert {101, 102} <= kept   # novel + unshingleable: kept


def test_minhash_estimate_jaccard_matches_components(spark):
    """est_jaccard must equal the hand-counted matching-component
    fraction; identical texts estimate exactly 1.0."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta theta"),   # identical
         (3, "totally different words with no overlap at all")],
        "doc_id long, text string",
    )
    sigs = dedup.minhash_signatures(docs, num_hashes=8)
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    est = {(r.id_a, r.id_b): r.est_jaccard
           for r in dedup.minhash_estimate_jaccard(pairs, sigs, num_hashes=8).collect()}
    assert est[(1, 2)] == 1.0
    by_id = {r.doc_id: [r[f"mh_{i}"] for i in range(8)] for r in sigs.collect()}
    want_13 = sum(x == y for x, y in zip(by_id[1], by_id[3])) / 8.0
    assert est[(1, 3)] == want_13 < 1.0


def test_monthly_snapshot_workflow_end_to_end(spark, tmp_path):
    """Capstone: the full incremental-curation workflow across two crawl
    snapshots — month 1 writes its signature store; month 2 drops exact
    re-crawls (digest) and near-dups of month 1 (stored bands), then
    the survivors get a leakage-safe split. Asserts each stage's
    contract on planted fixtures."""
    from pyspark.sql import functions as F

    from metadata_enhanced_pretrain_datapipeline_spark.operators import sampling

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    month1 = spark.createDataFrame(
        [(i, f"{base} article {i} " + f"unique tail {i} " * 2) for i in range(8)],
        "doc_id long, text string",
    )
    month2 = spark.createDataFrame(
        [
            (100, f"{base} article 3 " + "unique tail 3 " * 2),   # exact re-crawl of doc 3
            (101, f"{base} article 5 " + "unique tail 5 " * 2 + "x"),  # near-dup of doc 5
            (102, "entirely novel reporting about spark adaptive query execution internals"),
            (103, "another novel piece on distributed minhash signature stores"),
        ],
        "doc_id long, text string",
    )
    # month 1 closes: persist its signature store, band-partitioned (the
    # on-disk layout the probe economics rest on)
    store_path = str(tmp_path / "bands")
    dedup.write_band_store(
        dedup.minhash_band_keys(
            dedup.minhash_signatures(month1, num_hashes=8),
            num_hashes=8, bands=4),
        store_path)

    # month 2 pipeline: exact cross-snapshot dedup, then fuzzy vs store
    no_exact = dedup.dedup_against(month2, month1)
    assert {r.doc_id for r in no_exact.collect()} == {101, 102, 103}
    survivors = dedup.minhash_dedup_against(
        no_exact, dedup.read_band_store(spark, store_path),
        num_hashes=8, bands=4)
    kept = {r.doc_id for r in survivors.collect()}
    assert kept == {102, 103}  # near-dup of doc 5 dropped via the store

    # survivors split leakage-safely (within-snapshot clusters: none here,
    # so every survivor is its own unit — one row each, valid labels)
    pairs = dedup.minhash_lsh_pairs(survivors, num_hashes=8, bands=4,
                                    max_bucket_size=64)
    out = sampling.leakage_safe_split(
        survivors, dedup.duplicate_clusters(pairs) if pairs.take(1)
        else spark.createDataFrame([], "doc_id long, cluster_id long"))
    rows = out.collect()
    assert {r.doc_id for r in rows} == kept
    assert all(r.split in ("train", "validation", "test") for r in rows)


def test_band_store_layout_and_pruned_probe(spark, tmp_path):
    """write_band_store lays the store out as band=<b>/ directories; a
    band-subset read arrives as a PartitionFilter (directory pruning,
    zero rows of other bands read) and returns exactly the in-memory
    subset — the physical contract docs/incremental_dedup.md promises."""
    import os
    import re

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta seed {i} " * 2)
         for i in range(12)],
        "doc_id long, text string",
    )
    bands = dedup.minhash_band_keys(
        dedup.minhash_signatures(docs, num_hashes=8), num_hashes=8, bands=4)
    path = str(tmp_path / "store")
    dedup.write_band_store(bands, path)

    # physical layout: one hive directory per band
    dirs = sorted(d for d in os.listdir(path) if d.startswith("band="))
    assert dirs == ["band=0", "band=1", "band=2", "band=3"]

    back = dedup.read_band_store(spark, path, bands=[2])
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*band", plan), plan[:500]

    expect = {(r.doc_id, r.band, r.key)
              for r in bands.filter("band = 2").collect()}
    got = {(r.doc_id, r.band, r.key) for r in back.collect()}
    assert got == expect and got  # non-empty: every doc emits band 2


def test_duplicate_clusters_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir flips the per-round lineage truncation to a
    RELIABLE checkpoint (VERDICT r5 #4): same fixpoint as the
    localCheckpoint default, and the checkpoint blocks actually land in
    the given directory (an executor loss re-reads them from the
    filesystem instead of killing the iterative job)."""
    import os

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    ckdir = str(tmp_path / "ck")
    stats: dict = {}
    got = {(r.doc_id, r.cluster_id)
           for r in dedup.duplicate_clusters(
               pairs, checkpoint_dir=ckdir, stats=stats).collect()}
    expect = {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10),
              (20, 20), (21, 20), (22, 20)}
    assert got == expect
    assert stats["converged"]
    # reliable blocks on disk, not executor memory
    written = [f for _, _, fs in os.walk(ckdir) for f in fs]
    assert written, "no checkpoint blocks written to checkpoint_dir"


def test_materialize_env_var_switch(spark, tmp_path, monkeypatch):
    """MEP_SPARK_CHECKPOINT_DIR flips every materialize() boundary to
    reliable mode without touching call sites — the cluster-deployment
    switch for the registered driver queries."""
    import os

    from metadata_enhanced_pretrain_datapipeline_spark.checkpointing import materialize

    ckdir = str(tmp_path / "envck")
    monkeypatch.setenv("MEP_SPARK_CHECKPOINT_DIR", ckdir)
    df = spark.range(100).withColumnRenamed("id", "doc_id")
    out = materialize(df)
    assert out.count() == 100
    written = [f for _, _, fs in os.walk(ckdir) for f in fs]
    assert written, "env-var reliable checkpoint wrote nothing"


def test_materialize_lazy_leaves_file_scans_uncached(spark, tmp_path):
    """A lazy materialize of a bare scan (file read, catalog table, V2
    source) caches nothing: a cached scan would stand in for every later
    read of the source and undo its column pruning. A derived frame is
    still persisted."""
    from metadata_enhanced_pretrain_datapipeline_spark.checkpointing import materialize

    path = str(tmp_path / "docs")
    spark.range(10).selectExpr("id AS doc_id", "'x' AS text").write.parquet(path)
    scan = materialize(spark.read.parquet(path), eager=False)
    assert not scan.is_cached
    plan = spark.read.parquet(path).select("doc_id")._jdf.queryExecution().executedPlan()
    assert "struct<doc_id:bigint>" in plan.toString()
    spark.read.parquet(path).write.saveAsTable("lazy_scan_docs")
    try:
        assert not materialize(spark.table("lazy_scan_docs"), eager=False).is_cached
    finally:
        spark.sql("DROP TABLE lazy_scan_docs")
    prev = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        v2 = spark.read.parquet(path)
        assert "RelationV2" in v2._jdf.queryExecution().analyzed().toString()
        assert not materialize(v2, eager=False).is_cached
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", prev)
    derived = materialize(scan.filter("doc_id > 3"), eager=False)
    assert derived.is_cached and derived.count() == 6
    derived.unpersist()


def test_snapshot_pipeline_under_reliable_checkpoint(spark, tmp_path, monkeypatch):
    """MEP_SPARK_CHECKPOINT_DIR through a REAL composed query: the
    monthly-snapshot driver query (materialization boundary + the
    iterative cluster subtree inside it) must produce the identical
    result in reliable-checkpoint mode, with blocks in the directory —
    the exact switch a cluster deployment flips."""
    import os

    from metadata_enhanced_pretrain_datapipeline_spark import queries as q

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        import pytest
        pytest.skip("driver testdata not present")
    fn = q.all_queries()["q_snapshot_pipeline"]
    baseline = {tuple(r) for r in fn(spark, sf).collect()}

    ckdir = str(tmp_path / "ck")
    monkeypatch.setenv("MEP_SPARK_CHECKPOINT_DIR", ckdir)
    reliable = {tuple(r) for r in fn(spark, sf).collect()}
    assert reliable == baseline and baseline
    written = [f for _, _, fs in os.walk(ckdir) for f in fs]
    assert written, "no reliable checkpoint blocks written by the query"


def test_band_store_empty_roundtrip(spark, tmp_path):
    """A pipeline's FIRST snapshot has an empty store — probing it must
    keep everything, not crash on schema inference over a data-less
    partitioned directory (regression: UNABLE_TO_INFER_SCHEMA)."""
    empty = spark.createDataFrame([], "doc_id long, text string")
    bands = dedup.minhash_band_keys(
        dedup.minhash_signatures(empty, num_hashes=8), num_hashes=8, bands=4)
    path = str(tmp_path / "empty_store")
    dedup.write_band_store(bands, path)
    back = dedup.read_band_store(spark, path, bands=[1, 3])
    assert back.count() == 0
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    kept = dedup.minhash_dedup_against(docs, back, num_hashes=8, bands=4)
    assert [r.doc_id for r in kept.collect()] == [1]


def test_lsh_tune_matches_s_curve_intuition():
    """lsh_tune picks more rows per band for higher thresholds (stricter
    collision rule) and the returned layout always factors num_hashes;
    the collision probability at the threshold stays meaningfully high
    while far-below-threshold pairs stay improbable."""
    b_lo, r_lo = dedup.lsh_tune(0.5, 32)
    b_hi, r_hi = dedup.lsh_tune(0.9, 32)
    assert b_lo * r_lo == 32 and b_hi * r_hi == 32
    assert r_hi >= r_lo  # stricter threshold -> more rows per band
    # at its own threshold the tuned layout catches most pairs...
    assert dedup.lsh_collision_probability(0.95, b_hi, r_hi) > 0.5
    # ...and far-below-threshold pairs rarely collide
    assert dedup.lsh_collision_probability(0.2, b_hi, r_hi) < 0.1
    # recall bias: weighting false negatives higher never lowers recall
    b_w, r_w = dedup.lsh_tune(0.8, 32, fn_weight=5.0)
    assert dedup.lsh_collision_probability(0.8, b_w, r_w) >= \
        dedup.lsh_collision_probability(0.8, *dedup.lsh_tune(0.8, 32))


def test_minhash_recall_on_planted_near_dups(spark):
    """Empirical recall validation of the flagship dedup family: plant
    pairs of documents with KNOWN shingle-Jaccard by construction
    (shared prefix + distinct tails), run the real minhash_lsh_pairs at
    a 16x4 layout, and check recall against the closed-form S-curve —
    high-similarity plants must be caught at near-certainty, low-
    similarity plants must mostly not pair."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(5000)]
    rows, expected_hi, expected_lo = [], [], []
    doc_id = 0
    for k in range(40):
        base = [rng.choice(vocab) for _ in range(60)]
        # high-similarity plant: change the last 3 words -> shingle
        # overlap ~ (58-3)/(58+3+3) well above 0.8
        near = base[:-3] + [rng.choice(vocab) for _ in range(3)]
        # low-similarity plant: keep a 10-word prefix only
        far = base[:10] + [rng.choice(vocab) for _ in range(50)]
        rows += [(doc_id, " ".join(base)), (doc_id + 1, " ".join(near)),
                 (doc_id + 2, " ".join(far))]
        expected_hi.append((doc_id, doc_id + 1))
        expected_lo.append((doc_id, doc_id + 2))
        doc_id += 3
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(
        df, num_hashes=16, bands=4, max_bucket_size=256).collect()}
    hi_recall = sum(p in got for p in expected_hi) / len(expected_hi)
    lo_hit = sum(p in got for p in expected_lo) / len(expected_lo)
    # s ~ 0.85 at 4x4: P = 1-(1-s^4)^4 ~ 0.93; s ~ 0.1: P ~ 0.0004
    assert hi_recall >= 0.8, f"high-sim recall {hi_recall}"
    assert lo_hit <= 0.15, f"low-sim false-candidate rate {lo_hit}"


def test_dedup_lines_within_doc_semantics(spark):
    """First copy of each line survives, later copies vanish, blank
    separators pass through untouched, NULL text becomes '', and other
    documents are unaffected (no cross-document state)."""
    docs = spark.createDataFrame(
        [(1, "nav bar\nreal content\n\nnav bar\nmore text\nnav bar"),
         (2, "nav bar"),           # same line in ANOTHER doc: untouched
         (3, None),
         (4, "a\n\n\na")],         # blank runs survive verbatim
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.text, r.n_lines_kept)
           for r in dedup.dedup_lines_within_doc(docs).collect()}
    assert out[1] == ("nav bar\nreal content\n\nmore text", 3)
    assert out[2] == ("nav bar", 1)
    assert out[3] == ("", 0)
    # "a\n\n\na" splits to [a, '', '', a]: dup 'a' dropped, both blanks kept
    assert out[4] == ("a\n\n", 1)


def test_simhash_pairs_finds_clones_and_verifies_distance(spark):
    """Exact clones pair at hamming 0; a lightly-mutated copy pairs at a
    small positive distance; unrelated docs never pair; short docs are
    excluded rather than sharing the zero fingerprint."""
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [(1, base), (2, base),                       # exact clone
         (3, base + " with a small tail change"),    # near-dup
         (4, "completely different words about adaptive query execution"
             " internals and arrow batches in modern engines"),
         (5, "xy"),                                  # < 3 tokens: excluded
         (6, "xy")],
        "doc_id long, text string",
    )
    out = {(r.id_a, r.id_b): r.hamming
           for r in dedup.simhash_pairs(docs, bits=32, max_hamming=6).collect()}
    assert out[(1, 2)] == 0
    assert (1, 3) in out and 0 < out[(1, 3)] <= 6
    assert all(4 not in p and 5 not in p and 6 not in p for p in out)


def test_minhash_dedup_against_rejects_string_key_store(spark):
    """A pre-round-6 store (concatenated-string band keys) must raise a
    clear error, not silently match nothing and admit every duplicate."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string")
    legacy = spark.createDataFrame(
        [(9, 0, "12_34")], "doc_id long, band int, key string")
    with pytest.raises(ValueError, match="STRING key"):
        dedup.minhash_dedup_against(docs, legacy, num_hashes=8, bands=4)


def test_dedup_lines_within_doc_literal_separator(spark):
    """sep is a LITERAL, not a regex: '|' must split on pipes, not on
    the empty alternation (which would shatter the text per character)."""
    docs = spark.createDataFrame(
        [(1, "nav|content|nav|more")], "doc_id long, text string")
    out = dedup.dedup_lines_within_doc(docs, sep="|").collect()[0]
    assert out.text == "nav|content|more" and out.n_lines_kept == 3


def test_minhash_dedup_against_rejects_keying_mismatch(spark, tmp_path):
    """Both keyings produce LONG keys, so a portable-store/native-probe
    mismatch is invisible to the schema type — it would silently match
    nothing (every duplicate admitted). The keying mode travels as
    column metadata stamped by minhash_band_keys and PERSISTED through
    the parquet store, and minhash_dedup_against raises on mismatch."""
    import pytest

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta seed {i} " * 2)
         for i in range(4)],
        "doc_id long, text string")
    store = dedup.minhash_band_keys(
        dedup.minhash_signatures(docs, num_hashes=8, portable=True),
        num_hashes=8, bands=4, portable=True)
    # in-memory frame carries the stamp
    with pytest.raises(ValueError, match="keyed 'portable'"):
        dedup.minhash_dedup_against(docs, store, num_hashes=8, bands=4,
                                    portable=False)
    # ...and the stamp survives the on-disk store round-trip
    path = str(tmp_path / "portable_store")
    dedup.write_band_store(store, path)
    back = dedup.read_band_store(spark, path)
    assert (back.schema["key"].metadata or {}).get(
        dedup.KEYING_METADATA_KEY) == "portable"
    with pytest.raises(ValueError, match="keyed 'portable'"):
        dedup.minhash_dedup_against(docs, back, num_hashes=8, bands=4,
                                    portable=False)
    # matching keying still works end to end
    kept = dedup.minhash_dedup_against(docs, back, num_hashes=8, bands=4,
                                       portable=True)
    assert kept.count() == 0  # every doc is its own store twin
    # a store without the stamp (older build / reshaped frame) stays
    # permissive — the guard only fires on a RECORDED mismatch
    unstamped = back.select(
        "doc_id", "band", F.col("key").cast("long").alias("key"))
    assert unstamped.schema["key"].metadata in (None, {})
    dedup.minhash_dedup_against(docs, unstamped, num_hashes=8, bands=4,
                                portable=False).count()


def test_read_band_store_missing_path_raises(spark, tmp_path):
    """A typo'd month / bad mount must FAIL the monthly run, not read as
    a legitimate first-snapshot empty store (which would keep every
    duplicate). Only the footerless-directory schema-inference failure
    falls back to the empty schema."""
    import pytest
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        dedup.read_band_store(spark, str(tmp_path / "no_such_month"))


def test_compact_band_store_lifecycle(spark, tmp_path):
    """Monthly compaction: union-distinct of N monthly stores, rewritten
    in the probe layout — cross-month re-crawls collapse to one row, the
    band-partitioned directory structure survives, keying metadata is
    re-stamped, and guard rails (in-place overwrite, mixed keyings)
    raise."""
    import os

    import pytest

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta seed {i} " * 2)
         for i in range(10)],
        "doc_id long, text string")

    def bands_of(pred, portable=True):
        return dedup.minhash_band_keys(
            dedup.minhash_signatures(docs.filter(pred), num_hashes=8,
                                     portable=portable),
            num_hashes=8, bands=4, portable=portable)

    b1 = bands_of("doc_id % 2 = 0")   # 0 2 4 6 8
    b2 = bands_of("doc_id % 3 = 0")   # 0 3 6 9  (overlap: 0, 6)
    p1, p2 = str(tmp_path / "m1"), str(tmp_path / "m2")
    out = str(tmp_path / "compacted")
    dedup.write_band_store(b1, p1)
    dedup.write_band_store(b2, p2)
    dedup.compact_band_store(spark, [p1, p2], out, bucketed_table=None)

    back = dedup.read_band_store(spark, out)
    expect = {(r.doc_id, r.band, r.key)
              for r in b1.unionByName(b2).distinct().collect()}
    assert {(r.doc_id, r.band, r.key) for r in back.collect()} == expect
    # overlap docs appear once per (band, key), not once per month
    assert back.count() == len(expect) < b1.count() + b2.count()
    # layout survives: band directories + keying metadata re-stamped
    assert sorted(d for d in os.listdir(out) if d.startswith("band=")) == \
        [f"band={b}" for b in range(4)]
    assert (back.schema["key"].metadata or {}).get(
        dedup.KEYING_METADATA_KEY) == "portable"

    # guard: in-place compaction would destroy an input
    with pytest.raises(ValueError, match="out_path"):
        dedup.compact_band_store(spark, [p1, p2], p1)
    # guard: mixed keyings never merge
    p3 = str(tmp_path / "m3_native")
    dedup.write_band_store(bands_of("doc_id % 5 = 0", portable=False), p3)
    with pytest.raises(ValueError, match="mix"):
        dedup.compact_band_store(spark, [p1, p3], str(tmp_path / "bad"))


def test_compact_band_store_bucketed_output(spark, tmp_path):
    """bucketed_table also emits the (band, key)-bucketed full-probe
    layout alongside the partitioned one."""
    import os

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta seed {i} " * 2)
         for i in range(6)],
        "doc_id long, text string")
    bands = dedup.minhash_band_keys(
        dedup.minhash_signatures(docs, num_hashes=8), num_hashes=8, bands=4)
    p1 = str(tmp_path / "m1")
    out = str(tmp_path / "compacted")
    dedup.write_band_store(bands, p1)
    table = f"bt_compact_test_{os.getpid()}"
    try:
        dedup.compact_band_store(spark, [p1], out, bucketed_table=table,
                                 num_buckets=4)
        bucketed = spark.table(table)
        assert bucketed.count() == bands.distinct().count()
        plan = bucketed.groupBy("band", "key").count() \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS `{table}`")


def test_semantic_dedup_collapses_identical_embeddings(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>")
    kept = sorted(r.vec_id for r in dedup.semantic_dedup(
        df, threshold=0.95, num_planes=4).collect())
    # ids 1/2 are byte-identical vectors (same LSH bucket by construction,
    # cosine exactly 1) -> greedy smaller-id-wins keeps 1; 3 is orthogonal
    assert kept == [1, 3]


def test_semantic_dedup_ivf_bucketing_branch(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.0]),
         (4, [0.0, 0.98, 0.01])],
        "vec_id long, embedding array<double>")
    # nearest-centroid bucketing (the large-corpus branch): 1/2 land in
    # the x-axis cluster (cosine 1 -> 2 dropped), 3/4 in the y-axis
    # cluster (cosine ~0.9999 -> 4 dropped); cross-cluster pairs are
    # never compared
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    kept = sorted(r.vec_id for r in dedup.semantic_dedup(
        df, threshold=0.95, centroids=cents).collect())
    assert kept == [1, 3]
    # a doc orthogonal to its own bucket-mates survives even in a
    # 1-centroid (degenerate, everything-one-bucket) codebook
    kept1 = sorted(r.vec_id for r in dedup.semantic_dedup(
        df, threshold=0.95, centroids=[[1.0, 0.0, 0.0]]).collect())
    assert kept1 == [1, 3]


def test_simhash_dedup_drops_clone_keeps_distinct(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "completely different words "
          "about oceans tides currents and marine life everywhere")],
        "doc_id long, text string")
    kept = sorted(r.doc_id for r in dedup.simhash_dedup(
        df, bits=32, max_hamming=3).collect())
    assert kept == [1, 3]  # 2 is the near-clone (larger id) of 1


def test_dedup_keep_best_transitive_argmax_and_ties(spark):
    # chain 1-2-3 is ONE cluster; quality argmax is doc 2 (middle of the
    # chain — pairwise smaller-id-wins would instead keep endpoint 1);
    # 4-5 tie on quality -> smaller id 4 wins; 6 untouched.
    df = spark.createDataFrame(
        [(i, q) for i, q in [(1, 10), (2, 99), (3, 50),
                             (4, 7), (5, 7), (6, 1)]],
        "doc_id long, quality long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
    kept = sorted(r.doc_id for r in dedup.dedup_keep_best(
        df, pairs, quality_col="quality").collect())
    assert kept == [2, 4, 6]


def test_hamming_pairs_cap_excludes_flooded_bucket(spark):
    # the deployed-config contract the r10 capped twins hash-check: a
    # bucket past max_bucket_size is EXCLUDED whole (misses only — a
    # monochrome-thumbnail flood can't go quadratic), while pairs in
    # in-cap buckets are untouched.
    flood = [(f"f{i}", 0) for i in range(5)]  # 5 identical hashes
    # pair: hamming 1 apart, and >2 bits from the flood value so the
    # only true pairs are the 10 flood combinations plus this one
    pair = [("p1", 0b111 << 40), ("p2", (0b111 << 40) + 1)]
    df = spark.createDataFrame(flood + pair, "id string, fp long")
    capped = dedup.hamming_pairs_from_fingerprints(
        df, "id", "fp", bits=64, max_hamming=2, max_bucket_size=4)
    assert sorted((r.id_a, r.id_b) for r in capped.collect()) \
        == [("p1", "p2")]
    full = dedup.hamming_pairs_from_fingerprints(
        df, "id", "fp", bits=64, max_hamming=2, max_bucket_size=None)
    assert full.count() == 10 + 1  # C(5,2) flood pairs + the real pair


def test_token_set_cap_excludes_hot_token_keeps_full_sizes(spark):
    # a token shared by >cap media is dropped from candidate generation
    # (A-B lose their only link), but set SIZES in the Jaccard come from
    # before the cap: D/E share both their tokens -> J=1.0 regardless.
    rows = [("A", 1), ("A", 2), ("B", 1), ("B", 3), ("C", 1),
            ("D", 5), ("D", 6), ("E", 5), ("E", 6)]
    df = spark.createDataFrame(rows, "media_id string, token long")
    out = dedup.token_set_jaccard_pairs(
        df, "media_id", "token", min_jaccard=0.4, max_bucket_size=2)
    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert got == {("D", "E"): 1.0}


def _kernel_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog the quick brown"),
        (2, "a b c a b c a b c"),  # repeated shingles
        (3, "two words"),  # fewer tokens than the shingle width
        (4, ""),
        (5, None),
        (6, "  spaced   out   text   with   runs  "),
    ] + [(10 + i, " ".join(f"w{(i * 7 + j) % 50}" for j in range(40 + i)))
         for i in range(30)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("portable", [False, True])
@pytest.mark.parametrize("num_hashes", [4, 8, 32])
def test_minhash_kernel_equals_jvm_reference(spark, portable, num_hashes):
    """The numpy signature fold equals k minhash_expr columns (the JVM
    reference, which the DuckDB oracle twin mirrors) element for element;
    shingle-less and NULL docs get NULL components, as array_min does."""
    from metadata_enhanced_pretrain_datapipeline_spark.functions.hashing import minhash_expr

    df = _kernel_docs(spark)
    cols = [f"mh_{i}" for i in range(num_hashes)]
    got = {r.doc_id: (r.text, tuple(r[c] for c in cols)) for r in
           dedup.minhash_signatures(df, num_hashes=num_hashes, portable=portable).collect()}
    ref = dedup._shingle_hashes(df, "text", 3, portable).select(
        "doc_id", "text", *[minhash_expr(F.col("__hashes"), a, b).alias(c)
                            for c, (a, b) in zip(cols, dedup._MINHASH_PARAMS)])
    want = {r.doc_id: (r.text, tuple(r[c] for c in cols)) for r in ref.collect()}
    assert got == want
    assert all(v is None for d in (3, 4, 5) for v in got[d][1])
    assert all(v is not None for v in got[1][1])


def test_minhash_arrays_match_loop_on_sliced_lists():
    """Offsets of a sliced Arrow list column (non-zero first offset),
    NULL and empty rows: the reduceat segments match a per-row loop."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(0)
    lists = [None if i % 7 == 3 else rng.integers(0, 1 << 62, size=int(rng.integers(0, 6))).tolist()
             for i in range(60)]
    arr = pa.array(lists, pa.list_(pa.int64())).slice(5, 50)
    got = [c.to_pylist() for c in dedup._minhash_arrays(arr, 8)]
    p = (1 << 31) - 1
    for i, (a, b) in enumerate(dedup._MINHASH_PARAMS[:8]):
        assert got[i] == [min((h % p * a + b) % p for h in hs) if hs else None
                          for hs in lists[5:55]]


def _physical_nodes(spark, df):
    """Every node of df's physical plan, each cached relation's plan
    walked once however many scans read it."""
    seen, out, stack = set(), [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "InMemoryRelation":
            ident = spark._jvm.System.identityHashCode(node.cacheBuilder())
            if ident in seen:
                continue
            seen.add(ident)
        out.append(node)
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        for seq in (node.children(), node.innerChildren()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return out


def test_minhash_dedup_plans_its_input_once(spark, docs):
    """The pair pipeline and the anti-join read one materialized input:
    the exact-dedup window exchange (on its __k digest) is planned once."""
    exact = dedup.dedup_exact_text(docs)
    kept = dedup.minhash_dedup(exact, num_hashes=8, bands=4)
    exchanges = [n.simpleString(100) for n in _physical_nodes(spark, kept)
                 if n.nodeName() == "Exchange"]
    assert sum("hashpartitioning(__k" in e for e in exchanges) == 1, exchanges
    assert sorted(r.doc_id for r in kept.collect()) == sorted(
        r.doc_id for r in dedup.drop_near_duplicates(
            exact, dedup.minhash_lsh_pairs(exact, num_hashes=8, bands=4)).collect())


def test_duplicate_clusters_decimal_ids_near_1e37(spark):
    """decimal(38,0) ids whose sum overflows 38 digits: emptiness and
    convergence must not depend on a label sum."""
    from decimal import Decimal

    ids = [10 ** 37 + 7 * i for i in range(12)]  # sum ~1.2e38
    pairs = spark.createDataFrame([(Decimal(a), Decimal(b)) for a, b in zip(ids, ids[1:])],
                                  "id_a decimal(38,0), id_b decimal(38,0)")
    stats = {}
    got = {int(r.doc_id): int(r.cluster_id)
           for r in dedup.duplicate_clusters(pairs, stats=stats).collect()}
    assert got == {i: ids[0] for i in ids}
    assert stats["converged"] is True
