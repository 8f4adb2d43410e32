from pyspark.sql import functions as F

from metadata_enhanced_pretrain_datapipeline_spark.operators import filters
from metadata_enhanced_pretrain_datapipeline_spark.plans import FilterStep, MapStep, Pipeline


def test_kept_removed_partition_input(spark, docs):
    """K3 invariant (SURVEY §5.3): kept ∪ removed = input, disjoint."""
    removed_batches = []
    pipe = Pipeline(
        steps=[
            FilterStep(
                "len",
                filters.length_filter(F.col("text"), 40),
                exclusion_writer=lambda df: removed_batches.append(df.collect()),
                reason="too_short",
            )
        ]
    )
    kept = pipe.run(docs).collect()
    removed = removed_batches[0]
    assert len(kept) + len(removed) == docs.count()
    kept_ids = {r.doc_id for r in kept}
    removed_ids = {r.doc_id for r in removed}
    assert kept_ids.isdisjoint(removed_ids)
    assert all(r.reason == "too_short" for r in removed)


def test_column_predicate_runs_once_per_row(spark, docs):
    """The tee persists the predicate as a flag: a counting Python-UDF
    predicate is called once per input row across both branches, the
    branches partition the input, and NULL-predicate rows are removed."""
    calls = spark.sparkContext.accumulator(0)

    def keep(doc_id):
        calls.add(1)
        return None if doc_id % 7 == 0 else doc_id % 2 == 0

    removed_batches = []
    pipe = Pipeline(steps=[FilterStep(
        "even", F.udf(keep, "boolean")(F.col("doc_id")),
        exclusion_writer=lambda df: removed_batches.append(df.collect()), reason="odd")])
    kept = pipe.run(docs).collect()
    pipe.unpersist_all()
    n = docs.count()
    assert calls.value == n
    kept_ids = {r.doc_id for r in kept}
    removed = removed_batches[0]
    removed_ids = {r.doc_id for r in removed}
    assert kept_ids.isdisjoint(removed_ids) and len(kept) + len(removed) == n
    assert kept_ids | removed_ids == set(range(n))
    assert kept_ids == {i for i in range(n) if i % 2 == 0 and i % 7 != 0}
    assert {i for i in range(n) if i % 7 == 0} <= removed_ids
    assert list(removed[0].asDict()) == docs.columns + ["reason"]
    assert list(kept[0].asDict()) == docs.columns


def test_map_then_filter_composition(spark, docs):
    pipe = Pipeline(
        steps=[
            MapStep("tag", lambda df: df.withColumn("n_toks", F.size(F.split("text", " ")))),
            FilterStep("min_toks", F.col("n_toks") >= 8),
        ]
    )
    out = pipe.apply(docs)
    assert "n_toks" in out.columns
    assert all(r.n_toks >= 8 for r in out.collect())


def test_join_shaped_filter_step(spark, docs):
    block = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    pipe = Pipeline(
        steps=[FilterStep("ids", lambda df: filters.id_anti_join(df, block, "doc_id"))]
    )
    assert pipe.apply(docs).count() == 30


def test_join_shaped_exclusion_sink(spark, docs):
    """Removed branch of a join-shaped filter = input minus kept, exactly."""
    block = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    removed_batches = []
    pipe = Pipeline(
        steps=[
            FilterStep(
                "ids",
                lambda df: filters.id_anti_join(df, block, "doc_id"),
                exclusion_writer=lambda df: removed_batches.append(df.collect()),
            )
        ]
    )
    kept = pipe.run(docs)
    removed_ids = sorted(r.doc_id for r in removed_batches[0])
    assert removed_ids == [0, 1, 2, 3, 4]
    assert kept.count() == 35


def test_semi_join_removed_fn_matches_exceptall(spark, docs):
    """removed_fn (broadcast semi-join) and the exceptAll fallback produce
    the same kept/removed partition; the semi-join plan has no Exchange."""
    block = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")

    def make(removed_fn):
        batches = []
        pipe = Pipeline(steps=[FilterStep(
            "ids",
            lambda df: filters.id_anti_join(df, block, "doc_id"),
            exclusion_writer=lambda df: batches.append(df),
            removed_fn=removed_fn,
        )])
        kept = pipe.run(docs)
        out = sorted(r.doc_id for r in kept.collect()), batches[0]
        pipe.unpersist_all()  # branches are pure filters: recompute-safe
        return out

    kept_a, removed_a = make(None)  # exceptAll fallback
    kept_b, removed_b = make(lambda df: filters.id_semi_join(df, block, "doc_id"))
    ids_a = sorted(r.doc_id for r in removed_a.collect())
    ids_b = sorted(r.doc_id for r in removed_b.collect())
    assert kept_a == kept_b
    assert ids_a == ids_b == [0, 1, 2, 3, 4]
    # invariant: kept ∪ removed = input, disjoint
    assert sorted(kept_b + ids_b) == sorted(r.doc_id for r in docs.collect())
    # the declared complement streams the big side through a broadcast
    # semi-join: the ONLY shuffle allowed is the tiny blocklist's
    # .distinct() dedup — a second Exchange would mean the docs side (or
    # an exceptAll set-difference) shuffled full rows
    def final_plan(df):
        # AdaptiveSparkPlan.toString prints Final AND Initial plans —
        # count shuffles in the final section only
        return (df._jdf.queryExecution().executedPlan().toString()
                .split("== Initial Plan ==")[0])

    plan = final_plan(removed_b)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Exchange rangepartitioning" not in plan
    # and the fallback DOES shuffle full rows (exceptAll) — the contrast
    # the removed_fn feature exists for
    assert final_plan(removed_a).count("Exchange hashpartitioning") > 1


def test_run_with_stats_fires_exclusion_sinks(spark, docs):
    """Metrics and tees are not mutually exclusive: run_with_stats must
    still write removed rows."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators import filters as flt

    captured = []
    pipe = Pipeline(steps=[FilterStep(
        "len", flt.length_filter(F.col("text"), 40),
        exclusion_writer=lambda df: captured.append(df.count()),
    )])
    stats = pipe.run_with_stats(
        docs, sink=lambda df: df.write.format("noop").mode("overwrite").save(),
        stats={"rows_out": F.count(F.lit(1))},
    )
    pipe.unpersist_all()
    assert captured and captured[0] > 0
    assert stats["rows_out"] + captured[0] == docs.count()


def test_contract_validations(spark, docs):
    import pytest

    from metadata_enhanced_pretrain_datapipeline_spark.operators import aggregates, joins

    left = spark.createDataFrame([(1, 10, 0.5)], "k long, ts long, v double")
    right = spark.createDataFrame([(1, 9, 0.7)], "k long, ts long, v double")
    with pytest.raises(ValueError, match="sample_rate"):
        aggregates.estimate_threshold(left, F.col("v"), 0.5, sample_rate=0.1)
    with pytest.raises(ValueError, match="salt_buckets"):
        joins.salted_join(left, right, "k", salt_buckets=0)
    with pytest.raises(ValueError, match="collide"):
        joins.asof_join(left, right, "k", "k", "ts", "ts", right_vals=["v"])
