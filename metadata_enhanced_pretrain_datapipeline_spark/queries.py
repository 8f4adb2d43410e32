"""Driver-contract query registry: SURVEY.md §2 inventory as
(spark_fn, oracle_sql) pairs runnable on the TESTDATA.md tables.

Conventions (FIXTURES.md §C):
- every computed column aliased identically in Spark and SQL;
- doubles rounded (4-6 dp) so summation-order noise can't flip the
  driver's value hash; counts cast to BIGINT in DuckDB (sum(int) is
  HUGEINT there);
- timestamps emitted as formatted strings (engine-neutral);
- all determinism is hash-based (functions/hashing.py) — no rand().

Ops whose semantics aren't SQL-expressible (model inference, stateful
packing, running-length segmentation, LSH banding) register no oracle →
the driver records a rows-only check (marked † in SURVEY §2).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metadata_enhanced_pretrain_datapipeline_spark.checkpointing import materialize
from metadata_enhanced_pretrain_datapipeline_spark.partitioning import ensure_min_partitions
from metadata_enhanced_pretrain_datapipeline_spark.session import tune_for_oracle
from metadata_enhanced_pretrain_datapipeline_spark.functions.arrays import cosine_similarity
from metadata_enhanced_pretrain_datapipeline_spark.functions.hashing import (
    md5_hash64,
    md5_hash64_sql,
    salted_hash,
    salted_hash_sql,
)
from metadata_enhanced_pretrain_datapipeline_spark.functions.text import TOKEN_REGEX, tokens_ws
from metadata_enhanced_pretrain_datapipeline_spark.functions.urlf import HOST_REGEX, SUFFIX_REGEX, canonical_url, url_host, url_suffix
from metadata_enhanced_pretrain_datapipeline_spark.operators import (
    aggregates,
    annotators,
    dedup,
    filters,
    formatters,
    joins,
    sampling,
    segment,
    similarity,
    tokens,
)

QuerySpec = tuple[Callable[[SparkSession, str], DataFrame], str | None]

_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_for_oracle(spark)
            return fn(spark, sf_dir)

        _REGISTRY[name] = (wrapped, oracle)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _ns_to_ts(df: DataFrame, col: str) -> DataFrame:
    """The testdata parquet stores TIMESTAMP(NANOS); Spark reads it as long
    nanos under spark.sql.legacy.parquet.nanosAsLong (session.py). Integer-
    divide to µs (never float: 1.7e18 ns exceeds double's 2^53 precision)."""
    if dict(df.dtypes).get(col) == "bigint":
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ns_to_ts(load(spark, sf_dir, "events"), "ts")


def load_orders_dated(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ns_to_ts(load(spark, sf_dir, "orders"), "o_orderdate")


# portable hash, SQL renderings -------------------------------------------


def lin_sql(key: str, salt: int = 0) -> str:
    """Salted md5 hash, DuckDB rendering (matches functions.hashing.salted_hash)."""
    return salted_hash_sql(key, salt)


# ===========================================================================
# §2.1/2.3 — scans, projections, predicate filters
# ===========================================================================


@register(
    "q_scan_parquet",
    "SELECT doc_id, lang, source, n_chars FROM documents",
)
def q_scan_parquet(spark, sf):
    """S1 — projection-only scan; .explain shows ReadSchema pruned to 4 cols
    (reference ParquetReader, fineweb/main.py:97-99)."""
    return load(spark, sf, "documents").select("doc_id", "lang", "source", "n_chars")


@register(
    "q_length_filter",
    "SELECT doc_id, n_chars FROM documents WHERE length(text) >= 400",
)
def q_length_filter(spark, sf):
    """F10 (create_excerpt.py:176-180)."""
    d = load(spark, sf, "documents")
    return d.filter(filters.length_filter(F.col("text"), 400)).select("doc_id", "n_chars")


@register(
    "q_predicate_filter",
    "SELECT doc_id, lang, n_chars FROM documents "
    "WHERE lang = 'en' AND n_chars BETWEEN 200 AND 800",
)
def q_predicate_filter(spark, sf):
    """F5 — LambdaFilter ≡ arbitrary Column predicate (provenance-flan/main.py:10)."""
    d = load(spark, sf, "documents")
    return d.filter((F.col("lang") == "en") & F.col("n_chars").between(200, 800)).select(
        "doc_id", "lang", "n_chars"
    )


@register(
    "q_threshold_filter_lt",
    "SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal < 1000.0",
)
def q_threshold_filter_lt(spark, sf):
    """F7 — ToxicityBinaryClassifierFilter keep-side: score < t
    (toxic_filter.py:157-179)."""
    c = load(spark, sf, "customer")
    return c.filter(filters.threshold_lt(F.col("c_acctbal"), 1000.0)).select(
        "c_custkey", "c_acctbal"
    )


@register(
    "q_threshold_filter_ge",
    "SELECT p_partkey, p_size FROM part WHERE p_size >= 25",
)
def q_threshold_filter_ge(spark, sf):
    """F9 — CodeQualityThresholdFilter (code_quality_filter.py:39-55)."""
    p = load(spark, sf, "part")
    return p.filter(filters.threshold_ge(F.col("p_size"), 25)).select("p_partkey", "p_size")


_DERIVED_SCORES = (
    "SELECT doc_id, (doc_id * 7) % 10 AS clarity, (doc_id * 11) % 10 AS practice, "
    "(doc_id * 13) % 10 AS educational, (doc_id * 5) % 3 AS difficulty FROM documents"
)


def _derived_scores(spark, sf):
    """FIXTURES.md §B5 stand-in: deterministic code-quality int columns."""
    return load(spark, sf, "documents").select(
        "doc_id",
        ((F.col("doc_id") * 7) % 10).alias("clarity"),
        ((F.col("doc_id") * 11) % 10).alias("practice"),
        ((F.col("doc_id") * 13) % 10).alias("educational"),
        ((F.col("doc_id") * 5) % 3).alias("difficulty"),
    )


@register(
    "q_conjunctive_threshold",
    f"SELECT doc_id, clarity, practice, educational, difficulty FROM ({_DERIVED_SCORES}) "
    "WHERE clarity >= 2 AND practice >= 2 AND educational >= 2 AND difficulty >= 1",
)
def q_conjunctive_threshold(spark, sf):
    """F8 — CodeMetricsThresholdFilter: AND of 4 lower bounds
    (code_quality_filter.py:28-34)."""
    return _derived_scores(spark, sf).filter(
        filters.conjunctive_threshold(
            {"clarity": 2, "practice": 2, "educational": 2, "difficulty": 1}
        )
    )


@register(
    "q_try_cast_valid",
    "SELECT doc_id, TRY_CAST(raw AS INT) AS score FROM ("
    "  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN 'x' "
    "         ELSE CAST(doc_id % 10 AS VARCHAR) END AS raw FROM documents) "
    "WHERE TRY_CAST(raw AS INT) IS NOT NULL AND TRY_CAST(raw AS INT) BETWEEN 0 AND 9",
)
def q_try_cast_valid(spark, sf):
    """F12 — pd.to_numeric(errors='coerce') + dropna + range validity
    (code_processing.py:15-44)."""
    d = load(spark, sf, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.lit("x"))
        .otherwise((F.col("doc_id") % 10).cast("string"))
        .alias("raw"),
    )
    return d.filter(filters.valid_int(F.col("raw"), 0, 9)).select(
        "doc_id", F.col("raw").try_cast("int").alias("score")
    )


@register(
    "q_substring",
    "SELECT doc_id, substring(text, 11, 50) AS excerpt FROM documents WHERE n_chars >= 100",
)
def q_substring(spark, sf):
    """W4 — char-position substring (create_excerpt.py:72)."""
    d = load(spark, sf, "documents")
    return d.filter(F.col("n_chars") >= 100).select(
        "doc_id", F.substring("text", 11, 50).alias("excerpt")
    )


_SCORE_STRINGS = (
    "SELECT doc_id, CAST((doc_id*7)%10 AS VARCHAR) || ' ' || CAST((doc_id*11)%10 AS VARCHAR)"
    " || ' ' || CAST((doc_id*13)%10 AS VARCHAR) || ' ' || CAST((doc_id*5)%3 AS VARCHAR)"
    " AS output FROM documents"
)


@register(
    "q_split_columns",
    f"SELECT doc_id, TRY_CAST(split_part(output, ' ', 1) AS INT) AS clarity, "
    "TRY_CAST(split_part(output, ' ', 2) AS INT) AS practice, "
    "TRY_CAST(split_part(output, ' ', 3) AS INT) AS educational, "
    f"TRY_CAST(split_part(output, ' ', 4) AS INT) AS difficulty FROM ({_SCORE_STRINGS})",
)
def q_split_columns(spark, sf):
    """A5 — 'c p e d' score-string split into 4 int columns
    (code_processing.py:27-29)."""
    d = load(spark, sf, "documents").select(
        "doc_id",
        F.concat_ws(
            " ",
            ((F.col("doc_id") * 7) % 10).cast("string"),
            ((F.col("doc_id") * 11) % 10).cast("string"),
            ((F.col("doc_id") * 13) % 10).cast("string"),
            ((F.col("doc_id") * 5) % 3).cast("string"),
        ).alias("output"),
    )
    return annotators.split_score_columns(d).select(
        "doc_id", "clarity", "practice", "educational", "difficulty"
    )


@register(
    "q_hash_sample",
    f"SELECT doc_id, lang FROM documents WHERE {lin_sql('doc_id', 12345)} % 1000003 < 100000",
)
def q_hash_sample(spark, sf):
    """F4 — SamplerFilter, deterministic hash variant, rate≈0.1
    (fineweb-2/main.py:286-295; rationale in functions/hashing.py)."""
    d = load(spark, sf, "documents")
    return filters.hash_sample(d, F.col("doc_id"), 100000 / 1000003, salt=12345).select(
        "doc_id", "lang"
    )


@register(
    "q_shard_select",
    f"SELECT doc_id FROM documents WHERE {lin_sql('doc_id')} % 8 = 3",
)
def q_shard_select(spark, sf):
    """F16 — process shard 3 of 8 (code_annotation.py:92)."""
    d = load(spark, sf, "documents")
    return filters.shard_select(d, F.col("doc_id"), 3, 8).select("doc_id")


# ===========================================================================
# §2.3/2.5 — dedup + duplicate accounting
# ===========================================================================


@register(
    "q_dedup_exact",
    "SELECT dup_key, doc_id FROM ("
    "  SELECT doc_id % 100 AS dup_key, doc_id, "
    "         row_number() OVER (PARTITION BY doc_id % 100 ORDER BY doc_id) AS rn "
    "  FROM documents) WHERE rn = 1",
)
def q_dedup_exact(spark, sf):
    """F11 — first-wins exact dedup (create_excerpt.py:113-118)."""
    d = load(spark, sf, "documents").select((F.col("doc_id") % 100).alias("dup_key"), "doc_id")
    return dedup.dedup_exact(d, F.col("dup_key"), [F.col("doc_id")]).select("dup_key", "doc_id")


@register(
    "q_dup_count",
    "SELECT dup_key, cnt FROM (SELECT doc_id % 100 AS dup_key, count(*) AS cnt "
    "FROM documents GROUP BY doc_id % 100) WHERE cnt > 1",
)
def q_dup_count(spark, sf):
    """G4 — duplicate accounting (create_excerpt.py:184-185)."""
    d = load(spark, sf, "documents").select((F.col("doc_id") % 100).alias("dup_key"))
    return aggregates.duplicate_counts(d, "dup_key")


@register(
    "q_dedup_exact_text",
    "SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS text_key, "
    "CAST(min(doc_id) AS BIGINT) AS keeper_id, count(*) AS n_copies "
    "FROM documents GROUP BY 1",
)
def q_dedup_exact_text(spark, sf):
    """Extension — exact-text dedup groups keyed on the normalized digest
    (hash-groupBy; one shuffle on a 32-byte key, never on the text)."""
    d = load(spark, sf, "documents")
    key = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    return d.groupBy(key.alias("text_key")).agg(
        F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies")
    )


# ===========================================================================
# §2.6 — joins
# ===========================================================================


@register(
    "q_id_anti_join",
    "SELECT doc_id, source FROM documents WHERE doc_id NOT IN "
    "(SELECT doc_id FROM documents WHERE doc_id % 10 = 0)",
)
def q_id_anti_join(spark, sf):
    """F1/J1 — IdFilter as broadcast LEFT ANTI (robots_filter.py:95-121;
    FIXTURES.md §B2: every 10th doc blocked)."""
    d = load(spark, sf, "documents")
    blocklist = d.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    return filters.id_anti_join(d, blocklist, "doc_id").select("doc_id", "source")


@register(
    "q_domain_blocklist",
    "SELECT doc_id, source || '.example.com' AS domain FROM documents "
    "WHERE source || '.example.com' NOT IN "
    "('src0.example.com','src1.example.com','src2.example.com')",
)
def q_domain_blocklist(spark, sf):
    """F3/J3 — URLFilter extra_domains (dclm-edu/main.py:63-72)."""
    d = load(spark, sf, "documents").withColumn(
        "domain", F.concat(F.col("source"), F.lit(".example.com"))
    )
    blocked = spark.createDataFrame(
        [(f"src{i}.example.com",) for i in range(3)], "domain string"
    )
    return filters.domain_blocklist_filter(d, F.col("domain"), blocked).select(
        "doc_id", "domain"
    )


@register(
    "q_domain_left_join",
    "SELECT d.doc_id, d.source, coalesce(r.content, '<missing>') AS robots FROM documents d "
    "LEFT JOIN (SELECT 'src' || CAST(r.i AS VARCHAR) AS domain, "
    "           'User-agent: *' || CAST(r.i AS VARCHAR) AS content "
    "           FROM generate_series(0, 9) r(i)) r ON d.source = r.domain",
)
def q_domain_left_join(spark, sf):
    """J2 — broadcast dict lookup: domain → robots.txt content
    (dclm-edu/main.py:75-77 probe at robots_filter.py:44-58)."""
    d = load(spark, sf, "documents")
    dim = spark.range(10).select(
        F.concat(F.lit("src"), F.col("id").cast("string")).alias("domain"),
        F.concat(F.lit("User-agent: *"), F.col("id").cast("string")).alias("content"),
    )
    out = joins.broadcast_lookup(d, dim, on=[d.source == dim.domain], how="left")
    return out.select(
        "doc_id", "source", F.coalesce("content", F.lit("<missing>")).alias("robots")
    )


@register(
    "q_join_inner",
    "SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue "
    "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment",
)
def q_join_inner(spark, sf):
    o, c = load(spark, sf, "orders"), load(spark, sf, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


@register(
    "q_join_multiway",
    "SELECT r_name, count(*) AS n_items, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name",
)
def q_join_multiway(spark, sf):
    """J — 5-way star join. lineitem⋈orders sort-merge (fact⋈fact);
    customer/nation/region broadcast — the fact side shuffles once."""
    li = load(spark, sf, "lineitem")
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


@register(
    "q_join_semi",
    "SELECT c_custkey, c_name FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)",
)
def q_join_semi(spark, sf):
    c, o = load(spark, sf, "customer"), load(spark, sf, "orders")
    big = o.filter(F.col("o_totalprice") > 450000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "q_join_anti",
    "SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN "
    "(SELECT o_custkey FROM orders WHERE o_totalprice > 450000)",
)
def q_join_anti(spark, sf):
    c, o = load(spark, sf, "customer"), load(spark, sf, "orders")
    big = o.filter(F.col("o_totalprice") > 450000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "q_join_outer",
    "SELECT c_custkey, count(o_orderkey) AS n_orders FROM customer "
    "LEFT JOIN orders ON o_custkey = c_custkey GROUP BY c_custkey",
)
def q_join_outer(spark, sf):
    c, o = load(spark, sf, "customer"), load(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


# ===========================================================================
# §2.8 — set ops / replication
# ===========================================================================


@register(
    "q_union_all",
    "SELECT lang, count(*) AS n FROM ("
    "  SELECT lang FROM documents WHERE lang = 'en' "
    "  UNION ALL SELECT lang FROM documents WHERE lang = 'de') GROUP BY lang",
)
def q_union_all(spark, sf):
    """U1 — pd.concat ≡ unionByName (code_processing.py:23)."""
    d = load(spark, sf, "documents")
    u = d.filter(F.col("lang") == "en").select("lang").unionByName(
        d.filter(F.col("lang") == "de").select("lang")
    )
    return u.groupBy("lang").agg(F.count("*").alias("n"))


@register(
    "q_except_ids",
    "SELECT doc_id FROM documents EXCEPT SELECT doc_id FROM documents WHERE doc_id % 10 = 0",
)
def q_except_ids(spark, sf):
    """U3 — except (set membership, F1 semantics)."""
    d = load(spark, sf, "documents")
    return d.select("doc_id").exceptAll(
        d.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    )


@register(
    "q_replicate_buckets",
    "SELECT d.doc_id, d.k, g.i AS rep_idx FROM "
    "(SELECT doc_id, (doc_id % 4) + 1 AS k FROM documents) d "
    "JOIN generate_series(1, 4) g(i) ON g.i <= d.k",
)
def q_replicate_buckets(spark, sf):
    """U2 — replication ×k by bucket (create_replicas.py:38-96):
    explode(sequence(1,k)) — shuffle-free fan-out."""
    d = load(spark, sf, "documents").select(
        "doc_id", ((F.col("doc_id") % 4) + 1).alias("k")
    )
    out = sampling.replicate_buckets(d, F.col("k"), keep_rep_index=True)
    return out.select("doc_id", "k", F.col("__rep").cast("long").alias("rep_idx"))


# ===========================================================================
# §2.5 — aggregations
# ===========================================================================


@register(
    "q_group_count",
    "SELECT lang, count(*) AS count FROM documents GROUP BY lang ORDER BY lang",
)
def q_group_count(spark, sf):
    """G3 — value_counts (code_processing.py:63-70)."""
    return aggregates.group_count(load(spark, sf, "documents"), "lang")


@register(
    "q_token_sum",
    "SELECT source, CAST(sum(n_chars) AS BIGINT) AS total_chars, "
    "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens "
    "FROM documents GROUP BY source",
)
def q_token_sum(spark, sf):
    """G6 — per-rank stat accumulation + merge ≡ one agg
    (megatron_tokenizer.py:283, slurm_nodes.py:199-220)."""
    d = load(spark, sf, "documents")
    return d.groupBy("source").agg(
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
    )


@register(
    "q_quantile_threshold",
    "SELECT round(quantile_cont(c_acctbal, 0.9), 6) AS threshold FROM customer",
)
def q_quantile_threshold(spark, sf):
    """G1 — the quantile half of estimate_classifier_threshold
    (embeddings_filter.py:74-108): exact percentile, one-row result."""
    c = load(spark, sf, "customer")
    return c.agg(F.round(F.expr("percentile(c_acctbal, 0.9)"), 6).alias("threshold"))


@register(
    "q_quantile_gate",
    f"WITH t AS ({_DERIVED_SCORES}), "
    "q AS (SELECT quantile_cont(clarity, 0.5) AS tc, quantile_cont(practice, 0.5) AS tp, "
    "      quantile_cont(educational, 0.5) AS te FROM t) "
    "SELECT doc_id, clarity, practice, educational FROM t, q "
    "WHERE clarity >= tc AND practice >= tp AND educational >= te",
)
def q_quantile_gate(spark, sf):
    """F13/G2/J4 — per-column quantile thresholds broadcast back as a
    conjunctive gate (code_filtering.py:27-29)."""
    t = _derived_scores(spark, sf)
    return filters.quantile_gate(t, ["clarity", "practice", "educational"], 0.5).select(
        "doc_id", "clarity", "practice", "educational"
    )


@register(
    "q_grouping_sets",
    "SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source, "
    "count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents "
    "GROUP BY GROUPING SETS ((lang, source), (lang), ())",
)
def q_grouping_sets(spark, sf):
    """Extension (SURVEY §2.5 note) — grouping sets come free: rollup(lang,
    source) ≡ GROUPING SETS ((lang,source),(lang),())."""
    d = load(spark, sf, "documents")
    return (
        d.rollup("lang", "source")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("total_chars"))
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n",
            "total_chars",
        )
    )


# ===========================================================================
# §2.7 — sorts / limits / splits / shuffle
# ===========================================================================


@register(
    "q_top_k",
    "SELECT o_orderkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
)
def q_top_k(spark, sf):
    """O6/O4 — TakeOrdered: per-partition partial top-k, single merge."""
    o = load(spark, sf, "orders")
    return sampling.top_k(
        o.select("o_orderkey", "o_totalprice"),
        [F.desc("o_totalprice"), F.col("o_orderkey")],
        100,
    )


@register(
    "q_limit",
    "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 50",
)
def q_limit(spark, sf):
    """O4 — head/limit (paradocs.py:167-170)."""
    return load(spark, sf, "orders").select("o_orderkey").orderBy("o_orderkey").limit(50)


@register(
    "q_deterministic_shuffle",
    f"SELECT doc_id, row_number() OVER (ORDER BY {lin_sql('doc_id', 42)}, doc_id) AS pos "
    "FROM documents",
)
def q_deterministic_shuffle(spark, sf):
    """O3 — seeded-shuffle parity via hash ordering (paradocs.py:165;
    determinism policy in operators/sampling.py)."""
    d = load(spark, sf, "documents")
    ranked = sampling.global_rank(
        d, [salted_hash(F.col("doc_id"), 42), F.col("doc_id")], "pos"
    )
    return ranked.select("doc_id", "pos")


@register(
    "q_positional_split",
    "SELECT doc_id, CASE WHEN rn <= CAST(floor(0.8 * cnt) AS BIGINT) "
    "THEN 'train' ELSE 'test' END AS split FROM ("
    f"  SELECT doc_id, row_number() OVER (ORDER BY {lin_sql('doc_id')}, doc_id) AS rn, "
    "          count(*) OVER () AS cnt FROM documents)",
)
def q_positional_split(spark, sf):
    """O5 — positional train/test split (code_processing.py:160-163),
    through the library operator (which reuses global_rank's counts total
    instead of paying a separate count() scan)."""
    d = load(spark, sf, "documents")
    return sampling.positional_split(d, F.col("doc_id"), 0.8).select("doc_id", "split")


@register(
    "q_balanced_sample",
    "WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label), "
    "m AS (SELECT min(n) AS mn FROM c), "
    f"r AS (SELECT label, vec_id, row_number() OVER (PARTITION BY label "
    f"      ORDER BY {lin_sql('vec_id')}, vec_id) AS rn FROM embeddings) "
    "SELECT label, count(*) AS n_rows FROM r, m WHERE rn <= mn GROUP BY label",
)
def q_balanced_sample(spark, sf):
    """F15 — class-balancing subsample, deterministic variant
    (preprocessing.py:37-40)."""
    e = load(spark, sf, "embeddings")
    balanced = sampling.balanced_sample(e, "label", F.col("vec_id"))
    return balanced.groupBy("label").agg(F.count("*").alias("n_rows"))


# ===========================================================================
# §2.4 — formatters / annotators (SQL-expressible halves)
# ===========================================================================

_PII_TEXT = (
    "'Contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 10.0.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.7 iban DE89370400440532013000 ' || text"
)


def _pii_text_col():
    return F.concat(
        F.lit("Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 iban DE89370400440532013000 "),
        F.col("text"),
    )


def _pii_scrub_sql(expr: str) -> str:
    out = expr
    for pat, tag in formatters.PII_PASSES:
        out = f"regexp_replace({out}, '{pat}', '{tag}', 'g')"
    return out


def _pii_count_sql(expr: str) -> str:
    parts, seen = [], expr
    for pat, tag in formatters.PII_PASSES:
        parts.append(f"len(list_distinct(regexp_extract_all({seen}, '{pat}')))")
        seen = f"regexp_replace({seen}, '{pat}', '{tag}', 'g')"
    return " + ".join(parts)


@register(
    "q_pii_scrub",
    f"SELECT doc_id, substring({_pii_scrub_sql(_PII_TEXT)}, 1, 80) AS scrubbed, "
    f"CAST({_pii_count_sql(_PII_TEXT)} AS INT) AS pii_count "
    "FROM documents",
)
def q_pii_scrub(spark, sf):
    """A3 — PIIFormatter: email→ip→iban pass order, replace-all, count of
    unique matched strings (pii_formatter.py:63-70,93-119)."""
    d = load(spark, sf, "documents").withColumn("__t", _pii_text_col())
    d = formatters.with_pii(d, "__t", scrub_col="__scrub", count_col="__n")
    return d.select(
        "doc_id",
        F.substring(F.col("__scrub"), 1, 80).alias("scrubbed"),
        F.col("__n").cast("int").alias("pii_count"),
    )


_URL = (
    "'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR) || '?q=' || lang"
)


@register(
    "q_url_parse_features",
    f"SELECT doc_id, regexp_extract({_URL}, '{HOST_REGEX}', 1) AS url_domain, "
    f"regexp_extract({_URL}, '{SUFFIX_REGEX}', 1) AS url_suffix FROM documents",
)
def q_url_parse_features(spark, sf):
    """A8 — URL metadata builders (tokenize_with_metadata.py:145-184);
    F2's SQL-expressible host extraction (robots_filter.py:44-58)."""
    d = load(spark, sf, "documents").withColumn(
        "url",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
            F.lit("?q="),
            F.col("lang"),
        ),
    )
    return d.select(
        "doc_id",
        url_host(F.col("url")).alias("url_domain"),
        url_suffix(F.col("url")).alias("url_suffix"),
    )


@register(
    "q_template_concat",
    "SELECT doc_id, 'User:' || chr(10) || substring(text, 1, 40) || chr(10) || "
    "'Assistant:' || chr(10) || lang AS prompt FROM documents",
)
def q_template_concat(spark, sf):
    """A9 — FLAN template (provenance-flan/main.py:43-45)."""
    d = load(spark, sf, "documents")
    return d.select(
        "doc_id",
        formatters.flan_template(F.substring("text", 1, 40), F.col("lang")).alias("prompt"),
    )


@register(
    "q_chat_flatten",
    "SELECT doc_id, 'user: ' || substring(text, 1, 30) || chr(10) || "
    "'assistant: ' || substring(text, 31, 30) AS flat FROM documents",
)
def q_chat_flatten(spark, sf):
    """A9 — chat-log flatten over array<struct<from,value>>
    (euroblocks/main.py:25-36). Spark builds the real nested structure and
    flattens it; the oracle computes the equivalent string directly."""
    d = load(spark, sf, "documents").withColumn(
        "conversations",
        F.array(
            F.struct(F.lit("user").alias("from"), F.substring("text", 1, 30).alias("value")),
            F.struct(
                F.lit("assistant").alias("from"), F.substring("text", 31, 30).alias("value")
            ),
        ),
    )
    return d.select(
        "doc_id", formatters.chat_flatten(F.col("conversations")).alias("flat")
    )


@register(
    "q_bidirectional_explode",
    "SELECT doc_id, 'en' || ': ' || substring(text, 1, 30) || chr(10) || lang || ': ' || "
    "substring(text, 31, 30) AS text FROM documents "
    "UNION ALL SELECT doc_id, lang || ': ' || substring(text, 31, 30) || chr(10) || "
    "'en' || ': ' || substring(text, 1, 30) AS text FROM documents",
)
def q_bidirectional_explode(spark, sf):
    """A9 — bidirectional pair emission, 2 rows per input
    (europarl/main_bidirectional.py:43-48; paradocs.py:41-46)."""
    d = load(spark, sf, "documents")
    return formatters.bidirectional_pairs(
        d,
        F.lit("en"),
        F.substring("text", 1, 30),
        F.col("lang"),
        F.substring("text", 31, 30),
    ).select("doc_id", "text")


@register(
    "q_adapter_template",
    "SELECT CAST(doc_id AS VARCHAR) AS id, text, "
    "to_json(struct_pack(lang := lang, source := source)) AS metadata_json FROM documents",
)
def q_adapter_template(spark, sf):
    """S7 — reader adapter: normalize into the Document shape with JSON
    metadata round-trip (finemath/main.py:46-66)."""
    d = load(spark, sf, "documents")
    return d.select(
        F.col("doc_id").cast("string").alias("id"),
        "text",
        F.to_json(F.struct(F.col("lang"), F.col("source"))).alias("metadata_json"),
    )


# ===========================================================================
# arrays / chunking / embeddings
# ===========================================================================


@register(
    "q_array_slice",
    "SELECT doc_id, array_to_string(list_slice(string_split(text, ' '), off, off + 15), ' ') "
    "AS excerpt FROM (SELECT doc_id, text, "
    f"1 + {lin_sql('doc_id')} % (len(string_split(text, ' ')) - 15) AS off "
    "FROM documents WHERE len(string_split(text, ' ')) >= 24)",
)
def q_array_slice(spark, sf):
    """W3 — excerpt at seeded random offset ≡ hash-derived offset
    (create_excerpt.py:82-110)."""
    d = load(spark, sf, "documents").withColumn("toks", F.split("text", " "))
    d = d.filter(F.size("toks") >= 24).withColumn(
        "off", (F.lit(1) + salted_hash(F.col("doc_id")) % (F.size("toks") - 15)).cast("int")
    )
    return d.select(
        "doc_id", F.array_join(F.slice("toks", F.col("off"), 16), " ").alias("excerpt")
    )


@register(
    "q_chunk_explode_regroup",
    "SELECT doc_id, CAST(ceil(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '')) / 32.0) AS BIGINT) AS n_chunks "
    "FROM documents",
)
def q_chunk_explode_regroup(spark, sf):
    """A1 skeleton — 512-token overflow-window arithmetic at chunk_len=32:
    Spark explodes real chunks and regroups; oracle computes ⌈n/32⌉
    (xlmr_embedding_annotator.py:54-61,78-90)."""
    d = load(spark, sf, "documents").select("doc_id", tokens_ws(F.col("text")).alias("toks"))
    chunked = annotators.explode_chunks(d, F.col("toks"), 32)
    return chunked.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_chunks"))


_DOT_SQL = (
    "SELECT vec_id, round(sum(CAST(v AS DOUBLE) * ((((i - 1) * 37) % 21 - 10) / 10.0)), 6) "
    "AS score FROM (SELECT vec_id, unnest(embedding) AS v, "
    "generate_subscripts(embedding, 1) AS i FROM embeddings) GROUP BY vec_id"
)


@register("q_dot_product_score", _DOT_SQL)
def q_dot_product_score(spark, sf):
    """F6 oracle-able half — linear scorer over embeddings
    (the SQL-checkable analogue of the MLP, embeddings_filter.py:44-55)."""
    e = load(spark, sf, "embeddings")
    return e.select(
        "vec_id", F.round(annotators.linear_score(F.col("embedding")), 6).alias("score")
    )


@register(
    "q_array_max_score",
    f"SELECT doc_key, round(max(score), 6) AS doc_score FROM "
    f"(SELECT vec_id % 100 AS doc_key, score FROM ({_DOT_SQL})) GROUP BY doc_key",
)
def q_array_max_score(spark, sf):
    """A2/G5 — doc toxic score = max over per-chunk scores
    (toxic_filter.py:142-145): rows stand in for chunks, vec_id%100 is the
    doc key; explode→score→regroup."""
    e = load(spark, sf, "embeddings")
    scored = e.select(
        (F.col("vec_id") % 100).alias("doc_key"),
        F.round(annotators.linear_score(F.col("embedding")), 6).alias("score"),
    )
    return scored.groupBy("doc_key").agg(F.round(F.max("score"), 6).alias("doc_score"))


_NORM_SQL = (
    "SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nrm "
    "FROM (SELECT vec_id, unnest(embedding) AS v FROM embeddings) GROUP BY vec_id"
)
_PAIRDOT_SQL = (
    "SELECT a.vec_id, sum(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dp "
    "FROM (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i "
    "      FROM embeddings) a "
    "JOIN (SELECT unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i "
    "      FROM embeddings WHERE vec_id = 0) b ON a.i = b.i "
    "GROUP BY a.vec_id"
)


# IVF static-codebook assignment chain (vec_id < 4's ORIGINAL embeddings
# as the codebook): argmax of s = dot(v,c) − |c|²/2 with ties to the
# smaller centroid id — identical to
# operators/similarity._nearest_centroid_col. Shared by
# q_ivf_static_topk / q_ivf_pruned_probe / q_ivf_quantized_probe /
# q_ivf_quantized_rerank / q_ivf_store_compact (one edit point; a
# drifted copy would silently probe different lists). Yields
# assign(vec_id, list_id) over ``src`` and the nprobe=2 probe(cid) set
# for query vector 0.
def _ivf_assign_sql(src: str = "embeddings") -> str:
    return (
        "cb AS (SELECT vec_id AS cid, embedding FROM embeddings "
        "  WHERE vec_id < 4), "
        "ce AS (SELECT cid, unnest(embedding) AS v, "
        "  generate_subscripts(embedding, 1) AS i FROM cb), "
        "cn AS (SELECT cid, sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) AS n2 "
        "  FROM ce GROUP BY cid), "
        "ae AS (SELECT vec_id, unnest(embedding) AS v, "
        f"  generate_subscripts(embedding, 1) AS i FROM {src}), "
        "rd AS (SELECT a.vec_id, c.cid, "
        "  sum(CAST(a.v AS DOUBLE) * CAST(c.v AS DOUBLE)) AS dp "
        "  FROM ae a JOIN ce c ON a.i = c.i GROUP BY a.vec_id, c.cid), "
        "sc AS (SELECT rd.vec_id, rd.cid, rd.dp - cn.n2 / 2 AS s "
        "  FROM rd JOIN cn USING (cid)), "
        "assign AS (SELECT vec_id, cid AS list_id FROM ("
        "  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id "
        "    ORDER BY s DESC, cid) AS rn FROM sc) WHERE rn = 1), "
        "probe AS (SELECT cid FROM (SELECT cid, row_number() OVER ("
        "  ORDER BY s DESC, cid) AS rn FROM sc WHERE vec_id = 0) "
        "  WHERE rn <= 2)"
    )


_IVF_ASSIGN_SQL = _ivf_assign_sql()


@register(
    "q_ivf_static_topk",
    # IVF probe with a STATIC codebook: the training loop stays † on
    # q_ivf_topk, but the production-shaped probe (pretrained codebook,
    # argmax assignment, nprobe=2, exact cosine inside probed lists) is
    # fully relational.
    f"WITH {_IVF_ASSIGN_SQL}, "
    f"n AS ({_NORM_SQL}), d AS ({_PAIRDOT_SQL}), "
    "q AS (SELECT nrm AS qn FROM n WHERE vec_id = 0) "
    "SELECT d.vec_id, round(d.dp / (n.nrm * q.qn), 6) AS cosine "
    "FROM d JOIN n ON d.vec_id = n.vec_id CROSS JOIN q "
    "JOIN assign ON assign.vec_id = d.vec_id "
    "JOIN probe ON probe.cid = assign.list_id "
    "ORDER BY cosine DESC, d.vec_id LIMIT 10",
)
def q_ivf_static_topk(spark, sf):
    """Extension — the IVF ANN probe with a static (pretrained-shaped)
    codebook, fully oracle-checked: only the k-means TRAINING loop is
    float-iterative and stays rows-only (q_ivf_topk); the probe itself —
    argmax list assignment, nprobe nearest lists, exact cosine within —
    is deterministic arithmetic both engines reproduce."""
    e = load(spark, sf, "embeddings")
    cents = _static_codebook(e)
    return similarity.ivf_topk(e, cents, cents[0], k=10, nprobe=2)


@register(
    "q_embedding_topk",
    f"WITH n AS ({_NORM_SQL}), d AS ({_PAIRDOT_SQL}), "
    "q AS (SELECT nrm AS qn FROM n WHERE vec_id = 0) "
    "SELECT d.vec_id, round(d.dp / (n.nrm * q.qn), 6) AS cosine "
    "FROM d JOIN n ON d.vec_id = n.vec_id, q WHERE d.vec_id != 0 "
    "ORDER BY round(d.dp / (n.nrm * q.qn), 6) DESC, d.vec_id LIMIT 10",
)
def q_embedding_topk(spark, sf):
    """Extension — brute-force cosine top-k (similarity search baseline):
    query = vec 0's embedding; TakeOrdered plan, no vector shuffle."""
    e = load(spark, sf, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            F.round(cosine_similarity(F.col("embedding"), F.col("qv")), 6).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.col("vec_id")).limit(10)


def _plane_sql(p: int) -> str:
    # SQL twin of similarity._plane_weight — keep in lockstep
    from metadata_enhanced_pretrain_datapipeline_spark.operators.similarity import _PLANE_A

    return (
        f"sum(CAST(v AS DOUBLE) * CAST(((i - 1) * {_PLANE_A[p]} + {5 * p + 2}) % 11 - 5 AS DOUBLE))"
    )


def _lsh_bucket_sql() -> str:
    """SQL twin of similarity.lsh_bucket over the embeddings table."""
    return (
        "SELECT vec_id, "
        + " + ".join(
            f"(CASE WHEN {_plane_sql(p)} > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(8)
        )
        + " AS bucket FROM (SELECT vec_id, unnest(embedding) AS v, "
        "generate_subscripts(embedding, 1) AS i FROM embeddings) GROUP BY vec_id"
    )


@register(
    "q_ann_lsh_buckets",
    f"SELECT bucket, count(*) AS n FROM ({_lsh_bucket_sql()}) GROUP BY bucket",
)
def q_ann_lsh_buckets(spark, sf):
    """Extension — hyperplane-LSH bucket histogram (the ANN scale path:
    bucket becomes a partition key, probes prune to one bucket)."""
    e = load(spark, sf, "embeddings")
    b = similarity.lsh_bucket(F.col("embedding"), 8)
    return e.select(b.alias("bucket")).groupBy("bucket").agg(F.count("*").alias("n"))


# ===========================================================================
# text analysis extensions
# ===========================================================================

from metadata_enhanced_pretrain_datapipeline_spark.functions.text import LANG_MARKERS, STOPWORDS

_STOP = STOPWORDS


@register(
    "q_quality_score",
    "SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, "
    f"len(list_filter(string_split(text, ' '), x -> x IN {str(tuple(_STOP))})) AS n_stop, "
    "round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_chars_per_token "
    "FROM documents",
)
def q_quality_score(spark, sf):
    """Extension — quality-signal features (length/stopword ratios)."""
    d = load(spark, sf, "documents")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in _STOP])
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).cast("long").alias("n_stop"),
        F.round(F.col("n_chars").cast("double") / F.size(toks), 4).alias(
            "avg_chars_per_token"
        ),
    )


@register(
    "q_repetition_signals",
    # derived line-structured doc: a 6-word "header" line repeated
    # (doc_id % 4) times above the full text as the body line —
    # deterministic synthetic boilerplate, since the corpus has no raw
    # newlines (or periods) to split on
    "WITH base AS (SELECT doc_id, text, "
    "  array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ') AS hdr, "
    "  CAST(doc_id % 4 AS INT) AS reps FROM documents), "
    "d AS (SELECT doc_id, array_to_string(list_concat("
    "  list_transform(range(1, reps + 1), x -> hdr), [text]), chr(10)) AS t FROM base), "
    "ln AS (SELECT doc_id, trim(l) AS line FROM "
    "  (SELECT doc_id, unnest(string_split(t, chr(10))) AS l FROM d) WHERE trim(l) <> ''), "
    "per AS (SELECT doc_id, line, count(*) AS cnt, length(line) AS len "
    "  FROM ln GROUP BY doc_id, line), "
    "agg AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines, count(*) AS n_distinct, "
    "  sum(len * cnt) AS total_chars, "
    "  sum(CASE WHEN cnt > 1 THEN len * cnt ELSE 0 END) AS dup_chars "
    "  FROM per GROUP BY doc_id) "
    "SELECT d2.doc_id, "
    "  round(CAST(n_lines - n_distinct AS DOUBLE) / n_lines, 6) AS dup_line_frac, "
    "  round(CAST(dup_chars AS DOUBLE) / total_chars, 6) AS dup_line_char_frac "
    "FROM documents d2 LEFT JOIN agg ON d2.doc_id = agg.doc_id",
)
def q_repetition_signals(spark, sf):
    """Extension — Gopher/FineWeb within-doc repetition quality signals
    (functions/text.repetition_signals; Rae et al. 2021 §A1.1): fraction
    of duplicate lines and of characters in duplicate lines. The corpus
    text has no raw newlines, so the query builds a line-structured doc
    with deterministic boilerplate: a 6-word header line repeated
    (doc_id % 4) times above the body — giving the signal a non-trivial,
    oracle-checkable distribution."""
    from metadata_enhanced_pretrain_datapipeline_spark.functions.text import repetition_signals

    d = load(spark, sf, "documents")
    hdr = F.array_join(F.slice(F.split("text", " "), 1, 6), " ")
    reps = (F.col("doc_id") % 4).cast("int")
    derived = F.array_join(
        F.concat(F.array_repeat(hdr, reps), F.array(F.col("text"))), "\n"
    )
    # two-projection compute-once (the q_script_detect r10 lesson):
    # both output fields reference the struct, and codegen does not CSE
    # across duplicated transform() lambda trees
    withs = d.select("doc_id", repetition_signals(derived).alias("sig"))
    return withs.select(
        "doc_id",
        F.round(F.col("sig")["dup_line_frac"], 6).alias("dup_line_frac"),
        F.round(F.col("sig")["dup_line_char_frac"],
                6).alias("dup_line_char_frac"),
    )


@register(
    "q_token_count",
    f"SELECT doc_id, len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS n_bpe_tokens, "
    "len(string_split(text, ' ')) AS n_ws_tokens FROM documents",
)
def q_token_count(spark, sf):
    """Extension — token counting: whitespace + BPE-ish regex."""
    d = load(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_REGEX), F.lit(0))).cast("long").alias(
            "n_bpe_tokens"
        ),
        F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
    )


@register(
    "q_doc_fingerprint",
    "SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint "
    "FROM documents",
)
def q_doc_fingerprint(spark, sf):
    """Extension — document fingerprint (content-hash; dedup key)."""
    d = load(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))).alias("fingerprint"),
    )


def _marker_count_sql(ws):
    inlist = ", ".join(f"'{w}'" for w in ws)
    return f"len(list_filter(string_split(lower(text), ' '), x -> x IN ({inlist})))"


@register(
    "q_lang_id",
    "SELECT doc_id, CASE "
    "WHEN en >= de AND en >= fr AND en >= es THEN 'en' "
    "WHEN de >= fr AND de >= es THEN 'de' "
    "WHEN fr >= es THEN 'fr' ELSE 'es' END AS pred_lang FROM ("
    "SELECT doc_id, "
    + ", ".join(f"{_marker_count_sql(ws)} AS {lang}" for lang, ws in
                [(l, LANG_MARKERS[l]) for l in ("en", "de", "fr", "es")])
    + " FROM documents)",
)
def q_lang_id(spark, sf):
    """Extension — marker-word language-ID heuristic (argmax of per-language
    stopword hit counts; fixed tie order en>de>fr>es)."""
    d = load(spark, sf, "documents")
    toks = F.split(F.lower("text"), " ")
    markers = LANG_MARKERS
    def hit_counter(ws):
        arr = F.array(*[F.lit(w) for w in ws])
        return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))

    cols = {lang: hit_counter(ws).alias(lang) for lang, ws in markers.items()}
    scored = d.select("doc_id", *cols.values())
    pred = (
        F.when(
            (F.col("en") >= F.col("de")) & (F.col("en") >= F.col("fr")) & (F.col("en") >= F.col("es")),
            "en",
        )
        .when((F.col("de") >= F.col("fr")) & (F.col("de") >= F.col("es")), "de")
        .when(F.col("fr") >= F.col("es"), "fr")
        .otherwise("es")
    )
    return scored.select("doc_id", pred.alias("pred_lang"))


# ===========================================================================
# events: windows, sessions, json, as-of, lag
# ===========================================================================


@register(
    "q_event_window_agg",
    "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, "
    "event_type, count(*) AS n, round(sum(value), 2) AS sum_value "
    "FROM events GROUP BY 1, 2",
)
def q_event_window_agg(spark, sf):
    """Extension (SURVEY §2.10/§2.11) — tumbling 1h window agg; same exprs
    as the streaming variant (streaming/events.py)."""
    e = load_events(spark, sf)
    out = aggregates.tumbling_window_agg(
        e,
        "ts",
        ["event_type"],
        "1 hour",
        [F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")],
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )


@register(
    "q_session_window",
    "WITH flagged AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) IS NULL OR "
    "epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800 "
    "THEN 1 ELSE 0 END AS brk FROM events) "
    "SELECT user_id, CAST(sum(brk) AS BIGINT) AS n_sessions FROM flagged GROUP BY user_id",
)
def q_session_window(spark, sf):
    """W1's SQL-expressible core — gap sessionization (30 min) via the
    islands construction (operators/segment.session_breaks)."""
    e = load_events(spark, sf)
    with_sessions = segment.session_breaks(e, "user_id", "ts", 1800)
    return with_sessions.groupBy("user_id").agg(
        (F.max("session_id") + 1).cast("long").alias("n_sessions")
    )


@register(
    "q_event_json",
    "SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) "
    "AS sum_k FROM events GROUP BY event_type",
)
def q_event_json(spark, sf):
    """JSON boundary functions (finemath/main.py:64 json.loads ≡ get_json_object)."""
    e = load_events(spark, sf)
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("int")).alias("sum_k")
    )


@register(
    "q_event_lag_delta",
    "SELECT event_id, round(value - lag(value) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id), 4) AS delta FROM events",
)
def q_event_lag_delta(spark, sf):
    """Order-dependent window op (lag) over the event stream."""
    e = load_events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id", F.round(F.col("value") - F.lag("value").over(w), 4).alias("delta")
    )


@register(
    "q_asof_event_join",
    "WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey "
    "FROM orders GROUP BY o_custkey, o_orderdate) "
    "SELECT e.event_id, o.o_orderkey AS asof_orderkey FROM events e "
    "ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate",
)
def q_asof_event_join(spark, sf):
    """Extension — as-of join (events ↔ latest prior order per key) via the
    union+window plan: ONE shuffle on the key (operators/joins.asof_join)."""
    e = load_events(spark, sf).select("event_id", "user_id", "ts")
    o = (
        load_orders_dated(spark, sf)
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    out = joins.asof_join(
        e, o, "user_id", "o_custkey", "ts", "o_orderdate", ["o_orderkey"]
    )
    return out.select("event_id", F.col("o_orderkey").alias("asof_orderkey"))


# ===========================================================================
# †-queries — no SQL oracle (model/stateful/banding semantics); driver
# records rows-only checks. Deterministic arithmetic cousins above cover
# the checkable parts.
# ===========================================================================


@register("q_mlp_quality_filter")
def q_mlp_quality_filter(spark, sf):
    """† F6 — EmbeddingBinaryClassifierFilter with the real (stub-weighted)
    MLP via Arrow-batched pandas_udf (embeddings_filter.py:13-55)."""
    e = load(spark, sf, "embeddings")
    return annotators.mlp_quality_filter(e, threshold=0.5, dim=64).select(
        "vec_id", F.round("quality_score", 6).alias("quality_score")
    )


@register("q_minhash_lsh_pairs")
def q_minhash_lsh_pairs(spark, sf):
    """† Extension — MinHash+LSH near-dup candidate pairs
    (operators/dedup.minhash_lsh_pairs; no O(n²) stage). Rows-only by
    choice: this is the BENCH path on the fast JVM xxhash64 shingle hash;
    q_minhash_pairs_portable is the oracle-checked md5 twin."""
    d = load(spark, sf, "documents")
    return dedup.minhash_lsh_pairs(d, num_hashes=16, bands=4)


# --- portable-hash dedup oracles ------------------------------------------
# The banding / bit-vote arithmetic is pure SQL; with the md5 shingle hash
# (portable across Spark and DuckDB) the EXACT pair / fingerprint sets are
# oracle-checkable. These builders render the dedup operators' semantics in
# DuckDB SQL; constants must mirror dedup._MINHASH_PARAMS / minhash_expr.

_MERSENNE_P = (1 << 31) - 1


def _shingle_ctes(where: str, n: int = 3, src: str = "documents") -> str:
    """tok/sh CTE pair: word_shingles(text, n) parity (functions/text.py) —
    trim → whitespace split → drop empties → n-gram join → DISTINCT."""
    parts = " || ' ' || ".join(f"ws[i + {j}]" for j in range(n))
    return (
        "tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), "
        f"'\\s+'), x -> x <> '') AS ws FROM {src}{where}), "
        f"sh AS (SELECT DISTINCT doc_id, {parts} AS shingle "
        f"FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - {n - 2}, 1))) AS i "
        "FROM tok))"
    )


def _minhash_bands_sql(num_hashes: int, bands: int, shingle_n: int = 3,
                       where: str = "", src: str = "documents") -> str:
    """DuckDB CTE chain ending in ``bands(doc_id, band, key)`` — the twin
    of dedup.minhash_band_keys (and the shared prefix of the LSH-pairs
    oracle below). One chain serves both the 'seen' and 'new' halves of
    the incremental-dedup oracle, since a doc's signature depends only on
    its own text."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators.dedup import _MINHASH_PARAMS

    rows_per_band = num_hashes // bands
    mh_cols = ", ".join(
        f"min((h % {_MERSENNE_P} * {a} + {b}) % {_MERSENNE_P}) AS mh_{i}"
        for i, (a, b) in enumerate(_MINHASH_PARAMS[:num_hashes])
    )
    # key = portable 64-bit hash of the band's components (r6: the store
    # and every (band, key) exchange move fixed-width longs, not strings)
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + md5_hash64_sql(
            " || '_' || ".join(
                f"CAST(mh_{b * rows_per_band + r} AS VARCHAR)"
                for r in range(rows_per_band)
            )
        )
        + " AS key FROM mh"
        for b in range(bands)
    )
    return (
        f"{_shingle_ctes(where, shingle_n, src)}, "
        f"h AS (SELECT DISTINCT doc_id, {md5_hash64_sql('shingle')} AS h FROM sh), "
        f"mh AS (SELECT doc_id, {mh_cols} FROM h GROUP BY doc_id), "
        f"bands AS ({band_selects})"
    )


def _minhash_pairs_sql(where: str, num_hashes: int, bands: int,
                       max_bucket_size: int, shingle_n: int = 3,
                       src: str = "documents", prefix_ctes: str = "") -> str:
    """DuckDB twin of dedup.minhash_lsh_pairs(portable=True).

    ``src``/``prefix_ctes`` let a caller band a DERIVED corpus: pass the
    defining CTE(s) in ``prefix_ctes`` and their name as ``src`` (the
    edit-distance oracle bands an augmented union this way)."""
    pre = f"{prefix_ctes}, " if prefix_ctes else ""
    return (
        f"WITH {pre}{_minhash_bands_sql(num_hashes, bands, shingle_n, where, src)}, "
        "kept AS (SELECT band, key FROM bands GROUP BY band, key "
        f"         HAVING count(*) BETWEEN 2 AND {max_bucket_size}), "
        "el AS (SELECT b.doc_id, b.band, b.key FROM bands b JOIN kept USING (band, key)) "
        "SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
        "FROM el a JOIN el b ON a.band = b.band AND a.key = b.key "
        "AND a.doc_id < b.doc_id"
    )


_SIMHASH_BITS = 16


def _simhash_sql(where: str = "", bits: int = _SIMHASH_BITS,
                 src: str = "documents") -> str:
    """DuckDB twin of dedup.simhash(portable=True): per-bit +1/-1 votes over
    the distinct-shingle hash array; docs with no shingles fingerprint 0."""
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) % 2 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return (
        f"WITH {_shingle_ctes(where, 3, src)}, "
        f"h AS (SELECT doc_id, {md5_hash64_sql('shingle')} AS h FROM sh), "
        f"v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id), "
        f"fp AS (SELECT doc_id, {fp} AS simhash FROM v) "
        "SELECT d.doc_id, CAST(COALESCE(fp.simhash, 0) AS BIGINT) AS simhash "
        f"FROM (SELECT doc_id FROM {src}{where}) d LEFT JOIN fp USING (doc_id)"
    )


@register("q_minhash_pairs_portable", _minhash_pairs_sql("", 8, 4, 64))
def q_minhash_pairs_portable(spark, sf):
    """Extension — oracle-checked MinHash-LSH twin on the portable md5
    shingle hash: DuckDB reproduces the exact candidate-pair set (banding
    is plain GROUP BY arithmetic). The xxhash64 fast path stays on
    q_minhash_lsh_pairs for bench."""
    d = load(spark, sf, "documents")
    return dedup.minhash_lsh_pairs(d, num_hashes=8, bands=4,
                                   max_bucket_size=64, portable=True)


@register(
    "q_duplicate_clusters",
    # transitive closure over the portable pair set: recursive label
    # spread with set-union dedup, then min reachable id per node
    "WITH RECURSIVE pairs AS (" + _minhash_pairs_sql("", 8, 4, 64) + "), "
    "e AS (SELECT id_a AS src, id_b AS dst FROM pairs "
    "  UNION ALL SELECT id_b, id_a FROM pairs), "
    "n AS (SELECT DISTINCT src AS node FROM e), "
    "reach AS (SELECT node, node AS lab FROM n "
    "  UNION SELECT e.dst AS node, reach.lab FROM reach "
    "    JOIN e ON e.src = reach.node) "
    "SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id "
    "FROM reach GROUP BY node",
)
def q_duplicate_clusters(spark, sf):
    """Extension — transitive near-duplicate clusters (connected
    components) over the portable MinHash-LSH pair set, via min-label
    propagation with pointer doubling — O(log n) rounds
    (operators/dedup.duplicate_clusters). The
    DuckDB oracle computes the exact transitive closure with a recursive
    CTE, so every chain a-b-c must collapse to one cluster id."""
    d = load(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(d, num_hashes=8, bands=4,
                                    max_bucket_size=64, portable=True)
    return dedup.duplicate_clusters(pairs)


@register(
    "q_minhash_est_jaccard",
    "WITH pairs AS (" + _minhash_pairs_sql("", 8, 4, 64) + "), "
    + _minhash_bands_sql(8, 4) + " "
    "SELECT p.id_a, p.id_b, ("
    + " + ".join(f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END"
                 for i in range(8))
    + ") / 8.0 AS est_jaccard "
    "FROM pairs p JOIN mh a ON a.doc_id = p.id_a "
    "JOIN mh b ON b.doc_id = p.id_b",
)
def q_minhash_est_jaccard(spark, sf):
    """Extension — signature-estimated Jaccard for every LSH candidate
    pair (operators/dedup.minhash_estimate_jaccard): the matching-
    component fraction scores candidates WITHOUT touching text — the
    store-only verification step for incremental dedup threshold
    tuning. Division by 8 is exact, so the whole scored pair set is
    hash-checked."""
    d = load(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(d, num_hashes=8, bands=4,
                                    max_bucket_size=64, portable=True)
    sigs = dedup.minhash_signatures(d.select("doc_id", "text"),
                                    num_hashes=8, portable=True)
    return dedup.minhash_estimate_jaccard(pairs, sigs, num_hashes=8)


@register(
    "q_minhash_dedup_against",
    "WITH " + _minhash_bands_sql(8, 4) + ", "
    "coll AS (SELECT DISTINCT n.doc_id FROM bands n "
    "  JOIN (SELECT DISTINCT band, key FROM bands WHERE doc_id % 5 = 0) s "
    "  USING (band, key) WHERE n.doc_id % 5 <> 0) "
    "SELECT doc_id FROM documents WHERE doc_id % 5 <> 0 "
    "AND doc_id NOT IN (SELECT doc_id FROM coll)",
)
def q_minhash_dedup_against(spark, sf):
    """Extension — incremental FUZZY dedup against a signature store
    (operators/dedup.minhash_band_keys + minhash_dedup_against): the
    'seen' snapshot (doc_id % 5 = 0) is reduced to its LSH band keys
    once, and the new snapshot drops every doc sharing any band key —
    the monthly-crawl workflow where last month's 100 TB is only ever
    touched as its (band, key) store, never re-shingled. The oracle
    replays signatures and banding for both halves and the kept set is
    hash-checked."""
    d = load(spark, sf, "documents")
    seen = d.filter(F.col("doc_id") % 5 == 0)
    new = d.filter(F.col("doc_id") % 5 != 0)
    store = dedup.minhash_band_keys(
        dedup.minhash_signatures(seen.select("doc_id", "text"),
                                 num_hashes=8, portable=True),
        num_hashes=8, bands=4, portable=True)
    kept = dedup.minhash_dedup_against(new, store, num_hashes=8, bands=4,
                                       portable=True)
    return kept.select("doc_id")


@register("q_simhash", _simhash_sql())
def q_simhash(spark, sf):
    """Extension — SimHash fingerprints (operators/dedup.simhash), portable
    md5 hash so the per-bit vote arithmetic is oracle-checked exactly."""
    d = load(spark, sf, "documents")
    return dedup.simhash(d, bits=_SIMHASH_BITS, portable=True).select("doc_id", "simhash")


@register(
    "q_ngram_jaccard_sampled",
    f"WITH {_shingle_ctes(' WHERE doc_id % 10 = 0', 2)}, "
    "sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
    "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common "
    "  FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id "
    "  GROUP BY a.doc_id, b.doc_id), "
    "j AS (SELECT id_a, id_b, CAST(n_common AS DOUBLE) / "
    "  (sa.n_sh + sb.n_sh - n_common) AS raw FROM inter "
    "  JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b) "
    "SELECT id_a, id_b, round(raw, 6) AS jaccard FROM j WHERE raw >= 0.05",
)
def q_ngram_jaccard_sampled(spark, sf):
    """Extension — n-gram Jaccard over shingle inverted index, thresholded
    (operators/dedup.jaccard_pairs), run on a 1-in-10 doc_id SAMPLE (the
    name says so): jaccard_pairs is the exact in-bucket VERIFIER, not a
    full-corpus pair generator — at scale it runs on LSH candidates
    (minhash_lsh_pairs), and here on a sample that bounds pair volume.
    Bigram shingles + low threshold: the synthetic docs share little
    verbatim text, so trigram/0.2 settings return an empty (hence
    meaningless) gate result. Oracle-checked: the inverted-index join is
    plain SQL (shingles are strings, no hashing involved)."""
    d = load(spark, sf, "documents")
    sample = d.filter(F.col("doc_id") % 10 == 0)
    return dedup.jaccard_pairs(sample, shingle_n=2, min_jaccard=0.05).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


@register(
    "q_dedup_against_snapshot",
    # the 'previous snapshot' is the doc_id % 3 = 0 slice PLUS case/
    # whitespace-mangled copies of the doc_id % 10 = 1 docs (the synthetic
    # corpus has no natural exact clones, so the mangled copies force the
    # digest path to bite AND prove normalization: the mangle must not
    # change the key). Survivors: fresh docs matching no seen digest.
    "WITH k AS (SELECT doc_id, source, md5(lower(trim(regexp_replace("
    "  text, '\\s+', ' ', 'g')))) AS tk FROM documents) "
    "SELECT doc_id, source FROM k WHERE doc_id % 3 <> 0 AND (tk IS NULL "
    "  OR tk NOT IN (SELECT tk FROM k WHERE (doc_id % 3 = 0 "
    "  OR doc_id % 10 = 1) AND tk IS NOT NULL))",
)
def q_dedup_against_snapshot(spark, sf):
    """Extension — cross-snapshot incremental dedup (operators/dedup.
    dedup_against): the new crawl (doc_id % 3 <> 0) is deduped against
    the previous snapshot's content digests — the % 3 = 0 slice plus
    upper-cased, whitespace-padded copies of the % 10 = 1 docs, which
    must still collide through the normalized key."""
    d = load(spark, sf, "documents")
    mangled = d.filter(F.col("doc_id") % 10 == 1).select(
        F.concat(F.upper(F.col("text")), F.lit("   ")).alias("text"))
    seen = d.filter(F.col("doc_id") % 3 == 0).select("text").unionByName(mangled)
    fresh = d.filter(F.col("doc_id") % 3 != 0)
    return dedup.dedup_against(fresh, seen).select("doc_id", "source")


_CANON_URL_BUILD = (
    "CASE doc_id % 4 "
    "WHEN 0 THEN 'HTTPS://WWW.SITE' || (doc_id // 4) % 7 || "
    "  '.EXAMPLE.COM:443/page/' || doc_id // 4 || "
    "  '/?utm_source=feed&id=' || doc_id // 4 "
    "WHEN 1 THEN 'https://site' || (doc_id // 4) % 7 || "
    "  '.example.com/page/' || doc_id // 4 || '?id=' || doc_id // 4 "
    "WHEN 2 THEN 'https://site' || (doc_id // 4) % 7 || "
    "  '.example.com:443/page/' || doc_id // 4 || '?id=' || doc_id // 4 "
    "  || '#top' "
    "ELSE 'http://site' || (doc_id // 4) % 7 || '.example.com/page/' || "
    "  doc_id // 4 || '?id=' || doc_id // 4 END"
)

_CANON_URL_SQL = (
    # scheme-specific default-port strip, mirroring canonical_url; the
    # malformed-URL passthrough branch never fires here (every
    # constructed URL parses)
    "lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) || '://' || "
    "CASE lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) "
    "  WHEN 'http' THEN regexp_replace(regexp_replace(lower(regexp_extract(u, "
    "    '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)), '^www\\.', ''), "
    "    ':80$', '') "
    "  WHEN 'https' THEN regexp_replace(regexp_replace(lower(regexp_extract(u, "
    "    '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)), '^www\\.', ''), "
    "    ':443$', '') "
    "  ELSE regexp_replace(lower(regexp_extract(u, "
    "    '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)), '^www\\.', '') END || "
    "regexp_replace(regexp_extract(regexp_replace(regexp_extract(u, "
    "  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$', 1), '#.*$', ''), "
    "  '^([^?]*)', 1), '/+$', '') || "
    "CASE WHEN array_to_string(list_filter(string_split(regexp_extract("
    "  regexp_replace(regexp_extract(u, "
    "  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$', 1), '#.*$', ''), "
    "  '\\?(.*)$', 1), '&'), p -> p <> '' AND substr(p, 1, 4) <> 'utm_' "
    "  AND substr(p, 1, 6) <> 'fbclid' AND substr(p, 1, 5) <> 'gclid'), "
    "  '&') <> '' THEN '?' || array_to_string(list_filter(string_split("
    "  regexp_extract(regexp_replace(regexp_extract(u, "
    "  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$', 1), '#.*$', ''), "
    "  '\\?(.*)$', 1), '&'), p -> p <> '' AND substr(p, 1, 4) <> 'utm_' "
    "  AND substr(p, 1, 6) <> 'fbclid' AND substr(p, 1, 5) <> 'gclid'), "
    "  '&') ELSE '' END"
)


@register(
    "q_url_canonical_dedup",
    "WITH raw AS (SELECT doc_id, " + _CANON_URL_BUILD + " AS u FROM documents), "
    "c AS (SELECT doc_id, " + _CANON_URL_SQL + " AS canon FROM raw) "
    "SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, canon AS canonical_url "
    "FROM c GROUP BY canon",
)
def q_url_canonical_dedup(spark, sf):
    """Extension — URL-level dedup after canonicalization (the
    CommonCrawl normalization: case, www., default ports, fragments,
    trailing slashes, tracking params). The query manufactures four
    deterministic variants per page id — three that must collapse to one
    canonical form (first doc_id wins) and an http:// one that must
    stay distinct (functions/urlf.canonical_url + dedup.dedup_exact)."""
    d = load(spark, sf, "documents")
    page = F.floor(F.col("doc_id") / 4)
    host_n = (page % 7).cast("string")
    pg = page.cast("string")
    v = F.col("doc_id") % 4
    u = (
        F.when(v == 0, F.concat(
            F.lit("HTTPS://WWW.SITE"), host_n, F.lit(".EXAMPLE.COM:443/page/"),
            pg, F.lit("/?utm_source=feed&id="), pg))
        .when(v == 1, F.concat(
            F.lit("https://site"), host_n, F.lit(".example.com/page/"),
            pg, F.lit("?id="), pg))
        .when(v == 2, F.concat(
            F.lit("https://site"), host_n, F.lit(".example.com:443/page/"),
            pg, F.lit("?id="), pg, F.lit("#top")))
        .otherwise(F.concat(
            F.lit("http://site"), host_n, F.lit(".example.com/page/"),
            pg, F.lit("?id="), pg))
    )
    with_canon = d.select(
        "doc_id", canonical_url(u).alias("canonical_url"))
    kept = dedup.dedup_exact(
        with_canon, F.col("canonical_url"), [F.col("doc_id")])
    return kept.select("doc_id", "canonical_url")


#: leakage-safe split thresholds — computed ONCE in Python and formatted
#: into both engines, so the integer literals are bit-identical
_SPLIT_LO = int(0.9 * (1 << 60))
_SPLIT_HI = int(0.95 * (1 << 60))
_SPLIT_H = salted_hash_sql("COALESCE(cl.cluster_id, d.doc_id)", 13)


@register(
    "q_mix_pipeline",
    # the full curation chain a real pretraining run executes, each stage
    # the proven oracle piece: fuzzy dedup (portable MinHash pairs,
    # min-id survives) → benchmark decontamination (8-gram broadcast) →
    # length gate → per-host cap (row_number twin of the bucketed
    # two-phase cap) → temperature mix (sqrt-exact rates, salt 7) →
    # per-source 600-token budget (hash priority) → leakage-safe split
    # (recursive-CTE transitive closure over the SAME pair set, integer
    # hash thresholds) → per-(source, split) accounting
    "WITH RECURSIVE pairs AS (" + _minhash_pairs_sql("", 8, 4, 64) + "), "
    "d1 AS (SELECT * FROM documents WHERE doc_id NOT IN "
    "  (SELECT DISTINCT id_b FROM pairs)), "
    + _shingle_ctes("", 8) + ", "
    "h AS (SELECT doc_id, " + md5_hash64_sql("shingle") + " AS h FROM sh), "
    "bh AS (SELECT DISTINCT h FROM h WHERE doc_id % 37 = 0), "
    "contam AS (SELECT DISTINCT doc_id FROM h JOIN bh USING (h)), "
    "d3 AS (SELECT *, source || '.' || lang || '.example.com' AS host "
    "  FROM d1 WHERE doc_id NOT IN "
    "  (SELECT doc_id FROM contam) AND length(text) >= 100), "
    "hc AS (SELECT * FROM (SELECT d3.*, row_number() OVER ("
    "  PARTITION BY host ORDER BY " + salted_hash_sql("doc_id")
    + ", doc_id) AS rn FROM d3) WHERE rn <= 15), "
    "c AS (SELECT source, count(*) AS n FROM hc GROUP BY source), "
    "m AS (SELECT max(n) AS nmax FROM c), "
    "r AS (SELECT source, least(1.0, 0.7 * sqrt(nmax / n)) AS f FROM c, m), "
    "d4 AS (SELECT hc.* FROM hc JOIN r "
    "  ON hc.source IS NOT DISTINCT FROM r.source "
    "  WHERE " + salted_hash_sql("doc_id", 7) + " < f * 1152921504606846976.0), "
    "t AS (SELECT doc_id, source, len(list_filter(regexp_split_to_array("
    "  trim(text), '\\s+'), x -> x <> '')) AS n, "
    + salted_hash_sql("doc_id") + " AS hh FROM d4), "
    "cum AS (SELECT doc_id, source, n, sum(n) OVER (PARTITION BY source "
    "  ORDER BY hh, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT "
    "  ROW) AS c FROM t), "
    "bd AS (SELECT doc_id, source, n FROM cum WHERE c <= 600), "
    "e AS (SELECT id_a AS src, id_b AS dst FROM pairs "
    "  UNION ALL SELECT id_b, id_a FROM pairs), "
    "nodes AS (SELECT DISTINCT src AS node FROM e), "
    "reach AS (SELECT node, node AS lab FROM nodes "
    "  UNION SELECT e.dst AS node, reach.lab FROM reach "
    "    JOIN e ON e.src = reach.node), "
    "cl AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach "
    "  GROUP BY node), "
    "sp AS (SELECT d.source, d.n, "
    f"CASE WHEN {_SPLIT_H} < {_SPLIT_LO} THEN 'train' "
    f"WHEN {_SPLIT_H} < {_SPLIT_HI} THEN 'validation' ELSE 'test' END "
    "AS split FROM bd d LEFT JOIN cl USING (doc_id)) "
    "SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs, "
    "  CAST(sum(n) AS BIGINT) AS total_tokens "
    "FROM sp GROUP BY source, split",
)
def q_mix_pipeline(spark, sf):
    """The engine's reason to exist, end to end: fuzzy dedup →
    benchmark decontamination → quality gate → per-host cap →
    temperature source mixing → per-source token budget → leakage-safe
    train/val/test split → mix accounting per (source, split). Every
    stage is the real operator (minhash_dedup's pair/drop pieces,
    decontaminate, per_host_cap, temperature_mix, token_budget_cap,
    duplicate_clusters + leakage_safe_split — the split reuses the SAME
    candidate-pair set stage 1 computed, so near-twins that survived the
    greedy dedup still can't straddle eval/train) and the whole chain is
    hash-checked against one composed DuckDB oracle."""
    d = load(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(d, num_hashes=8, bands=4,
                                    max_bucket_size=64, portable=True)
    # the pair set is consumed TWICE (greedy drop now, cluster closure
    # for the split later) — materialize it so the minhash subtree runs
    # once; lazy, so the first real action pays for it
    pairs = materialize(pairs, eager=False)
    d1 = dedup.drop_near_duplicates(d, pairs)
    bench = d.filter(F.col("doc_id") % 37 == 0)
    d2 = dedup.decontaminate(d1, bench, shingle_n=8, portable=True)
    # materialization boundary: the tail is multi-action (per_host_cap
    # and token_budget_cap each collect per-bucket offsets, then the
    # final aggregate runs) and each action would otherwise re-execute
    # the whole minhash+decontamination subtree. Checkpointing the gated
    # corpus here runs that subtree ONCE — the same persist point a
    # 100 TB pipeline would write to durable storage between its dedup
    # and mixing phases (reliable mode via MEP_SPARK_CHECKPOINT_DIR).
    d3 = materialize(
        d2.filter(F.length("text") >= 100).withColumn(
            "host",
            F.concat(F.col("source"), F.lit("."), F.col("lang"),
                     F.lit(".example.com"))),
        eager=False)
    hc = sampling.per_host_cap(d3, "host", 15, F.col("doc_id"))
    d4 = sampling.temperature_mix(hc, "source", F.col("doc_id"),
                                  base_rate=0.7, salt=7)
    # project to the three columns the tail actually reads BEFORE the
    # budget cap (r12, guide "project before the exchange"): text was
    # riding through the cap's offset aggregation and in-bucket window
    # shuffles, and the remaining tail is again multi-action (the cap's
    # offset collect + the final aggregate), so the narrow frame is
    # also a materialize boundary — the host-cap/mix chain runs once.
    d4 = materialize(
        d4.select("doc_id", "source",
                  F.size(tokens_ws(F.col("text"))).alias("n_tokens")),
        eager=False)
    d5 = sampling.token_budget_cap(d4, "source", F.col("n_tokens"), 600,
                                   F.col("doc_id"))
    clusters = dedup.duplicate_clusters(pairs)
    out = sampling.leakage_safe_split(d5, clusters, boundaries=(0.9, 0.95),
                                      salt=13)
    return out.groupBy("source", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@register(
    "q_repeated_ngram_excise",
    "WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array("
    "  trim(text), '\\s+'), x -> x <> '') AS ws FROM documents), "
    "g AS (SELECT doc_id, s, "
    + md5_hash64_sql("array_to_string(list_slice(ws, s, s + 4), ' ')")
    + " AS h FROM (SELECT doc_id, ws, "
    "  unnest(range(1, len(ws) - 3)) AS s FROM tok)), "
    "rep AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2), "
    "fl AS (SELECT doc_id, list(s) AS starts FROM g JOIN rep USING (h) "
    "  GROUP BY doc_id), "
    "w AS (SELECT doc_id, unnest(ws) AS w, unnest(range(1, len(ws) + 1)) "
    "  AS j FROM tok), "
    "keep AS (SELECT w.doc_id, w.w, w.j FROM w LEFT JOIN fl USING (doc_id) "
    "  WHERE fl.starts IS NULL OR len(list_filter(fl.starts, "
    "    s -> s <= w.j AND w.j <= s + 4)) = 0) "
    "SELECT t.doc_id, CAST(coalesce(k.n, 0) AS INT) AS n_kept_words, "
    "  coalesce(k.txt, '') AS text FROM tok t LEFT JOIN "
    "  (SELECT doc_id, count(*) AS n, string_agg(w, ' ' ORDER BY j) AS txt "
    "   FROM keep GROUP BY doc_id) k USING (doc_id)",
)
def q_repeated_ngram_excise(spark, sf):
    """Extension — substring-level corpus dedup (Lee et al. 2022): every
    word 5-gram occurring twice-or-more across the corpus is excised from
    every document and the text rebuilt
    (operators/dedup.excise_repeated_ngrams, portable hash). The oracle
    replays the positional n-gram hashing, occurrence count, and
    window-cover excision in SQL and hash-compares the full rebuilt
    texts. Distinct from within-doc repetition signals (Gopher),
    line-level boilerplate removal, and whole-doc near-dup — this kills
    repeated SPANS wherever they appear."""
    d = load(spark, sf, "documents")
    return dedup.excise_repeated_ngrams(d, n=5, min_count=2, portable=True)


@register("q_compression_ratio")
def q_compression_ratio(spark, sf):
    """† Extension — deflate compression-ratio quality signal
    (operators/annotators.compression_ratio). Rows-only BY NECESSITY:
    the oracle engine has no zlib, so no SQL twin can exist; local tests
    pin closed-form cases (repetitive ≪ prose, empty/NULL handling)."""
    d = load(spark, sf, "documents")
    out = annotators.compression_ratio(d)
    return out.select("doc_id", "raw_bytes", F.round("ratio", 6).alias("ratio"))


#: char-bigram LM scoring CTE chain (shared by q_char_lm_score and
#: q_perplexity_buckets): s = (doc_id, n_bigrams, avg_logp) for every doc
#: that HAS bigrams.
_CHAR_LM_CTES = (
    "b AS (SELECT doc_id, substr(text, i, 2) AS bg FROM "
    "  (SELECT doc_id, text, unnest(range(1, length(text))) AS i "
    "   FROM documents)), "
    "m AS (SELECT bg, count(*) AS c FROM b GROUP BY bg), "
    "f AS (SELECT substr(bg, 1, 1) AS c1, sum(c) AS fc FROM m GROUP BY 1), "
    "v AS (SELECT count(DISTINCT substr(bg, 2, 1)) AS vocab FROM m), "
    "s AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, "
    "  round(avg(ln((coalesce(m.c, 0) + 1) / (coalesce(f.fc, 0) + v.vocab))), "
    "        4) AS avg_logp "
    "FROM b LEFT JOIN m USING (bg) "
    "LEFT JOIN f ON substr(b.bg, 1, 1) = f.c1 CROSS JOIN v "
    "GROUP BY b.doc_id)"
)


@register(
    "q_char_lm_score",
    f"WITH {_CHAR_LM_CTES} "
    "SELECT d.doc_id, CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams, "
    "  s.avg_logp FROM documents d LEFT JOIN s USING (doc_id)",
)
def q_char_lm_score(spark, sf):
    """Extension — CCNet-style LM quality scoring with a corpus-trained
    character-bigram model (operators/lm.py): one agg trains the
    alphabet-bounded model, it broadcasts back, and every doc gets its
    mean bigram log-probability. Deterministic arithmetic end to end, so
    unlike the neural stubs this quality scorer is fully oracle-checked."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators import lm

    d = load(spark, sf, "documents")
    model = lm.char_lm_model(d)
    return lm.char_lm_score(d, model)


@register(
    "q_perplexity_buckets",
    f"WITH {_CHAR_LM_CTES}, "
    "r AS (SELECT doc_id, avg_logp, "
    "  row_number() OVER (ORDER BY avg_logp, doc_id) AS pos, "
    "  count(*) OVER () AS tot FROM s) "
    "SELECT doc_id, avg_logp, CASE ((pos - 1) * 3) // tot "
    "  WHEN 2 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END "
    "  AS ppl_bucket FROM r",
)
def q_perplexity_buckets(spark, sf):
    """Extension — the CCNet head/middle/tail perplexity partition: score
    every doc with the corpus char-bigram LM, rank by score, and split
    into thirds (head = most corpus-typical). Spark-first the global rank
    uses sampling.global_rank (range boundaries as plan literals — no
    single-task window sort at 100 TB); the explicit ((pos-1)*3) div total
    bucket formula, rather than each engine's ntile, makes the tie-split
    engine-identical and the whole partition hash-checkable."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators import lm

    d = load(spark, sf, "documents")
    # global_rank scans its input 3x (quantiles, counts, ranking) — per
    # its docstring, persist an expensive upstream first: the scoring
    # chain explodes the corpus to bigrams, the boundary is (id, score).
    # materialize(eager=False) persists recomputable blocks (a lazy
    # localCheckpoint here would strand executor-local blocks a lost
    # node cannot recompute) and upgrades to a reliable checkpoint
    # under MEP_SPARK_CHECKPOINT_DIR.
    scores = materialize(lm.char_lm_score(d, lm.char_lm_model(d)).filter(
        F.col("n_bigrams") > 0), eager=False)
    ranked, total = sampling.global_rank(
        scores, [F.col("avg_logp"), F.col("doc_id")], with_total=True)
    bucket = F.floor(((F.col("pos") - 1) * 3) / F.lit(total)).cast("int")
    return ranked.select(
        "doc_id", "avg_logp",
        F.when(bucket == 2, "head").when(bucket == 1, "middle")
        .otherwise("tail").alias("ppl_bucket"),
    )


@register(
    "q_boilerplate_removal",
    "WITH src AS (SELECT doc_id, replace(text, ' table ', '.' || chr(10)) "
    "  AS t FROM documents), "
    "lf AS (SELECT doc_id, list_filter(list_transform(string_split(t, "
    "  chr(10)), x -> trim(x)), x -> x <> '') AS lines FROM src), "
    "l AS (SELECT doc_id, unnest(lines) AS ln, "
    "  unnest(range(len(lines))) AS i FROM lf), "
    "bl AS (SELECT ln FROM (SELECT DISTINCT doc_id, ln FROM l) "
    "  GROUP BY ln HAVING count(*) > 2) "
    "SELECT doc_id, string_agg(ln, chr(10) ORDER BY i) AS text "
    "FROM l WHERE ln NOT IN (SELECT ln FROM bl) GROUP BY doc_id",
)
def q_boilerplate_removal(spark, sf):
    """Extension — CCNet-style cross-document boilerplate removal: lines
    shared by more than 2 docs (nav/footer analogues) are dropped from
    every document and the text rebuilt (operators/dedup.
    drop_boilerplate_lines). Line structure is manufactured from the
    single-line synthetic docs the same way as q_c4_line_filter."""
    d = load(spark, sf, "documents").select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" table "), F.lit(".\n")).alias("text"),
    )
    out = dedup.drop_boilerplate_lines(d, max_docs=2)
    return out.select("doc_id", "text")


@register(
    "q_c4_line_filter",
    "WITH src AS (SELECT doc_id, replace(replace(text, ' spark ', "
    "  ' javascript '), ' table ', '.' || chr(10)) AS t FROM documents), "
    "k AS (SELECT doc_id, list_filter(list_transform(string_split(t, "
    "  chr(10)), l -> trim(l)), "
    "  l -> right(l, 1) IN ('.', '!', '?', '\"') "
    "    AND len(list_filter(regexp_split_to_array(l, '\\s+'), "
    "        x -> x <> '')) >= 3 "
    "    AND NOT contains(lower(l), 'javascript')) AS kept "
    "  FROM src WHERE NOT contains(t, '{') "
    "    AND NOT contains(lower(t), 'lorem ipsum')) "
    "SELECT doc_id, CAST(len(kept) AS INT) AS n_lines_kept, "
    "  array_to_string(kept, chr(10)) AS text FROM k WHERE len(kept) >= 1",
)
def q_c4_line_filter(spark, sf):
    """Extension — the C4 structural clean (Raffel et al. 2020 §2.2:
    terminal-punctuation lines, >=3 words, javascript/brace/lorem rules).
    The synthetic docs are single-line with no punctuation, so the query
    MANUFACTURES line structure first with literal replaces (' table ' →
    sentence break, ' spark ' → 'javascript' so the lexicon rule fires) —
    identical literal-replace semantics in both engines; the operator
    itself (operators/filters.c4_line_filter) is generic."""
    d = load(spark, sf, "documents")
    t2 = F.replace(
        F.replace(F.col("text"), F.lit(" spark "), F.lit(" javascript ")),
        F.lit(" table "), F.lit(".\n"))
    out = filters.c4_line_filter(d.withColumn("text", t2), min_words=3)
    return out.select("doc_id", "n_lines_kept", "text")


@register(
    "q_temperature_mix",
    "WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source), "
    "m AS (SELECT max(n) AS nmax FROM c), "
    "r AS (SELECT source, least(1.0, 0.5 * sqrt(nmax / n)) AS f FROM c, m) "
    # IS NOT DISTINCT FROM mirrors the Spark side's eqNullSafe: a
    # null-source row must match its own rate row, not vanish
    "SELECT d.doc_id, d.source FROM documents d JOIN r "
    "ON d.source IS NOT DISTINCT FROM r.source "
    "WHERE " + salted_hash_sql("doc_id", 7) + " < f * 1152921504606846976.0",
)
def q_temperature_mix(spark, sf):
    """Extension — temperature-weighted source mixing (XLM-R/mT5 n^alpha
    rule at alpha=1/2): per-source keep rate min(1, 0.5*sqrt(n_max/n_s)).
    sqrt/div/mul are IEEE-exact-rounded, so the DuckDB oracle reproduces
    the double threshold bit-for-bit (operators/sampling.temperature_mix)."""
    d = load(spark, sf, "documents")
    mixed = sampling.temperature_mix(d, "source", F.col("doc_id"),
                                     base_rate=0.5, salt=7)
    return mixed.select("doc_id", "source")


@register(
    "q_token_budget_cap",
    "WITH t AS (SELECT doc_id, source, "
    "  len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
    "      x -> x <> '')) AS n, "
    + salted_hash_sql("doc_id") + " AS h FROM documents), "
    "c AS (SELECT doc_id, source, sum(n) OVER (PARTITION BY source "
    "  ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
    "  AS cum FROM t) "
    "SELECT doc_id, source FROM c WHERE cum <= 800",
)
def q_token_budget_cap(spark, sf):
    """Extension — per-source token budget (800 tokens): keep docs in
    hash-priority order while the running inclusive token sum fits. The
    Spark side runs the bucketed two-phase form (no single-task per-group
    sort — operators/sampling.token_budget_cap); the oracle is the naive
    cumulative window, proving the decomposition exact."""
    d = load(spark, sf, "documents")
    capped = sampling.token_budget_cap(
        d, "source", F.size(tokens_ws(F.col("text"))), 800, F.col("doc_id"))
    return capped.select("doc_id", "source")


_DECONTAM_SQL_HITS = (
    "WITH " + _shingle_ctes("", 8) + ", "
    "h AS (SELECT doc_id, " + md5_hash64_sql("shingle") + " AS h FROM sh), "
    "bh AS (SELECT DISTINCT h FROM h WHERE doc_id % 37 = 0) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS contam_hits "
    "FROM h JOIN bh USING (h) GROUP BY doc_id"
)


@register(
    "q_multi_benchmark_contamination",
    "WITH " + _shingle_ctes("", 8) + ", "
    "h AS (SELECT doc_id, " + md5_hash64_sql("shingle") + " AS h FROM sh), "
    "bh AS (SELECT 'a' AS benchmark_id, h FROM "
    "  (SELECT DISTINCT h FROM h WHERE doc_id % 37 = 0) "
    "UNION ALL SELECT 'b' AS benchmark_id, h FROM "
    "  (SELECT DISTINCT h FROM h WHERE doc_id % 41 = 0)) "
    "SELECT doc_id, benchmark_id, CAST(count(*) AS BIGINT) AS contam_hits "
    "FROM h JOIN bh USING (h) GROUP BY doc_id, benchmark_id",
)
def q_multi_benchmark_contamination(spark, sf):
    """Extension — decontamination against MANY eval sets in ONE corpus
    pass (operators/dedup.multi_benchmark_contamination): two synthetic
    benchmarks (doc_id % 37 / % 41) share one broadcast of (benchmark,
    shingle-hash) pairs and one corpus shingle explosion; the oracle
    replays both per-benchmark joins and the driver hash-checks every
    (doc, benchmark, hits) row. Real pipelines decontaminate against
    dozens of benchmarks — at 100 TB the corpus scan is the cost, and
    this does it once instead of once per benchmark."""
    d = load(spark, sf, "documents")
    b = (
        d.filter(F.col("doc_id") % 37 == 0).withColumn("benchmark_id", F.lit("a"))
        .unionByName(
            d.filter(F.col("doc_id") % 41 == 0).withColumn("benchmark_id", F.lit("b"))
        )
    )
    return dedup.multi_benchmark_contamination(d, b, portable=True)


@register("q_contamination_hits", _DECONTAM_SQL_HITS)
def q_contamination_hits(spark, sf):
    """Extension — benchmark n-gram decontamination flag pass (the
    GPT-3/Pile 13-gram rule at n=8 for the short synthetic docs): docs
    sharing any distinct 8-gram with the 'benchmark' set (doc_id % 37 = 0,
    which also self-matches — a live canary that the join fires). The
    benchmark shingle-hash set broadcasts; the corpus never shuffles its
    shingles (operators/dedup.contamination_hits)."""
    d = load(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 37 == 0)
    return dedup.contamination_hits(d, bench, shingle_n=8, portable=True)


@register(
    "q_decontaminate_kept",
    "WITH " + _shingle_ctes("", 8) + ", "
    "h AS (SELECT doc_id, " + md5_hash64_sql("shingle") + " AS h FROM sh), "
    "bh AS (SELECT DISTINCT h FROM h WHERE doc_id % 37 = 0) "
    "SELECT source, count(*) AS n_kept FROM documents WHERE doc_id NOT IN "
    "(SELECT DISTINCT doc_id FROM h JOIN bh USING (h)) GROUP BY source",
)
def q_decontaminate_kept(spark, sf):
    """Extension — the decontaminated corpus (anti-join against the flag
    pass), aggregated per source."""
    d = load(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 37 == 0)
    kept = dedup.decontaminate(d, bench, shingle_n=8, portable=True)
    return kept.groupBy("source").agg(F.count("*").alias("n_kept"))


@register(
    "q_paradocs_segment",
    # the W1 fold is a per-doc scalar recurrence (state = current block's
    # running concatenated length), so DuckDB reproduces it exactly with a
    # recursive CTE: one step per valid row, all docs advancing in
    # parallel per iteration. Invalid rows (value < 5) are dropped but
    # force a block break on the next valid row (inv_cum changes).
    "WITH RECURSIVE "
    "base AS (SELECT user_id AS doc, event_id AS idx, event_type AS txt, "
    "  (value >= 5) AS ok FROM events), "
    "b2 AS (SELECT doc, idx, txt, ok, "
    "  sum(CASE WHEN ok THEN 0 ELSE 1 END) "
    "    OVER (PARTITION BY doc ORDER BY idx) AS inv_cum FROM base), "
    "v AS (SELECT doc, idx, coalesce(txt, '') AS txt, "
    "  length(coalesce(txt, '')) AS ln, "
    "  row_number() OVER (PARTITION BY doc ORDER BY idx) AS rn, "
    "  inv_cum > coalesce(lag(inv_cum) OVER (PARTITION BY doc ORDER BY idx), "
    "                     inv_cum) AS forced "
    "  FROM b2 WHERE ok), "
    "rec AS ("
    "  SELECT doc, rn, txt, 0 AS block_id, ln AS cur_len FROM v WHERE rn = 1 "
    "  UNION ALL "
    "  SELECT v.doc, v.rn, v.txt, "
    "    CASE WHEN v.forced OR rec.cur_len + 1 + v.ln > 60 "
    "         THEN rec.block_id + 1 ELSE rec.block_id END, "
    "    CASE WHEN v.forced OR rec.cur_len + 1 + v.ln > 60 "
    "         THEN v.ln ELSE rec.cur_len + 1 + v.ln END "
    "  FROM rec JOIN v ON v.doc = rec.doc AND v.rn = rec.rn + 1) "
    "SELECT doc, block_id, string_agg(txt, ' ' ORDER BY rn) AS text, "
    "  CAST(count(*) AS INT) AS n_rows FROM rec GROUP BY doc, block_id",
)
def q_paradocs_segment(spark, sf):
    """W1 — running-length-capped segmentation (paradocs.py:13-91) run on
    the events table as the ordered stream: per user, order by event_id,
    invalid rows (value < 5) break blocks, max block text length 60.
    Oracle-checked since r3 via a DuckDB recursive CTE that replays the
    fold (see the registered SQL)."""
    e = load_events(spark, sf).select(
        F.col("user_id").alias("doc"),
        F.col("event_id").alias("idx"),
        F.col("event_type").alias("txt"),
        (F.col("value") >= 5).alias("ok"),
    )
    return segment.segment_blocks(
        e, "doc", "idx", "txt", max_length=60, valid_col="ok", max_gap=10**9
    )


@register(
    "q_pack_sequences",
    # the fold is pure concatenation + chunking, so DuckDB reproduces it
    # with positional arithmetic: shard each doc by the portable hash,
    # number every token by (doc_id, word_idx) within its shard, then
    # group by pos // seq_len. tok_sum/first/last pin sequence CONTENT,
    # not just shape — padding contributes pad_id (=1) per pad slot.
    "WITH tok AS (SELECT " + md5_hash64_sql("doc_id") + " % 4 AS shard, doc_id, "
    "  list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS words "
    "  FROM documents), "
    "w AS (SELECT shard, doc_id, unnest(words) AS word, "
    "  unnest(range(len(words))) AS wi FROM tok), "
    "p AS (SELECT shard, " + md5_hash64_sql("word") + " % 50000 AS tid, "
    "  row_number() OVER (PARTITION BY shard ORDER BY doc_id, wi) - 1 AS pos FROM w), "
    "s AS (SELECT shard, pos // 512 AS seq_idx, count(*) AS n_tok, "
    "  sum(tid) AS raw_sum, arg_min(tid, pos) AS first_raw, "
    "  arg_max(tid, pos) AS last_raw FROM p GROUP BY shard, pos // 512) "
    "SELECT shard, seq_idx, CAST(512 AS INT) AS seq_len, "
    "  CAST(512 - n_tok AS INT) AS n_pad, "
    "  CAST(raw_sum + (512 - n_tok) AS BIGINT) AS tok_sum, "
    "  CAST(first_raw AS INT) AS first_tok, "
    "  CAST(CASE WHEN n_tok < 512 THEN 1 ELSE last_raw END AS INT) AS last_tok "
    "FROM s",
)
def q_pack_sequences(spark, sf):
    """W2 — stateful sequence packing (megatron_tokenizer_context.py:283-334):
    per-shard fold carrying offset across docs. Oracle-checked since r3: the
    per-sequence digest columns (tok_sum incl. pad_id·n_pad, first/last
    token) pin the fold's content against DuckDB positional arithmetic;
    property tests additionally assert token conservation + alignment."""
    d = load(spark, sf, "documents")
    packed = tokens.pack_sequences(d, "doc_id", seq_len=512, shards=4)
    return packed.select(
        "shard", "seq_idx", F.size("tokens").alias("seq_len"), "n_pad",
        F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x).alias("tok_sum"),
        F.element_at("tokens", 1).alias("first_tok"),
        F.element_at("tokens", -1).alias("last_tok"),
    )


@register(
    "q_pack_token_arithmetic",
    "SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens, "
    "CAST(ceil(sum(len(string_split(text, ' '))) / 512.0) AS BIGINT) AS n_sequences "
    "FROM documents GROUP BY source",
)
def q_pack_token_arithmetic(spark, sf):
    """W2's oracle-able arithmetic — token totals and packed-sequence counts
    at seq_len=512 (megatron_tokenizer.py:116-117 __len__ sum)."""
    d = load(spark, sf, "documents")
    n = F.size(F.split("text", " "))
    return d.groupBy("source").agg(
        F.sum(n).alias("total_tokens"),
        F.ceil(F.sum(n) / 512.0).cast("long").alias("n_sequences"),
    )


@register(
    "q_pack_shards",
    "WITH tok AS (SELECT " + md5_hash64_sql("doc_id") + " % 4 AS shard, "
    "len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS n "
    "FROM documents) "
    "SELECT shard, CAST(ceil(sum(n) / 512.0) AS BIGINT) AS n_sequences, "
    "CAST(ceil(sum(n) / 512.0) * 512 - sum(n) AS BIGINT) AS total_pad "
    "FROM tok GROUP BY shard",
)
def q_pack_shards(spark, sf):
    """W2 oracle twin over the REAL packing fold: aggregate the Arrow
    mapInArrow output (operators/tokens.pack_sequences) per shard. The
    shard hash is the portable md5 bucket, so DuckDB reproduces shard
    membership exactly and the closed form pins the fold's invariants:
    sequences = ceil(shard_tokens/512), pad = n·512 − shard_tokens.
    Complements the per-sequence rows-only view (q_pack_sequences) and the
    conservation property tests."""
    d = load(spark, sf, "documents")
    packed = tokens.pack_sequences(d, "doc_id", seq_len=512, shards=4)
    return packed.groupBy("shard").agg(
        F.count("*").alias("n_sequences"),
        F.sum("n_pad").cast("long").alias("total_pad"),
    )


# ===========================================================================
# flagship — the reference's fineweb pipeline shape end-to-end
# ===========================================================================

FLAGSHIP_SQL = (
    "SELECT source, count(*) AS n_docs, CAST(sum(pii_count) AS BIGINT) AS total_pii, "
    "CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM ("
    f"  SELECT source, {_pii_count_sql(_PII_TEXT)} AS pii_count, "
    "   len(string_split(text, ' ')) AS n_tokens FROM documents "
    "   WHERE length(text) >= 200 AND lang IN ('en', 'de') "
    f"   AND doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 10 = 0)) "
    "GROUP BY source"
)


@register("q_flagship", FLAGSHIP_SQL)
def q_flagship(spark, sf):
    """The fineweb pipeline shape (fineweb/main.py:96-149): id-blocklist
    anti-join → cheap predicate filters → PII annotate → aggregate stats.
    Composed via plans.Pipeline, exercising K3-style branching upstream."""
    from metadata_enhanced_pretrain_datapipeline_spark.plans import FilterStep, MapStep, Pipeline

    d = load(spark, sf, "documents")
    blocklist = d.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    pipe = Pipeline(
        steps=[
            FilterStep("id_filter", lambda df: filters.id_anti_join(df, blocklist, "doc_id")),
            FilterStep("length", filters.length_filter(F.col("text"), 200)),
            FilterStep("lang", F.col("lang").isin("en", "de")),
            MapStep(
                "pii",
                lambda df: df.withColumn(
                    "pii_count", formatters.pii_count(_pii_text_col()).cast("int")
                ).withColumn("n_tokens", F.size(F.split("text", " "))),
            ),
        ]
    )
    out = pipe.apply(d)
    return out.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("pii_count").alias("total_pii"),
        F.sum("n_tokens").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# Both views emit in registration order, including the queries registered
# further down this module (they are built at call time).


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _oracle) in _REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in _REGISTRY.items() if sql is not None}


# ===========================================================================
# round-1 additions: robots, multimodal, ML-annotator plumbing
# ===========================================================================


@register(
    "q_llm_annotate_split",
    "SELECT doc_id, output, "
    "TRY_CAST(split_part(output, ' ', 1) AS INT) AS clarity, "
    "TRY_CAST(split_part(output, ' ', 2) AS INT) AS practice, "
    "TRY_CAST(split_part(output, ' ', 3) AS INT) AS educational, "
    "TRY_CAST(split_part(output, ' ', 4) AS INT) AS difficulty FROM ("
    "  SELECT doc_id, "
    "  CAST(CAST(('0x' || substr(md5(substr(text, 1, 32000)), 1, 2)) AS INT) % 10 AS VARCHAR) || ' ' || "
    "  CAST(CAST(('0x' || substr(md5(substr(text, 1, 32000)), 3, 2)) AS INT) % 10 AS VARCHAR) || ' ' || "
    "  CAST(CAST(('0x' || substr(md5(substr(text, 1, 32000)), 5, 2)) AS INT) % 10 AS VARCHAR) || ' ' || "
    "  CAST(CAST(('0x' || substr(md5(substr(text, 1, 32000)), 7, 2)) AS INT) % 3 AS VARCHAR) AS output "
    "  FROM documents)",  # substr mirrors the stub's max_chars=32000 truncation
)
def q_llm_annotate_split(spark, sf):
    """A4+A5 — LLM rubric annotation (stub scorer, little-endian md5 bytes)
    through the real mapInPandas path, then the score-string split
    (code_annotation.py:33-78 + code_processing.py:27-29). The stub's
    byte-arithmetic is portable, so even the 'model' path is oracle-checked."""
    d = load(spark, sf, "documents")
    annotated = annotators.llm_annotate(d)
    return annotators.split_score_columns(annotated).select(
        "doc_id", "output", "clarity", "practice", "educational", "difficulty"
    )


@register(
    "q_robots_filter",
    "SELECT doc_id, CAST(CASE "
    "  WHEN src % 2 = 1 THEN 0 "                                    # no robots entry
    "  WHEN src % 10 = 0 THEN 15 "                                  # Disallow /p
    "  WHEN src % 10 = 2 THEN CASE WHEN id_s LIKE '1%' THEN 15 ELSE 0 END "  # /*/1
    "  WHEN src % 10 = 4 THEN CASE WHEN id_s LIKE '%0' THEN 15 ELSE 0 END "  # /p/*0$
    "  WHEN src % 10 = 6 THEN 1 "                                   # GPTBot-only group
    "  ELSE CASE WHEN id_s LIKE '1%' THEN 0 ELSE 15 END "           # Allow /p/1 beats /p
    "END AS INT) AS n_disallowed "
    "FROM (SELECT doc_id, CAST(doc_id AS VARCHAR) AS id_s, "
    "CAST(substr(source, 4) AS INT) AS src FROM documents)",
)
def q_robots_filter(spark, sf):
    """F2 — RobotsTxtFilter: broadcast domain→robots.txt dict, per-executor
    parser cache, annotate disallowed_user_agents (robots_filter.py:30-92).
    Derived fixture: urls from source; the rule set mixes plain-prefix,
    ``*``-wildcard and ``$``-anchored paths plus a GPTBot-specific group.
    Oracle-checked by INDEPENDENT DERIVATION: with path = /p/<doc_id> each
    fixture rule reduces to a closed-form predicate on the doc id (e.g.
    ``/*/1`` ⇔ id starts with '1'; ``/p/*0$`` ⇔ id ends with '0'; the
    GPTBot-only group denies exactly 1 agent; Allow /p/1 outranks
    Disallow /p by longest-match) — so the SQL twin re-derives the
    expected count per row and the driver hash-checks the whole REP
    matcher end to end."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators.robots import robots_filter

    # project BEFORE the Python stage: mapInPandas materializes every kept
    # column, so pruning must happen upstream of it (the scan then reads
    # 2 columns, not the whole table — see PLANS.md)
    d = load(spark, sf, "documents").select("doc_id", "source").withColumn(
        "url",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
        ),
    )
    rules = {
        0: "User-agent: *\nDisallow: /p\n",                     # plain prefix
        2: "User-agent: *\nDisallow: /*/1\n",                   # mid wildcard
        4: "User-agent: *\nDisallow: /p/*0$\n",                 # wildcard + anchor
        6: "User-agent: GPTBot\nDisallow: /\n",                 # agent-specific
        8: "User-agent: *\nDisallow: /p\nAllow: /p/1\n",        # longest-match allow
    }
    rob = spark.createDataFrame(
        [(f"src{i}.example.com", rules[i % 10]) for i in range(0, 20, 2)],
        "domain string, content string",
    )
    out = robots_filter(d, rob)
    return out.select(
        "doc_id", F.size("disallowed_user_agents").alias("n_disallowed")
    )


@register(
    "q_multimodal_image_features",
    # digest-twin (r7, the A6/A7 pattern): the stub decoder's pixel k of
    # a 16x16x3 fake image is (md5(content)[k % 16] + k) % 256, and the
    # 8x8 mean-pool + channel-mean collapse to the per-channel average
    # over k ≡ c (mod 3) — all exact integer-sum/256 arithmetic, so the
    # replay is an equality, not a tolerance
    "WITH dg AS (SELECT CAST(doc_id AS VARCHAR) AS media_id, "
    "  CASE WHEN text IS NULL THEN NULL ELSE md5(substr(text, 1, 64)) END "
    "  AS hx FROM documents), "
    "b AS (SELECT media_id, t.g AS bi, "
    "  CAST(('0x' || substr(hx, 1 + 2 * t.g, 2)) AS INT) AS bv "
    "  FROM dg, generate_series(0, 15) t(g) WHERE hx IS NOT NULL), "
    "px AS (SELECT media_id, t.g AS k, (bv + t.g) % 256 AS v "
    "  FROM b JOIN generate_series(0, 767) t(g) ON b.bi = t.g % 16), "
    "a AS (SELECT media_id, "
    "  avg(CASE WHEN k % 3 = 0 THEN v END) AS mean_r, "
    "  avg(CASE WHEN k % 3 = 1 THEN v END) AS mean_g, "
    "  avg(CASE WHEN k % 3 = 2 THEN v END) AS mean_b "
    "  FROM px GROUP BY media_id) "
    "SELECT d.media_id, "
    "CASE WHEN a.media_id IS NULL THEN NULL ELSE CAST(8 AS INT) END "
    "  AS out_width, "
    "CASE WHEN a.media_id IS NULL THEN NULL ELSE CAST(8 AS INT) END "
    "  AS out_height, "
    "a.mean_r, a.mean_g, a.mean_b FROM dg d LEFT JOIN a USING (media_id)",
)
def q_multimodal_image_features(spark, sf):
    """Multimodal — binary media column through the stubbed decode →
    mean-pool resize → channel-mean features (operators/multimodal.py).
    Hash-checked as of r7 (VERDICT r6 #4): the stub decode is the
    digest-twin form ((md5[k%16] + k) % 256 pixels), so the DuckDB
    oracle replays decode → 8x8 mean-pool → channel means exactly —
    the full mapInPandas Arrow path is value-verified despite no codec
    runtime. A NULL-text doc ships a NULL blob and must come back as a
    NULL-feature row (the missing-blob contract), replayed by the
    oracle's left join."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators.multimodal import image_features

    media = load(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.encode(F.substring("text", 1, 64), "utf-8").alias("content"),
    )
    return image_features(media, stub=True)


@register(
    "q_multimodal_frame_sample",
    # digest-twin (r7): the stub frame at ts is the fake-pixel grid
    # seeded by content || ascii(ts); its 192 bytes are
    # (md5(seed)[k % 16] + k) % 256, and the row's fingerprint is md5 of
    # their lowercase hex — fully replayable VARCHAR-side in DuckDB
    "WITH m AS (SELECT CAST(doc_id AS VARCHAR) AS media_id, "
    "  substr(text, 1, 32) AS ct, ((doc_id % 5) + 1) AS nf "
    "  FROM documents WHERE doc_id % 20 = 0 AND text IS NOT NULL), "
    "f AS (SELECT media_id, ct, "
    "  unnest(generate_series(0, nf - 1)) AS fi FROM m), "
    "dg AS (SELECT media_id, fi, "
    "  md5(ct || CAST(fi * 1000 AS VARCHAR)) AS hx FROM f), "
    "b AS (SELECT media_id, fi, t.g AS bi, "
    "  CAST(('0x' || substr(hx, 1 + 2 * t.g, 2)) AS INT) AS bv "
    "  FROM dg, generate_series(0, 15) t(g)), "
    "fh AS (SELECT media_id, fi, "
    "  string_agg(printf('%02x', (bv + t.g) % 256), '' ORDER BY t.g) "
    "  AS hexpx FROM b JOIN generate_series(0, 191) t(g) "
    "  ON b.bi = t.g % 16 GROUP BY media_id, fi) "
    "SELECT media_id, CAST(fi AS INT) AS frame_idx, "
    "CAST(fi * 1000 AS INT) AS ts_ms, md5(hexpx) AS frame_digest FROM fh",
)
def q_multimodal_frame_sample(spark, sf):
    """Multimodal — video frame-sampling fan-out (1→n inside
    mapInPandas). Hash-checked as of r7 (VERDICT r6 #4): each stubbed
    frame is the digest-twin pixel grid over md5(content || ascii(ts)),
    fingerprinted as md5-of-hex (hex_digest=True — DuckDB's md5 is
    VARCHAR-only), so the oracle rebuilds every frame's 192 bytes and
    its digest relationally; the fan-out count, timestamps, AND the
    per-frame pixel bytes are all value-verified. NULL-text docs ship
    NULL blobs and must emit no frames."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators.multimodal import (
        sample_video_frames,
    )

    media = load(spark, sf, "documents").filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.encode(F.substring("text", 1, 32), "utf-8").alias("content"),
        ((F.col("doc_id") % 5 + 1) * 1000).cast("int").alias("duration_ms"),
    )
    return sample_video_frames(media, every_ms=1000, stub=True,
                               hex_digest=True)


@register("q_embed_documents")
def q_embed_documents(spark, sf):
    """† A1 — chunked document embedding annotator (stub encoder, real
    Arrow plumbing + chunk regrouping; xlmr_embedding_annotator.py:54-90)."""
    d = load(spark, sf, "documents").filter(F.col("doc_id") % 10 == 0)
    out = annotators.embed_documents(d, chunk_len=32, dim=8)
    return out.select("doc_id", F.size("embeddings").alias("n_chunks"))


@register(
    "q_pack_with_metadata",
    # the metadata fold (per_sequence=False) is a per-doc scalar recurrence:
    # state = (t: pending buffer length mod 512, mm: meta tokens awaiting
    # attribution, c: sequences emitted). Per doc with meta-run length m and
    # token length L: if 512 - t < m the remainder is padded out and emitted
    # as one sequence (pad rides it), then [BOC..EOC]+doc append and full
    # sequences drain, meta count riding the FIRST drained sequence. The
    # recursive CTE replays the recurrence one doc per step; emission rows
    # are reconstructed from each step (flush row, range(n_full) mains,
    # per-shard final partial). st.pad is always drained in the same step
    # it accrues (the pad-flush emits exactly one full sequence), so the
    # state carries no pad term.
    "WITH RECURSIVE "
    "v AS (SELECT shard, rn, L, m FROM ("
    "  SELECT shard, "
    "    row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn, L, m "
    "  FROM (SELECT " + md5_hash64_sql("doc_id") + " % 4 AS shard, doc_id, "
    "    len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
    "        x -> x <> '')) AS L, "
    "    least(2 + len(list_filter(regexp_split_to_array("
    "        trim(substr('topic ' || source, 1, 50)), '\\s+'), "
    "        x -> x <> '')), 512) AS m "
    "    FROM documents))), "
    "rec AS ("
    "  SELECT shard, CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS t, "
    "    CAST(0 AS BIGINT) AS mm, CAST(0 AS BIGINT) AS c, false AS flushed, "
    "    CAST(0 AS BIGINT) AS flush_idx, CAST(0 AS BIGINT) AS flush_pad, "
    "    CAST(0 AS BIGINT) AS flush_meta, CAST(0 AS BIGINT) AS n_full, "
    "    CAST(0 AS BIGINT) AS c_first, CAST(0 AS BIGINT) AS first_meta "
    "  FROM (SELECT DISTINCT shard FROM v) "
    "  UNION ALL "
    "  SELECT shard, rn, t1 % 512 AS t, "
    "    CASE WHEN n_full > 0 THEN 0 ELSE mm1 END AS mm, c0 + n_full AS c, "
    "    flushed, flush_idx, flush_pad, flush_meta, n_full, c0 AS c_first, "
    "    mm1 AS first_meta "
    "  FROM (SELECT *, t0 + m + L AS t1, (t0 + m + L) // 512 AS n_full, "
    "          mm0 + m AS mm1 "
    "        FROM (SELECT v.shard, v.rn, v.L, v.m, "
    "          (512 - rec.t < v.m) AS flushed, "
    "          rec.c AS flush_idx, 512 - rec.t AS flush_pad, "
    "          rec.mm AS flush_meta, "
    "          CASE WHEN 512 - rec.t < v.m THEN 0 ELSE rec.t END AS t0, "
    "          CASE WHEN 512 - rec.t < v.m THEN 0 ELSE rec.mm END AS mm0, "
    "          rec.c + CASE WHEN 512 - rec.t < v.m THEN 1 ELSE 0 END AS c0 "
    "          FROM rec JOIN v ON v.shard = rec.shard AND v.rn = rec.rn + 1))), "
    "steps AS (SELECT * FROM rec WHERE rn >= 1), "
    "em1 AS (SELECT shard, flush_idx AS seq_idx, flush_pad AS n_pad, "
    "  flush_meta AS n_meta_tokens FROM steps WHERE flushed), "
    "em2 AS (SELECT shard, c_first + i AS seq_idx, 0 AS n_pad, "
    "  CASE WHEN i = 0 THEN first_meta ELSE 0 END AS n_meta_tokens "
    "  FROM (SELECT shard, c_first, first_meta, unnest(range(n_full)) AS i "
    "        FROM steps WHERE n_full > 0)), "
    "em3 AS (SELECT shard, c AS seq_idx, 512 - t AS n_pad, "
    "  mm AS n_meta_tokens FROM ("
    "    SELECT *, row_number() OVER (PARTITION BY shard ORDER BY rn DESC) "
    "      AS rr FROM steps) WHERE rr = 1 AND t > 0) "
    "SELECT shard, CAST(seq_idx AS BIGINT) AS seq_idx, "
    "  CAST(512 AS INT) AS seq_len, CAST(n_pad AS INT) AS n_pad, "
    "  CAST(n_meta_tokens AS INT) AS n_meta_tokens "
    "FROM (SELECT * FROM em1 UNION ALL SELECT * FROM em2 "
    "      UNION ALL SELECT * FROM em3)",
)
def q_pack_with_metadata(spark, sf):
    """W2 full — metadata-conditioned packing with BOC/EOC runs
    (megatron_tokenizer_context.py:283-334). Oracle-checked since r3: a
    DuckDB recursive CTE replays the per-doc offset recurrence and
    reconstructs every emitted sequence's (n_pad, n_meta_tokens)."""
    d = load(spark, sf, "documents").withColumn(
        "meta", F.concat(F.lit("topic "), F.col("source"))
    )
    packed = tokens.pack_with_metadata(d, "doc_id", seq_len=512, shards=4)
    return packed.select("shard", "seq_idx", F.size("tokens").alias("seq_len"),
                         "n_pad", "n_meta_tokens")


@register(
    "q_tpch_q1",
    "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, "
    "round(sum(l_extendedprice), 2) AS sum_base_price, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
    "round(avg(l_quantity), 4) AS avg_qty, count(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00' "
    "GROUP BY l_returnflag, l_linestatus",
)
def q_tpch_q1(spark, sf):
    """TPC-H Q1 shape — the canonical scan-heavy aggregate: predicate pushed
    to the scan, map-side partial agg, ONE shuffle to finalize."""
    li = _ns_to_ts(load(spark, sf, "lineitem"), "l_shipdate")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q_tpch_q3",
    "SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "WHERE c_mktsegment = 'BUILDING' "
    "GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10",
)
def q_tpch_q3(spark, sf):
    """TPC-H Q3 shape — selective dim filter broadcast into the fact chain,
    then top-k (TakeOrdered, no global sort)."""
    c = load(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q_stream_window_agg",
    "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, "
    "event_type, count(*) AS n, round(sum(value), 2) AS sum_value "
    "FROM events GROUP BY 1, 2",
)
def q_stream_window_agg(spark, sf):
    """Structured Streaming extension (beyond-reference, §2.11): the SAME
    window expressions as q_event_window_agg executed as a readStream over
    the events parquet, drained complete-mode — and checked against the
    SAME SQL oracle, proving batch/stream parity to the driver."""
    import uuid

    from metadata_enhanced_pretrain_datapipeline_spark.streaming import events as se

    table = f"stream_out_{uuid.uuid4().hex[:8]}"
    raw_schema = load(spark, sf, "events").schema
    # file-source streams want a directory: stream the sf dir, glob one table
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )
    stream = _ns_to_ts(stream, "ts")
    agg = (
        stream.groupBy(F.window(F.col("ts"), "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n", "sum_value",
        )
    )
    se.drain_complete_to_memory(agg, table)
    return spark.sql(f"SELECT * FROM {table}")


@register(
    "q_stream_dedup",
    "SELECT event_id, event_type FROM events",
)
def q_stream_dedup(spark, sf):
    """Streaming exact dedup extension (§2.11): the events stream unioned
    with itself (the at-least-once double-delivery case) deduplicated by
    streaming_dedup with watermark-bounded seen-key state, drained
    append-mode. The oracle is the distinct input — every duplicate must
    be suppressed, none over-suppressed."""
    import uuid

    from metadata_enhanced_pretrain_datapipeline_spark.streaming import events as se

    table = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    raw_schema = load(spark, sf, "events").schema

    def one_stream():
        s = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf)
        )
        # withWatermark requires TIMESTAMP (not NTZ); session tz is UTC so
        # the cast is an identity offset
        return _ns_to_ts(s, "ts").withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).select("event_id", "ts", "event_type")

    doubled = one_stream().union(one_stream())
    out = se.streaming_dedup(doubled, ["event_id", "ts"])
    q = (
        out.writeStream.format("memory").queryName(table)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT event_id, event_type FROM {table}")


_KEPT_PRED = "length(text) >= 300 AND lang IN ('en', 'de')"


@register(
    "q_filter_kept",
    f"SELECT doc_id, lang, n_chars FROM documents WHERE {_KEPT_PRED}",
)
def q_filter_kept(spark, sf):
    """K3 kept-branch — dual-output filter over a shared upstream
    (exclusion_writer pattern, fineweb/main.py:104-140)."""
    from metadata_enhanced_pretrain_datapipeline_spark.plans import FilterStep, Pipeline

    d = load(spark, sf, "documents")
    pred = filters.length_filter(F.col("text"), 300) & F.col("lang").isin("en", "de")
    return Pipeline([FilterStep("keep", pred)]).apply(d).select("doc_id", "lang", "n_chars")


@register(
    "q_filter_removed",
    f"SELECT doc_id, lang, 'keep' AS reason FROM documents WHERE ({_KEPT_PRED}) IS NOT TRUE",
)
def q_filter_removed(spark, sf):
    """K3 removed-branch — the rejected rows with their rejection tag
    (full Document shape + reason, fineweb/main.py:104-140). Invariant
    kept ∪ removed = input is pytest-checked (test_pipeline.py)."""
    from metadata_enhanced_pretrain_datapipeline_spark.plans import FilterStep, Pipeline

    d = load(spark, sf, "documents")
    pred = filters.length_filter(F.col("text"), 300) & F.col("lang").isin("en", "de")
    captured = []
    pipe = Pipeline(
        [FilterStep("keep", pred, exclusion_writer=captured.append, reason="keep")]
    )
    pipe.run(d)
    # release the tee's persisted upstream now: the branch is a pure
    # deterministic filter, so the later collect recomputes it correctly,
    # and holding the cache would leak across the whole driver session
    pipe.unpersist_all()
    return captured[0].select("doc_id", "lang", "reason")


@register(
    "q_url_host_extract",
    f"SELECT doc_id, regexp_extract({_URL}, '{HOST_REGEX}', 1) AS host FROM documents",
)
def q_url_host_extract(spark, sf):
    """F2's SQL-expressible half — domain extraction for the robots lookup
    (robots_filter.py:44-58 urlparse(...).netloc)."""
    d = load(spark, sf, "documents").withColumn(
        "url",
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/p/"),
                 F.col("doc_id").cast("string"), F.lit("?q="), F.col("lang")),
    )
    return d.select("doc_id", url_host(F.col("url")).alias("host"))


@register(
    "q_tokenize_counts",
    "SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '')) AS BIGINT) AS n_tokens FROM documents",
)
def q_tokenize_counts(spark, sf):
    """K4's checkable half — per-doc token counts through the REAL tokenize
    path (tokenize_ws); the stub tokenizer is whitespace-aligned so counts
    equal word counts (megatron_tokenizer.py:116-117,283)."""
    d = load(spark, sf, "documents")
    return d.select(
        "doc_id", F.size(tokens.tokenize_ws(F.col("text"))).cast("long").alias("n_tokens")
    )


def _check_plan(ok: bool, plan: str, claim: str) -> None:
    """Physical-layout contract check for the in-plan probe queries — an
    explicit raise, NOT an ``assert`` statement, so a ``python -O``
    deployment cannot strip the guard and let a layout regression (lost
    PartitionFilters, a sneaky Exchange, missing dynamic pruning) pass
    silently."""
    if not ok:
        raise AssertionError(f"plan contract violated: {claim}\n{plan[:800]}")


def _scratch_dir(sf: str, tag: str) -> str:
    """Per-(sf, query, process) scratch dir for write→read-back round-trip
    queries: the sf digest avoids collisions between sf dirs, the pid
    avoids overwrite races between concurrent driver/bench processes, and
    the atexit hook removes the dir so repeated processes don't accumulate
    copies in /tmp."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    digest = hashlib.md5(sf.encode()).hexdigest()[:10]
    path = f"{tempfile.gettempdir()}/mep_spark_{tag}_{digest}_{os.getpid()}"
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _drop_prefixed_tables(spark, *prefixes: str) -> None:
    """Drop every session-catalog table whose name starts with one of
    ``prefixes``. The bucketed-layout queries register per-pid external
    tables (bt_*_<pid>); their FILES live in atexit-cleaned scratch dirs,
    but the embedded-metastore CATALOG entries survive the process — so
    repeated driver/bench runs would accumulate dead entries pointing at
    deleted /tmp paths. Dropping is safe immediately after the consuming
    DataFrame is built: its analyzed plan already holds the resolved
    relation (files + bucketing spec), and DROP on an external table
    leaves the files untouched.

    Scope: only THIS process's ``<prefix><pid>`` table is dropped
    unconditionally; a foreign-pid entry is removed only when its pid is
    verifiably dead (ADVICE r7 — under a SHARED metastore a concurrent
    driver's live bucketed relation must not lose its catalog entry
    mid-run; the embedded-Derby lock usually forbids sharing, but a Hive
    metastore config would race). Dead-pid sweeping keeps the original
    purpose: no unbounded accumulation across repeated runs."""
    import os

    def _pid_dead(name: str, prefix: str) -> bool:
        suffix = name[len(prefix):]
        if not suffix.isdigit():
            return False  # not ours to judge — leave unknown shapes alone
        try:
            os.kill(int(suffix), 0)
            return False  # alive (or EPERM -> raises, handled below)
        except ProcessLookupError:
            return True
        except PermissionError:
            return False  # exists under another uid: alive
    me = str(os.getpid())
    for t in spark.catalog.listTables():
        for p in prefixes:
            if t.name.startswith(p) and (
                    t.name == p + me or _pid_dead(t.name, p)):
                spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")
                break


@register(
    "q_scan_json",
    "SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars "
    "FROM documents GROUP BY lang",
)
def q_scan_json(spark, sf):
    """S2 — JsonlReader (provenance-flan/main.py:61-64): round-trip the
    documents table through a jsonl directory and aggregate from the json
    scan. Oracle-checked as a round-trip: the jsonl write→read must be
    identity-preserving on (doc_id, lang, n_chars), so the same aggregate
    straight off the parquet table is the oracle (pattern of
    q_promote_metadata)."""
    from metadata_enhanced_pretrain_datapipeline_spark.sources import readers, writers

    d = load(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    path = _scratch_dir(sf, "scan_json")
    writers.write_jsonl(d, path)
    back = readers.read_jsonl(spark, path, schema="doc_id long, lang string, n_chars long")
    return back.groupBy("lang").agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("total_chars")
    )


@register(
    "q_megatron_roundtrip",
    "WITH tok AS (SELECT " + md5_hash64_sql("doc_id") + " % 4 AS shard, "
    "  doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), "
    "  x -> x <> '') AS words FROM documents), "
    "w AS (SELECT shard, unnest(words) AS word FROM tok), "
    "ids AS (SELECT shard, " + md5_hash64_sql("word") + " % 50000 AS tid "
    "  FROM w), "
    "d AS (SELECT shard, count(*) AS n_docs FROM tok GROUP BY shard), "
    "t AS (SELECT shard, count(*) AS n, sum(tid) AS s FROM ids "
    "  GROUP BY shard) "
    "SELECT d.shard, CAST(d.n_docs AS BIGINT) AS n_docs, "
    "  CAST(coalesce(t.n, 0) AS BIGINT) AS total_tokens, "
    "  CAST(coalesce(t.s, 0) AS BIGINT) AS tok_sum "
    "FROM d LEFT JOIN t USING (shard)",
)
def q_megatron_roundtrip(spark, sf):
    """K4 full round-trip — the reference's CORE sink: tokenize → write
    one .bin/.idx pair per shard (executor-side, Arrow buffers) → parse
    the binary format back (operators/tokens.read_megatron_partition)
    and aggregate per-shard doc/token counts and the token-id sum. The
    oracle recomputes all three from the raw table, so a single corrupt
    byte in lengths, pointers or the packed buffer mismatches.

    The driver-side read-back is the local-mode verification harness; on
    a cluster the sink writes to shared storage and verification reads it
    distributed (binaryFile source + mapInArrow parse)."""
    import os

    import numpy as np

    from metadata_enhanced_pretrain_datapipeline_spark.operators.tokens import (
        read_megatron_partition, write_megatron)

    d = load(spark, sf, "documents")
    out_dir = _scratch_dir(sf, "megatron_roundtrip")
    write_megatron(d, out_dir, shards=4)
    rows = []
    for name in sorted(os.listdir(out_dir)):
        if not name.endswith(".idx"):
            continue
        shard = int(name[len("shard_"):-len(".idx")])
        base = os.path.join(out_dir, name[:-len(".idx")])
        lengths, flat = read_megatron_partition(base + ".bin", base + ".idx")
        rows.append((shard, len(lengths), int(lengths.sum()),
                     int(flat.astype(np.int64).sum())))
    return spark.createDataFrame(
        rows, "shard long, n_docs long, total_tokens long, tok_sum long")


@register(
    "q_parquet_roundtrip",
    "SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars "
    "FROM documents GROUP BY lang, source",
)
def q_parquet_roundtrip(spark, sf):
    """K1 — ParquetWriter (fineweb/main.py:144-148): zstd compression,
    bounded shard size (maxRecordsPerFile) and hive partitioning by lang,
    then read back through S1 and aggregate. The write→read must be
    identity-preserving on (doc_id, lang, source, n_chars), so the same
    aggregate off the driver's parquet table is the oracle."""
    from metadata_enhanced_pretrain_datapipeline_spark.sources import readers, writers

    d = load(spark, sf, "documents").select("doc_id", "lang", "source", "n_chars")
    path = _scratch_dir(sf, "pq_roundtrip")
    writers.write_parquet(d, path, max_records_per_file=200, partition_by=["lang"])
    back = readers.read_parquet(spark, path)
    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("total_chars")
    )


@register(
    "q_csv_roundtrip",
    "SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 2) AS total_price "
    "FROM part GROUP BY p_brand",
)
def q_csv_roundtrip(spark, sf):
    """S5 — CSV reader (toxicity preprocessing.py:21-25) exercised as a
    write→read-back round-trip: header + explicit schema (the at-scale
    form that skips the inference pass); p_name carries spaces so the
    quoting path is on the line."""
    from metadata_enhanced_pretrain_datapipeline_spark.sources import readers

    p = load(spark, sf, "part").select("p_partkey", "p_name", "p_brand", "p_retailprice")
    path = _scratch_dir(sf, "csv_roundtrip")
    p.write.mode("overwrite").option("header", True).csv(path)
    back = readers.read_csv(
        spark, path,
        schema="p_partkey long, p_name string, p_brand string, p_retailprice double",
    )
    return back.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.round(F.sum("p_retailprice"), 2).alias("total_price"),
    )


@register(
    "q_hf_snapshot_roundtrip",
    "SELECT source, count(*) AS n, CAST(sum(length(text)) AS BIGINT) AS total_len "
    "FROM documents GROUP BY source",
)
def q_hf_snapshot_roundtrip(spark, sf):
    """S3 — HuggingFaceDatasetReader analogue (readers.read_hf_snapshot;
    reference preprocess_megatron.py:107-111): write the documents table
    as a hub-layout snapshot (``{split}/*.parquet`` with the text column
    under a dataset-specific name), resolve it back through the snapshot
    reader with ``split=`` + ``text_key=`` (exercising layout resolution
    AND the text_key→text surfacing), and aggregate. The write→read must
    be identity-preserving, so the same aggregate off the driver's
    parquet table is the oracle."""
    from metadata_enhanced_pretrain_datapipeline_spark.sources import readers

    d = load(spark, sf, "documents").select(
        "doc_id", F.col("text").alias("content"), "lang", "source")
    path = _scratch_dir(sf, "hf_snapshot")
    d.write.mode("overwrite").parquet(f"{path}/train")
    back = readers.read_hf_snapshot(spark, path, text_key="content", split="train")
    return back.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(F.length("text")).alias("total_len"),
    )


_FASTTEXT_LINE_SQL = (
    "'__label__' || lang || ' ' || "
    "replace(replace(text, '\\', '\\\\'), chr(10), '\\n')"
)


@register(
    "q_fasttext_lines",
    f"SELECT lang AS label, count(*) AS n, CAST(sum(length({_FASTTEXT_LINE_SQL})) AS BIGINT) "
    "AS total_len FROM documents GROUP BY lang",
)
def q_fasttext_lines(spark, sf):
    """K5 — fasttext training-file sink (code_processing.py:80-111): write
    '__label__<lang> <text-escaped>' lines, read the text files back,
    re-parse the label prefix and aggregate. The oracle recomputes the
    escaped line inline from the parquet table — line counts and byte
    lengths must survive the file round-trip exactly (newlines are escaped
    by fasttext_line, so lines ↔ rows is 1:1)."""
    from metadata_enhanced_pretrain_datapipeline_spark.sources import writers

    d = load(spark, sf, "documents").select("lang", "text")
    path = _scratch_dir(sf, "fasttext")
    writers.write_fasttext(d, path, label_col="lang", text_col="text")
    back = spark.read.text(path)
    return back.select(
        F.regexp_extract("value", r"^__label__(\S+) ", 1).alias("label"),
        F.length("value").alias("__len"),
    ).groupBy("label").agg(
        F.count("*").alias("n"), F.sum("__len").alias("total_len")
    )


#: S6 CSV stand-in rows (Priority, Regex, Replacement) — deliberately listed
#: out of priority order so the loader's P-number sort is on the line.
_EU_PII_ROWS = [
    ("P1", "user[0-9]+", "<eu-user>"),
    ("P0", "DE[0-9]{20}", "<eu-iban>"),
]


@register(
    "q_pii_table_scrub",
    "SELECT doc_id, substring("
    + _pii_scrub_sql(
        "regexp_replace(regexp_replace(" + _PII_TEXT +
        ", '\\bDE[0-9]{20}(\\.|$|\\,|\\s)', '<eu-iban>', 'g')"
        ", '\\buser[0-9]+(\\.|$|\\,|\\s)', '<eu-user>', 'g')"
    )
    + ", 1, 80) AS scrubbed FROM documents",
)
def q_pii_table_scrub(spark, sf):
    """S6 + A3 full form — the EU regex asset table (pii_formatter.py:40-60)
    loaded through load_pii_regex_table (CSV stand-in, priority-sorted
    P0 < P1), then pii_scrub_with_table: EU passes first with the
    reference's ``\\b…(\\.|$|\\,|\\s)`` wrapping, then email→ip→iban.
    The P0 DE-IBAN pass consumes the spaced IBAN before the built-in pass
    sees it — the oracle replicates the exact pass order in DuckDB.
    Output clamped to the first 80 chars: the deterministic synthetic
    prefix region, away from Java-vs-RE2 end-of-string ``$`` semantics."""
    import csv
    import os

    path = _scratch_dir(sf, "pii_table")
    os.makedirs(path, exist_ok=True)
    asset = os.path.join(path, "eu_regex.csv")
    with open(asset, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["Priority", "Regex", "Replacement"])
        w.writerows(_EU_PII_ROWS)
    passes = formatters.load_pii_regex_table(asset)
    d = load(spark, sf, "documents").withColumn("__t", _pii_text_col())
    return d.select(
        "doc_id",
        F.substring(
            formatters.pii_scrub_with_table(F.col("__t"), passes), 1, 80
        ).alias("scrubbed"),
    )


@register(
    "q_per_lang_threshold",
    "SELECT doc_id, lang, score FROM ("
    "  SELECT doc_id, lang, round((doc_id % 1000) / 1000.0, 3) AS score FROM documents) "
    "WHERE score < CASE lang WHEN 'en' THEN 0.9994 WHEN 'de' THEN 0.7446 "
    "WHEN 'fr' THEN 0.6 WHEN 'es' THEN 0.5954 ELSE 0.5 END",
)
def q_per_lang_threshold(spark, sf):
    """F7 full form — per-language thresholds as a broadcast map literal
    (fineweb-2/main.py:36-105), derived deterministic score column."""
    d = load(spark, sf, "documents").select(
        "doc_id", "lang", F.round((F.col("doc_id") % 1000) / 1000.0, 3).alias("score")
    )
    return filters.per_key_threshold_filter(
        d, "lang", F.col("score"),
        {"en": 0.9994, "de": 0.7446, "fr": 0.6, "es": 0.5954}, default=0.5,
    )


@register(
    "q_quantile_threshold_filter",
    "WITH s AS (SELECT vec_id, round(sum(CAST(v AS DOUBLE) * "
    "((((i - 1) * 37) % 21 - 10) / 10.0)), 6) AS score "
    "FROM (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i "
    "FROM embeddings) GROUP BY vec_id), "
    "t AS (SELECT quantile_cont(score, 0.9) AS cutoff FROM s) "
    "SELECT vec_id, score FROM s, t WHERE score > cutoff",
)
def q_quantile_threshold_filter(spark, sf):
    """G1+F6 composed — the fineweb quality gate end-to-end
    (fineweb/main.py:113-121): score everything, estimate the top-p cutoff
    (exact percentile, one-row agg), broadcast the scalar back as a filter.
    Two jobs by construction — the threshold must exist before the filter."""
    e = load(spark, sf, "embeddings")
    scored = e.select(
        "vec_id", F.round(annotators.linear_score(F.col("embedding")), 6).alias("score")
    )
    return aggregates.quantile_threshold_filter(scored, F.col("score"), keep_top_p=0.1)


@register("q_ivf_topk")
def q_ivf_topk(spark, sf):
    """† Extension — IVF ANN: deterministic Lloyd's fit (iterative — not
    SQL-expressible), probe the 2 nearest inverted lists, exact cosine
    inside them (operators/similarity.kmeans_fit/ivf_topk)."""
    e = load(spark, sf, "embeddings")
    cents = similarity.kmeans_fit(e, k=4, iters=2)  # 2 Lloyd rounds: cheaper gate, same cluster recovery on this data
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    return similarity.ivf_topk(e.filter(F.col("vec_id") != 0), cents, qvec, k=10, nprobe=2)


@register("q_toxic_scorer")
def q_toxic_scorer(spark, sf):
    """† A1→A2 chained — embed chunks (stub encoder) then MLP-score every
    chunk and take the per-doc max (toxic_filter.py:92-149)."""
    d = load(spark, sf, "documents").filter(F.col("doc_id") % 10 == 0)
    embedded = annotators.embed_documents(d, chunk_len=32, dim=8)
    out = annotators.toxic_scorer(embedded, dim=8)
    return out.select("doc_id", F.round("toxic_score", 6).alias("toxic_score"))


@register(
    "q_string_functions",
    "SELECT doc_id, upper(substring(text, 1, 12)) AS head_upper, "
    "replace(substring(text, 1, 40), ' ', '_') AS snake, "
    "CASE WHEN starts_with(text, 'the') THEN 1 ELSE 0 END AS starts_the, "
    "lpad(CAST(doc_id AS VARCHAR), 8, '0') AS padded_id, "
    "CAST(strpos(text, 'data') AS BIGINT) AS data_pos FROM documents",
)
def q_string_functions(spark, sf):
    """§2.10 scalar surface — upper/replace/startswith/lpad/instr
    (reference str ops: code_processing.py:103-105, preprocessing.py:27-29)."""
    d = load(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.upper(F.substring("text", 1, 12)).alias("head_upper"),
        F.replace(F.substring("text", 1, 40), F.lit(" "), F.lit("_")).alias("snake"),
        F.when(F.col("text").startswith("the"), 1).otherwise(0).alias("starts_the"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("padded_id"),
        F.instr(F.col("text"), "data").cast("long").alias("data_pos"),
    )


@register(
    "q_date_features",
    "SELECT event_id, CAST(year(ts) AS BIGINT) AS y, CAST(month(ts) AS BIGINT) AS m, "
    "CAST(day(ts) AS BIGINT) AS d, CAST(hour(ts) AS BIGINT) AS h, "
    "strftime(date_trunc('day', ts), '%Y-%m-%d') AS day_str FROM events",
)
def q_date_features(spark, sf):
    """§2.10 date surface — year/month/day/hour extraction + day trunc
    (engine addition; reference has no relational timestamps, SURVEY §1.3)."""
    e = load_events(spark, sf)
    return e.select(
        "event_id",
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
        F.dayofmonth("ts").cast("long").alias("d"),
        F.hour("ts").cast("long").alias("h"),
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day_str"),
    )


@register(
    "q_excerpt_flow",
    "SELECT doc_id, excerpt, n_excerpt_tokens FROM ("
    "  SELECT doc_id, array_to_string(list_slice(toks, off, off + 7), ' ') AS excerpt, "
    "         CAST(len(list_slice(toks, off, off + 7)) AS BIGINT) AS n_excerpt_tokens FROM ("
    "    SELECT doc_id, toks, "
    f"           1 + {salted_hash_sql('doc_id', 9)} % (len(toks) - 7) AS off FROM ("
    "      SELECT doc_id, string_split(substring(text, 11, 200), ' ') AS toks "
    "      FROM documents WHERE n_chars >= 260))) "
    "WHERE n_excerpt_tokens = 8",
)
def q_excerpt_flow(spark, sf):
    """W4∘W3∘F14 composed — the gutenberg excerpt pipeline
    (create_excerpt.py:72,82-110,121-125): char-substring, tokenize, slice
    8 tokens at a hash-derived offset, keep only exact-length excerpts."""
    d = load(spark, sf, "documents").filter(F.col("n_chars") >= 260)
    d = d.withColumn("toks", F.split(F.substring("text", 11, 200), " "))
    d = d.withColumn(
        "off", (F.lit(1) + salted_hash(F.col("doc_id"), 9) % (F.size("toks") - 7)).cast("int")
    )
    d = d.withColumn("ex", F.slice("toks", F.col("off"), 8))
    return d.filter(filters.token_count_verify(F.col("ex"), 8)).select(
        "doc_id",
        F.array_join("ex", " ").alias("excerpt"),
        F.size("ex").cast("long").alias("n_excerpt_tokens"),
    )


@register(
    "q_tpch_q6",
    "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue FROM lineitem "
    "WHERE l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 10",
)
def q_tpch_q6(spark, sf):
    """TPC-H Q6 shape — pure predicate+agg: both predicates pushed to the
    scan, no shuffle at all (partial agg to one row)."""
    li = load(spark, sf, "lineitem")
    return li.filter(
        F.col("l_discount").between(0.02, 0.06) & (F.col("l_quantity") < 10)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))


@register(
    "q_tpch_q5",
    "SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "WHERE r_name = 'EUROPE' GROUP BY n_name",
)
def q_tpch_q5(spark, sf):
    """TPC-H Q5 shape — local-supplier revenue: the classic 6-way join with
    a co-nationality predicate; dims broadcast, facts sort-merge."""
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    s = load(spark, sf, "supplier")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "q_range_join",
    # intervals [20k, 20k+30] for k=0..24 tile value-space [0,510] with
    # overlaps; the oracle is the naive BETWEEN join the binned form must
    # reproduce exactly (boundaries inclusive)
    "WITH iv AS (SELECT n_nationkey AS band_id, "
    "  n_nationkey * 20.0 AS lo, n_nationkey * 20.0 + 30.0 AS hi "
    "  FROM nation) "
    # sum_value is UNROUNDED on purpose (verify-skill float policy: the
    # 12-sig-digit canon absorbs accumulation-order drift; a fixed 2dp
    # grid measurably flaked on q_tpch_q10)
    "SELECT band_id, CAST(count(*) AS BIGINT) AS n_events, "
    "  sum(value) AS sum_value "
    "FROM events JOIN iv ON value >= lo AND value <= hi "
    "GROUP BY band_id",
)
def q_range_join(spark, sf):
    """Extension — interval containment via the binned range join
    (operators/joins.range_join): intervals explode to overlapped bins,
    points land in ONE bin, the equi-join on bin carries BETWEEN as a
    post-filter — one hash shuffle where the naive plan is a
    nested-loop cross product."""
    e = load_events(spark, sf).select(F.col("event_id"), F.col("value"))
    iv = load(spark, sf, "nation").select(
        F.col("n_nationkey").alias("band_id"),
        (F.col("n_nationkey") * 20.0).alias("lo"),
        (F.col("n_nationkey") * 20.0 + 30.0).alias("hi"),
    )
    joined = joins.range_join(e, "value", iv, "lo", "hi", bin_width=25.0)
    return joined.groupBy("band_id").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
    )


@register(
    "q_count_distinct_skew",
    "SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) "
    "AS n_distinct FROM events GROUP BY event_type",
)
def q_count_distinct_skew(spark, sf):
    """Extension — exact distinct-count via the skew-safe dedup-then-count
    rewrite (operators/aggregates.skew_safe_count_distinct): the first
    shuffle keys by (key, value) so a hot key spreads over its distinct
    values instead of funneling through one task."""
    e = load_events(spark, sf)
    return aggregates.skew_safe_count_distinct(e, ["event_type"], "user_id")


@register(
    "q_salted_join",
    # exact, accumulation-order-independent measures: the salted join's
    # pinned physical join (SMJ by default, r6) orders partial sums
    # differently than DuckDB's plain join, and an unrounded double
    # revenue sum drifted past the 12-sig-digit canon (~1.6e-12 relative
    # on a 6e8 sum). qty is integral in doubles (exact to 2^53) and max
    # is order-free, so both are stable.
    "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items, "
    "CAST(sum(l_quantity) AS BIGINT) AS qty_sum, "
    "max(l_extendedprice) AS max_price "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "GROUP BY o_orderpriority",
)
def q_salted_join(spark, sf):
    """Extension — the explicit skew-salted join (operators/joins.
    salted_join): big side salted per row, small side replicated once per
    salt value and pinned SHUFFLE_HASH (Catalyst size-estimates the
    replicated side pre-explode and would broadcast it — the exact
    anti-pattern salting exists to avoid), so one hot join key spreads
    across salt_buckets tasks. Results must be IDENTICAL to the plain
    join (the oracle runs one)."""
    li = load(spark, sf, "lineitem")
    o = load(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    joined = joins.salted_join(
        li.withColumnRenamed("l_orderkey", "k"),
        o.withColumnRenamed("o_orderkey", "k"),
        on="k", salt_buckets=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum("l_quantity").cast("long").alias("qty_sum"),
        F.max("l_extendedprice").alias("max_price"),
    )


@register(
    "q_tpch_q10",
    # revenue is NOT rounded: this query measurably hit a .005 boundary
    # (sum accumulation order differs per engine by ~1e-10 relative);
    # the harness's 12-sig-digit float canon absorbs that, a fixed 2dp
    # grid does not
    "SELECT c_custkey, c_name, n_name, "
    "sum(l_extendedprice * (1 - l_discount)) AS revenue "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00' "
    "AND l_returnflag = 'R' "
    "GROUP BY c_custkey, c_name, n_name "
    "ORDER BY revenue DESC, c_custkey LIMIT 20",
)
def q_tpch_q10(spark, sf):
    """TPC-H Q10 shape — returned-item reporting: fact-fact join with a
    pushed quarter predicate, dim broadcast, agg, then TakeOrdered top-20
    (deterministic tie-break on custkey so the boundary is engine-stable)."""
    c = load(spark, sf, "customer")
    o = _ns_to_ts(load(spark, sf, "orders"), "o_orderdate").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q_tpch_q18",
    "SELECT c_name, o_orderkey, round(o_totalprice, 2) AS total, "
    "CAST(sum(l_quantity) AS BIGINT) AS total_qty "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem "
    "  GROUP BY l_orderkey HAVING sum(l_quantity) > 150) "
    "GROUP BY c_name, o_orderkey, o_totalprice",
)
def q_tpch_q18(spark, sf):
    """TPC-H Q18 shape — large-volume orders: a HAVING-subquery becomes an
    aggregate → semi-join (the keys side is tiny after the threshold, so
    AQE broadcasts it), then the detail join re-aggregates. l_quantity is
    integral in the fixture, so the sum is exact."""
    li = load(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150).select("l_orderkey")
    )
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name", "o_orderkey", "o_totalprice")
        .agg(F.sum("l_quantity").cast("long").alias("total_qty"))
        .select(
            "c_name", "o_orderkey",
            F.round("o_totalprice", 2).alias("total"), "total_qty",
        )
    )


@register(
    "q_tpch_q14",
    "SELECT round(100.0 * sum(CASE WHEN p_type = 'ECONOMY' THEN "
    "l_extendedprice * (1 - l_discount) ELSE 0 END) / "
    "sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'",
)
def q_tpch_q14(spark, sf):
    """TPC-H Q14 shape — promotion-revenue ratio: conditional aggregate
    over a month of lineitem joined to the part dim ('ECONOMY' stands in
    for PROMO% — the synthetic p_type vocabulary differs); part
    broadcasts, the predicate pushes to the fact scan."""
    li = _ns_to_ts(load(spark, sf, "lineitem"), "l_shipdate").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    p = load(spark, sf, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(F.round(
            100.0 * F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(0.0))
            / F.sum(rev), 4).alias("promo_revenue"))
    )


# ===========================================================================
# round-2 additions
# ===========================================================================


def _near_dup_bucket_sql(planes: int) -> str:
    """SQL twin of similarity.lsh_bucket over embeddings, any plane
    count (6 = the fixture family; 12 = the production-shaped twins)."""
    return (
        "SELECT vec_id, "
        + " + ".join(
            f"(CASE WHEN {_plane_sql(p)} > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(planes)
        )
        + " AS bucket FROM (SELECT vec_id, unnest(embedding) AS v, "
        "generate_subscripts(embedding, 1) AS i FROM embeddings) "
        "GROUP BY vec_id"
    )


_NEAR_DUP_BUCKET6 = _near_dup_bucket_sql(6)


@register(
    "q_embedding_near_dup",
    f"WITH bk AS ({_NEAR_DUP_BUCKET6}), "
    "be AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, bk.bucket "
    "  FROM embeddings e JOIN bk USING (vec_id)), "
    "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
    "  list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * "
    "  sqrt(list_dot_product(b.v, b.v))) AS c "
    "  FROM be a JOIN be b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) "
    "SELECT id_a, id_b, round(c, 4) AS cosine FROM p WHERE c >= 0.3",
)
def q_embedding_near_dup(spark, sf):
    """Embedding-cosine near-dup (LSH-bucketed — dedup.embedding_near_dup).
    Oracle-checked: the hyperplane weights are the closed-form integer
    planes of similarity._plane_weight (same SQL twin as
    q_ann_lsh_buckets), so DuckDB reproduces the exact bucket assignment,
    in-bucket pair set and cosines. A brute-force in-bucket comparison is
    additionally pytest-checked (tests/test_dedup.py)."""
    e = load(spark, sf, "embeddings")
    # synthetic embeddings are near-orthogonal (p99.99 cosine ≈ 0.45), so a
    # production threshold (0.95) returns nothing; 0.3 exercises the full
    # bucket → in-bucket-join → threshold path with a non-trivial result.
    # max_bucket_size=None: with 64 buckets a fixed cap would silently
    # empty the result once the table outgrows cap×64 rows; the cap path
    # is covered by tests (test_embedding_near_dup_bucket_cap_...)
    pairs = dedup.embedding_near_dup(
        e, id_col="vec_id", vec_col="embedding", threshold=0.3, num_planes=6,
        max_bucket_size=None,
    )
    return pairs.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


@register(
    "q_minhash_dedup",
    "SELECT doc_id, source, n_chars FROM documents WHERE doc_id NOT IN "
    f"(SELECT id_b FROM ({_minhash_pairs_sql('', 16, 8, 64)}))",
)
def q_minhash_dedup(spark, sf):
    """End-to-end fuzzy dedup application: MinHash-LSH candidate pairs →
    greedy smaller-id-wins resolution → kept corpus (dedup.minhash_dedup,
    portable hash). Oracle-checked: DuckDB reproduces the exact pair set
    (see q_minhash_pairs_portable) and the anti-join is NOT IN. The
    resolution invariant (kept ∪ {id_b of pairs} = input) is additionally
    pytest-checked."""
    d = load(spark, sf, "documents")
    kept = dedup.minhash_dedup(d, num_hashes=16, bands=8, shingle_n=3, portable=True)
    return kept.select("doc_id", "source", "n_chars")


@register(
    "q_promote_metadata",
    "SELECT id, toxic_score, pii_count FROM ("
    "  SELECT CAST(doc_id AS VARCHAR) AS id, "
    "  round((doc_id % 100) / 100.0, 2) AS toxic_score, "
    "  CAST(doc_id % 5 AS INT) AS pii_count FROM documents)",
)
def q_promote_metadata(spark, sf):
    """S7 round-trip — fold typed columns into the Document metadata map
    (to_documents) then promote them back out with their types
    (schema.promote_metadata): the adapter → map → typed-column pushdown
    contract, value-checked end to end."""
    from metadata_enhanced_pretrain_datapipeline_spark.schema import promote_metadata, to_documents

    d = load(spark, sf, "documents").select(
        "doc_id", "text",
        F.round((F.col("doc_id") % 100) / 100.0, 2).alias("toxic_score"),
        (F.col("doc_id") % 5).cast("int").alias("pii_count"),
    )
    docs = to_documents(d, id_col="doc_id", text_col="text",
                        metadata_cols=["toxic_score", "pii_count"])
    out = promote_metadata(docs, ["toxic_score", "pii_count"])
    return out.select("id", "toxic_score", "pii_count")


# ===========================================================================
# round-4 additions: TPC-H decision-support breadth (q4..q22 shapes)
#
# The testdata schema is trimmed TPC-H (TESTDATA.md): no partsupp table,
# no commit/receipt dates, shipmode/container/phone/comment columns.
# Each query below keeps the REFERENCE SHAPE of its TPC-H number — the
# join graph, subquery structure, and aggregation pattern — with the
# predicate vocabulary remapped onto columns that exist. Doubles follow
# the q10 rule: sums of price products stay UNROUNDED (the harness's
# 12-sig-digit float canon absorbs per-engine accumulation-order noise;
# a fixed 2dp grid can flip on a .005 boundary); threshold comparisons
# use integral l_quantity measures so both engines compare exact values.
# ===========================================================================


@register(
    "q_tpch_q4",
    "SELECT o_orderpriority, count(*) AS order_count "
    "FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00' "
    "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey "
    "AND l_returnflag = 'R') "
    "GROUP BY o_orderpriority",
)
def q_tpch_q4(spark, sf):
    """TPC-H Q4 shape — order-priority checking: the EXISTS subquery is a
    left-semi join on the order key ('R' returns stand in for the trimmed
    commitdate<receiptdate predicate). The semi side carries only
    l_orderkey, so the shuffle moves one bigint per matching lineitem."""
    o = load_orders_dated(spark, sf).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    late = load(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q_tpch_q7",
    "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
    "CAST(year(l_shipdate) AS INT) AS l_year, "
    "sum(l_extendedprice * (1 - l_discount)) AS revenue "
    "FROM supplier JOIN lineitem ON s_suppkey = l_suppkey "
    "JOIN orders ON o_orderkey = l_orderkey "
    "JOIN customer ON c_custkey = o_custkey "
    "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
    "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
    "WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') "
    "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) "
    "AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' "
    "GROUP BY 1, 2, 3",
)
def q_tpch_q7(spark, sf):
    """TPC-H Q7 shape — volume shipping between a nation pair: the two
    nation dims broadcast twice under different roles; the nation-pair
    disjunction is applied AFTER both broadcasts so Catalyst keeps it a
    residual filter on broadcast-join output, never a shuffle."""
    li = _ns_to_ts(load(spark, sf, "lineitem"), "l_shipdate").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    s = load(spark, sf, "supplier")
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    n1 = load(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = load(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "q_tpch_q8",
    "SELECT o_year, round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) "
    "/ sum(volume), 6) AS mkt_share FROM ("
    "  SELECT CAST(year(o_orderdate) AS INT) AS o_year, "
    "  l_extendedprice * (1 - l_discount) AS volume, n2.n_name AS nation "
    "  FROM part JOIN lineitem ON p_partkey = l_partkey "
    "  JOIN supplier ON s_suppkey = l_suppkey "
    "  JOIN orders ON l_orderkey = o_orderkey "
    "  JOIN customer ON o_custkey = c_custkey "
    "  JOIN nation n1 ON c_nationkey = n1.n_nationkey "
    "  JOIN region ON n1.n_regionkey = r_regionkey "
    "  JOIN nation n2 ON s_nationkey = n2.n_nationkey "
    "  WHERE r_name = 'EUROPE' AND p_type = 'PROMO' "
    "  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') "
    "GROUP BY o_year",
)
def q_tpch_q8(spark, sf):
    """TPC-H Q8 shape — national market share: the deepest dim chain in the
    suite (part, supplier, customer, nation x2, region all broadcast; the
    only shuffles are lineitem->orders and the final 2-group agg). The
    share ratio is rounded at 6dp: numerator and denominator are the SAME
    grouped sums in both engines, so the quotient is stable well past 6dp."""
    o = load_orders_dated(spark, sf).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf, "lineitem")
    p = load(spark, sf, "part").filter(F.col("p_type") == "PROMO")
    s = load(spark, sf, "supplier")
    c = load(spark, sf, "customer")
    n1 = load(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = load(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation"))
    r = load(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "q_tpch_q9",
    "SELECT nation, o_year, sum(l_extendedprice * (1 - l_discount)) AS sum_profit "
    "FROM (SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year, "
    "  l_extendedprice, l_discount "
    "  FROM part JOIN lineitem ON p_partkey = l_partkey "
    "  JOIN supplier ON s_suppkey = l_suppkey "
    "  JOIN orders ON o_orderkey = l_orderkey "
    "  JOIN nation ON s_nationkey = n_nationkey "
    "  WHERE p_name LIKE '%red%') "
    "GROUP BY nation, o_year",
)
def q_tpch_q9(spark, sf):
    """TPC-H Q9 shape — product-type profit by nation-year (profit term
    trimmed to the revenue component: no partsupp table, so no
    ps_supplycost to subtract). The p_name LIKE filter prunes the part
    broadcast BEFORE the build side ships."""
    li = load(spark, sf, "lineitem")
    p = load(spark, sf, "part").filter(F.col("p_name").like("%red%"))
    s = load(spark, sf, "supplier")
    o = load_orders_dated(spark, sf)
    n = load(spark, sf, "nation")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_profit"))
    )


@register(
    "q_tpch_q12",
    "SELECT l_linestatus, "
    "sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)"
    "::BIGINT AS high_line_count, "
    "sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)"
    "::BIGINT AS low_line_count "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
    "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' "
    "GROUP BY l_linestatus",
)
def q_tpch_q12(spark, sf):
    """TPC-H Q12 shape — shipping-mode priority counts (l_linestatus stands
    in for the trimmed l_shipmode): fact-fact equi-join with the year
    predicate pushed to the lineitem scan, conditional-count aggregate."""
    li = _ns_to_ts(load(spark, sf, "lineitem"), "l_shipdate").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = load(spark, sf, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@register(
    "q_tpch_q13",
    "SELECT c_count, count(*) AS custdist FROM ("
    "  SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count "
    "  FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
    "  AND o_orderpriority <> '1-URGENT' "
    "  GROUP BY c_custkey) "
    "GROUP BY c_count",
)
def q_tpch_q13(spark, sf):
    """TPC-H Q13 shape — customer order-count distribution: LEFT OUTER join
    with the predicate in the JOIN CONDITION (not a WHERE — customers with
    only urgent orders must still appear with c_count 0), then a
    histogram-of-counts double aggregate."""
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@register(
    "q_tpch_q15",
    "WITH revenue AS (SELECT l_suppkey AS supplier_no, "
    "  CAST(sum(l_quantity) AS BIGINT) AS total_qty FROM lineitem "
    "  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' "
    "  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00' GROUP BY l_suppkey) "
    "SELECT s_suppkey, s_name, total_qty FROM supplier "
    "JOIN revenue ON s_suppkey = supplier_no "
    "WHERE total_qty = (SELECT max(total_qty) FROM revenue)",
)
def q_tpch_q15(spark, sf):
    """TPC-H Q15 shape — top supplier via a scalar-subquery max over a
    derived view. The max measure is integral l_quantity (exact in both
    engines), so the equality join cannot flip on float accumulation
    noise the way a price sum could. Spark plan: per-supplier agg (small),
    1-row max agg cross-broadcast back, equality filter — no window over
    a single partition."""
    li = _ns_to_ts(load(spark, sf, "lineitem"), "l_shipdate").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum("l_quantity").cast("long").alias("total_qty"))
    )
    mx = rev.agg(F.max("total_qty").alias("max_qty"))
    s = load(spark, sf, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.total_qty == mx.max_qty)
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_qty")
    )


@register(
    "q_tpch_q16",
    "SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt "
    "FROM part JOIN lineitem ON p_partkey = l_partkey "
    "WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 7, 10, 15, 20, 25, 30) "
    "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) "
    "GROUP BY p_brand, p_type, p_size",
)
def q_tpch_q16(spark, sf):
    """TPC-H Q16 shape — supplier-count per part attribute: lineitem is the
    part-supplier bridge (no partsupp table), the NOT IN complaint-filter
    becomes a broadcast anti-join (negative-balance suppliers stand in for
    the trimmed comment LIKE), then count(DISTINCT) per part triple."""
    p = load(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 7, 10, 15, 20, 25, 30)
    )
    bad = load(spark, sf, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    li = load(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q_tpch_q17",
    "SELECT sum(l_extendedprice) / 7.0 AS avg_yearly "
    "FROM lineitem JOIN part ON p_partkey = l_partkey "
    "WHERE p_brand = 'Brand#12' AND l_quantity < ("
    "  SELECT 0.2 * avg(l_quantity) FROM lineitem l2 "
    "  WHERE l2.l_partkey = lineitem.l_partkey)",
)
def q_tpch_q17(spark, sf):
    """TPC-H Q17 shape — small-quantity-order revenue: the correlated
    per-part average decorrelates into an aggregate + equi-join. Both
    engines compute avg from exact integral sums, and 0.2*avg is the same
    IEEE op on the same value, so the < threshold is engine-stable. Spark
    plan: brand-filtered part broadcasts; the per-part avg is computed on
    the SEMI-restricted lineitem (only parts of that brand). The avg side
    is per-PART — a table that scales with the corpus — so it is NOT
    force-broadcast: AQE broadcasts it when the brand slice fits, else
    the join co-partitions on partkey with the already-shuffled agg."""
    p = load(spark, sf, "part").filter(F.col("p_brand") == "Brand#12").select("p_partkey")
    li = load(spark, sf, "lineitem")
    brand_li = li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
    avgs = (
        brand_li.groupBy(F.col("l_partkey").alias("avg_partkey"))
        .agg((F.avg("l_quantity") * F.lit(0.2)).alias("qty_threshold"))
    )
    return (
        brand_li.join(avgs, brand_li.l_partkey == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg((F.sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


@register(
    "q_tpch_q19",
    "SELECT sum(l_extendedprice * (1 - l_discount)) AS revenue "
    "FROM lineitem JOIN part ON p_partkey = l_partkey "
    "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 "
    "  AND l_quantity BETWEEN 1 AND 11) "
    "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 "
    "  AND l_quantity BETWEEN 10 AND 20) "
    "OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 "
    "  AND l_quantity BETWEEN 20 AND 30) "
    "GROUP BY ()",
)
def q_tpch_q19(spark, sf):
    """TPC-H Q19 shape — disjunctive AND-OR predicate across the join:
    Catalyst extracts the common l_partkey equi-condition so the plan is a
    broadcast hash join with the OR-of-ANDs as a residual filter, plus the
    derivable per-side disjunctions (brand set, quantity range) pushed to
    each scan — not a nested-loop join."""
    li = load(spark, sf, "lineitem")
    p = load(spark, sf, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return j.filter(cond).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


@register(
    "q_tpch_q21",
    "SELECT s_name, count(*) AS numwait FROM supplier "
    "JOIN lineitem l1 ON s_suppkey = l1.l_suppkey "
    "JOIN orders ON o_orderkey = l1.l_orderkey "
    "WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R' "
    "AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey "
    "  AND l2.l_suppkey <> l1.l_suppkey) "
    "AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey "
    "  AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R') "
    "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20",
)
def q_tpch_q21(spark, sf):
    """TPC-H Q21 shape — suppliers who kept orders waiting ('R' returns
    stand in for the trimmed receipt>commit lateness): the correlated
    EXISTS / NOT EXISTS pair decorrelates into per-order supplier
    stats — n_supp(distinct suppliers) > 1 AND n_supp_r(distinct
    suppliers among 'R' lines) = 1. Since l1 itself has
    returnflag='R', 'no OTHER supplier with R' is exactly n_supp_r = 1.

    ONE lineitem scan (r13 — the r12 shape scanned it twice: the
    order-stats aggregate plus the l1 probe side, with a double-column
    countDistinct Expand doubling the exchanged rows): aggregate once
    per (orderkey, suppkey) counting the group's 'R' lines map-side —
    the exchange then moves ~one narrow row per distinct pair and
    needs NO Expand — and derive the per-order stats from a window
    over that small grouped relation (n_supp = group count, n_supp_r =
    count of groups with any R line; same-key window rides the
    grouped partitioning when AQE permits, else re-keys ~distinct-pair
    rows, not lineitem rows). A qualifying (order, supplier) group
    with cnt_r > 0 contributes exactly its cnt_r 'R' lines — the sum
    of cnt_r over qualifying groups IS count(*) over qualifying l1
    rows, so the result is unchanged by construction (oracle-verified
    row+hash identical)."""
    li = load(spark, sf, "lineitem")
    g = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.count(F.when(F.col("l_returnflag") == "R", True)).alias("cnt_r")
    )
    w = Window.partitionBy("l_orderkey")
    qual = (
        g.withColumn("n_supp", F.count("*").over(w))
        .withColumn(
            "n_supp_r",
            F.count(F.when(F.col("cnt_r") > 0, True)).over(w))
        .filter((F.col("n_supp") > 1) & (F.col("n_supp_r") == 1)
                & (F.col("cnt_r") > 0))
        .select("l_orderkey", "l_suppkey", "cnt_r")
    )
    o = load(spark, sf, "orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    s = load(spark, sf, "supplier")
    return (
        qual.join(o, qual.l_orderkey == o.o_orderkey, "left_semi")
        .join(F.broadcast(s), qual.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("cnt_r").cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@register(
    "q_tpch_q22",
    "SELECT bucket, count(*) AS numcust, sum(c_acctbal) AS totacctbal FROM ("
    "  SELECT CAST(c_nationkey % 5 AS INT) AS bucket, c_acctbal, c_custkey "
    "  FROM customer WHERE c_nationkey % 5 IN (0, 1, 2) "
    "  AND c_acctbal > (SELECT avg(c_acctbal) FROM customer "
    "    WHERE c_acctbal > 0.0 AND c_nationkey % 5 IN (0, 1, 2)) "
    "  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
    "    AND o_orderpriority = '1-URGENT')) "
    "GROUP BY bucket",
)
def q_tpch_q22(spark, sf):
    """TPC-H Q22 shape — global-sales opportunity: nationkey buckets stand
    in for the trimmed phone country codes; 'never placed an urgent order'
    stands in for 'no orders at all' (the dense fixture gives every
    customer orders, which would make the anti-join vacuous). The scalar
    avg subquery cross-broadcasts (1 row); the NOT EXISTS is an anti-join
    against the urgent orders' custkeys. The avg threshold is a float
    comparison, but both engines compare against their own
    exact-sum-derived avg of the SAME rows."""
    c = load(spark, sf, "customer").withColumn(
        "bucket", (F.col("c_nationkey") % 5).cast("int")
    ).filter(F.col("bucket").isin(0, 1, 2))
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal"))
    o = (
        load(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("bucket")
        .agg(F.count("*").alias("numcust"), F.sum("c_acctbal").alias("totacctbal"))
    )


@register(
    "q_tpch_q11",
    "SELECT l_partkey, CAST(sum(l_quantity) AS BIGINT) AS qty_value "
    "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_1' "
    "GROUP BY l_partkey HAVING sum(l_quantity) > ("
    "  SELECT sum(l_quantity) * 0.001 FROM lineitem "
    "  JOIN supplier ON l_suppkey = s_suppkey "
    "  JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_1')",
)
def q_tpch_q11(spark, sf):
    """TPC-H Q11 shape — important stock: per-part value with a HAVING
    against a global-fraction scalar (lineitem quantity stands in for the
    absent partsupp value). The measure is integral, so group sums are
    exact in both engines and the 0.001*total product is the same IEEE op
    — no boundary flip. Spark computes the national subset ONCE; the
    scalar total cross-broadcasts onto the per-part agg."""
    li = load(spark, sf, "lineitem")
    s = load(spark, sf, "supplier")
    n = load(spark, sf, "nation").filter(F.col("n_name") == "NATION_1")
    national = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("l_partkey", "l_quantity")
    )
    per_part = national.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("qty_sum"))
    total = national.agg((F.sum("l_quantity") * F.lit(0.001)).alias("threshold"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("qty_sum") > F.col("threshold"))
        .select("l_partkey", F.col("qty_sum").cast("long").alias("qty_value"))
    )


# ===========================================================================
# round-4 additions: OLAP breadth — cube, pivot, window suite, range frames
# ===========================================================================


@register(
    "q_cube_events",
    "SELECT coalesce(event_type, 'ALL') AS event_type, "
    "coalesce(CAST(cohort AS VARCHAR), 'ALL') AS cohort, "
    "CAST(grouping(event_type) AS INT) + 2 * CAST(grouping(cohort) AS INT) "
    "AS grouping_level, count(*) AS n, sum(value) AS sum_value FROM ("
    "  SELECT event_type, CAST(user_id % 4 AS INT) AS cohort, value FROM events) "
    "GROUP BY CUBE (event_type, cohort)",
)
def q_cube_events(spark, sf):
    """OLAP extension — full CUBE over (event_type, cohort) with
    grouping_level disambiguating real NULL-free groups from the
    subtotal rows (both engines compute grouping() bits identically).
    CUBE is a Catalyst Expand: one pass over events emits all 4 grouping
    combinations into ONE partial-agg shuffle — no per-level rescan."""
    e = load(spark, sf, "events").withColumn(
        "cohort", (F.col("user_id") % 4).cast("int"))
    return (
        e.cube("event_type", "cohort")
        .agg(
            (F.grouping("event_type").cast("int")
             + F.lit(2) * F.grouping("cohort").cast("int")).alias("grouping_level"),
            F.count("*").alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("cohort").cast("string"), F.lit("ALL")).alias("cohort"),
            "grouping_level", "n", "sum_value",
        )
    )


@register(
    "q_pivot_events",
    "SELECT CAST(user_id % 10 AS INT) AS cohort, "
    "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click, "
    "sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error, "
    "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase, "
    "sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup, "
    "sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view "
    "FROM events GROUP BY 1",
)
def q_pivot_events(spark, sf):
    """OLAP extension — pivot event_type into per-cohort count columns.
    The pivot values are DECLARED (not discovered), which skips Spark's
    extra distinct-scan job and keeps the plan a single partial-agg
    shuffle — at 100 TB an undeclared pivot would pay a full extra pass."""
    e = load(spark, sf, "events").withColumn(
        "cohort", (F.col("user_id") % 10).cast("int"))
    return (
        e.groupBy("cohort")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
    )


@register(
    "q_window_suite",
    "SELECT event_id, "
    "CAST(row_number() OVER w AS INT) AS rn, "
    "CAST(ntile(4) OVER w AS INT) AS quartile, "
    "percent_rank() OVER w AS pct_rank, "
    "lead(event_id) OVER w AS next_event, "
    "sum(value) OVER (PARTITION BY event_type ORDER BY ts, event_id "
    "  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_sum "
    "FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)",
)
def q_window_suite(spark, sf):
    """OLAP extension — the ranking/navigation window family over one
    window spec: row_number, ntile, percent_rank, lead, and a rows-frame
    moving sum. One shuffle by event_type serves all five functions
    (Catalyst collapses same-spec windows into a single Window node);
    ordering ties broken by unique event_id so ranks are engine-stable."""
    e = load_events(spark, sf)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    wf = w.rowsBetween(-2, Window.currentRow)
    return e.select(
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.lead("event_id").over(w).alias("next_event"),
        F.sum("value").over(wf).alias("moving_sum"),
    )


@register(
    "q_keyed_window_suite",
    "SELECT event_id, "
    "CAST(row_number() OVER w AS INT) AS rn, "
    "CAST(ntile(4) OVER w AS INT) AS quartile, "
    "percent_rank() OVER w AS pct_rank, "
    "lead(event_id) OVER w AS next_event, "
    "sum(value) OVER (PARTITION BY event_type ORDER BY ts, event_id "
    "  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_sum "
    "FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)",
)
def q_keyed_window_suite(spark, sf):
    """Extension — the FULL five-function window suite without the
    per-key single-task sort (operators/sampling.keyed_window_suite,
    round 7): rn from keyed_rank's range construction, ntile +
    percent_rank as closed forms of (rn, per-key total), lead and the
    2-preceding moving sum computed within (key, range) windows with
    driver-side boundary fixes from one bounded collect. The oracle is
    q_window_suite's naive SQL verbatim — the scalable construction
    must be value-identical to the five window functions it replaces."""
    e = load_events(spark, sf)
    out = sampling.keyed_window_suite(
        e, ["event_type"], [F.col("ts"), F.col("event_id")],
        value_col="value", lead_col="event_id", n_tiles=4)
    return out.select(
        "event_id", F.col("rn").cast("int").alias("rn"), "quartile",
        "pct_rank", F.col("next_event_id").alias("next_event"),
        "moving_sum")


@register(
    "q_keyed_rank",
    "SELECT event_id, CAST(row_number() OVER (PARTITION BY event_type "
    "ORDER BY ts, event_id) AS BIGINT) AS rn FROM events",
)
def q_keyed_rank(spark, sf):
    """Extension — scalable within-key ranking
    (operators/sampling.keyed_rank): the q_window_suite shape (rank 10M
    events inside 5 event_types) WITHOUT the 5-task parallelism cap the
    sf10 probe adjudicated (SCALE.md r7). Three phases: global literal
    range boundaries on ts, per-(key, range) counts → broadcast running
    offsets, in-range row_number + offset — every key's sort now spreads
    over num_ranges tasks. The oracle is the naive window: the
    construction must be value-identical to it."""
    e = load_events(spark, sf)
    out = sampling.keyed_rank(e, ["event_type"],
                              [F.col("ts"), F.col("event_id")],
                              rank_col="rn")
    return out.select("event_id", "rn")


@register(
    "q_range_frame_agg",
    "SELECT event_id, CAST(count(*) OVER w AS BIGINT) AS n_5min, "
    "sum(value) OVER w AS sum_5min FROM ("
    "  SELECT event_id, user_id, value, "
    "  CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events) "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts_s "
    "RANGE BETWEEN 300 PRECEDING AND CURRENT ROW)",
)
def q_range_frame_agg(spark, sf):
    """OLAP extension — TIME-RANGE window frame: per-user trailing-5-minute
    event count and value sum, the sliding aggregation a sessionizing
    pipeline needs WITHOUT self-join or explode. Spark's rangeBetween on
    the integral epoch-seconds key matches DuckDB's RANGE frame exactly
    (same peer semantics: all rows within 300s, ties included)."""
    e = load_events(spark, sf).withColumn(
        "ts_s", F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1_000_000)
    ).withColumn("ts_s", F.col("ts_s").cast("long"))
    w = Window.partitionBy("user_id").orderBy("ts_s").rangeBetween(-300, 0)
    return e.select(
        "event_id",
        F.count("*").over(w).alias("n_5min"),
        F.sum("value").over(w).alias("sum_5min"),
    )


# ===========================================================================
# round-4 additions: segment-level dedup + bloom-prefiltered anti-join
# ===========================================================================


@register(
    "q_segment_dedup",
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents), "
    "sg AS (SELECT doc_id, words, unnest(generate_series(0, "
    "  CAST(ceil(len(words) / 8.0) AS BIGINT) - 1)) AS gs FROM w), "
    "seg AS (SELECT doc_id, CAST(gs AS INT) AS pos, "
    "  array_to_string(list_slice(words, gs * 8 + 1, gs * 8 + 8), ' ') AS para, "
    "  doc_id * 4096 + gs AS ok FROM sg), "
    "m AS (SELECT md5(para) AS dg, min(ok) AS mok FROM seg GROUP BY 1), "
    "k AS (SELECT s.doc_id, s.pos, s.para FROM seg s "
    "  JOIN m ON md5(s.para) = m.dg AND s.ok = m.mok) "
    "SELECT d.doc_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_kept, "
    "coalesce(c.t, '') AS kept_text FROM documents d LEFT JOIN ("
    "  SELECT doc_id, count(*) AS n, "
    "  string_agg(para, ' ' ORDER BY pos) AS t FROM k GROUP BY doc_id) c "
    "USING (doc_id)",
)
def q_segment_dedup(spark, sf):
    """Corpus-level segment (line/paragraph) dedup — the RefinedWeb line
    pass: split every doc into 8-word segments (the fixture has no
    newlines, so position-chunking stands in for line splitting), keep
    each distinct segment only at its corpus-first (doc, pos), reassemble
    per-doc text in order, and emit fully-deduped docs as EMPTY rather
    than dropping them (dedup.segment_dedup + reassemble_segments).
    Skew-safe: first-wins is a groupBy-MIN on an integral order key
    (map-side combine), never a row_number window over a hot digest."""
    d = load(spark, sf, "documents")
    words = F.split(F.col("text"), " ")
    segs = (
        d.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), (F.ceil(F.size(words) / F.lit(8)) - 1).cast("int"))
            ).alias("pos"),
            words.alias("__w"),
        )
        .select(
            "doc_id", "pos",
            F.array_join(
                F.slice("__w", F.col("pos") * 8 + 1, 8), " ").alias("segment"),
        )
    )
    kept = dedup.segment_dedup(segs, "doc_id", "pos", "segment")
    return dedup.reassemble_segments(kept, d, "doc_id", "pos", "segment")


@register(
    "q_bloom_dedup",
    "WITH k AS (SELECT doc_id, source, md5(lower(trim(regexp_replace("
    "  text, '\\s+', ' ', 'g')))) AS tk FROM documents) "
    "SELECT doc_id, source FROM k WHERE doc_id % 3 <> 0 AND (tk IS NULL "
    "  OR tk NOT IN (SELECT tk FROM k WHERE doc_id % 3 = 0 "
    "  AND tk IS NOT NULL))",
)
def q_bloom_dedup(spark, sf):
    """Bloom-prefiltered cross-snapshot dedup (dedup.bloom_anti_join): the
    SAME result as the exact anti-join (q_dedup_against_snapshot shape —
    this oracle IS the plain NOT IN), but the corpus first passes a 1 MiB
    Bloom filter built distributively over the seen digests: definite
    misses skip the shuffle entirely; only maybe-hits are verified
    exactly. At 100 TB this is the shape when the seen side fits a bloom
    but not an exact broadcast."""
    d = load(spark, sf, "documents")
    seen = d.filter(F.col("doc_id") % 3 == 0)
    fresh = d.filter(F.col("doc_id") % 3 != 0)
    kept = dedup.bloom_anti_join(
        fresh, seen,
        df_key=dedup.normalized_text_key(F.col("text")),
        seen_key=dedup.normalized_text_key(F.col("text")),
        num_bits=1 << 20,
    )
    return kept.select("doc_id", "source")


# ===========================================================================
# round-4 additions: corpus term statistics (text_stats.py)
# ===========================================================================

_TOK_SQL = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '')"


@register(
    "q_tfidf_top_terms",
    "WITH tok AS (SELECT doc_id, unnest(" + _TOK_SQL + ") AS term FROM documents), "
    "tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2), "
    "dft AS (SELECT term, count(*)::BIGINT AS df_t FROM tf GROUP BY 1), "
    "n AS (SELECT count(*) AS n_docs FROM documents), "
    "sc AS (SELECT tf.doc_id, tf.term, tf.tf, dft.df_t, "
    "  tf.tf * (ln((n.n_docs + 1.0) / (dft.df_t + 1.0)) + 1) AS tfidf "
    "  FROM tf JOIN dft USING (term) CROSS JOIN n), "
    "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id "
    "  ORDER BY tfidf DESC, term) AS rank FROM sc) "
    "SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df_t, tfidf "
    "FROM r WHERE rank <= 3",
)
def q_tfidf_top_terms(spark, sf):
    """Corpus TF-IDF (text_stats.top_terms): top-3 characteristic terms
    per doc under smooth idf. One token explode, two vocab-sized
    broadcasts back; exact score ties share (tf, df_t) so the
    (score, term) tie-break is bit-stable in both engines."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators import text_stats

    return text_stats.top_terms(load(spark, sf, "documents"), k=3)


@register(
    "q_inverted_index",
    "WITH pairs AS (SELECT DISTINCT term, doc_id FROM ("
    "  SELECT doc_id, unnest(" + _TOK_SQL + ") AS term FROM documents)), "
    "agg AS (SELECT term, count(*)::BIGINT AS df_t, "
    "  list(doc_id ORDER BY doc_id) AS postings FROM pairs GROUP BY term) "
    "SELECT term, df_t, CASE WHEN df_t <= 40 "
    "THEN array_to_string(postings, ',') "
    "ELSE '' END AS postings FROM agg",
)
def q_inverted_index(spark, sf):
    """Inverted index (text_stats.inverted_index): per-term sorted
    postings with the max_postings=40 degenerate-row cap — a stopword's
    billion-id postings row is the at-scale failure mode, so hot terms
    keep df_t but an empty array (the exploded pair table is the real
    100 TB representation). The query boundary serializes postings to a
    CSV string (driver's pandas canonicalizer can't sort raw arrays —
    VERDICT r4 #1); the operator itself keeps the typed array."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators import text_stats

    idx = text_stats.inverted_index(
        load(spark, sf, "documents"), max_postings=40)
    return idx.withColumn(
        "postings", F.array_join(F.col("postings").cast("array<string>"), ","))


@register(
    "q_term_drift",
    "WITH tok AS (SELECT CASE WHEN lang = 'en' THEN 'p' ELSE 'q' END AS slice, "
    "  unnest(" + _TOK_SQL + ") AS term FROM documents), "
    "c AS (SELECT term, sum(CASE WHEN slice = 'p' THEN 1 ELSE 0 END)::BIGINT AS np, "
    "  sum(CASE WHEN slice = 'q' THEN 1 ELSE 0 END)::BIGINT AS nq FROM tok GROUP BY 1), "
    "t AS (SELECT sum(np) AS tp, sum(nq) AS tq, count(*) AS vocab FROM c) "
    "SELECT term, (np + 1.0) / (tp + vocab) AS p, (nq + 1.0) / (tq + vocab) AS q, "
    "((np + 1.0) / (tp + vocab)) * ln(((np + 1.0) / (tp + vocab)) / "
    "((nq + 1.0) / (tq + vocab))) AS kl_term FROM c CROSS JOIN t",
)
def q_term_drift(spark, sf):
    """Distribution-drift monitor (text_stats.term_distribution_drift):
    per-term KL contribution of the 'en' slice against the rest with
    add-one smoothing — the snapshot-over-snapshot drift check. All
    arithmetic is exact-rounded div/mul over exact integer counts; ln is
    1-ulp and compared at 12 significant digits, never filtered on."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators import text_stats

    d = load(spark, sf, "documents")
    return text_stats.term_distribution_drift(
        d, F.when(F.col("lang") == "en", "p").otherwise("q"))


@register(
    "q_stream_static_join",
    "SELECT c_mktsegment, count(*) AS n, sum(value) AS sum_value "
    "FROM events JOIN customer ON user_id = c_custkey "
    "GROUP BY c_mktsegment",
)
def q_stream_static_join(spark, sf):
    """Streaming extension (§2.11) — stream-static enrichment: the events
    stream joins the static customer dim (broadcast, stateless, no
    watermark needed) and aggregates per segment, drained complete-mode —
    checked against the identical BATCH join+agg SQL, proving
    batch/stream parity for the join operator
    (streaming.stream_static_enrich)."""
    import uuid

    from metadata_enhanced_pretrain_datapipeline_spark.streaming import events as se

    table = f"stream_enrich_{uuid.uuid4().hex[:8]}"
    raw_schema = load(spark, sf, "events").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
        .select("user_id", "value")
    )
    dim = load(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    enriched = se.stream_static_enrich(
        stream, dim, F.col("user_id") == F.col("c_custkey"))
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    q = (
        agg.writeStream.format("memory").queryName(table)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT c_mktsegment, n, sum_value FROM {table}")


@register(
    "q_tpch_q2",
    "WITH elig AS (SELECT p_partkey, s_suppkey, s_name, l_extendedprice AS price "
    "  FROM lineitem JOIN part ON l_partkey = p_partkey "
    "  JOIN supplier ON l_suppkey = s_suppkey "
    "  JOIN nation ON s_nationkey = n_nationkey "
    "  JOIN region ON n_regionkey = r_regionkey "
    "  WHERE r_name = 'EUROPE' AND p_size = 15), "
    "m AS (SELECT p_partkey, min(price) AS mp FROM elig GROUP BY 1) "
    "SELECT DISTINCT e.p_partkey, e.s_suppkey, e.s_name, e.price AS min_price "
    "FROM elig e JOIN m ON e.p_partkey = m.p_partkey AND e.price = m.mp",
)
def q_tpch_q2(spark, sf):
    """TPC-H Q2 shape — minimum-cost supplier per part within a region
    (lineitem extendedprice stands in for the absent ps_supplycost): the
    correlated MIN subquery decorrelates into a per-part aggregate joined
    back on (part, price = min). The min is selected from the SAME double
    set in both engines, so the equality cannot flip; ties emit all tied
    suppliers in both. All dims broadcast; two shuffles (agg + re-join)."""
    li = load(spark, sf, "lineitem")
    p = load(spark, sf, "part").filter(F.col("p_size") == 15)
    s = load(spark, sf, "supplier")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    elig = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("p_partkey", "s_suppkey", "s_name",
                F.col("l_extendedprice").alias("price"))
    )
    m = elig.groupBy(F.col("p_partkey").alias("m_partkey")).agg(
        F.min("price").alias("mp"))
    return (
        elig.join(m, (elig.p_partkey == m.m_partkey) & (elig.price == m.mp))
        .select("p_partkey", "s_suppkey", "s_name",
                F.col("price").alias("min_price"))
        .distinct()
    )


@register(
    "q_tpch_q20",
    "SELECT s_suppkey, s_name FROM supplier "
    "JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_2' "
    "AND s_suppkey IN (SELECT l_suppkey FROM lineitem "
    "  JOIN part ON l_partkey = p_partkey WHERE p_name LIKE 'red%' "
    "  GROUP BY l_suppkey, l_partkey HAVING sum(l_quantity) > 50)",
)
def q_tpch_q20(spark, sf):
    """TPC-H Q20 shape — suppliers with excess stock of a part family
    (lineitem shipment totals stand in for partsupp availqty): the nested
    IN subquery becomes an aggregate → left-semi join chain. The HAVING
    threshold is integral quantity — exact in both engines. The 'red'
    part set broadcasts into the lineitem scan before the (supp, part)
    aggregate, so only matching lineitems shuffle."""
    li = load(spark, sf, "lineitem")
    p = load(spark, sf, "part").filter(F.col("p_name").like("red%")).select("p_partkey")
    heavy = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 50)
        .select("l_suppkey")
        .distinct()
    )
    s = load(spark, sf, "supplier")
    n = load(spark, sf, "nation").filter(F.col("n_name") == "NATION_2")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


# ===========================================================================
# round-4 additions: data-quality expectations
# ===========================================================================

_EXPECT_RULES_SQL = {
    "text_not_null": "text IS NOT NULL",
    "n_chars_consistent": "n_chars = length(text)",
    "known_lang": "lang IN ('en', 'de', 'fr', 'it', 'pt')",
    "min_length": "length(text) >= 450",
}


@register(
    "q_expectation_summary",
    "SELECT rule, n_violations, n_violations = 0 AS passed FROM ("
    + " UNION ALL ".join(
        f"SELECT '{name}' AS rule, CAST(sum(CASE WHEN coalesce(({cond}), FALSE) "
        "THEN 0 ELSE 1 END) AS BIGINT) AS n_violations FROM documents"
        for name, cond in _EXPECT_RULES_SQL.items()
    )
    + ")",
)
def q_expectation_summary(spark, sf):
    """Data-quality gate (expectations.expectation_summary): per-rule
    violation counts over documents in ONE aggregation pass — the SQL
    oracle needs a UNION ALL re-scan per rule; the operator folds all
    rules into a single map-side-combined agg, which is the difference
    that matters at 100 TB."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators import expectations as ex

    d = load(spark, sf, "documents")
    rules = [
        ("text_not_null", F.col("text").isNotNull()),
        ("n_chars_consistent", F.col("n_chars") == F.length("text")),
        ("known_lang", F.col("lang").isin("en", "de", "fr", "it", "pt")),
        ("min_length", F.length("text") >= 450),
    ]
    return ex.expectation_summary(d, rules)


@register(
    "q_flag_violations",
    "SELECT doc_id, coalesce(array_to_string(list_filter(["
    "CASE WHEN NOT coalesce(length(text) >= 450, FALSE) THEN 'min_length' END, "
    "CASE WHEN NOT coalesce(lang IN ('en', 'de'), FALSE) THEN 'core_lang' END"
    "], x -> x IS NOT NULL), ','), '') AS failed_rules FROM documents",
)
def q_flag_violations(spark, sf):
    """Per-row rule flagging (expectations.flag_violations): every doc
    carries the array of expectations it fails — the routing key for
    exclusion sinks. Pure projection, zero shuffles. The query boundary
    serializes the array to a CSV string (driver canonicalizer contract,
    VERDICT r4 #1); DuckDB's array_to_string is NULL on the empty list
    where Spark's array_join is '', hence the oracle coalesce."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators import expectations as ex

    d = load(spark, sf, "documents")
    rules = [
        ("min_length", F.length("text") >= 450),
        ("core_lang", F.col("lang").isin("en", "de")),
    ]
    return ex.flag_violations(d, rules).select(
        "doc_id", F.array_join("failed_rules", ",").alias("failed_rules"))


@register(
    "q_zorder_stats",
    "WITH z AS (SELECT "
    + __import__("metadata_enhanced_pretrain_datapipeline_spark.operators.layout",
                 fromlist=["zorder_key_sql"]).zorder_key_sql(
        "(user_id & 255)", "((CAST(floor(epoch(ts)) AS BIGINT) // 3600) & 255)", 8)
    + " AS zkey, (user_id & 255) AS ux, "
    "((CAST(floor(epoch(ts)) AS BIGINT) // 3600) & 255) AS hy FROM events) "
    "SELECT CAST(zkey // 4096 AS BIGINT) AS z_bucket, count(*) AS n, "
    "CAST(min(ux) AS BIGINT) AS min_x, CAST(max(ux) AS BIGINT) AS max_x, "
    "CAST(min(hy) AS BIGINT) AS min_y, CAST(max(hy) AS BIGINT) AS max_y "
    "FROM z GROUP BY 1",
)
def q_zorder_stats(spark, sf):
    """Z-order layout (layout.zorder_key): Morton-interleave (user, hour)
    and report per-Z-range min-max rectangles — the stats a parquet
    reader would prune on. Each fixed-width Z bucket covers a bounded
    (x, y) rectangle (bucket width 4096 = a 64x64 tile of the 256x256
    key space), which is exactly why selective predicates on EITHER
    dimension skip most Z-clustered files; a plain (x, y) sort gives
    min-max boxes spanning all of y. The key chain is pure codegen."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators import layout

    e = load_events(spark, sf)
    x = (F.col("user_id") % 256).cast("long")
    hy = (F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3_600_000_000)) % 256).cast("long")
    z = e.select(
        layout.zorder_key(x, hy, bits=8).alias("zkey"),
        x.alias("ux"), hy.alias("hy"),
    )
    return (
        z.groupBy(F.floor(F.col("zkey") / 4096).cast("long").alias("z_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("ux").alias("min_x"), F.max("ux").alias("max_x"),
            F.min("hy").alias("min_y"), F.max("hy").alias("max_y"),
        )
    )


# ===========================================================================
# round-4 additions: event analytics (funnel, cohort retention)
# ===========================================================================


@register(
    "q_funnel",
    "WITH s1 AS (SELECT user_id, min(ts) AS t FROM events "
    "  WHERE event_type = 'signup' GROUP BY 1), "
    "s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e "
    "  JOIN s1 ON e.user_id = s1.user_id "
    "  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1), "
    "s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e "
    "  JOIN s2 ON e.user_id = s2.user_id "
    "  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1) "
    "SELECT 1 AS stage_idx, 'signup' AS stage, count(*) AS n_users FROM s1 "
    "UNION ALL SELECT 2, 'click', count(*) FROM s2 "
    "UNION ALL SELECT 3, 'purchase', count(*) FROM s3",
)
def q_funnel(spark, sf):
    """Ordered funnel (events_analytics.funnel_counts): users completing
    signup -> click -> purchase strictly in order, earliest-completion
    semantics. Per-stage conditional min-aggs with shrinking broadcast
    user sets — no per-user event-history arrays."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators import events_analytics as ea

    e = load_events(spark, sf)
    return ea.funnel_counts(e, ["signup", "click", "purchase"])


@register(
    "q_cohort_retention",
    "WITH w AS (SELECT user_id, "
    "  CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week FROM events), "
    "f AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1), "
    "a AS (SELECT DISTINCT w.user_id, f.cohort_week, "
    "  w.week - f.cohort_week AS week_offset FROM w JOIN f ON w.user_id = f.user_id) "
    "SELECT cohort_week, week_offset, count(*) AS n_users FROM a GROUP BY 1, 2",
)
def q_cohort_retention(spark, sf):
    """Cohort retention (events_analytics.cohort_retention): first-seen
    week cohorts x week offsets, distinct users. Week indexing is
    integral epoch arithmetic — engine-portable and timezone-free."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators import events_analytics as ea

    return ea.cohort_retention(load_events(spark, sf))


@register(
    "q_histogram",
    "WITH mm AS (SELECT min(c_acctbal) AS lo, max(c_acctbal) AS hi FROM customer), "
    "b AS (SELECT CAST(least(CAST(floor((c_acctbal - lo) / ((hi - lo) / 10)) "
    "  AS BIGINT), 9) AS INT) AS bin, lo, hi FROM customer CROSS JOIN mm) "
    "SELECT bin, lo + bin * ((hi - lo) / 10) AS bin_lo, count(*) AS n "
    "FROM b GROUP BY 1, 2",
)
def q_histogram(spark, sf):
    """Equi-width histogram (aggregates.equi_width_histogram) of customer
    balances, 10 bins: 1-row min-max broadcast + binning projection +
    one count shuffle. Bin edges are identical exact-rounded IEEE
    arithmetic in both engines."""
    return aggregates.equi_width_histogram(
        load(spark, sf, "customer"), "c_acctbal", 10)


@register(
    "q_stream_interval_join",
    "SELECT c.event_id AS click_id, p.event_id AS purchase_id FROM "
    "(SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c "
    "JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p "
    "ON c.user_id = p.user_id AND p.ts > c.ts "
    "AND p.ts <= c.ts + INTERVAL 1 HOUR",
)
def q_stream_interval_join(spark, sf):
    """Stream-stream interval join (streaming.stream_stream_interval_join):
    clicks and purchases as TWO watermarked streams, purchases attributed
    to clicks of the same user within one hour — state expires past
    watermark+delay. Inner emissions are exact, so the batch BETWEEN
    join is the oracle (batch/stream parity for stateful two-stream
    joins)."""
    import uuid

    from metadata_enhanced_pretrain_datapipeline_spark.streaming import events as se

    table = f"stream_ivj_{uuid.uuid4().hex[:8]}"
    raw_schema = load(spark, sf, "events").schema

    def typed_stream(etype, alias):
        s = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf)
        )
        s = _ns_to_ts(s, "ts").withColumn("ts", F.col("ts").cast("timestamp"))
        return (
            s.filter(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(f"{alias}_id"),
                F.col("user_id").alias(f"{alias}_user"),
                F.col("ts").alias(f"{alias}_ts"),
            )
        )

    clicks = typed_stream("click", "click")
    purchases = typed_stream("purchase", "purchase")
    joined = se.stream_stream_interval_join(
        clicks, purchases,
        left_key="click_user", right_key="purchase_user",
        left_ts="click_ts", right_ts="purchase_ts",
        max_delay="1 hour", watermark="2 hours",
    )
    q = (
        joined.select(F.col("click_id"), F.col("purchase_id"))
        .writeStream.format("memory").queryName(table)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT click_id, purchase_id FROM {table}")


@register(
    "q_sql_frontend",
    "SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars, "
    "count(DISTINCT source) AS n_sources FROM documents "
    "WHERE length(text) >= 200 GROUP BY lang",
)
def q_sql_frontend(spark, sf):
    """SQL front-end surface: the engine's tables registered as temp views
    and queried with spark.sql — the same Catalyst plan as the DataFrame
    API (this engine IS Spark SQL; a reference user can bring raw SQL,
    not just the operator library)."""
    load(spark, sf, "documents").createOrReplaceTempView("v_documents")
    return spark.sql(
        "SELECT lang, count(*) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS chars, "
        "count(DISTINCT source) AS n_sources FROM v_documents "
        "WHERE length(text) >= 200 GROUP BY lang"
    )


@register(
    "q_partitioned_write_prune",
    "SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars "
    "FROM documents WHERE lang IN ('en', 'de') GROUP BY source",
)
def q_partitioned_write_prune(spark, sf):
    """Hive-partitioned write → partition-pruned read-back: documents are
    written partitionBy(lang), then the lang IN (...) filter comes back
    as PartitionFilters on the directory layout — file listing skips the
    other langs entirely, no row-level filtering needed. THE 100 TB scan
    lever (a date/lang/source-partitioned corpus reads only the slice a
    query names); asserted here by checking the pruned input file count,
    value-checked by the oracle against the original table."""
    from metadata_enhanced_pretrain_datapipeline_spark.sources.writers import write_parquet

    d = load(spark, sf, "documents")
    out = _scratch_dir(sf, "part_prune")
    write_parquet(d, out, partition_by=["lang"])
    back = spark.read.parquet(out).filter(F.col("lang").isin("en", "de"))
    # the partition-pruning proof: the lang predicate reaches the scan as
    # a PartitionFilter on the directory layout (inputFiles() can't show
    # this — it lists the base relation pre-pruning)
    plan = back._jdf.queryExecution().executedPlan().toString()
    import re as _re
    # match INSIDE the brackets: an empty 'PartitionFilters: []' followed
    # by PushedFilters/ReadSchema mentioning lang must NOT pass
    _check_plan(bool(_re.search(r"PartitionFilters: \[[^\]]*lang", plan)),
                plan, "lang partition filter missing from pruned scan")
    return back.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q_merge_upsert",
    "SELECT doc_id, n_chars, src FROM ("
    "  SELECT doc_id, CAST(-1 AS BIGINT) AS n_chars, 'update' AS src "
    "  FROM documents WHERE doc_id % 7 = 0 "
    "  UNION ALL "
    "  SELECT doc_id, n_chars, 'base' AS src FROM documents "
    "  WHERE doc_id % 7 <> 0)",
)
def q_merge_upsert(spark, sf):
    """MERGE-style upsert (joins.merge_upsert): a re-annotation batch
    (every 7th doc with a rewritten n_chars) overrides the base corpus,
    untouched rows pass through — anti-join on ids + union, one shuffle
    at most."""
    d = load(spark, sf, "documents").select("doc_id", "n_chars")
    updates = (
        d.filter(F.col("doc_id") % 7 == 0)
        .select("doc_id", F.lit(-1).cast("long").alias("n_chars"))
        .withColumn("src", F.lit("update"))
    )
    base = d.withColumn("src", F.lit("base"))
    return joins.merge_upsert(base, updates, ["doc_id"])


@register(
    "q_nfc_normalize",
    # inject a decomposed 'e'+combining-acute per doc so NFC has real
    # work on the ASCII fixture; both engines implement UAX#15
    "SELECT doc_id, length(nfc_normalize(text || 'caf' || 'e' || chr(769))) "
    "AS n_norm, CAST(length(text || 'caf' || 'e' || chr(769)) AS BIGINT) AS n_raw, "
    "md5(nfc_normalize(text || 'caf' || 'e' || chr(769))) AS digest "
    "FROM documents",
)
def q_nfc_normalize(spark, sf):
    """Unicode NFC canonicalization (functions/text.nfc_normalize_udf):
    decomposed combining sequences collapse to precomposed chars before
    hashing — without it, byte-different-but-identical text defeats every
    digest-keyed dedup. Arrow-batched stdlib unicodedata; oracle is
    DuckDB's nfc_normalize (same UAX#15 algorithm), value-checked via
    post-normalization md5."""
    from metadata_enhanced_pretrain_datapipeline_spark.functions.text import nfc_normalize_udf

    norm = nfc_normalize_udf()
    d = load(spark, sf, "documents").withColumn(
        "raw", F.concat(F.col("text"), F.lit("caf"), F.lit("e\u0301")))
    return d.select(
        "doc_id",
        F.length(norm(F.col("raw"))).cast("long").alias("n_norm"),
        F.length("raw").cast("long").alias("n_raw"),
        F.md5(norm(F.col("raw"))).alias("digest"),
    )


@register(
    "q_yoy_growth",
    "WITH y AS (SELECT CAST(year(o_orderdate) AS INT) AS yr, "
    "  sum(o_totalprice) AS rev FROM orders GROUP BY 1) "
    "SELECT yr, rev, rev - lag(rev) OVER (ORDER BY yr) AS delta, "
    "round(100.0 * (rev - lag(rev) OVER (ORDER BY yr)) "
    "  / lag(rev) OVER (ORDER BY yr), 4) AS pct "
    "FROM y",
)
def q_yoy_growth(spark, sf):
    """Year-over-year growth: yearly aggregate (one shuffle over orders)
    then lag over the TINY per-year frame — the single-partition window
    runs on ~7 rows, not the fact table, which is the only safe place
    for an unpartitioned window."""
    o = load_orders_dated(spark, sf)
    y = o.groupBy(F.year("o_orderdate").alias("yr")).agg(
        F.sum("o_totalprice").alias("rev"))
    w = Window.orderBy("yr")
    return y.select(
        "yr", "rev",
        (F.col("rev") - F.lag("rev").over(w)).alias("delta"),
        F.round(100.0 * (F.col("rev") - F.lag("rev").over(w))
                / F.lag("rev").over(w), 4).alias("pct"),
    )


@register(
    "q_topk_per_group",
    "SELECT n_name, s_suppkey, s_name, s_acctbal, CAST(rnk AS INT) AS rnk FROM ("
    "  SELECT n_name, s_suppkey, s_name, s_acctbal, "
    "  rank() OVER (PARTITION BY n_name ORDER BY s_acctbal DESC, s_suppkey) AS rnk "
    "  FROM supplier JOIN nation ON s_nationkey = n_nationkey) "
    "WHERE rnk <= 2",
)
def q_topk_per_group(spark, sf):
    """Top-k per group: rank window partitioned by nation — each group's
    top-2 suppliers by balance with a deterministic suppkey tie-break.
    One Exchange on the group key; no global sort, no per-group
    collect."""
    s = load(spark, sf, "supplier")
    n = load(spark, sf, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("s_acctbal"), "s_suppkey")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 2)
        .select("n_name", "s_suppkey", "s_name", "s_acctbal", "rnk")
    )


@register(
    "q_stratified_sample",
    "SELECT doc_id, lang FROM documents WHERE "
    f"{lin_sql('doc_id', 7)} % 1000003 < "
    "(CASE lang WHEN 'en' THEN 1000003 WHEN 'de' THEN 500000 "
    "WHEN 'fr' THEN 100000 ELSE 0 END)",
)
def q_stratified_sample(spark, sf):
    """Per-stratum deterministic sampling (filters.stratified_hash_sample):
    keep all English, half German, 10% French, drop the rest — sampleBy
    semantics with hash determinism, compiled to one CASE threshold in
    codegen. Zero shuffles."""
    d = load(spark, sf, "documents")
    out = filters.stratified_hash_sample(
        d, F.col("doc_id"), F.col("lang"),
        {"en": 1000003 / 1000003, "de": 500000 / 1000003, "fr": 100000 / 1000003},
        default_rate=0.0, salt=7)
    return out.select("doc_id", "lang")


@register(
    "q_median_per_group",
    "SELECT o_orderpriority, round(quantile_cont(o_totalprice, 0.5), 4) AS median_price, "
    "round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price, count(*) AS n "
    "FROM orders GROUP BY o_orderpriority",
)
def q_median_per_group(spark, sf):
    """Per-group exact percentiles: median and p90 order value per
    priority — Spark's `percentile` (exact, interpolated) is the same
    definition as DuckDB's quantile_cont. One shuffle; the sort cost is
    per-group (spillable), never global."""
    o = load(spark, sf, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90_price"),
        F.count("*").alias("n"),
    )


@register(
    "q_consecutive_years",
    "SELECT CAST(year(o_orderdate) AS INT) AS yr, count(DISTINCT o_custkey) AS n_repeat "
    "FROM orders o1 WHERE EXISTS ("
    "  SELECT 1 FROM orders o2 WHERE o2.o_custkey = o1.o_custkey "
    "  AND year(o2.o_orderdate) = year(o1.o_orderdate) + 1) "
    "GROUP BY 1",
)
def q_consecutive_years(spark, sf):
    """Customers retained year-over-year: the correlated EXISTS on
    (custkey, year+1) decorrelates into a self semi-join of the DISTINCT
    (custkey, year) set against itself shifted by one year — the distinct
    set is orders-cardinality-bounded and both sides co-partition on
    custkey+year, one shuffle pair, no row-level self-join of the fact
    table."""
    o = load_orders_dated(spark, sf)
    cy = o.select("o_custkey", F.year("o_orderdate").alias("yr")).distinct()
    nxt = cy.select(F.col("o_custkey").alias("n_cust"), (F.col("yr") - 1).alias("n_yr"))
    return (
        cy.join(nxt, (cy.o_custkey == nxt.n_cust) & (cy.yr == nxt.n_yr), "left_semi")
        .groupBy("yr")
        .agg(F.countDistinct("o_custkey").alias("n_repeat"))
    )


@register(
    "q_try_divide",
    "SELECT l_orderkey, l_linenumber, "
    "l_extendedprice / NULLIF(l_quantity - 25, 0.0) AS price_per_excess "
    "FROM lineitem WHERE l_orderkey % 1000 = 0",
)
def q_try_divide(spark, sf):
    """ANSI-safe arithmetic: Spark 4 runs ANSI mode where x/0 THROWS and
    kills the job — try_divide yields NULL instead, the behavior a
    pipeline over dirty data needs (the engine twin of F12's try_cast).
    Oracle renders the same semantics via NULLIF."""
    li = load(spark, sf, "lineitem").filter(F.col("l_orderkey") % 1000 == 0)
    return li.select(
        "l_orderkey", "l_linenumber",
        F.try_divide(F.col("l_extendedprice"),
                     F.col("l_quantity") - F.lit(25.0)).alias("price_per_excess"),
    )


@register(
    "q_json_nested",
    "WITH j AS (SELECT o_orderpriority, "
    "  '{\"items\":[{\"p\":' || o_custkey || '},{\"p\":' || (o_orderkey % 100) "
    "  || '}]}' AS js FROM orders) "
    "SELECT o_orderpriority, CAST(sum("
    "  CAST(json_extract(js, '$.items[0].p') AS BIGINT) "
    "  + CAST(json_extract(js, '$.items[1].p') AS BIGINT)) AS BIGINT) AS sum_p, "
    "count(*) AS n FROM j GROUP BY 1",
)
def q_json_nested(spark, sf):
    """Nested-JSON parsing: from_json with an explicit
    struct<array<struct>> schema then explode of the inner array — the
    log-ingestion shape (§2.10 json.loads boundary, one level deeper than
    q_event_json's flat get_json_object). The JSON text is BUILT from
    integer columns identically in both engines, so parsing is the only
    thing under test."""
    o = load(spark, sf, "orders")
    j = F.concat(
        F.lit('{"items":[{"p":'), F.col("o_custkey").cast("string"),
        F.lit('},{"p":'), (F.col("o_orderkey") % 100).cast("string"),
        F.lit('}]}'),
    )
    parsed = o.select(
        "o_orderpriority",
        F.from_json(j, "struct<items:array<struct<p:bigint>>>").alias("doc"),
    )
    return (
        parsed.select("o_orderpriority", F.explode("doc.items").alias("item"))
        .groupBy("o_orderpriority")
        .agg(F.sum("item.p").alias("sum_p"),
             (F.count("*") / 2).cast("long").alias("n"))
    )


def _static_codebook(e):
    """First-4-vectors codebook shared by q_ivf_static_topk and
    q_ivf_pruned_probe (one definition; the two queries must probe the
    SAME lists or their shared oracle is meaningless)."""
    return [
        [float(x) for x in r.embedding]
        for r in e.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]


@register("q_ivf_pruned_probe", _REGISTRY["q_ivf_static_topk"][1])
def q_ivf_pruned_probe(spark, sf):
    """The IVF ANN layout end to end, physically: assign static-codebook
    list ids (similarity.ivf_assign), WRITE the corpus partitioned by
    list_id, read it back and probe with ivf_topk(list_col=...) — the
    nprobe isin filter must arrive as a PartitionFilter on the directory
    layout (asserted in-plan), so a 100 TB index reads nprobe
    directories, not the corpus. Same oracle as q_ivf_static_topk: the
    physical layout must not change a single value."""
    e = load(spark, sf, "embeddings")
    cents = _static_codebook(e)
    path = _scratch_dir(sf, "ivf_layout")
    similarity.ivf_assign(e, cents).write.mode("overwrite").partitionBy(
        "list_id").parquet(path)
    back = spark.read.parquet(path)
    out = similarity.ivf_topk(back, cents, cents[0], k=10, nprobe=2,
                              list_col="list_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re as _re
    # match INSIDE the brackets: an empty 'PartitionFilters: []' followed
    # by PushedFilters/ReadSchema mentioning list_id must NOT pass
    _check_plan(bool(_re.search(r"PartitionFilters: \[[^\]]*list_id", plan)),
                plan, "nprobe list_id filter missing from IVF layout scan")
    return out


# single definition shared with q_ann_lsh_buckets' oracle (one edit point
# for the plane constants — two inline copies could silently diverge)
_LSH_BUCKET_SQL = _lsh_bucket_sql()


@register(
    "q_lsh_pruned_probe",
    f"WITH b AS ({_LSH_BUCKET_SQL}), "
    "qb AS (SELECT bucket FROM b WHERE vec_id = 0), "
    f"n AS ({_NORM_SQL}), d AS ({_PAIRDOT_SQL}), "
    "q AS (SELECT nrm AS qn FROM n WHERE vec_id = 0) "
    "SELECT d.vec_id, round(d.dp / (n.nrm * q.qn), 6) AS cosine "
    "FROM d JOIN n ON d.vec_id = n.vec_id CROSS JOIN q "
    "JOIN b ON b.vec_id = d.vec_id JOIN qb ON b.bucket = qb.bucket "
    "ORDER BY cosine DESC, d.vec_id LIMIT 10",
)
def q_lsh_pruned_probe(spark, sf):
    """The LSH ANN layout end to end, physically
    (similarity.write_bucketed_embeddings → lsh_topk(bucket_col=...)):
    buckets are computed once at WRITE time and become the directory
    layout; the probe's bucket equality must arrive as a PartitionFilter
    (asserted in-plan) so a 100 TB index reads ONE bucket's files. The
    oracle recomputes the same bucket arithmetic logically — the
    physical layout must not change a value."""
    e = load(spark, sf, "embeddings")
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    path = _scratch_dir(sf, "lsh_layout")
    similarity.write_bucketed_embeddings(e, path, num_planes=8)
    back = spark.read.parquet(path)
    out = similarity.lsh_topk(back, qvec, k=10, num_planes=8,
                              bucket_col="bucket")
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re as _re
    # match INSIDE the brackets: an empty 'PartitionFilters: []' followed
    # by PushedFilters/ReadSchema mentioning bucket must NOT pass
    _check_plan(bool(_re.search(r"PartitionFilters: \[[^\]]*bucket", plan)),
                plan, "bucket filter missing from LSH layout scan")
    return out


@register(
    "q_session_window_native",
    # islands twin with the BUILT-IN's boundary semantics: Spark MERGES
    # two events exactly gap apart (verified empirically — the session
    # end extends to last_ts + gap, and a new event AT the end still
    # joins), so the break is strict >, same as the q_session_window
    # islands oracle
    "WITH o AS (SELECT user_id, ts, event_id, CASE WHEN "
    "  lag(ts) OVER w IS NULL "
    "  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk "
    "  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
    "s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id "
    "  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM o) "
    "SELECT user_id, count(*) AS n_events, "
    "strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start "
    "FROM s GROUP BY user_id, sid",
)
def q_session_window_native(spark, sf):
    """Gap sessionization via Spark's BUILT-IN session_window groupBy —
    the merged-interval operator the islands construction
    (q_session_window) reimplements relationally; both must agree row for
    row. One shuffle on the session key; the built-in merges sessions
    inside the aggregate (no window function pass at all)."""
    e = load_events(spark, sf)
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id", "n_events",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss")
            .alias("session_start"),
        )
    )


@register(
    "q_bmp_roundtrip",
    # the decoded pixel sum has a closed form: channel value at (i,j,c)
    # is (doc_id*31 + i*7 + j*3 + c*11) % 256 over an 8x8 image
    "WITH px AS (SELECT doc_id, (doc_id * 31 + i.g * 7 + j.g * 3 + c.g * 11) "
    "  % 256 AS v FROM (SELECT doc_id FROM documents WHERE doc_id % 20 = 0) d, "
    "  generate_series(0, 7) i(g), generate_series(0, 7) j(g), "
    "  generate_series(0, 2) c(g)) "
    "SELECT doc_id, CAST(sum(v) AS BIGINT) AS pixel_sum, "
    "CAST(count(*) AS BIGINT) AS n_px FROM px GROUP BY doc_id",
)
def q_bmp_roundtrip(spark, sf):
    """Multimodal with a REAL oracle (converts the family from rows-only):
    per doc, synthesize deterministic 8x8 RGB pixels, ENCODE them into an
    actual 24-bit BMP byte blob (multimodal.encode_bmp — header, bottom-up
    rows, padding), ship the binary column through Arrow, DECODE it with
    the real parser (decode_bmp), and aggregate the pixel sum. The oracle
    computes the same sum from the closed-form pixel formula — any
    header/stride/channel-order bug in either codec path breaks the
    hash."""
    import numpy as np
    import pandas as pd

    from metadata_enhanced_pretrain_datapipeline_spark.operators.multimodal import (
        decode_bmp, encode_bmp)

    d = load(spark, sf, "documents").filter(F.col("doc_id") % 20 == 0).select("doc_id")

    def roundtrip(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            sums, counts = [], []
            for did in ids:
                i = np.arange(8).reshape(8, 1, 1)
                j = np.arange(8).reshape(1, 8, 1)
                c = np.arange(3).reshape(1, 1, 3)
                px = ((did * 31 + i * 7 + j * 3 + c * 11) % 256).astype(np.uint8)
                blob = encode_bmp(px)
                back = decode_bmp(blob)
                sums.append(int(back.astype(np.int64).sum()))
                counts.append(int(back.size))
            yield pd.DataFrame(
                {"doc_id": ids, "pixel_sum": sums, "n_px": counts})

    return d.mapInPandas(roundtrip, "doc_id long, pixel_sum long, n_px long")


@register(
    "q_png_roundtrip",
    # closed-form pixel grid over a 8x5 image: value at (i,j,c) is
    # (doc_id*37 + i*11 + j*5 + c*3) % 256 — 8 rows so the cycling
    # encoder emits every PNG filter type (None/Sub/Up/Average/Paeth)
    "WITH px AS (SELECT doc_id, (doc_id * 37 + i.g * 11 + j.g * 5 + c.g * 3) "
    "  % 256 AS v FROM (SELECT doc_id FROM documents WHERE doc_id % 20 = 1) d, "
    "  generate_series(0, 7) i(g), generate_series(0, 4) j(g), "
    "  generate_series(0, 2) c(g)) "
    "SELECT doc_id, CAST(sum(v) AS BIGINT) AS pixel_sum, "
    "CAST(count(*) AS BIGINT) AS n_px FROM px GROUP BY doc_id",
)
def q_png_roundtrip(spark, sf):
    """Compressed-image twin of q_bmp_roundtrip (VERDICT r6 #3): per
    doc, synthesize deterministic 8x5 RGB pixels, ENCODE a real PNG
    (multimodal.encode_png — zlib deflate, filter type cycling y % 5 so
    ONE blob exercises every unfilter branch), ship the binary through
    Arrow, DECODE with the pure-stdlib parser (decode_png: chunk walk +
    CRC verify + inflate + per-scanline unfilter), and aggregate the
    pixel sum. The oracle computes the same sum from the closed-form
    grid — any chunk/CRC/filter/stride bug in either codec path breaks
    the hash."""
    import numpy as np
    import pandas as pd

    from metadata_enhanced_pretrain_datapipeline_spark.operators.multimodal import (
        decode_png, encode_png)

    d = load(spark, sf, "documents").filter(F.col("doc_id") % 20 == 1).select("doc_id")

    def roundtrip(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            sums, counts = [], []
            for did in ids:
                i = np.arange(8).reshape(8, 1, 1)
                j = np.arange(5).reshape(1, 5, 1)
                c = np.arange(3).reshape(1, 1, 3)
                px = ((did * 37 + i * 11 + j * 5 + c * 3) % 256).astype(np.uint8)
                back = decode_png(encode_png(px))
                sums.append(int(back.astype(np.int64).sum()))
                counts.append(int(back.size))
            yield pd.DataFrame(
                {"doc_id": ids, "pixel_sum": sums, "n_px": counts})

    return d.mapInPandas(roundtrip, "doc_id long, pixel_sum long, n_px long")


@register(
    "q_wav_roundtrip",
    # decoded samples are ((doc_id*7 + t*13) % 65536 - 32768) / 32768 —
    # dyadic rationals, exact in both float32 storage and the float64
    # sum, so the oracle's closed form matches bit-for-bit
    "WITH s AS (SELECT doc_id, "
    "  ((doc_id * 7 + t.g * 13) % 65536 - 32768) / 32768.0 AS v "
    "  FROM (SELECT doc_id FROM documents WHERE doc_id % 25 = 0) d, "
    "  generate_series(0, 399) t(g)) "
    "SELECT doc_id, sum(v) AS sample_sum, CAST(count(*) AS BIGINT) AS n "
    "FROM s GROUP BY doc_id",
)
def q_wav_roundtrip(spark, sf):
    """Audio twin of q_bmp_roundtrip: synthesize deterministic int16 PCM,
    encode a REAL RIFF/WAV blob (stdlib wave), decode it back with the
    real parser (multimodal.decode_wav), and aggregate the float sample
    sum in float64 (each sample is a dyadic rational k/32768 — exact in
    float32 storage AND in the float64 sum, so the closed-form oracle is
    an equality, not a tolerance)."""
    import io
    import wave

    import numpy as np
    import pandas as pd

    from metadata_enhanced_pretrain_datapipeline_spark.operators.multimodal import decode_wav

    d = load(spark, sf, "documents").filter(F.col("doc_id") % 25 == 0).select("doc_id")

    def roundtrip(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            sums, counts = [], []
            for did in ids:
                t = np.arange(400, dtype=np.int64)
                pcm = ((did * 7 + t * 13) % 65536 - 32768).astype(np.int16)
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(16000)
                    w.writeframes(pcm.tobytes())
                back = decode_wav(buf.getvalue())
                sums.append(float(back.astype(np.float64).sum()))
                counts.append(int(back.size))
            yield pd.DataFrame({"doc_id": ids, "sample_sum": sums, "n": counts})

    return d.mapInPandas(roundtrip, "doc_id long, sample_sum double, n long")


def _mlp_weights_sql() -> tuple[str, str]:
    """Render the stub MLP's seeded-numpy weights as SQL VALUES literals
    (repr round-trips doubles exactly), so the REAL pandas_udf model path
    gets a full DuckDB twin — the seeded Gaussian is the only part SQL
    cannot generate, so it ships as data."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators.annotators import _mlp_weights

    w1, b1, w2, b2 = _mlp_weights(64, 16)
    # float(...) before repr: numpy >= 2.0 reprs scalars as
    # 'np.float64(x)', which is not SQL; Python float repr round-trips
    w1_rows = ", ".join(
        f"({i + 1}, {h + 1}, {float(w1[i, h])!r})"
        for i in range(64) for h in range(16)
    )
    w2_rows = ", ".join(f"({h + 1}, {float(w2[h, 0])!r})" for h in range(16))
    return w1_rows, w2_rows


_W1_SQL, _W2_SQL = _mlp_weights_sql()


@register(
    "q_mlp_score_oracle",
    f"WITH w1(i, h, w) AS (VALUES {_W1_SQL}), "
    f"w2(h, w) AS (VALUES {_W2_SQL}), "
    "e AS (SELECT vec_id, unnest(embedding) AS v, "
    "  generate_subscripts(embedding, 1) AS i FROM embeddings "
    "  WHERE vec_id % 10 = 0 AND embedding IS NOT NULL "
    "  AND len(embedding) = 64), "
    "hs AS (SELECT vec_id, h, sum(CAST(v AS DOUBLE) * w) AS s "
    "  FROM e JOIN w1 USING (i) GROUP BY 1, 2), "
    "hid AS (SELECT vec_id, h, CASE WHEN s > 0 THEN s ELSE 0 END AS hv FROM hs), "
    "z AS (SELECT hid.vec_id, sum(hv * w2.w) AS z FROM hid "
    "  JOIN w2 USING (h) GROUP BY 1) "
    "SELECT vec_id, 1.0 / (1.0 + exp(-z)) AS quality_score FROM z",
)
def q_mlp_score_oracle(spark, sf):
    """F6's model path FULLY oracle-checked (upgrades the family beyond
    the linear q_dot_product_score twin): the SAME Arrow pandas_udf and
    seeded-weight MLP as q_mlp_quality_filter, scored over a slice and
    compared against a DuckDB twin that carries the weight matrices as
    VALUES literals and replays relu(x@W1)@W2 -> sigmoid relationally.
    Scores emit UNROUNDED — matmul-vs-SQL accumulation drift (~1e-15
    relative) and exp's 1-ulp sit far inside the 12-significant-digit
    canon; only the (thresholding) filter query remains rows-only."""
    e = load(spark, sf, "embeddings").filter(
        (F.col("vec_id") % 10 == 0)
        & F.col("embedding").isNotNull()
        & (F.size("embedding") == 64)  # the UDF scores invalid vectors
        # NaN; restrict BOTH sides to valid ones so the oracle compares
        # arithmetic, not a fixture invariant
    )
    scored = e.withColumn(
        "quality_score", annotators.mlp_score_udf(64)(F.col("embedding")))
    return scored.select("vec_id", "quality_score")


@register(
    "q_stream_upsert_sink",
    # final table = max-version row per user over both change files:
    # v1 = all users (value = user_id), v2 = users % 3 = 0 (value = -user_id)
    "WITH ch AS (SELECT DISTINCT user_id, 1 AS version, "
    "  CAST(user_id AS BIGINT) AS val FROM events "
    "  UNION ALL SELECT DISTINCT user_id, 2, -CAST(user_id AS BIGINT) "
    "  FROM events WHERE user_id % 3 = 0) "
    "SELECT user_id, version, val FROM ("
    "  SELECT user_id, version, val, row_number() OVER ("
    "    PARTITION BY user_id ORDER BY version DESC) AS rn FROM ch) "
    "WHERE rn = 1",
)
def q_stream_upsert_sink(spark, sf):
    """CDC streaming sink (streaming.foreach_batch_versioned_upsert): two
    change files (v1 full snapshot, v2 partial correction) stream through
    foreachBatch with maxFilesPerTrigger=1 and merge into a parquet table
    by MAX-VERSION upsert — order-independent, so the final table is
    deterministic whichever batch lands first, and the oracle is a plain
    per-key argmax. Returns the sunk table read back from disk."""
    import uuid

    from metadata_enhanced_pretrain_datapipeline_spark.streaming import events as se

    users = load(spark, sf, "events").select("user_id").distinct()
    v1 = users.select(
        "user_id", F.lit(1).alias("version"),
        F.col("user_id").cast("long").alias("val"))
    v2 = users.filter(F.col("user_id") % 3 == 0).select(
        "user_id", F.lit(2).alias("version"),
        (-F.col("user_id")).cast("long").alias("val"))
    scratch = _scratch_dir(sf, "upsert_sink")
    in_dir, out_dir = f"{scratch}/changes", f"{scratch}/table"
    ck = f"{scratch}/ck_{uuid.uuid4().hex[:8]}"
    v1.coalesce(1).write.mode("overwrite").parquet(f"{in_dir}/batch_a")
    v2.coalesce(1).write.mode("overwrite").parquet(f"{in_dir}/batch_b")
    stream = (
        spark.readStream.schema("user_id long, version int, val long")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(in_dir)
    )
    se.foreach_batch_versioned_upsert(stream, out_dir, ck, ["user_id"], "version")
    return spark.read.parquet(out_dir).select("user_id", "version", "val")


@register(
    "q_snapshot_diff",
    # old = doc_id % 3 != 1; new = doc_id % 5 != 1, with % 7 = 0 texts
    # rewritten -> changed. Both engines derive the same two snapshots.
    "WITH o AS (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS d "
    "  FROM documents WHERE doc_id % 3 <> 1), "
    "n AS (SELECT doc_id, md5(lower(trim(regexp_replace("
    "  CASE WHEN doc_id % 7 = 0 THEN text || ' edited' ELSE text END, "
    "  '\\s+', ' ', 'g')))) AS d FROM documents WHERE doc_id % 5 <> 1) "
    "SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, CASE "
    "WHEN o.d IS NULL THEN 'added' WHEN n.d IS NULL THEN 'removed' "
    "WHEN o.d <> n.d THEN 'changed' ELSE 'unchanged' END AS change "
    "FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id",
)
def q_snapshot_diff(spark, sf):
    """Crawl-over-crawl change feed (dedup.snapshot_diff): full-outer
    digest join labeling every doc added/removed/changed/unchanged —
    the audit that decides what a 100 TB pipeline re-processes. Only
    (key, digest) pairs shuffle. Note: the md5-string digest here (vs
    the 60-bit key) keeps the oracle cheap; semantics identical."""
    d = load(spark, sf, "documents")
    old = d.filter(F.col("doc_id") % 3 != 1)
    new = d.filter(F.col("doc_id") % 5 != 1).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" edited"))).otherwise(F.col("text")),
    )
    digest = F.md5(F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))))
    return dedup.snapshot_diff(old, new, "doc_id", digest=digest)


@register(
    "q_udtf_excerpt_windows",
    "WITH d AS (SELECT doc_id, " + _TOK_SQL + " AS words "
    "  FROM documents WHERE doc_id % 10 = 0), "
    "w AS (SELECT doc_id, CAST(gs AS INT) AS win_idx, "
    "  array_to_string(list_slice(words, gs * 5 + 1, gs * 5 + 10), ' ') AS excerpt "
    "  FROM (SELECT doc_id, words, unnest(generate_series(0, "
    "    CAST(floor((len(words) - 10) / 5.0) AS BIGINT))) AS gs FROM d "
    "    WHERE len(words) >= 10)) "
    "SELECT doc_id, win_idx, excerpt, CAST(10 AS INT) AS n_words FROM w",
)
def q_udtf_excerpt_windows(spark, sf):
    """Python UDTF surface (table_functions.ExcerptWindows): a lateral
    row-generator emitting every full 10-word window (stride 5) per doc
    through Spark 4's native UDTF API — the literal port target for the
    reference's yield-0..n generator steps. Row-at-a-time Python by
    design (the scale twins are the explode/mapInPandas excerpt queries);
    the oracle replays the window arithmetic relationally."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators.table_functions import (
        register_table_functions)

    register_table_functions(spark)
    load(spark, sf, "documents").filter(F.col("doc_id") % 10 == 0) \
        .createOrReplaceTempView("v_docs_udtf")
    return spark.sql(
        "SELECT d.doc_id, w.win_idx, w.excerpt, w.n_words "
        "FROM v_docs_udtf d, LATERAL excerpt_windows(d.text, 10, 5) w"
    )


@register(
    "q_fasttext_label_oracle",
    "SELECT doc_id, CAST(CAST(('0x' || substr(md5(coalesce(text, '')), 1, 2)) "
    "AS INT) % 2 AS INT) AS label FROM documents",
)
def q_fasttext_label_oracle(spark, sf):
    """A6 — fasttext annotator (reference code_classifier.py:53-68)
    through the REAL mapInPandas + executor-singleton path with the
    deterministic digest stub (md5 byte 0 mod n_labels). The stub's
    byte-arithmetic is portable, so the oracle replays it in SQL and the
    driver hash-checks the whole Arrow batch path end to end — same
    pattern as A4's q_llm_annotate_split (VERDICT r4 #5)."""
    d = load(spark, sf, "documents")
    return annotators.fasttext_annotate(d, n_labels=2)


@register(
    "q_hf_classifier_oracle",
    "SELECT doc_id, CAST(CAST(('0x' || substr(md5(coalesce(text, '')), 9, 2)) "
    "AS INT) % 10 AS INT) AS cb_quality FROM documents",
)
def q_hf_classifier_oracle(spark, sf):
    """A7 — HF classifier annotation (reference code_classifier.py:336-371)
    through the real mapInPandas + executor-singleton path with the
    deterministic digest stub (md5 byte 4 mod n_labels → ``cb_quality``).
    Oracle replays the digest arithmetic so the driver hash-checks the
    plumbing (VERDICT r4 #5)."""
    d = load(spark, sf, "documents")
    return annotators.hf_classifier_annotate(d, label_name="quality", n_labels=10)


@register(
    "q_leakage_safe_split",
    "WITH RECURSIVE pairs AS (" + _minhash_pairs_sql("", 8, 4, 64) + "), "
    "e AS (SELECT id_a AS src, id_b AS dst FROM pairs "
    "  UNION ALL SELECT id_b, id_a FROM pairs), "
    "n AS (SELECT DISTINCT src AS node FROM e), "
    "reach AS (SELECT node, node AS lab FROM n "
    "  UNION SELECT e.dst AS node, reach.lab FROM reach "
    "    JOIN e ON e.src = reach.node), "
    "cl AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach "
    "  GROUP BY node) "
    "SELECT d.doc_id, "
    "CAST(COALESCE(cl.cluster_id, d.doc_id) AS BIGINT) AS split_key, "
    f"CASE WHEN {_SPLIT_H} < {_SPLIT_LO} THEN 'train' "
    f"WHEN {_SPLIT_H} < {_SPLIT_HI} THEN 'validation' ELSE 'test' END "
    "AS split FROM documents d LEFT JOIN cl USING (doc_id)",
)
def q_leakage_safe_split(spark, sf):
    """Extension — leakage-safe train/val/test split
    (operators/sampling.leakage_safe_split): the split unit is the
    transitive near-duplicate CLUSTER (pointer-doubling components over
    the portable MinHash pair set), so an eval document's near-twin can
    never land in train. The oracle recomputes the exact transitive
    closure (recursive CTE) and replays the integer-threshold hash
    assignment, hash-checking every document's split."""
    d = load(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(d, num_hashes=8, bands=4,
                                    max_bucket_size=64, portable=True)
    clusters = dedup.duplicate_clusters(pairs)
    out = sampling.leakage_safe_split(d, clusters, boundaries=(0.9, 0.95),
                                      salt=13)
    return out.select("doc_id", "split_key", "split")


@register(
    "q_per_host_cap",
    "WITH d AS (SELECT doc_id, source || '.' || lang || '.example.com' "
    "  AS host FROM documents), "
    "t AS (SELECT doc_id, host, " + salted_hash_sql("doc_id") + " AS h FROM d), "
    "r AS (SELECT doc_id, host, row_number() OVER (PARTITION BY host "
    "  ORDER BY h, doc_id) AS rn FROM t) "
    "SELECT doc_id, host FROM r WHERE rn <= 15",
)
def q_per_host_cap(spark, sf):
    """Extension — per-host document cap (RefinedWeb-style domain
    balancing, operators/sampling.per_host_cap): at most 15 docs per
    synthetic host, chosen by hash priority. The Spark side runs the
    bucketed two-phase cap (token_budget_cap with a unit count — no
    single-task per-host sort); the oracle is the naive per-host
    row_number window, proving the decomposition exact."""
    d = load(spark, sf, "documents").withColumn(
        "host",
        F.concat(F.col("source"), F.lit("."), F.col("lang"),
                 F.lit(".example.com")),
    )
    capped = sampling.per_host_cap(d, "host", 15, F.col("doc_id"))
    return capped.select("doc_id", "host")


@register("q_sketch_stats")
def q_sketch_stats(spark, sf):
    """† Sketch surface — HLL++ distinct estimation and quantile-sketch
    percentiles per source (approx_count_distinct / percentile_approx):
    DETERMINISTIC given the data (hash-based sketches, no RNG) but
    engine-specific (DuckDB's approx sketches differ), so rows-only by
    necessity; the accuracy contract (|approx-exact|/exact <= 5% for
    distinct counts, percentile within the value domain) is pinned by
    test_sketch_accuracy_vs_exact. At 100 TB these are the
    constant-memory profile aggregations where exact distinct would
    shuffle every token."""
    d = load(spark, sf, "documents")
    toks = d.select("source", F.explode(tokens_ws(F.col("text"))).alias("term"))
    return (
        toks.groupBy("source")
        .agg(
            F.approx_count_distinct("term", rsd=0.02).alias("approx_terms"),
            F.percentile_approx(F.length("term"), 0.5).alias("p50_term_len"),
        )
        .join(
            d.groupBy("source").agg(F.count("*").alias("n_docs")), "source")
    )


# ===========================================================================
# round-6 additions: the monthly-snapshot workflow as one driver-checked
# chain, and the band store proven on disk (VERDICT r5 #1/#3)
# ===========================================================================


@register(
    "q_band_store_pruned_probe",
    # the store is the % 5 = 0 slice's band keys RESTRICTED to bands
    # {1, 3} (the probed subset); collision = sharing any of those keys.
    # Banding arithmetic is identical on both engines, so the kept set
    # is hash-checked exactly.
    "WITH " + _minhash_bands_sql(8, 4) + ", "
    "coll AS (SELECT DISTINCT n.doc_id FROM bands n "
    "  JOIN (SELECT DISTINCT band, key FROM bands "
    "        WHERE doc_id % 5 = 0 AND band IN (1, 3)) s "
    "  USING (band, key) WHERE n.doc_id % 5 <> 0) "
    "SELECT doc_id FROM documents WHERE doc_id % 5 <> 0 "
    "AND doc_id NOT IN (SELECT doc_id FROM coll)",
)
def q_band_store_pruned_probe(spark, sf):
    """The MinHash signature store end to end, PHYSICALLY (VERDICT r5
    #1): the seen snapshot's band keys are WRITTEN band-partitioned
    (dedup.write_band_store), read back restricted to bands {1, 3}, and
    the new snapshot deduped against that on-disk store — the band
    subset must arrive as a PartitionFilter on the directory layout
    (asserted in-plan, the q_ivf_pruned_probe pattern), because at
    100 TB the monthly workflow's economics ARE this pruning: a
    per-band probe touches one band's files, never last month's corpus
    or the other bands. The oracle replays banding + the subset
    collision rule, so the physical layout must not change a value."""
    d = load(spark, sf, "documents")
    seen = d.filter(F.col("doc_id") % 5 == 0)
    new = d.filter(F.col("doc_id") % 5 != 0)
    store = dedup.minhash_band_keys(
        dedup.minhash_signatures(seen.select("doc_id", "text"),
                                 num_hashes=8, portable=True),
        num_hashes=8, bands=4, portable=True)
    path = _scratch_dir(sf, "band_store")
    dedup.write_band_store(store, path)
    back = dedup.read_band_store(spark, path, bands=[1, 3])
    kept = dedup.minhash_dedup_against(new, back, num_hashes=8, bands=4,
                                       portable=True)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    import re as _re
    # match INSIDE the brackets: an empty 'PartitionFilters: []' followed
    # by PushedFilters/ReadSchema mentioning band must NOT pass
    _check_plan(bool(_re.search(r"PartitionFilters: \[[^\]]*band", plan)),
                plan, "band subset filter missing from store scan")
    return kept.select("doc_id")


@register(
    "q_band_store_compact",
    # two monthly stores (% 5 = 0 and % 7 = 0 slices — overlapping at
    # % 35) compacted into one; collision vs the COMPACTED store
    # restricted to bands {1, 3}. Union-distinct of identical banding
    # arithmetic, so the kept set is hash-checked exactly.
    "WITH " + _minhash_bands_sql(8, 4) + ", "
    "coll AS (SELECT DISTINCT n.doc_id FROM bands n "
    "  JOIN (SELECT DISTINCT band, key FROM bands "
    "        WHERE (doc_id % 5 = 0 OR doc_id % 7 = 0) AND band IN (1, 3)) s "
    "  USING (band, key) WHERE n.doc_id % 5 <> 0 AND n.doc_id % 7 <> 0) "
    "SELECT doc_id FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 0 "
    "AND doc_id NOT IN (SELECT doc_id FROM coll)",
)
def q_band_store_compact(spark, sf):
    """Band-store lifecycle end to end (VERDICT r6 #5): two monthly
    snapshot stores are written band-partitioned, COMPACTED
    (dedup.compact_band_store — union, distinct (id, band, key),
    key-clustered band-partitioned rewrite), and the new snapshot is
    deduped against the COMPACTED store restricted to bands {1, 3} —
    which must still arrive as a PartitionFilter on the compacted
    layout (the q_band_store_pruned_probe assert, re-used verbatim: a
    compaction that broke the directory layout would break the monthly
    economics). Also asserts the compaction actually reclaimed the
    cross-month overlap: the compacted store holds exactly the DISTINCT
    union of the two months' rows."""
    d = load(spark, sf, "documents")
    scratch = _scratch_dir(sf, "band_store_compact")
    m1 = d.filter(F.col("doc_id") % 5 == 0)
    m2 = d.filter(F.col("doc_id") % 7 == 0)
    new = d.filter((F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 7 != 0))

    def month_bands(docs):
        return dedup.minhash_band_keys(
            dedup.minhash_signatures(docs.select("doc_id", "text"),
                                     num_hashes=8, portable=True),
            num_hashes=8, bands=4, portable=True)

    b1, b2 = month_bands(m1), month_bands(m2)
    dedup.write_band_store(b1, f"{scratch}/m1")
    dedup.write_band_store(b2, f"{scratch}/m2")
    dedup.compact_band_store(spark, [f"{scratch}/m1", f"{scratch}/m2"],
                             f"{scratch}/compacted")
    compacted = dedup.read_band_store(spark, f"{scratch}/compacted")
    # the reclaim contract: compacted rows == distinct union of months.
    # The expected count reads the WRITTEN monthly stores back (they
    # hold exactly b1/b2's rows) instead of re-running both months'
    # shingle+minhash subtrees — same check, parquet-scan price (r12).
    # Both counts in ONE driver action (r13): a scalar cross-join of
    # the two aggregates collapses two job round-trips into one.
    n_compacted, n_expect = (
        compacted.agg(F.count("*").alias("a")).crossJoin(
            dedup.read_band_store(spark, f"{scratch}/m1")
            .unionByName(dedup.read_band_store(spark, f"{scratch}/m2"))
            .distinct().agg(F.count("*").alias("b")))
        .collect()[0])
    _check_plan(n_compacted == n_expect, f"{n_compacted} != {n_expect}",
                "compaction did not reclaim cross-month duplicate rows")
    probe_store = dedup.read_band_store(spark, f"{scratch}/compacted",
                                        bands=[1, 3])
    kept = dedup.minhash_dedup_against(new, probe_store, num_hashes=8,
                                       bands=4, portable=True)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    import re as _re
    _check_plan(bool(_re.search(r"PartitionFilters: \[[^\]]*band", plan)),
                plan, "band subset filter missing from compacted-store scan")
    return kept.select("doc_id")


@register(
    "q_snapshot_pipeline",
    # the composed monthly-snapshot chain (VERDICT r5 #3), each stage the
    # proven oracle piece: exact dedup against the old snapshot's
    # normalized digests (incl. mangled copies that must collide through
    # normalization) → fuzzy dedup against the old snapshot's band store
    # → leakage-safe split of the kept set over its own near-dup
    # clusters (recursive-CTE transitive closure + integer hash
    # thresholds). One oracle hashes the end-to-end kept+split output.
    "WITH RECURSIVE "
    "k AS (SELECT doc_id, md5(lower(trim(regexp_replace("
    "  text, '\\s+', ' ', 'g')))) AS tk FROM documents), "
    # NULL-digest guard: one NULL-text seen doc would poison NOT IN via
    # three-valued logic (empty k1), and a NULL-digest NEW doc must be
    # KEPT (Spark's left_anti never matches on NULL keys)
    "k1 AS (SELECT doc_id FROM k WHERE doc_id % 3 <> 0 AND (tk IS NULL "
    "  OR tk NOT IN (SELECT tk FROM k WHERE (doc_id % 3 = 0 "
    "  OR doc_id % 10 = 1) AND tk IS NOT NULL))), "
    + _minhash_bands_sql(8, 4) + ", "
    "coll AS (SELECT DISTINCT n.doc_id FROM bands n "
    "  JOIN (SELECT DISTINCT band, key FROM bands WHERE doc_id % 3 = 0) s "
    "  USING (band, key) "
    "  WHERE n.doc_id IN (SELECT doc_id FROM k1)), "
    "k2 AS (SELECT doc_id FROM k1 WHERE doc_id NOT IN "
    "  (SELECT doc_id FROM coll)), "
    "pairs AS ("
    + _minhash_pairs_sql(" WHERE doc_id IN (SELECT doc_id FROM k2)", 8, 4, 64)
    + "), "
    "e AS (SELECT id_a AS src, id_b AS dst FROM pairs "
    "  UNION ALL SELECT id_b, id_a FROM pairs), "
    "nodes AS (SELECT DISTINCT src AS node FROM e), "
    "reach AS (SELECT node, node AS lab FROM nodes "
    "  UNION SELECT e.dst AS node, reach.lab FROM reach "
    "    JOIN e ON e.src = reach.node), "
    "cl AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach "
    "  GROUP BY node) "
    "SELECT d.doc_id, "
    "CAST(COALESCE(cl.cluster_id, d.doc_id) AS BIGINT) AS split_key, "
    f"CASE WHEN {_SPLIT_H} < {_SPLIT_LO} THEN 'train' "
    f"WHEN {_SPLIT_H} < {_SPLIT_HI} THEN 'validation' ELSE 'test' END "
    "AS split FROM (SELECT doc_id FROM k2) d LEFT JOIN cl USING (doc_id)",
)
def q_snapshot_pipeline(spark, sf):
    """The monthly-snapshot workflow as ONE driver-checked chain
    (VERDICT r5 #3, the q_mix_pipeline composition pattern): the new
    crawl (doc_id % 3 <> 0) is exact-deduped against the old snapshot's
    normalized digests (the % 3 = 0 slice plus upper-cased padded
    copies of the % 10 = 1 docs — which must still collide through
    normalization), then fuzzy-deduped against the old snapshot's
    MinHash band STORE (the old corpus is only ever touched as its
    (band, key) keys, never re-shingled), and the kept set is
    leakage-safe split over its own near-dup clusters. Output =
    (doc_id, split_key, split) for every surviving new document,
    hash-checked end to end by one composed oracle."""
    d = load(spark, sf, "documents")
    old = d.filter(F.col("doc_id") % 3 == 0)
    new = d.filter(F.col("doc_id") % 3 != 0)
    mangled = d.filter(F.col("doc_id") % 10 == 1).select(
        F.concat(F.upper(F.col("text")), F.lit("   ")).alias("text"))
    seen_texts = old.select("text").unionByName(mangled)
    kept1 = dedup.dedup_against(new, seen_texts)
    store = dedup.minhash_band_keys(
        dedup.minhash_signatures(old.select("doc_id", "text"),
                                 num_hashes=8, portable=True),
        num_hashes=8, bands=4, portable=True)
    # fused probe+bands (r13): the store probe already computed every
    # kept1 band key, and the survivors' pair generation needs exactly
    # that relation restricted to survivors — minhash_lsh_pairs(kept2)
    # re-shingled the whole surviving snapshot (guide §7.2).
    kept2_raw, kept2_bands = dedup.minhash_dedup_against_bands(
        kept1, store, num_hashes=8, bands=4, portable=True)
    # the monthly persist point: the deduped snapshot is consumed twice
    # (pair generation for the cluster map, then the split projection) —
    # exactly where a production run writes the kept set to durable
    # storage before split assignment (reliable mode via
    # MEP_SPARK_CHECKPOINT_DIR, see checkpointing.py). Projected to the
    # two columns the tail reads (r12; with the band reuse only doc_id
    # is read downstream, but text stays in the boundary as the
    # production persist-point contract).
    kept2 = materialize(kept2_raw.select("doc_id", "text"), eager=False)
    pairs = dedup.lsh_pairs_from_band_keys(kept2_bands, max_bucket_size=64)
    clusters = dedup.duplicate_clusters(pairs)
    out = sampling.leakage_safe_split(kept2, clusters,
                                      boundaries=(0.9, 0.95), salt=13)
    return out.select("doc_id", "split_key", "split")


@register(
    "q_bucketed_join_noshuffle",
    "SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders, "
    "sum(o_totalprice) AS revenue FROM orders "
    "JOIN customer ON o_custkey = c_custkey GROUP BY o_custkey",
)
def q_bucketed_join_noshuffle(spark, sf):
    """Bucketing as the co-location lever, proven in-plan: orders and
    customer are WRITTEN bucketed (sources/writers.write_bucketed, 8
    buckets on the join key, one file per bucket via a pre-repartition
    on the bucket hash), then joined AND aggregated on that key with
    ZERO exchanges — asserted by the plan containing no Exchange node
    at all. This is the repeated-fact-join strategy at 100 TB: pay the
    bucketed layout once, then every custkey join/agg over it is
    shuffle-free (the engine-side substitute for the reference's
    per-rank file layout). The merge-join hint pins SMJ because the
    100 TB contract is precisely the neither-side-broadcasts case. The
    oracle runs the plain logical join: the layout must not change a
    value."""
    from metadata_enhanced_pretrain_datapipeline_spark.sources.writers import write_bucketed

    scratch = _scratch_dir(sf, "bucketed_join")
    tag = scratch.rsplit("_", 1)[-1]  # pid — table names unique per process
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey",
                                         "o_totalprice")
    c = load(spark, sf, "customer").select("c_custkey", "c_name")
    # repartition onto the bucket hash first: one file per bucket, so the
    # bucketed-sorted read needs no per-partition re-sort either
    write_bucketed(o.repartition(8, F.col("o_custkey")), f"bt_orders_{tag}",
                   ["o_custkey"], 8, sort_cols=["o_custkey"],
                   path=f"{scratch}/orders")
    write_bucketed(c.repartition(8, F.col("c_custkey")), f"bt_customer_{tag}",
                   ["c_custkey"], 8, sort_cols=["c_custkey"],
                   path=f"{scratch}/customer")
    ob, cb = spark.table(f"bt_orders_{tag}"), spark.table(f"bt_customer_{tag}")
    out = (
        ob.hint("merge")
        .join(cb, ob["o_custkey"] == cb["c_custkey"])
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count("*").alias("n_orders"),
             F.sum("o_totalprice").alias("revenue"))
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    _check_plan("Exchange" not in plan, plan,
                "bucketed join/agg planned a shuffle")
    _check_plan("SortMergeJoin" in plan, plan,
                "bucketed join lost its SMJ strategy")
    # drop the catalog entries now (this run's AND any stale dead-pid
    # ones): out's analyzed plan keeps the resolved bucketed relation,
    # and the external files live in the atexit-cleaned scratch dir
    _drop_prefixed_tables(spark, "bt_orders_", "bt_customer_")
    return out


@register(
    "q_dynamic_partition_prune",
    "WITH tiers(lang, tier) AS (VALUES ('en', 'curated'), ('zh', 'curated'), "
    "('de', 'bulk'), ('es', 'bulk'), ('fr', 'bulk')) "
    "SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_chars) AS BIGINT) AS chars FROM documents d "
    "JOIN tiers t ON d.lang = t.lang WHERE t.tier = 'curated' "
    "GROUP BY d.lang",
)
def q_dynamic_partition_prune(spark, sf):
    """Dynamic partition pruning, proven in-plan: the corpus is written
    lang-partitioned, then joined to a tiny tier dimension filtered to
    tier = 'curated' — the partition filter is NOT known at plan time
    (it comes from the dim rows), so Catalyst injects a
    dynamicpruningexpression subquery into the scan's PartitionFilters
    and the fact scan reads ONLY the curated langs' directories at run
    time. THE scan lever for star-shaped queries over a 100 TB
    partitioned corpus: q_partitioned_write_prune proves the static
    literal case, this proves the join-driven case. Oracle replays the
    join logically; the pruning must not change a value."""
    from metadata_enhanced_pretrain_datapipeline_spark.sources.writers import write_parquet

    d = load(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    out_dir = _scratch_dir(sf, "dpp_layout")
    write_parquet(d, out_dir, partition_by=["lang"])
    fact = spark.read.parquet(out_dir)
    tiers = spark.createDataFrame(
        [("en", "curated"), ("zh", "curated"), ("de", "bulk"),
         ("es", "bulk"), ("fr", "bulk")],
        "lang string, tier string",
    )
    out = (
        fact.join(tiers.filter(F.col("tier") == "curated"), "lang")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_chars").cast("long").alias("chars"))
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    _check_plan("dynamicpruning" in plan.lower(), plan,
                "no dynamicpruningexpression in the fact scan")
    return out


@register(
    "q_runtime_bloom_filter",
    "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, "
    "sum(l_extendedprice * (1 - l_discount)) AS rev "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "WHERE o_totalprice > 400000 GROUP BY o_orderpriority",
)
def q_runtime_bloom_filter(spark, sf):
    """Runtime bloom-filter join pushdown, proven in-plan: a selective
    dimension filter (high-value orders) joined to the big fact side
    makes Catalyst inject might_contain(bloom_filter_agg(keys)) into
    the FACT SCAN's filter — rows whose key cannot be in the filtered
    dim side are dropped AT THE SCAN, before the join's shuffle. THE
    third scan lever for 100 TB star joins alongside static partition
    pruning (q_partitioned_write_prune) and DPP
    (q_dynamic_partition_prune): it needs no physical layout at all.
    Local data sits under the 10 GB application-side default, so the
    query lowers the threshold for the demonstration (set/restore);
    broadcast is disabled because the can't-broadcast shuffle join is
    the case the filter exists for. The oracle runs the plain join —
    the injected filter must not change a value."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load(spark, sf, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount")
        o = load(spark, sf, "orders").filter(
            F.col("o_totalprice") > 400000).select(
            "o_orderkey", "o_orderpriority")
        out = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("l_extendedprice")
                       * (1 - F.col("l_discount"))).alias("rev"))
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        _check_plan("might_contain" in plan, plan,
                    "no runtime bloom filter injected into the fact scan")
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    return out


@register("q_stream_store_dedup", _REGISTRY["q_minhash_dedup_against"][1])
def q_stream_store_dedup(spark, sf):
    """Streaming ingestion against the persisted band store: documents
    arrive as a stream and each micro-batch is fuzzy-deduped against the
    ON-DISK signature store with the SAME batch operator
    (minhash_dedup_against over read_band_store), then appended to the
    kept sink — the real-time face of the monthly-snapshot workflow
    (continuous crawl ingestion dedupes against the corpus-so-far's
    store without ever touching its text; per-batch stateless, so no
    streaming state store grows with the corpus). Drained availableNow;
    the oracle is the batch twin's SQL verbatim — stream and batch must
    keep the same documents."""
    import shutil

    d_schema = load(spark, sf, "documents").schema
    scratch = _scratch_dir(sf, "stream_store_dedup")
    store_path = f"{scratch}/store"
    # fixed names + pre-run removal instead of per-run uuid suffixes:
    # repeated in-process runs must neither append to a previous run's
    # sink nor resume its exhausted checkpoint (availableNow would then
    # see every input file as already processed and emit nothing), and
    # uuid-suffixed dirs would accumulate inside the scratch dir for the
    # life of the process
    out_dir, ck = f"{scratch}/kept", f"{scratch}/ck"
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ck, ignore_errors=True)
    seen = load(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
    dedup.write_band_store(
        dedup.minhash_band_keys(
            dedup.minhash_signatures(seen.select("doc_id", "text"),
                                     num_hashes=8, portable=True),
            num_hashes=8, bands=4, portable=True),
        store_path)
    store = dedup.read_band_store(spark, store_path)
    stream = (
        spark.readStream.schema(d_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf)
        .filter(F.col("doc_id") % 5 != 0)
    )

    def apply(batch_df, batch_id):
        from metadata_enhanced_pretrain_datapipeline_spark.streaming.events import (
            widen_micro_batch,
        )

        # widen first (r13): the batch's shingle+minhash chain is per-row
        # CPU and an unwidened micro-batch runs it in ONE task
        dedup.minhash_dedup_against(widen_micro_batch(batch_df), store,
                                    num_hashes=8, bands=4, portable=True) \
            .select("doc_id").write.mode("append").parquet(out_dir)

    q = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).select("doc_id")


@register(
    "q_line_dedup_within_doc",
    # manufacture within-doc repetition: every doc's text twice plus a
    # unique tail — the second copy of every non-blank line must vanish,
    # blank lines pass through, and the rebuilt text is hash-checked
    "WITH d AS (SELECT doc_id, coalesce(text, '') || chr(10) || "
    "  coalesce(text, '') || chr(10) || 'tail ' || doc_id AS t "
    "  FROM documents), "
    "l AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line, "
    "  unnest(range(1, len(string_split(t, chr(10))) + 1)) AS pos FROM d), "
    "r AS (SELECT doc_id, line, pos, row_number() OVER ("
    "  PARTITION BY doc_id, line ORDER BY pos) AS rn FROM l), "
    "k AS (SELECT doc_id, line, pos FROM r WHERE trim(line) = '' OR rn = 1) "
    "SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY pos)) AS digest, "
    "CAST(sum(CASE WHEN trim(line) = '' THEN 0 ELSE 1 END) AS BIGINT) "
    "AS n_lines_kept FROM k GROUP BY doc_id",
)
def q_line_dedup_within_doc(spark, sf):
    """Extension — within-document line dedup
    (operators/dedup.dedup_lines_within_doc, the Dolma/CCNet light pass
    killing per-page template repetition with zero cross-document
    state). The corpus has no natural within-doc duplicate lines, so
    the query doubles each text (second copy of every line must vanish,
    blank separators survive) and the oracle replays the
    explode→first-wins→rebuild chain, hash-checking the full rebuilt
    text via md5."""
    d = load(spark, sf, "documents").withColumn(
        "text",
        # coalesce BEFORE concat: concat(NULL, ...) is NULL, which would
        # collapse a NULL-text doc's tail too — both engines coalesce
        # first so the manufactured text agrees rowwise
        F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit("\n"),
                 F.coalesce(F.col("text"), F.lit("")), F.lit("\n"),
                 F.lit("tail "), F.col("doc_id").cast("string")),
    )
    out = dedup.dedup_lines_within_doc(d)
    return out.select("doc_id", F.md5("text").alias("digest"), "n_lines_kept")


@register(
    "q_band_store_colocated_probe",
    # collision AUDIT of the full probe: every (new doc, seen doc) pair
    # sharing a band key — the multiset both engines must reproduce
    "WITH " + _minhash_bands_sql(8, 4) + " "
    "SELECT n.doc_id, s.doc_id AS seen_id, n.band FROM bands n "
    "JOIN bands s USING (band, key) "
    "WHERE n.doc_id % 5 <> 0 AND s.doc_id % 5 = 0",
)
def q_band_store_colocated_probe(spark, sf):
    """The OTHER store layout, proven in-plan
    (dedup.write_band_store_bucketed): the store is bucketed on
    (band, key), so the full monthly probe join consumes the store's
    bucketing directly — the plan is asserted to contain exactly ONE
    hashpartitioning Exchange (the new snapshot's band keys shuffling
    into the store's layout) and a Bucketed: true store scan. At 100 TB
    the store is the BIG side of this join; not re-shuffling it every
    month is the probe's dominant cost gone. Complements
    q_band_store_pruned_probe (band-partitioned layout for subset
    probes). Output is the collision audit (new doc, seen doc, band),
    hash-checked as a multiset against the banding self-join oracle."""
    scratch = _scratch_dir(sf, "band_store_bucketed")
    tag = scratch.rsplit("_", 1)[-1]  # pid — table name unique per process
    d = load(spark, sf, "documents")
    seen = d.filter(F.col("doc_id") % 5 == 0)
    new = d.filter(F.col("doc_id") % 5 != 0)
    store_bands = dedup.minhash_band_keys(
        dedup.minhash_signatures(seen.select("doc_id", "text"),
                                 num_hashes=8, portable=True),
        num_hashes=8, bands=4, portable=True)
    table = f"bt_band_store_{tag}"
    dedup.write_band_store_bucketed(store_bands, table, f"{scratch}/store",
                                    num_buckets=8)
    store = spark.table(table)
    probe = dedup.minhash_band_keys(
        dedup.minhash_signatures(new.select("doc_id", "text"),
                                 num_hashes=8, portable=True),
        num_hashes=8, bands=4, portable=True)
    out = (
        store.alias("s").hint("merge")
        .join(probe.alias("n"), ["band", "key"])
        .select(F.col("n.doc_id").alias("doc_id"),
                F.col("s.doc_id").alias("seen_id"), F.col("band"))
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    _check_plan(plan.count("Exchange hashpartitioning") == 1, plan,
                "co-located probe planned more than the probe-side exchange")
    _check_plan("Bucketed: true" in plan, plan,
                "store scan is not reading its bucketed layout")
    # catalog hygiene: drop this run's table (and stale dead-pid ones) —
    # out's analyzed plan keeps the resolved bucketed relation
    _drop_prefixed_tables(spark, "bt_band_store_")
    return out


#: simhash_pairs layout shared by the Spark query and its oracle: 32-bit
#: fingerprints, hamming <= 3 -> 4 chunks of 8 bits (pigeonhole-exact)
_SHP_BITS, _SHP_HAM, _SHP_CAP = 32, 3, 256


def _simhash_pairs_sql() -> str:
    """DuckDB twin of dedup.simhash_pairs over the mutant-augmented
    corpus (documents + per-7th-doc clones with appended words): chunk
    bucketing, the bucket-size guard, and exact xor/bit_count distance
    verification, all replayed relationally."""
    chunks = _SHP_HAM + 1
    base, rem = divmod(_SHP_BITS, chunks)
    widths = [base + (1 if i < rem else 0) for i in range(chunks)]
    offsets = [sum(widths[:i]) for i in range(chunks)]
    chunk_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS c, "
        f"(simhash >> {offsets[i]}) & {(1 << widths[i]) - 1} AS v FROM fp0"
        for i in range(chunks)
    )
    return (
        "WITH d0 AS (SELECT doc_id, text FROM documents UNION ALL "
        "  SELECT doc_id + 1000000000000 AS doc_id, "
        "  text || ' extra trailing words appended here' AS text "
        "  FROM documents WHERE doc_id % 7 = 0), "
        "el AS (SELECT doc_id FROM (SELECT doc_id, "
        "  list_filter(regexp_split_to_array(trim(text), '\\s+'), "
        "  x -> x <> '') AS ws FROM d0) WHERE len(ws) >= 3), "
        "fp0 AS ("
        + _simhash_sql(" WHERE doc_id IN (SELECT doc_id FROM el)",
                       _SHP_BITS, "d0")
        + "), "
        f"ck AS ({chunk_selects}), "
        "kept AS (SELECT c, v FROM ck GROUP BY c, v "
        f"  HAVING count(*) BETWEEN 2 AND {_SHP_CAP}), "
        "eb AS (SELECT ck.* FROM ck JOIN kept USING (c, v)) "
        "SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, "
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming "
        "FROM eb a JOIN eb b ON a.c = b.c AND a.v = b.v "
        "AND a.doc_id < b.doc_id "
        f"WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SHP_HAM}"
    )


@register("q_simhash_pairs", _simhash_pairs_sql())
def q_simhash_pairs(spark, sf):
    """Extension — SimHash near-dup candidate pairs
    (operators/dedup.simhash_pairs, the Manku et al. WWW'07
    construction): chunk the 32-bit fingerprint into hamming+1 pieces
    (pigeonhole-exact bucketing), verify bit_count(xor) within buckets.
    The corpus has no planted SimHash twins, so every 7th document is
    cloned with appended words (small vote shift → small hamming) —
    both engines build the same augmented corpus and the full
    (id_a, id_b, hamming) pair set is hash-checked."""
    d = load(spark, sf, "documents").select("doc_id", "text")
    mut = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000000000).alias("doc_id"),
        F.concat(F.col("text"),
                 F.lit(" extra trailing words appended here")).alias("text"),
    )
    corpus = d.unionByName(mut)
    return dedup.simhash_pairs(corpus, bits=_SHP_BITS,
                               max_hamming=_SHP_HAM, portable=True,
                               max_bucket_size=_SHP_CAP)


# ===========================================================================
# round-7 late additions: BM25 retrieval + semantic dedup application
# ===========================================================================

_BM25_TERMS = ("vector", "merge", "filter")


def _bm25_rank_sql(limit: int) -> str:
    # DuckDB twin of text_stats.bm25_topk over documents with the
    # _BM25_TERMS query — factored so q_bm25_topk and the RRF fusion
    # oracle score from ONE chain (a drifted copy would silently fuse a
    # different lexical leg). Yields bm(doc_id, score, rank <= limit).
    return (
        "t AS (SELECT doc_id, " + _TOK_SQL + " AS l FROM documents), "
        "tok AS (SELECT doc_id, len(l) AS dl, unnest(l) AS term FROM t), "
        "p AS (SELECT doc_id, term, count(*)::BIGINT AS tf, max(dl) AS dl "
        "  FROM tok WHERE term IN ('vector', 'merge', 'filter') "
        "  GROUP BY 1, 2), "
        "dft AS (SELECT term, count(*) AS df_t FROM p GROUP BY 1), "
        "st AS (SELECT count(*) AS n_docs, avg(len(l)) AS avgdl FROM t), "
        "sc AS (SELECT p.doc_id, "
        "  sum(ln(1 + (st.n_docs - dft.df_t + 0.5) / (dft.df_t + 0.5)) "
        "      * (p.tf * 2.2) / (p.tf + 1.2 * (1 - 0.75 + 0.75 * p.dl "
        "      / st.avgdl))) AS score "
        "  FROM p JOIN dft USING (term) CROSS JOIN st GROUP BY 1), "
        "bmr AS (SELECT doc_id, score, row_number() OVER "
        "  (ORDER BY round(score, 9) DESC, doc_id) AS rank FROM sc), "
        f"bm AS (SELECT doc_id, score, rank FROM bmr WHERE rank <= {limit})"
    )


@register(
    "q_bm25_topk",
    f"WITH {_bm25_rank_sql(10)} "
    "SELECT doc_id, score, CAST(rank AS INT) AS rank FROM bm",
)
def q_bm25_topk(spark, sf):
    """Okapi BM25 top-k retrieval (text_stats.bm25_topk): the query-time
    consumer of the inverted-index family — scores every doc against a
    3-term bag-of-words query under the Lucene idf, returns the top 10.
    Only query-term postings ever shuffle (InSet filter on the exploded
    stream); (N, avgdl) and per-term df are broadcasts; the top-k is
    TakeOrderedAndProject. Rank order is pinned cross-engine by the
    9dp-rounded score + id tie-break; the emitted score stays unrounded
    under the q10 float-canon rule."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators import text_stats

    return text_stats.bm25_topk(
        load(spark, sf, "documents"), list(_BM25_TERMS), k=10)


@register(
    "q_semantic_dedup",
    f"WITH bk AS ({_NEAR_DUP_BUCKET6}), "
    "be AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, bk.bucket "
    "  FROM embeddings e JOIN bk USING (vec_id)), "
    "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
    "  list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * "
    "  sqrt(list_dot_product(b.v, b.v))) AS c "
    "  FROM be a JOIN be b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) "
    "SELECT vec_id, label FROM embeddings WHERE vec_id NOT IN "
    "(SELECT id_b FROM p WHERE c >= 0.3)",
)
def q_semantic_dedup(spark, sf):
    """End-to-end semantic dedup (dedup.semantic_dedup — the SemDeDup
    recipe with LSH buckets standing in for k-means clusters and greedy
    smaller-id-wins resolution): near-dup pair generation is the
    oracle-twinned q_embedding_near_dup plan, the kept corpus is one
    ids-only anti-join. Threshold 0.3 as in q_embedding_near_dup (the
    synthetic embeddings are near-orthogonal; a production 0.95 returns
    the identity). The pair/resolution invariant (kept = all minus
    distinct id_b) is what the oracle checks."""
    e = load(spark, sf, "embeddings")
    kept = dedup.semantic_dedup(
        e, id_col="vec_id", vec_col="embedding", threshold=0.3,
        num_planes=6, max_bucket_size=None)
    return kept.select("vec_id", "label")


@register(
    "q_simhash_dedup",
    "WITH p AS (" + _simhash_pairs_sql() + "), "
    "c0 AS (SELECT doc_id FROM documents UNION ALL "
    "  SELECT doc_id + 1000000000000 FROM documents WHERE doc_id % 7 = 0) "
    "SELECT doc_id FROM c0 WHERE doc_id NOT IN (SELECT id_b FROM p)",
)
def q_simhash_dedup(spark, sf):
    """End-to-end SimHash dedup (dedup.simhash_dedup): the cosine-signal
    member of the dedup family (minhash_dedup = Jaccard, semantic_dedup =
    embedding space) run to a kept corpus over the same mutant-augmented
    fixture as q_simhash_pairs — every 7th doc cloned with appended
    words so real near-dup pairs exist. The oracle replays the full
    chunk-bucket pair set and checks kept = corpus minus distinct
    larger-pair-ids."""
    d = load(spark, sf, "documents").select("doc_id", "text")
    mut = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000000000).alias("doc_id"),
        F.concat(F.col("text"),
                 F.lit(" extra trailing words appended here")).alias("text"),
    )
    corpus = d.unionByName(mut)
    kept = dedup.simhash_dedup(corpus, bits=_SHP_BITS,
                               max_hamming=_SHP_HAM, portable=True,
                               max_bucket_size=_SHP_CAP)
    return kept.select("doc_id")


@register(
    "q_dedup_keep_best",
    "WITH RECURSIVE pairs AS (" + _minhash_pairs_sql("", 8, 4, 64) + "), "
    "e AS (SELECT id_a AS src, id_b AS dst FROM pairs "
    "  UNION ALL SELECT id_b, id_a FROM pairs), "
    "n AS (SELECT DISTINCT src AS node FROM e), "
    "reach AS (SELECT node, node AS lab FROM n "
    "  UNION SELECT e.dst AS node, reach.lab FROM reach "
    "    JOIN e ON e.src = reach.node), "
    "cl AS (SELECT node AS doc_id, min(lab) AS cluster_id "
    "  FROM reach GROUP BY node), "
    "sel AS (SELECT cl.doc_id, row_number() OVER (PARTITION BY cl.cluster_id "
    "  ORDER BY d.n_chars DESC, cl.doc_id) AS rn "
    "  FROM cl JOIN documents d USING (doc_id)), "
    "losers AS (SELECT doc_id FROM sel WHERE rn > 1) "
    "SELECT doc_id, n_chars FROM documents "
    "WHERE doc_id NOT IN (SELECT doc_id FROM losers)",
)
def q_dedup_keep_best(spark, sf):
    """Quality-aware duplicate resolution (dedup.dedup_keep_best): the
    portable MinHash-LSH pair set resolves into TRANSITIVE clusters
    (pointer doubling) and each cluster keeps its highest-n_chars member
    (tie -> smaller id) instead of smallest-id-wins — the resolution a
    quality-scored production pipeline wants. The oracle recomputes the
    exact closure with a recursive CTE and replays the per-cluster
    argmax, so both the clustering AND the winner choice are
    hash-checked."""
    d = load(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(d, num_hashes=8, bands=4,
                                    max_bucket_size=64, portable=True)
    kept = dedup.dedup_keep_best(d, pairs, quality_col="n_chars")
    return kept.select("doc_id", "n_chars")


@register(
    "q_quantized_topk",
    "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x "
    "  FROM embeddings), "
    "s AS (SELECT vec_id, x, "
    "  list_max(list_transform(x, a -> abs(a))) / 127.0 AS sc FROM v), "
    "qz AS (SELECT vec_id, CASE WHEN sc > 0 THEN "
    "  list_transform(x, a -> floor(a / sc + 0.5)) "
    "  ELSE list_transform(x, a -> 0.0) END AS qx FROM s), "
    "qv AS (SELECT qx AS qq, sqrt(list_dot_product(qx, qx)) AS qn "
    "  FROM qz WHERE vec_id = 0), "
    "sc2 AS (SELECT z.vec_id, list_dot_product(z.qx, qv.qq) AS dp, "
    "  list_dot_product(z.qx, z.qx) AS aa, qv.qn FROM qz z CROSS JOIN qv "
    "  WHERE z.vec_id <> 0) "
    "SELECT vec_id, dp / (sqrt(aa) * qn) AS qcos FROM sc2 WHERE aa > 0 "
    "ORDER BY qcos DESC, vec_id LIMIT 10",
)
def q_quantized_topk(spark, sf):
    """int8-quantized ANN top-k (similarity.quantized_topk): the BYTES
    lever of the ANN family — symmetric per-vector quantization to
    array<tinyint> (4x smaller scan/shuffle payload), integer dot
    products rescaled by integer norms (per-vector scales cancel out of
    cosine). Every quantization step is a correctly-rounded IEEE op and
    every dot product is an exact integer sum, so scores are
    BIT-IDENTICAL across engines — the oracle replays the whole formula
    unrounded. Query = vec 0's embedding (tiny driver-side scalar, the
    lsh_topk precedent)."""
    e = load(spark, sf, "embeddings")
    qvec = [float(v) for v in
            e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    return similarity.quantized_topk(
        e.filter(F.col("vec_id") != 0), qvec, k=10)


_DSIR_B = 2048
_DSIR_TARGET = ("src0", "src1")


def _dsir_counts_sql(name: str, src_cte: str) -> str:
    """Per-(doc, bucket) hashed unigram+bigram counts — the DuckDB twin
    of sampling.dsir_weights._bucket_counts."""
    return (
        f"{name}_tok AS (SELECT doc_id, list_filter("
        "regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS ws "
        f"FROM {src_cte}), "
        f"{name}_f AS (SELECT doc_id, unnest(ws) AS f FROM {name}_tok "
        "  UNION ALL SELECT doc_id, ws[i] || ' ' || ws[i+1] AS f FROM "
        f"  (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i "
        f"   FROM {name}_tok)), "
        f"{name}_c AS (SELECT doc_id, "
        + md5_hash64_sql("f")
        + f" % {_DSIR_B} AS bucket, count(*)::BIGINT AS c "
        f"FROM {name}_f GROUP BY 1, 2)"
    )


#: shared DuckDB chain ending in w(doc_id, weight) — the twin of
#: sampling.dsir_weights; q_dsir_top_n and q_dsir_sample both build on it
_DSIR_W_SQL = (
    "tgt0 AS (SELECT doc_id, text FROM documents "
    f"  WHERE source IN {_DSIR_TARGET!r}".replace('"', "'")
    + "), "
    "raw0 AS (SELECT doc_id, text FROM documents "
    f"  WHERE source NOT IN {_DSIR_TARGET!r}".replace('"', "'")
    + "), "
    + _dsir_counts_sql("tgt", "tgt0") + ", "
    + _dsir_counts_sql("raw", "raw0") + ", "
    "tb AS (SELECT bucket, sum(c) AS t_b FROM tgt_c GROUP BY 1), "
    "tt AS (SELECT COALESCE(sum(t_b), 0) AS t FROM tb), "
    "rb AS (SELECT bucket, sum(c) AS r_b FROM raw_c GROUP BY 1), "
    "rt AS (SELECT COALESCE(sum(c), 0) AS r FROM raw_c), "
    "ratios AS (SELECT rb.bucket, "
    f"  ln((COALESCE(tb.t_b, 0) + 1.0) / (tt.t + {1.0 * _DSIR_B})) "
    f"  - ln((rb.r_b + 1.0) / (rt.r + {1.0 * _DSIR_B})) AS llr "
    "  FROM rb CROSS JOIN rt CROSS JOIN tt LEFT JOIN tb USING (bucket)), "
    "w AS (SELECT c.doc_id, sum(c.c * r.llr) AS weight "
    "  FROM raw_c c JOIN ratios r USING (bucket) GROUP BY 1)"
)


@register(
    "q_dsir_top_n",
    f"WITH {_DSIR_W_SQL}, "
    "rk AS (SELECT doc_id, weight, row_number() OVER "
    "  (ORDER BY round(weight, 9) DESC, doc_id) AS rn FROM w) "
    "SELECT doc_id, weight FROM rk WHERE rn <= 50",
)
def q_dsir_top_n(spark, sf):
    """DSIR data selection (sampling.dsir_top_n, Xie et al. 2023):
    hashed unigram+bigram importance weights — the log-likelihood ratio
    of each raw doc under the target vs raw smoothed bucket models —
    with sources src0/src1 standing in as the target distribution and
    the rest of the corpus as raw. Raw text is read once (counts
    materialized as three-long rows); the target model and per-bucket
    log-ratios broadcast; the top-50 is TakeOrderedAndProject on the
    9dp-rounded weight (bm25 ordering rule). The oracle replays hashing,
    smoothing, and the ratio arithmetic end to end."""
    d = load(spark, sf, "documents")
    tgt = d.filter(F.col("source").isin(*_DSIR_TARGET))
    raw = d.filter(~F.col("source").isin(*_DSIR_TARGET))
    return sampling.dsir_top_n(raw, tgt, n=50, num_buckets=_DSIR_B)


def _qstore_quant_sql(src: str = "embeddings") -> str:
    # symmetric-int8 quantization twin of similarity.quantize_embeddings
    # over ``src`` (must expose vec_id, embedding), plus the quantized
    # query vector qv taken from vec_id 0
    return (
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x "
        f"  FROM {src}), "
        "s AS (SELECT vec_id, x, "
        "  list_max(list_transform(x, a -> abs(a))) / 127.0 AS sc FROM v), "
        "qz AS (SELECT vec_id, CASE WHEN sc > 0 THEN "
        "  list_transform(x, a -> floor(a / sc + 0.5)) "
        "  ELSE list_transform(x, a -> 0.0) END AS qx FROM s), "
        "qv AS (SELECT qx AS qq, sqrt(list_dot_product(qx, qx)) AS qn "
        "  FROM qz WHERE vec_id = 0)"
    )


_QSTORE_QUANT_SQL = _qstore_quant_sql()


@register(
    "q_quantized_store_probe",
    f"WITH b AS ({_LSH_BUCKET_SQL}), "
    "qb AS (SELECT bucket FROM b WHERE vec_id = 0), "
    f"{_QSTORE_QUANT_SQL}, "
    "sc2 AS (SELECT z.vec_id, list_dot_product(z.qx, qv.qq) AS dp, "
    "  list_dot_product(z.qx, z.qx) AS aa, qv.qn FROM qz z "
    "  JOIN b ON b.vec_id = z.vec_id JOIN qb ON b.bucket = qb.bucket "
    "  CROSS JOIN qv WHERE z.vec_id <> 0) "
    "SELECT vec_id, dp / (sqrt(aa) * qn) AS qcos FROM sc2 WHERE aa > 0 "
    "ORDER BY qcos DESC, vec_id LIMIT 10",
)
def q_quantized_store_probe(spark, sf):
    """The PRODUCTION ANN layout end to end, physically: int8 codes AND
    the LSH bucket are computed once at WRITE time
    (quantize_embeddings + lsh_bucket → partitionBy(bucket)), so the
    probe composes BOTH scale levers — the bucket equality arrives as a
    PartitionFilter (asserted in-plan: one bucket's files are read) and
    the scan reads tinyint codes (~3.7x fewer bytes, measured by a
    one-off A/B recorded in SCALE.md) scored via the exact-integer
    prequantized path. The oracle recomputes bucket assignment and
    quantization logically — the physical layout must not change a
    value."""
    e = load(spark, sf, "embeddings")
    # ONE driver action fetches the query vector AND its bucket (r12):
    # lsh_bucket on the stored embedding column equals lsh_bucket of
    # the collected literals (same doubles), and the previous separate
    # spark.range(1) job paid ~1.5s of plan/codegen for one row
    qrow = (e.filter(F.col("vec_id") == 0)
            .select("embedding",
                    similarity.lsh_bucket(F.col("embedding"), 8).alias("qb"))
            .collect()[0])
    qvec = [float(x) for x in qrow["embedding"]]
    qb = qrow["qb"]
    path = _scratch_dir(sf, "qstore_layout")
    # widen off the single-file scan first (r12): quantize+lsh_bucket
    # are interpreted HOF CPU per row and otherwise run in ONE task;
    # then cluster by bucket before the dynamic-partition write so each
    # of the ~230 bucket directories gets ONE file instead of one per
    # (task, bucket) pair (1620 tiny files measured, write 2.5x slower)
    (
        similarity.quantize_embeddings(ensure_min_partitions(e))
        .withColumn("bucket", similarity.lsh_bucket(F.col("embedding"), 8))
        .select("vec_id", "qvec", "qscale", "bucket")
        # EXPLICIT width: a bare repartition("bucket") lets AQE
        # coalesce the tiny exchange to ONE task, which then opens all
        # ~230 bucket files serially (~20ms parquet-writer init each)
        .repartition(spark.sparkContext.defaultParallelism, "bucket")
        .write.mode("overwrite").partitionBy("bucket").parquet(path)
    )
    back = spark.read.parquet(path)
    probe = back.filter((F.col("bucket") == F.lit(qb))
                        & (F.col("vec_id") != 0))
    out = similarity.quantized_topk(probe, qvec, k=10, vec_col="qvec",
                                    prequantized=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re as _re
    _check_plan(bool(_re.search(r"PartitionFilters: \[[^\]]*bucket", plan)),
                plan, "bucket filter missing from quantized store scan")
    return out


@register(
    "q_dsir_sample",
    f"WITH {_DSIR_W_SQL}, "
    "g AS (SELECT doc_id, weight, weight / 1.0 + (-ln(-ln(("
    + md5_hash64_sql("CAST(doc_id AS VARCHAR) || ':7'")
    + " % 4503599627370496 + 0.5) / 4503599627370496.0))) AS k FROM w), "
    "rk AS (SELECT doc_id, weight, row_number() OVER "
    "  (ORDER BY round(k, 9) DESC, doc_id) AS rn FROM g) "
    "SELECT doc_id, weight FROM rk WHERE rn <= 50",
)
def q_dsir_sample(spark, sf):
    """DSIR Gumbel-top-n resampling (sampling.dsir_sample) — the
    paper's sampled selection, with hash-seeded Gumbel noise so the
    draw is deterministic and the oracle can replay weight, noise and
    ranking exactly. Same target/raw split and weight chain as
    q_dsir_top_n; the selected set differs where the noise outvotes the
    weight margin, which is the operator's point."""
    d = load(spark, sf, "documents")
    tgt = d.filter(F.col("source").isin(*_DSIR_TARGET))
    raw = d.filter(~F.col("source").isin(*_DSIR_TARGET))
    return sampling.dsir_sample(raw, tgt, n=50, num_buckets=_DSIR_B,
                                temperature=1.0, salt=7)


@register(
    "q_ivf_quantized_probe",
    f"WITH {_IVF_ASSIGN_SQL}, "
    f"{_QSTORE_QUANT_SQL}, "
    "sc2 AS (SELECT z.vec_id, list_dot_product(z.qx, qv.qq) AS dp, "
    "  list_dot_product(z.qx, z.qx) AS aa, qv.qn FROM qz z "
    "  JOIN assign ON assign.vec_id = z.vec_id "
    "  JOIN probe ON probe.cid = assign.list_id "
    "  CROSS JOIN qv WHERE z.vec_id <> 0) "
    "SELECT vec_id, dp / (sqrt(aa) * qn) AS qcos FROM sc2 WHERE aa > 0 "
    "ORDER BY qcos DESC, vec_id LIMIT 10",
)
def q_ivf_quantized_probe(spark, sf):
    """The FULL production ANN store, physically: one layout composing
    both scale levers — IVF list-partitioned directories
    (similarity.write_ivf_quantized_store assigns against the static
    codebook on the FLOAT vectors, so recall matches the float index)
    whose files hold int8 codes instead of floats. The probe
    (similarity.ivf_quantized_topk) reads nprobe/nlists directories —
    the literal isin arrives as a PartitionFilter, asserted in-plan —
    and each directory's scan reads array<tinyint> codes (~3.7x fewer
    bytes, asserted via ReadSchema; qscale is column-pruned away since
    per-vector scales cancel out of cosine). At 100 TB of float32
    embeddings this probe touches (nprobe/nlists) x ~0.27 of the bytes.
    The oracle replays list assignment, quantization and the
    exact-integer scoring logically — the physical layout must not
    change a value. A/B vs float brute force: SCALE.md round 8."""
    e = load(spark, sf, "embeddings")
    cents = _static_codebook(e)
    path = _scratch_dir(sf, "ivfq_layout")
    similarity.write_ivf_quantized_store(e, path, cents)
    back = spark.read.parquet(path)
    out = similarity.ivf_quantized_topk(
        back.filter(F.col("vec_id") != 0), cents, cents[0], k=10, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re as _re
    _check_plan(bool(_re.search(r"PartitionFilters: \[[^\]]*list_id", plan)),
                plan, "nprobe list_id filter missing from IVF-quantized scan")
    _check_plan("tinyint" in plan and "qscale" not in plan.split("ReadSchema")[-1],
                plan, "store scan must read tinyint codes and prune qscale")
    return out


@register(
    "q_ivf_quantized_rerank",
    f"WITH {_IVF_ASSIGN_SQL}, "
    f"{_QSTORE_QUANT_SQL}, "
    "sc2 AS (SELECT z.vec_id, list_dot_product(z.qx, qv.qq) AS dp, "
    "  list_dot_product(z.qx, z.qx) AS aa, qv.qn FROM qz z "
    "  JOIN assign ON assign.vec_id = z.vec_id "
    "  JOIN probe ON probe.cid = assign.list_id "
    "  CROSS JOIN qv WHERE z.vec_id <> 0), "
    "cand AS (SELECT vec_id FROM sc2 WHERE aa > 0 "
    "  ORDER BY dp / (sqrt(aa) * qn) DESC, vec_id LIMIT 40), "
    f"n AS ({_NORM_SQL}), d AS ({_PAIRDOT_SQL}), "
    "q2 AS (SELECT nrm AS qn2 FROM n WHERE vec_id = 0) "
    "SELECT d.vec_id, round(d.dp / (n.nrm * q2.qn2), 6) AS cosine "
    "FROM d JOIN n ON n.vec_id = d.vec_id "
    "JOIN cand ON cand.vec_id = d.vec_id CROSS JOIN q2 "
    "ORDER BY cosine DESC, d.vec_id LIMIT 10",
)
def q_ivf_quantized_rerank(spark, sf):
    """Two-stage production retrieval
    (similarity.ivf_quantized_rerank_topk): int8 candidates out of the
    IVF-partitioned code store (k x overfetch = 40, reading
    nprobe/nlists directories of tinyint bytes — PartitionFilters
    asserted in-plan), then an ids-only broadcast semi-join back to the
    float corpus and an exact-cosine re-rank of the 40 survivors. The
    oracle replays both stages: quantized candidate selection is
    engine-exact (integer dot products), so the candidate SET matches,
    and the float re-rank is the q_embedding_topk arithmetic over it."""
    e = load(spark, sf, "embeddings")
    cents = _static_codebook(e)
    path = _scratch_dir(sf, "ivfq_layout")
    similarity.write_ivf_quantized_store(e, path, cents)
    back = spark.read.parquet(path).filter(F.col("vec_id") != 0)
    out = similarity.ivf_quantized_rerank_topk(
        back, e.filter(F.col("vec_id") != 0), cents, cents[0],
        k=10, nprobe=2, overfetch=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re as _re
    _check_plan(bool(_re.search(r"PartitionFilters: \[[^\]]*list_id", plan)),
                plan, "nprobe list_id filter missing from rerank stage-1 scan")
    return out


@register(
    "q_ivf_store_compact",
    # mixed corpus after latest-wins compaction: month 2 re-embedded
    # every 5th vector (deterministically: reversed array) and wins over
    # month 1's copy; everything else keeps month 1's codes. vec 0 stays
    # original so the probe query/codebook are unchanged.
    "WITH mx AS (SELECT vec_id, CASE WHEN vec_id % 5 = 0 AND vec_id <> 0 "
    "  THEN list_reverse(embedding) ELSE embedding END AS embedding "
    "  FROM embeddings), "
    f"{_ivf_assign_sql('mx')}, "
    f"{_qstore_quant_sql('mx')}, "
    "sc2 AS (SELECT z.vec_id, list_dot_product(z.qx, qv.qq) AS dp, "
    "  list_dot_product(z.qx, z.qx) AS aa, qv.qn FROM qz z "
    "  JOIN assign ON assign.vec_id = z.vec_id "
    "  JOIN probe ON probe.cid = assign.list_id "
    "  CROSS JOIN qv WHERE z.vec_id <> 0) "
    "SELECT vec_id, dp / (sqrt(aa) * qn) AS qcos FROM sc2 WHERE aa > 0 "
    "ORDER BY qcos DESC, vec_id LIMIT 10",
)
def q_ivf_store_compact(spark, sf):
    """IVF-quantized store lifecycle end to end
    (similarity.compact_ivf_quantized_store): month 1 stores the whole
    corpus, month 2 re-embeds every 5th vector (deterministic mutation:
    reversed array — a re-crawl/model-refresh stand-in), compaction
    merges LATEST-WINS into one probe layout (codebook stamps verified,
    re-applied), and the compacted store answers the standard quantized
    probe — whose plan must still prune to nprobe list directories
    (asserted). The oracle replays assignment + quantization over the
    post-compaction corpus: month-2 codes must have REPLACED month-1's
    for the re-embedded ids (a distinct-based merge would keep both and
    fail the hash)."""
    e = load(spark, sf, "embeddings")
    cents = _static_codebook(e)
    m1 = _scratch_dir(sf, "ivfq_m1")
    m2 = _scratch_dir(sf, "ivfq_m2")
    out_path = _scratch_dir(sf, "ivfq_compacted")
    similarity.write_ivf_quantized_store(e, m1, cents)
    re_embedded = (
        e.filter((F.col("vec_id") % 5 == 0) & (F.col("vec_id") != 0))
        .withColumn("embedding", F.reverse(F.col("embedding")))
    )
    similarity.write_ivf_quantized_store(re_embedded, m2, cents)
    similarity.compact_ivf_quantized_store(spark, [m1, m2], out_path)
    back = spark.read.parquet(out_path).filter(F.col("vec_id") != 0)
    out = similarity.ivf_quantized_topk(back, cents, cents[0], k=10,
                                        nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re as _re
    _check_plan(bool(_re.search(r"PartitionFilters: \[[^\]]*list_id", plan)),
                plan, "compacted store probe must prune list directories")
    return out


@register(
    "q_semantic_dedup_ivf",
    f"WITH {_IVF_ASSIGN_SQL}, "
    "be AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, "
    "  a.list_id AS bucket FROM embeddings e "
    "  JOIN assign a ON a.vec_id = e.vec_id), "
    "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
    "  list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * "
    "  sqrt(list_dot_product(b.v, b.v))) AS c "
    "  FROM be a JOIN be b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) "
    "SELECT vec_id, label FROM embeddings WHERE vec_id NOT IN "
    "(SELECT id_b FROM p WHERE c >= 0.3)",
)
def q_semantic_dedup_ivf(spark, sf):
    """semantic_dedup's LARGE-CORPUS bucketing branch (SCALE.md's
    documented handoff past the 2**15-bucket plane cap, now a real code
    path): buckets come from nearest-centroid assignment against the
    static codebook — the SemDeDup paper's own k-means clustering shape
    — instead of hyperplane LSH; pair generation and smaller-id-wins
    resolution are unchanged. The codebook is deterministic (first-4
    vectors, the q_ivf_static_topk convention), so unlike the float
    k-means FIT the whole dedup is oracle-replayable: the SQL reruns
    argmax assignment, within-bucket cosine and the NOT IN resolution.
    Same threshold 0.3 as q_semantic_dedup (near-orthogonal synthetic
    embeddings)."""
    e = load(spark, sf, "embeddings")
    cents = _static_codebook(e)
    kept = dedup.semantic_dedup(
        e, id_col="vec_id", vec_col="embedding", threshold=0.3,
        max_bucket_size=None, centroids=cents)
    return kept.select("vec_id", "label")


@register(
    "q_hybrid_rrf",
    f"WITH {_bm25_rank_sql(20)}, "
    f"n AS ({_NORM_SQL}), d AS ({_PAIRDOT_SQL}), "
    "q AS (SELECT nrm AS qn FROM n WHERE vec_id = 0), "
    "ac AS (SELECT d.vec_id AS doc_id, "
    "  round(d.dp / (n.nrm * q.qn), 6) AS cosine "
    "  FROM d JOIN n ON d.vec_id = n.vec_id, q WHERE d.vec_id != 0), "
    "ar AS (SELECT doc_id, row_number() OVER "
    "  (ORDER BY cosine DESC, doc_id) AS rank FROM ac), "
    "u AS (SELECT doc_id, 1.0::DOUBLE / (60 + rank) AS contrib FROM bm "
    "  UNION ALL SELECT doc_id, 1.0::DOUBLE / (60 + rank) FROM ar "
    "  WHERE rank <= 20), "
    "f AS (SELECT doc_id, sum(contrib) AS rrf_score FROM u GROUP BY 1) "
    "SELECT doc_id, rrf_score FROM f "
    "ORDER BY round(rrf_score, 9) DESC, doc_id LIMIT 10",
)
def q_hybrid_rrf(spark, sf):
    """Hybrid retrieval via reciprocal-rank fusion
    (similarity.rrf_fuse, Cormack et al. SIGIR'09): a lexical leg
    (text_stats.bm25_topk, the q_bm25_topk chain at k=20) and a
    semantic leg (brute-force cosine vs vec 0, the q_embedding_topk
    arithmetic at k=20, vec_id read as the doc's id) fuse on rank —
    rrf = Σ 1/(60+rank) — so BM25's unbounded scores and cosine's
    [-1,1] never need calibration. Each leg is already scale-shaped
    (InSet postings / TakeOrdered); the fusion input is bounded by the
    legs' k, a driver-trivial union+groupBy at any corpus size. The
    oracle replays both legs from their factored twin chains and the
    fusion arithmetic."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators import text_stats

    d = load(spark, sf, "documents")
    e = load(spark, sf, "embeddings")
    lex = text_stats.bm25_topk(d, list(_BM25_TERMS), k=20)
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 0).head().embedding]
    sem = similarity.brute_force_topk(
        e.filter(F.col("vec_id") != 0), qvec, k=20)
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    sem_ranked = sem.withColumn("rank", F.row_number().over(w)).select(
        F.col("vec_id").alias("doc_id"), "rank")
    return similarity.rrf_fuse(
        [lex.select("doc_id", "rank"), sem_ranked], k=10)


@register(
    "q_cluster_balanced_sample",
    f"WITH {_IVF_ASSIGN_SQL}, "
    "h AS (SELECT vec_id, list_id, " + salted_hash_sql("vec_id")
    + " AS h FROM assign), "
    "r AS (SELECT vec_id, list_id, row_number() OVER "
    "  (PARTITION BY list_id ORDER BY h, vec_id) AS rn FROM h) "
    "SELECT vec_id, CAST(list_id AS INT) AS list_id FROM r WHERE rn <= 40",
)
def q_cluster_balanced_sample(spark, sf):
    """Cluster-balanced downsample (similarity.cluster_balanced_sample):
    nearest-centroid assignment against the static codebook (the
    SemDeDup/DoReMi clustering shape) then at most 40 vectors per
    cluster by deterministic hash priority — the diversity-preserving
    mix pass where an over-crawled semantic cluster contributes no more
    than the rarest one. Spark runs ivf_assign's O(k) argmax plus
    per_host_cap's bucketed two-phase cap (no single-task mega-cluster
    sort); the oracle is the naive per-cluster row_number window over
    the same salted hash, proving the decomposition exact."""
    e = load(spark, sf, "embeddings")
    cents = _static_codebook(e)
    return similarity.cluster_balanced_sample(
        e, cents, cap=40).select("vec_id", "list_id")


@register(
    "q_unimax_sample",
    # WITH RECURSIVE replays the UniMax allocation walk (smallest
    # language first, a_l = min(c*E, rem/langs_left)) — the same
    # sequential-fold oracle pattern as q_pack_with_metadata. All float
    # steps are explicit DOUBLEs so the subtraction chain is
    # bit-identical to the driver-side Python walk.
    "WITH RECURSIVE "
    "t AS (SELECT doc_id, lang, "
    "  len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
    "      x -> x <> '')) AS n, "
    + salted_hash_sql("doc_id") + " AS h FROM documents), "
    "cn AS (SELECT lang, CAST(sum(n) AS BIGINT) AS c FROM t GROUP BY 1), "
    "tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tc, count(*) AS nl FROM cn), "
    "L AS (SELECT lang, c, row_number() OVER (ORDER BY c, lang) AS i "
    "  FROM cn), "
    "alloc AS ("
    "  SELECT 0 AS i, CAST(tot.tc * 0.25::DOUBLE AS DOUBLE) AS rem, "
    "    CAST(NULL AS VARCHAR) AS lang, CAST(0.0 AS DOUBLE) AS a, "
    "    tot.nl AS nl FROM tot "
    "  UNION ALL "
    "  SELECT L.i, alloc.rem - least(CAST(L.c AS DOUBLE) * 2.0::DOUBLE, "
    "      alloc.rem / (alloc.nl - alloc.i)), L.lang, "
    "    least(CAST(L.c AS DOUBLE) * 2.0::DOUBLE, "
    "      alloc.rem / (alloc.nl - alloc.i)), alloc.nl "
    "  FROM alloc JOIN L ON L.i = alloc.i + 1), "
    "cum AS (SELECT doc_id, lang, sum(n) OVER (PARTITION BY lang "
    "  ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND "
    "  CURRENT ROW) AS cum FROM t) "
    "SELECT c.doc_id, c.lang FROM cum c JOIN alloc ON alloc.lang = c.lang "
    "WHERE c.cum <= alloc.a",
)
def q_unimax_sample(spark, sf):
    """UniMax language sampling (sampling.unimax_sample — Chung et al.
    2023): budget = 25% of corpus tokens, epoch cap 2. The allocation
    walks languages smallest-first, giving each min(count·epochs,
    remaining/langs_left) — small languages keep their whole corpus,
    the surplus spreads uniformly; each language then keeps documents
    in salted-hash priority while its running token sum fits its
    budget (token_budget_cap's bucketed two-phase shape with per-group
    budgets — no single-task mega-language sort). The oracle replays
    the allocation as a recursive CTE and the cap as the naive
    per-language window, proving both the walk and the decomposition
    exact. At scale the budget is a known constant; the fixture derives
    it from the corpus (one tiny agg) so the query is scale-free."""
    d = load(spark, sf, "documents")
    ntok = F.size(tokens_ws(F.col("text")))
    total = d.agg(F.sum(ntok.cast("long")).alias("t")).head().t
    out = sampling.unimax_sample(
        d, "lang", ntok, budget=float(total) * 0.25, max_epochs=2.0,
        key=F.col("doc_id"))
    return out.select("doc_id", "lang")


@register("q_stream_ivf_append", _REGISTRY["q_ivf_quantized_probe"][1])
def q_stream_ivf_append(spark, sf):
    """Continuous ANN-store ingestion
    (streaming.events.stream_append_ivf_quantized_store): embeddings
    arrive as a 2-batch stream (the corpus pre-split into two files,
    maxFilesPerTrigger=1) and every micro-batch appends quantized,
    list-assigned rows into the SAME IVF-partitioned int8 layout the
    batch writer builds — both paths run the shared
    ivf_quantized_codes projection, so the stream-built store answers
    the standard pruned probe identically (this oracle IS
    q_ivf_quantized_probe's SQL verbatim, and the same
    PartitionFilters + tinyint-ReadSchema asserts run against the
    stream-built layout). Stateless per batch: no watermark, no state
    store, nothing grows with the corpus."""
    import re as _re
    import shutil

    from metadata_enhanced_pretrain_datapipeline_spark.streaming import events as se

    e = load(spark, sf, "embeddings")
    cents = _static_codebook(e)
    scratch = _scratch_dir(sf, "stream_ivfq")
    src, store, ck = f"{scratch}/src", f"{scratch}/store", f"{scratch}/ck"
    for p in (src, store, ck):
        shutil.rmtree(p, ignore_errors=True)
    # two input files -> two micro-batches under maxFilesPerTrigger=1.
    # Both halves in ONE job (r13): repartition(1) + partitionBy emits
    # exactly one file per half, replacing two filter writes that each
    # re-scanned the embeddings.
    e.withColumn("half", (F.col("vec_id") % 2).cast("int")) \
        .repartition(1).write.partitionBy("half").parquet(src)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    se.stream_append_ivf_quantized_store(stream, store, cents, ck)
    back = spark.read.parquet(store).filter(F.col("vec_id") != 0)
    out = similarity.ivf_quantized_topk(back, cents, cents[0], k=10,
                                        nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    _check_plan(bool(_re.search(r"PartitionFilters: \[[^\]]*list_id", plan)),
                plan, "stream-built store probe must prune list dirs")
    _check_plan("tinyint" in plan
                and "qscale" not in plan.split("ReadSchema")[-1],
                plan, "stream-built store must read tinyint codes only")
    return out


@register(
    "q_hard_negative_mine",
    "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x "
    "  FROM embeddings), "
    "q AS (SELECT vec_id AS qid, x AS qx FROM v WHERE vec_id % 211 = 3), "
    "sc AS (SELECT q.qid AS query_id, v.vec_id AS cand_id, "
    "  round(list_dot_product(v.x, q.qx) / (sqrt(list_dot_product(v.x, "
    "  v.x)) * sqrt(list_dot_product(q.qx, q.qx))), 6) AS cosine "
    "  FROM v JOIN q ON v.vec_id <> q.qid), "
    "r AS (SELECT query_id, cand_id, cosine, CAST(row_number() OVER "
    "  (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INT) "
    "  AS rank FROM sc) "
    "SELECT query_id, cand_id, cosine, rank, "
    "  CASE WHEN rank <= 1 THEN 'pos' ELSE 'neg' END AS role "
    "FROM r WHERE rank <= 1 OR rank BETWEEN 4 AND 6",
)
def q_hard_negative_mine(spark, sf):
    """Hard-negative mining for retrieval/embedding training data
    (similarity.mine_hard_negatives): for each sampled query document
    the nearest neighbor becomes the positive and ranks 4-6 the hard
    negatives — near-but-not-nearest, the rank band a contrastive loss
    learns most from. The bounded query set broadcasts and fans the
    corpus out ONCE; ranking is the two-phase partial top-k (per input
    partition each query keeps its neg_end best, then a bounded
    per-query merge) — never a full per-query corpus sort in one task.
    The oracle is the naive per-query rank window over all pairwise
    cosines, proving the two-phase decomposition exact.

    The ``limit(4097)`` collect is one MORE than the miner's default
    ``max_queries=4096`` ON PURPOSE: at a scale factor where the
    mod-211 sample outgrows the driver-bounded guard, the fixture
    raises loudly instead of silently mining a truncated query set
    that would diverge from the (uncapped) oracle. Scale probes of
    this family use a fixed-|Q| query sample, not this fixture —
    see SCALE.md round 8."""
    e = load(spark, sf, "embeddings")
    qids = [r.vec_id for r in
            e.filter(F.col("vec_id") % 211 == 3).select("vec_id")
            .limit(4097).collect()]
    return similarity.mine_hard_negatives(
        e, qids, pos_k=1, neg_start=4, neg_end=6)


@register(
    "q_hard_negative_mine_bucketed",
    f"WITH {_IVF_ASSIGN_SQL}, "
    "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x "
    "  FROM embeddings), "
    "c AS (SELECT v.vec_id, v.x, a.list_id FROM v "
    "  JOIN assign a ON a.vec_id = v.vec_id), "
    "q AS (SELECT vec_id AS qid, x AS qx, list_id FROM c "
    "  WHERE vec_id % 211 = 3), "
    "hs AS (SELECT q.qid AS query_id, c.vec_id AS cand_id, "
    "  round(list_dot_product(c.x, q.qx) / (sqrt(list_dot_product(c.x, "
    "  c.x)) * sqrt(list_dot_product(q.qx, q.qx))), 6) AS cosine "
    "  FROM c JOIN q ON c.list_id = q.list_id AND c.vec_id <> q.qid), "
    "r AS (SELECT query_id, cand_id, cosine, CAST(row_number() OVER "
    "  (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS INT) "
    "  AS rank FROM hs) "
    "SELECT query_id, cand_id, cosine, rank, "
    "  CASE WHEN rank <= 1 THEN 'pos' ELSE 'neg' END AS role "
    "FROM r WHERE rank <= 1 OR rank BETWEEN 4 AND 6",
)
def q_hard_negative_mine_bucketed(spark, sf):
    """Hard-negative mining AT CORPUS SCALE
    (similarity.mine_hard_negatives_bucketed): queries and candidates
    are IVF-assigned and each query ranks only ITS OWN cluster — an
    equi-join on list_id instead of the flat miner's corpus-wide
    fan-out, cutting work to ~|corpus|x|Q|/nlists (the flat fixture's
    sf10 superlinearity is exactly the |Q|-grows-with-corpus regime
    this variant exists for — SCALE.md r8). Within-cluster candidates
    are also the semantically-hard ones; cross-cluster pairs are easy
    negatives by construction. Oracle replays assignment + within-list
    ranks naively. The ``limit(4097)`` + default ``max_queries=4096``
    overflow raise is deliberate (same loud-failure contract as
    q_hard_negative_mine — see its docstring)."""
    e = load(spark, sf, "embeddings")
    cents = _static_codebook(e)
    qids = [r.vec_id for r in
            e.filter(F.col("vec_id") % 211 == 3).select("vec_id")
            .limit(4097).collect()]
    return similarity.mine_hard_negatives_bucketed(
        e, qids, cents, pos_k=1, neg_start=4, neg_end=6)


# ---------------------------------------------------------------------------
# round-9 additions: visual near-dup + corpus lifecycle composition


@register(
    "q_image_near_dup",
    # closed-form dHash replay: pixel (y, x, c) of doc did's ORIGINAL
    # (BMP, suffix _a) is (did*131 + y*17 + x*29 + c*53) % 199 over an
    # 18x16 grid; even dids also carry a RECOMPRESSED twin (_b, PNG):
    # uniform +1 brightness, except did % 8 == 6 which gets +17 on a
    # 2x2-cell checkerboard (a real content edit). dHash = channel-sum
    # luminance, 2x2 cell sums, bit(i,j) = cell(i,j+1) > cell(i,j),
    # weight 2^(i*8+j) (bit 63 as the signed two's-complement term);
    # pairs = every (a < b) within Hamming distance 2 (bucketing is
    # pigeonhole-complete at max_bucket_size=None, so the naive
    # cross-join replay IS the operator's contract).
    "WITH d AS (SELECT doc_id AS did FROM documents WHERE doc_id % 10 = 2), "
    "m AS (SELECT 'm' || did || '_a' AS media_id, did, 0 AS edit FROM d "
    "  UNION ALL "
    "  SELECT 'm' || did || '_b', did, CASE WHEN did % 8 = 6 THEN 2 "
    "  ELSE 1 END FROM d WHERE did % 2 = 0), "
    "px AS (SELECT media_id, y.g AS y, x.g AS x, "
    "  (did*131 + y.g*17 + x.g*29 + c.g*53) % 199 "
    "  + CASE WHEN edit = 1 THEN 1 "
    "         WHEN edit = 2 AND ((x.g//2)+(y.g//2)) % 2 = 0 THEN 17 "
    "         ELSE 0 END AS v "
    "  FROM m, generate_series(0,15) y(g), generate_series(0,17) x(g), "
    "  generate_series(0,2) c(g)), "
    "cell AS (SELECT media_id, y//2 AS i, x//2 AS j, SUM(v) AS s "
    "  FROM px GROUP BY media_id, y//2, x//2), "
    "bits AS (SELECT l.media_id, l.i, l.j, "
    "  CASE WHEN r.s > l.s THEN 1 ELSE 0 END AS b "
    "  FROM cell l JOIN cell r ON r.media_id = l.media_id "
    "  AND r.i = l.i AND r.j = l.j + 1 WHERE l.j <= 7), "
    "dh AS (SELECT media_id, CAST(SUM(CASE WHEN i*8+j = 63 "
    "  THEN b * (-9223372036854775807 - 1) "
    "  ELSE b * (1::BIGINT << CAST(i*8+j AS INT)) END) AS BIGINT) "
    "  AS dhash FROM bits GROUP BY media_id) "
    "SELECT a.media_id AS id_a, b.media_id AS id_b, "
    "  CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming "
    "FROM dh a JOIN dh b ON a.media_id < b.media_id "
    "WHERE bit_count(xor(a.dhash, b.dhash)) <= 2",
)
def q_image_near_dup(spark, sf):
    """Visual near-duplicate detection over REAL image bytes — the
    perceptual-hash member of the dedup family (VERDICT r8 #3): per
    selected doc, synthesize closed-form 18x16 RGB pixels, encode a
    real 24-bit BMP; even docs also plant a RECOMPRESSED twin — the
    same pixels re-encoded as a real zlib PNG with +1 uniform
    brightness (the recompressed-mirror case byte digests miss), or a
    checkerboard +17 content edit for did % 8 == 6 (a true edit that
    must NOT pair). The operator chain is all real:
    multimodal.image_dhash decodes each blob with the stdlib codecs
    (stub=False), mean-pools channel-sum luminance to an 8x9 grid,
    emits the 64-bit gradient hash, and
    dedup.hamming_pairs_from_fingerprints (the Manku machinery shared
    with simhash_pairs) buckets fingerprint chunks and verifies
    bit_count(xor) <= 2. The oracle replays the pixels, the hash, and
    the pairs in closed form — any codec, pooling, bit-packing, or
    bucketing bug breaks the hash match. Uncapped buckets make the
    bucketed pair set provably equal to the naive cross-join replay.

    Scale: images decode once into 12-byte (id, hash) rows; the pair
    exchange never carries pixels. Production thumbnail floods set
    max_bucket_size like the text families do."""
    import numpy as np
    import pandas as pd

    from metadata_enhanced_pretrain_datapipeline_spark.operators import multimodal

    d = load(spark, sf, "documents").filter(
        F.col("doc_id") % 10 == 2).select("doc_id")

    def build(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"].to_numpy():
                y = np.arange(16).reshape(16, 1, 1)
                x = np.arange(18).reshape(1, 18, 1)
                c = np.arange(3).reshape(1, 1, 3)
                base = ((did * 131 + y * 17 + x * 29 + c * 53) % 199)
                rows.append((f"m{did}_a",
                             multimodal.encode_bmp(base.astype(np.uint8))))
                if did % 2 == 0:
                    if did % 8 == 6:
                        cb = ((x // 2) + (y // 2)) % 2 == 0
                        tw = base + np.where(cb, 17, 0)
                    else:
                        tw = base + 1
                    rows.append((f"m{did}_b",
                                 multimodal.encode_png(tw.astype(np.uint8))))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = d.mapInPandas(build, "media_id string, content binary")
    return multimodal.image_near_dup_pairs(
        media, max_hamming=2, max_bucket_size=None, stub=False)


@register(
    "q_corpus_lifecycle",
    # three monthly crawls (doc_id % 3), both store lifecycles composed:
    # month 2 fuzzy-dedups against month 1's band store; month 3 against
    # the COMPACTED (m1+m2-survivors) band store — compaction is
    # load-bearing, a month-3 near-dup of a month-2 survivor must drop.
    # Survivors' vectors (vec_id = doc_id) stream-append into the IVF
    # int8 store next to month 1's batch-built store; IVF compaction
    # merges them and the standard pruned probe answers over the final
    # layout. The oracle replays the whole chain: band collisions for
    # the keep sets, then assignment/quantization/probe over exactly
    # the surviving corpus.
    "WITH " + _minhash_bands_sql(8, 4) + ", "
    "c2 AS (SELECT DISTINCT b2.doc_id FROM bands b2 "
    "  JOIN (SELECT DISTINCT band, key FROM bands WHERE doc_id % 3 = 0) s1 "
    "  USING (band, key) WHERE b2.doc_id % 3 = 1), "
    "k2 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1 "
    "  AND doc_id NOT IN (SELECT doc_id FROM c2)), "
    "sn23 AS (SELECT DISTINCT band, key FROM bands WHERE doc_id % 3 = 0 "
    "  OR doc_id IN (SELECT doc_id FROM k2)), "
    "c3 AS (SELECT DISTINCT b3.doc_id FROM bands b3 "
    "  JOIN sn23 USING (band, key) WHERE b3.doc_id % 3 = 2), "
    "k3 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2 "
    "  AND doc_id NOT IN (SELECT doc_id FROM c3)), "
    "corpus AS (SELECT vec_id, embedding FROM embeddings "
    "  WHERE vec_id % 3 = 0 OR vec_id IN (SELECT doc_id FROM k2) "
    "  OR vec_id IN (SELECT doc_id FROM k3)), "
    + _ivf_assign_sql("corpus") + ", "
    + _qstore_quant_sql("corpus") + ", "
    "sc2 AS (SELECT z.vec_id, list_dot_product(z.qx, qv.qq) AS dp, "
    "  list_dot_product(z.qx, z.qx) AS aa, qv.qn FROM qz z "
    "  JOIN assign ON assign.vec_id = z.vec_id "
    "  JOIN probe ON probe.cid = assign.list_id "
    "  CROSS JOIN qv WHERE z.vec_id <> 0) "
    "SELECT vec_id, dp / (sqrt(aa) * qn) AS qcos FROM sc2 WHERE aa > 0 "
    "ORDER BY qcos DESC, vec_id LIMIT 10",
)
def q_corpus_lifecycle(spark, sf):
    """The crawl story END TO END (VERDICT r8 #5): the dedup and
    retrieval store lifecycles composed into one monthly chain instead
    of living side by side. Month 1 seeds both stores (band store from
    its MinHash band keys; IVF int8 store batch-built from its
    vectors). Month 2 arrives -> fuzzy-dedup against the month-1 band
    STORE (text never re-shingled on the seen side) -> its survivors'
    band keys become the month-2 store -> compact_band_store merges
    m1+m2 (keying stamps verified + re-applied). Month 3 dedups
    against the COMPACTED store — so a month-3 near-dup of a month-2
    survivor is dropped, which only works if compaction preserved
    month 2's keys. Survivors' vectors (vec_id = doc_id where one
    exists) STREAM-append into a month-23 IVF store
    (stream_append_ivf_quantized_store, 2 micro-batches, the shared
    ivf_quantized_codes projection), compact_ivf_quantized_store
    merges it with month 1's batch store (codebook stamps verified +
    re-applied), and the standard pruned probe answers over the final
    layout — PartitionFilters + tinyint ReadSchema asserted in-plan,
    same as every other store probe. One oracle hashes the whole
    chain: any drift in band keys, keep-set logic, store compaction,
    quantization, or directory pruning breaks the match."""
    import re as _re
    import shutil

    from metadata_enhanced_pretrain_datapipeline_spark.streaming import events as se

    d = load(spark, sf, "documents")
    e = load(spark, sf, "embeddings")
    cents = _static_codebook(e)
    m1 = d.filter(F.col("doc_id") % 3 == 0)
    m2 = d.filter(F.col("doc_id") % 3 == 1)
    m3 = d.filter(F.col("doc_id") % 3 == 2)

    def _bands(df):
        return dedup.minhash_band_keys(
            dedup.minhash_signatures(df.select("doc_id", "text"),
                                     num_hashes=8, portable=True),
            num_hashes=8, bands=4, portable=True)

    scratch = _scratch_dir(sf, "lifecycle")
    bs1, bs2, bsc = f"{scratch}/bs1", f"{scratch}/bs2", f"{scratch}/bsc"
    s1, s23 = f"{scratch}/ivf_m1", f"{scratch}/ivf_s23"
    final = f"{scratch}/ivf_final"
    src, ck = f"{scratch}/vec_src", f"{scratch}/ck"
    for p in (bs1, bs2, bsc, s1, s23, final, src, ck):
        shutil.rmtree(p, ignore_errors=True)

    # month 1 seeds the dedup state; months 2/3 probe stores, never text
    dedup.write_band_store(_bands(m1), bs1)
    # fused probe+bands (r13): the probe computes every m2 band key
    # already, so bands2 is the SURVIVING SUBSET of that relation —
    # writing bands(kept2) re-minhashed the whole surviving month
    # (guide §7.2). kept2 keeps its materialization boundary (r12): it
    # feeds two actions (the survivor union and the vec-source build)
    # projected to the only columns either consumer reads.
    kept2_raw, bands2 = dedup.minhash_dedup_against_bands(
        m2, dedup.read_band_store(spark, bs1),
        num_hashes=8, bands=4, portable=True)
    kept2 = materialize(kept2_raw.select("doc_id", "text"), eager=False)
    dedup.write_band_store(bands2, bs2)
    dedup.compact_band_store(spark, [bs1, bs2], bsc)
    kept3 = dedup.minhash_dedup_against(
        m3, dedup.read_band_store(spark, bsc),
        num_hashes=8, bands=4, portable=True)

    # retrieval side: month 1 batch store + survivors streamed in
    similarity.write_ivf_quantized_store(
        e.filter(F.col("vec_id") % 3 == 0), s1, cents)
    surv = (kept2.select("doc_id").unionByName(kept3.select("doc_id"))
            .withColumnRenamed("doc_id", "vec_id"))
    # second boundary (r12): vecs is written TWICE (the two stream
    # source halves) and its lineage carries the kept2+kept3 dedup
    # chains — materialize so the chain runs once and each half-write
    # is a cached scan (profiled 4.5s -> ~2.3s for the two writes).
    vecs = materialize(e.join(surv, "vec_id", "left_semi"), eager=False)
    # ONE file per half at every scale (or maxFilesPerTrigger=1 silently
    # turns "2 micro-batches" into file-count-many — at sf100 the halves
    # fanned out to 77 files and the drain paid 77 micro-batch commits
    # per lap; SCALE.md round 10). r13: both halves in ONE job — a
    # repartition(1) + dynamic-partition write emits exactly one file
    # per half value where the old two filter+repartition(1) writes each
    # re-read vecs and paid a second job round-trip. recursiveFileLookup
    # on the stream side reads the half= dirs' files as plain parquet
    # (partition inference is off under an explicit schema), so the
    # micro-batch contents are unchanged.
    vecs.withColumn("half", (F.col("vec_id") % 2).cast("int")) \
        .repartition(1).write.partitionBy("half").parquet(src)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    se.stream_append_ivf_quantized_store(stream, s23, cents, ck)
    similarity.compact_ivf_quantized_store(spark, [s1, s23], final)

    back = spark.read.parquet(final).filter(F.col("vec_id") != 0)
    out = similarity.ivf_quantized_topk(back, cents, cents[0], k=10,
                                        nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    _check_plan(bool(_re.search(r"PartitionFilters: \[[^\]]*list_id", plan)),
                plan, "lifecycle store probe must prune list directories")
    _check_plan("tinyint" in plan
                and "qscale" not in plan.split("ReadSchema")[-1],
                plan, "lifecycle store must read tinyint codes only")
    return out


@register(
    "q_image_dedup_against",
    # same closed-form media set as q_image_near_dup; the NEW month is
    # the _b twins, the seen store is every _a original's dHash. A twin
    # survives iff no stored hash is within Hamming distance 2.
    "WITH d AS (SELECT doc_id AS did FROM documents WHERE doc_id % 10 = 2), "
    "m AS (SELECT 'm' || did || '_a' AS media_id, did, 0 AS edit FROM d "
    "  UNION ALL "
    "  SELECT 'm' || did || '_b', did, CASE WHEN did % 8 = 6 THEN 2 "
    "  ELSE 1 END FROM d WHERE did % 2 = 0), "
    "px AS (SELECT media_id, y.g AS y, x.g AS x, "
    "  (did*131 + y.g*17 + x.g*29 + c.g*53) % 199 "
    "  + CASE WHEN edit = 1 THEN 1 "
    "         WHEN edit = 2 AND ((x.g//2)+(y.g//2)) % 2 = 0 THEN 17 "
    "         ELSE 0 END AS v "
    "  FROM m, generate_series(0,15) y(g), generate_series(0,17) x(g), "
    "  generate_series(0,2) c(g)), "
    "cell AS (SELECT media_id, y//2 AS i, x//2 AS j, SUM(v) AS s "
    "  FROM px GROUP BY media_id, y//2, x//2), "
    "bits AS (SELECT l.media_id, l.i, l.j, "
    "  CASE WHEN r.s > l.s THEN 1 ELSE 0 END AS b "
    "  FROM cell l JOIN cell r ON r.media_id = l.media_id "
    "  AND r.i = l.i AND r.j = l.j + 1 WHERE l.j <= 7), "
    "dh AS (SELECT media_id, CAST(SUM(CASE WHEN i*8+j = 63 "
    "  THEN b * (-9223372036854775807 - 1) "
    "  ELSE b * (1::BIGINT << CAST(i*8+j AS INT)) END) AS BIGINT) "
    "  AS dhash FROM bits GROUP BY media_id) "
    "SELECT n.media_id FROM dh n WHERE right(n.media_id, 2) = '_b' "
    "AND NOT EXISTS (SELECT 1 FROM dh s WHERE right(s.media_id, 2) = '_a' "
    "  AND bit_count(xor(n.dhash, s.dhash)) <= 2)",
)
def q_image_dedup_against(spark, sf):
    """Incremental VISUAL dedup (multimodal.image_dedup_against +
    dedup.hamming_dedup_against): the monthly-crawl story for images.
    The seen store is last month's dHashes only (8 bytes per image —
    the originals' blobs are never re-decoded); the new month's blobs
    (the recompressed/edited twins, real PNG bytes) decode once, and
    any new image within Hamming distance 2 of ANY stored hash drops
    via the chunk-bucket equi-join + ids-only anti-join — the visual
    member of the against-store family (dedup_against /
    minhash_dedup_against / this). Recompressed +1-brightness twins
    hash identically to their original and MUST drop; checkerboard-
    edited twins survive unless some other original happens within
    distance 2 (the oracle replays the full cross-check, so both
    engines agree on exactly which)."""
    import numpy as np
    import pandas as pd

    from metadata_enhanced_pretrain_datapipeline_spark.operators import multimodal

    d = load(spark, sf, "documents").filter(
        F.col("doc_id") % 10 == 2).select("doc_id")

    def build_old(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"].to_numpy():
                y = np.arange(16).reshape(16, 1, 1)
                x = np.arange(18).reshape(1, 18, 1)
                c = np.arange(3).reshape(1, 1, 3)
                base = ((did * 131 + y * 17 + x * 29 + c * 53) % 199)
                rows.append((f"m{did}_a",
                             multimodal.encode_bmp(base.astype(np.uint8))))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    def build_new(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"].to_numpy():
                if did % 2 != 0:
                    continue
                y = np.arange(16).reshape(16, 1, 1)
                x = np.arange(18).reshape(1, 18, 1)
                c = np.arange(3).reshape(1, 1, 3)
                base = ((did * 131 + y * 17 + x * 29 + c * 53) % 199)
                if did % 8 == 6:
                    cb = ((x // 2) + (y // 2)) % 2 == 0
                    tw = base + np.where(cb, 17, 0)
                else:
                    tw = base + 1
                rows.append((f"m{did}_b",
                             multimodal.encode_png(tw.astype(np.uint8))))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    schema = "media_id string, content binary"
    old_media = d.mapInPandas(build_old, schema)
    new_media = d.mapInPandas(build_new, schema)
    seen = multimodal.image_dhash(old_media, stub=False)
    kept = multimodal.image_dedup_against(new_media, seen, max_hamming=2,
                                          stub=False)
    return kept.select("media_id")


@register(
    "q_video_near_dup",
    # planted twin videos: selected docs (did % 7 = 3) pair up
    # ((3,10), (17,24), ...) and share 8 of 10 frame-digest tokens
    # (md5 of closed-form strings), so Jaccard = 8/12 within a pair
    # and 0 across pairs; threshold 0.5 keeps exactly the twins.
    "WITH d AS (SELECT doc_id AS did FROM documents WHERE doc_id % 7 = 3), "
    "fr AS (SELECT 'v' || did AS media_id, "
    "  md5(CASE WHEN t.g < 8 THEN "
    "    'f' || (did - 7*(((did - 3)//7) % 2)) || '_' || t.g "
    "    ELSE 'u' || did || '_' || t.g END) AS fd "
    "  FROM d, generate_series(0, 9) t(g)), "
    "sz AS (SELECT media_id, count(DISTINCT fd) AS n FROM fr "
    "  GROUP BY media_id), "
    "sh AS (SELECT a.media_id AS id_a, b.media_id AS id_b, "
    "  CAST(count(*) AS BIGINT) AS c FROM fr a JOIN fr b "
    "  ON a.fd = b.fd AND a.media_id < b.media_id GROUP BY 1, 2) "
    "SELECT id_a, id_b, round(c / (sa.n + sb.n - c), 6) AS jaccard "
    "FROM sh JOIN sz sa ON sa.media_id = id_a "
    "JOIN sz sb ON sb.media_id = id_b "
    "WHERE c / (sa.n + sb.n - c) >= 0.5",
)
def q_video_near_dup(spark, sf):
    """Video near-dup by frame-digest overlap
    (dedup.token_set_jaccard_pairs, the engine under
    multimodal.video_near_dup_pairs): two videos are near-duplicates
    when their sampled frames largely coincide — re-containered or
    trimmed uploads share most frame digests. The fixture synthesizes
    the (media_id, frame_digest) relation closed-form (md5 of
    deterministic strings — engine-identical hex), with planted twin
    pairs sharing 8/10 frames; the REAL blob→frames path
    (sample_video_frames → this operator) is exercised by
    test_video_near_dup_identical_blobs and the digest-twin frame
    oracle (q_multimodal_frame_sample). Spark runs the one
    token-keyed exchange + window bucket guard + bucketed self-join;
    the oracle replays sizes, intersections, and the Jaccard filter
    naively."""
    d = load(spark, sf, "documents").filter(
        F.col("doc_id") % 7 == 3).select(F.col("doc_id").alias("did"))
    fr = d.select(
        "did", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("t"))
    pair_base = (F.col("did")
                 - 7 * (F.floor((F.col("did") - 3) / 7) % 2)).cast("long")
    token = F.when(
        F.col("t") < 8,
        F.concat(F.lit("f"), pair_base.cast("string"), F.lit("_"),
                 F.col("t").cast("string")),
    ).otherwise(
        F.concat(F.lit("u"), F.col("did").cast("string"), F.lit("_"),
                 F.col("t").cast("string")))
    frames = fr.select(
        F.concat(F.lit("v"), F.col("did").cast("string")).alias("media_id"),
        F.md5(token.cast("binary")).alias("frame_digest"))
    out = dedup.token_set_jaccard_pairs(
        frames, "media_id", "frame_digest", min_jaccard=0.5,
        max_bucket_size=None)
    return out.select("id_a", "id_b",
                      F.round(F.col("jaccard"), 6).alias("jaccard"))


# Semantic-decontamination fixture: the benchmark is a sign-flip
# perturbation of the vec_id%97==3 corpus vectors ("benchmark items
# that leaked into the corpus with light edits") — cosine(source,
# perturbed) = 1 - 2*v_j^2/|v|^2 >= 0.93 on this corpus while every
# other pair stays <= 0.44 (measured at sf0.01), so threshold 0.7 has
# ~0.23 margin on both sides and no 6dp boundary risk.
_SEMDECON_BENCH_SQL = (
    "sdb AS (SELECT vec_id AS bid, list_transform(embedding, (x, i) -> "
    "  CASE WHEN i - 1 = vec_id % 64 THEN -CAST(x AS DOUBLE) "
    "  ELSE CAST(x AS DOUBLE) END) AS bv "
    "  FROM embeddings WHERE vec_id % 97 = 3), "
    "sdae AS (SELECT vec_id, unnest(embedding) AS v, "
    "  generate_subscripts(embedding, 1) AS i FROM embeddings), "
    "sdbe AS (SELECT bid, unnest(bv) AS v, "
    "  generate_subscripts(bv, 1) AS i FROM sdb), "
    "sdn AS (SELECT vec_id, sqrt(sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) "
    "  AS nrm FROM sdae GROUP BY vec_id), "
    "sdbn AS (SELECT bid, sqrt(sum(v * v)) AS nrm FROM sdbe GROUP BY bid), "
    "sdd AS (SELECT a.vec_id, c.bid, sum(CAST(a.v AS DOUBLE) * c.v) AS dp "
    "  FROM sdae a JOIN sdbe c ON a.i = c.i GROUP BY 1, 2), "
    "sdcos AS (SELECT sdd.vec_id, sdd.bid, "
    "  round(dp / (sdn.nrm * sdbn.nrm), 6) AS c "
    "  FROM sdd JOIN sdn USING (vec_id) JOIN sdbn USING (bid))"
)


def _semdecon_bench(e):
    """Spark twin of _SEMDECON_BENCH_SQL's sdb CTE (keep in lockstep)."""
    return e.filter(F.col("vec_id") % 97 == 3).select(
        F.col("vec_id").alias("bench_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(
                i.cast("bigint") == F.col("vec_id") % 64,
                -x.cast("double")).otherwise(x.cast("double")),
        ).alias("embedding"),
    )


@register(
    "q_semantic_decontam",
    f"WITH {_SEMDECON_BENCH_SQL}, "
    "sdhit AS (SELECT DISTINCT vec_id FROM sdcos WHERE c >= 0.7) "
    "SELECT vec_id, label FROM embeddings "
    "WHERE vec_id NOT IN (SELECT vec_id FROM sdhit)",
)
def q_semantic_decontam(spark, sf):
    """Extension — SEMANTIC decontamination (dedup.semantic_decontaminate,
    flat path): drop corpus rows whose embedding cosine to ANY benchmark
    vector reaches the threshold. The n-gram decontamination family
    (q_decontaminate) misses paraphrased benchmark leakage; this is the
    embedding-space complement a modern eval-hygiene pipeline layers on
    top. Benchmark = sign-flip perturbed copies of the vec_id%97==3
    corpus vectors (closed-form in both engines); the bounded benchmark
    broadcasts and fans the corpus out in one scan; the oracle replays
    dot/norm/threshold and the NOT-IN anti-join naively."""
    e = load(spark, sf, "embeddings")
    kept = dedup.semantic_decontaminate(
        e, _semdecon_bench(e), threshold=0.7)
    return kept.select("vec_id", "label")


@register(
    "q_semantic_decontam_ivf",
    f"WITH {_IVF_ASSIGN_SQL}, {_SEMDECON_BENCH_SQL}, "
    "sdbs AS (SELECT e.bid, c.cid, sum(e.v * CAST(c.v AS DOUBLE)) AS dp "
    "  FROM sdbe e JOIN ce c ON e.i = c.i GROUP BY 1, 2), "
    "sdsc AS (SELECT bid, cid, dp - cn.n2 / 2 AS s "
    "  FROM sdbs JOIN cn USING (cid)), "
    "sdpl AS (SELECT bid, cid FROM (SELECT bid, cid, row_number() OVER ("
    "  PARTITION BY bid ORDER BY s DESC, cid) AS rn FROM sdsc) "
    "  WHERE rn <= 2) "
    "SELECT sdcos.vec_id AS corpus_id, sdcos.bid AS bench_id, "
    "  sdcos.c AS cosine "
    "FROM sdcos "
    "JOIN assign ON assign.vec_id = sdcos.vec_id "
    "JOIN sdpl ON sdpl.bid = sdcos.bid AND sdpl.cid = assign.list_id "
    "WHERE sdcos.c >= 0.7",
)
def q_semantic_decontam_ivf(spark, sf):
    """Extension — semantic-contamination hits at corpus scale
    (dedup.semantic_contamination_hits with centroids): corpus rows are
    IVF-assigned once, each benchmark vector probes its nprobe=2 nearest
    lists (similarity.ivf_probe_lists — the per-row probe-set
    expression), and the compare is an equi-join on list_id — work
    drops to ~|corpus|x|bench|/nlists and misses outside probed lists
    are the standard IVF recall trade (nprobe exists because
    decontamination misses are costly). The oracle replays corpus
    assignment, per-benchmark probe ranking, and the in-list cosine
    threshold."""
    e = load(spark, sf, "embeddings")
    cents = _static_codebook(e)
    hits = dedup.semantic_contamination_hits(
        e, _semdecon_bench(e), threshold=0.7, centroids=cents, nprobe=2)
    return hits.select("corpus_id", "bench_id", "cosine")


@register(
    "q_audio_near_dup",
    # planted twin clips: docs did%11==4 pair up and share 9 of 12
    # window-energy patterns; the fingerprint (sign bits of adjacent
    # segment-energy differences, Horner MSB-first = sum of
    # 2^(30-i) terms) is replayed bit-exactly, then sizes /
    # intersections / the Jaccard filter naively.
    "WITH d AS (SELECT doc_id AS did FROM documents WHERE doc_id % 11 = 4), "
    "wn AS (SELECT did, t.w FROM d, generate_series(0, 11) t(w)), "
    "en AS (SELECT did, w, i.i, "
    "  CAST(((CASE WHEN w < 9 THEN did - 11 * (((did - 4) // 11) % 2) "
    "    ELSE did END) * 31 + w * 17 + i.i * 7) % 97 AS BIGINT) AS e "
    "  FROM wn, generate_series(0, 31) i(i)), "
    "fp AS (SELECT 'au' || a.did AS media_id, a.w, "
    "  sum(CASE WHEN a.e > b.e THEN 1::BIGINT << (30 - a.i) "
    "    ELSE 0 END) AS fp "
    "  FROM en a JOIN en b ON b.did = a.did AND b.w = a.w "
    "    AND b.i = a.i + 1 GROUP BY 1, 2), "
    "tok AS (SELECT DISTINCT media_id, fp FROM fp), "
    "sz AS (SELECT media_id, count(*) AS n FROM tok GROUP BY 1), "
    "sh AS (SELECT a.media_id AS id_a, b.media_id AS id_b, "
    "  CAST(count(*) AS BIGINT) AS c FROM tok a JOIN tok b "
    "  ON a.fp = b.fp AND a.media_id < b.media_id GROUP BY 1, 2) "
    "SELECT id_a, id_b, round(c / (sa.n + sb.n - c), 6) AS jaccard "
    "FROM sh JOIN sz sa ON sa.media_id = id_a "
    "JOIN sz sb ON sb.media_id = id_b "
    "WHERE c / (sa.n + sb.n - c) >= 0.5",
)
def q_audio_near_dup(spark, sf):
    """Audio near-dup by fingerprint overlap (multimodal.audio_near_dup_pairs'
    engine): clips whose Haitsma-Kalker-style window fingerprints
    largely coincide are near-duplicates — volume-scaled /
    re-containered / channel-remixed uploads share every
    sign-of-energy-difference bit. The fixture synthesizes the
    (media_id, win_idx, energies) relation closed-form (the %97
    arithmetic, planted twins sharing 9/12 windows) and runs the REAL
    multimodal.energy_fingerprint expression + dedup.token_set_jaccard_pairs
    on it, so the bit-packing Horner fold and the Jaccard engine are
    both hash-checked; the real WAV-decode path is exercised by
    tests/test_audio_dedup.py."""
    d = load(spark, sf, "documents").filter(
        F.col("doc_id") % 11 == 4).select(F.col("doc_id").alias("did"))
    wn = d.select(
        "did", F.explode(F.sequence(F.lit(0), F.lit(11))).alias("w"))
    pair_base = (F.col("did")
                 - 11 * (F.floor((F.col("did") - 4) / 11) % 2)).cast("long")
    base = F.when(F.col("w") < 9, pair_base).otherwise(
        F.col("did").cast("long"))
    energies = F.transform(
        F.sequence(F.lit(0), F.lit(31)),
        lambda i: ((base * 31 + F.col("w") * 17 + i * 7) % 97)
        .cast("double"))
    from metadata_enhanced_pretrain_datapipeline_spark.operators.multimodal import energy_fingerprint

    fps = wn.select(
        F.concat(F.lit("au"), F.col("did").cast("string")).alias("media_id"),
        energy_fingerprint(energies).alias("fp"))
    out = dedup.token_set_jaccard_pairs(
        fps, "media_id", "fp", min_jaccard=0.5, max_bucket_size=None)
    return out.select("id_a", "id_b",
                      F.round(F.col("jaccard"), 6).alias("jaccard"))


@register(
    "q_token_dedup_against",
    # store = 's{did}' media with tokens did*101+g (g 0..9); new month =
    # 'n{did}' media sharing 8/10 tokens (did%3==0 -> J=8/12, drops) or
    # 3/10 (J=3/17, survives); the 101 stride keeps token ranges
    # disjoint across dids, so each new media pairs only with its own
    # stored counterpart. Oracle replays sizes, intersections, the
    # Jaccard filter, and the NOT-IN anti-join naively.
    "WITH d AS (SELECT doc_id AS did FROM documents WHERE doc_id % 13 = 6), "
    "r AS (SELECT did, t.g FROM d, generate_series(0, 9) t(g)), "
    "seen AS (SELECT 's' || did AS media_id, did * 101 + g AS token FROM r), "
    "newm AS (SELECT 'n' || did AS media_id, "
    "  CASE WHEN g < (CASE WHEN did % 3 = 0 THEN 8 ELSE 3 END) "
    "    THEN did * 101 + g "
    "    ELSE did * 101 + 1000 + g "
    "      - (CASE WHEN did % 3 = 0 THEN 8 ELSE 3 END) END AS token "
    "  FROM r), "
    "nsz AS (SELECT media_id, count(DISTINCT token) AS n FROM newm "
    "  GROUP BY 1), "
    "ssz AS (SELECT media_id, count(DISTINCT token) AS n FROM seen "
    "  GROUP BY 1), "
    "sh AS (SELECT n.media_id AS nid, s.media_id AS sid, "
    "  CAST(count(*) AS BIGINT) AS c "
    "  FROM (SELECT DISTINCT media_id, token FROM newm) n "
    "  JOIN (SELECT DISTINCT media_id, token FROM seen) s "
    "  ON n.token = s.token GROUP BY 1, 2), "
    "dropi AS (SELECT DISTINCT nid FROM sh "
    "  JOIN nsz ON nsz.media_id = sh.nid JOIN ssz ON ssz.media_id = sh.sid "
    "  WHERE c / (nsz.n + ssz.n - c) >= 0.5) "
    "SELECT DISTINCT media_id FROM newm "
    "WHERE media_id NOT IN (SELECT nid FROM dropi)",
)
def q_token_dedup_against(spark, sf):
    """Incremental token-set dedup (dedup.token_set_jaccard_against —
    the engine under multimodal.audio_dedup_against /
    video_dedup_against): month N+1's token sets Jaccard-compare
    against a persisted store of prior months' tokens, never re-pairing
    the already-deduped past. The fixture synthesizes disjoint-range
    integer tokens with planted 8/10-overlap twins (drop) and
    3/10-overlap near-misses (survive); Spark runs the per-side window
    counts + cross-frame token equi-join; the real blob→token paths are
    exercised by test_audio_dedup.py / test_image_dedup.py."""
    d = load(spark, sf, "documents").filter(
        F.col("doc_id") % 13 == 6).select(F.col("doc_id").alias("did"))
    r = d.select("did", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("g"))
    seen = r.select(
        F.concat(F.lit("s"), F.col("did").cast("string")).alias("media_id"),
        (F.col("did") * 101 + F.col("g")).alias("token"))
    shared_n = F.when(F.col("did") % 3 == 0, F.lit(8)).otherwise(F.lit(3))
    newm = r.select(
        F.concat(F.lit("n"), F.col("did").cast("string")).alias("media_id"),
        F.when(F.col("g") < shared_n, F.col("did") * 101 + F.col("g"))
        .otherwise(F.col("did") * 101 + 1000 + F.col("g") - shared_n)
        .alias("token"))
    pairs = dedup.token_set_jaccard_against(
        newm, seen, "media_id", "token", min_jaccard=0.5,
        max_bucket_size=None)
    dropped = pairs.select(F.col("new_id").alias("media_id")).distinct()
    return (newm.select("media_id").distinct()
            .join(dropped, "media_id", "left_anti"))


@register(
    "q_containment_pairs",
    # derived corpus: each selected doc (even id = 2*doc_id) plus a
    # SNIPPET row (odd id = 2*doc_id + 1) holding its first 8 words —
    # the quote/excerpt case. The snippet's bigrams are a subset of the
    # doc's, so containment = 1.0 on every planted pair while Jaccard
    # is ~7/n_doc (a symmetric threshold would miss them all).
    "WITH csrc AS ("
    "  SELECT doc_id * 2 AS doc_id, text FROM documents "
    "    WHERE doc_id % 10 = 0 "
    "  UNION ALL "
    "  SELECT doc_id * 2 + 1, array_to_string(list_slice(list_filter("
    "    regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''), "
    "    1, 8), ' ') FROM documents WHERE doc_id % 10 = 0), "
    f"{_shingle_ctes('', 2, 'csrc')}, "
    "sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
    "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "  CAST(count(*) AS BIGINT) AS c FROM sh a JOIN sh b "
    "  USING (shingle) WHERE a.doc_id < b.doc_id "
    "  GROUP BY a.doc_id, b.doc_id) "
    "SELECT id_a, id_b, round(c / least(sa.n_sh, sb.n_sh), 6) "
    "  AS containment FROM inter "
    "JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b "
    "WHERE c / least(sa.n_sh, sb.n_sh) >= 0.9",
)
def q_containment_pairs(spark, sf):
    """Containment near-dup pairs (dedup.containment_pairs — Broder's
    containment coefficient |A∩B| / min(|A|,|B|), the asymmetric
    complement of the Jaccard family; reference parity: the fuzzy-dedup
    verifier family, minhash_dedup.py). The fixture plants the exact
    case Jaccard misses: a snippet row quoting each selected doc's
    first 8 words verbatim — snippet bigrams are a SUBSET of the doc's,
    so containment = 1.0 while Jaccard ~ 7/n_doc drowns below any
    useful symmetric threshold. Spark runs the shared shingle
    inverted-index skeleton (one shingle-keyed exchange, set sizes ride
    the rows); the oracle replays shingling, the pair join, and the
    min-denominator in closed form."""
    d = load(spark, sf, "documents").filter(F.col("doc_id") % 10 == 0)
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"),
                    lambda x: x != "")
    base = d.select((F.col("doc_id") * 2).alias("doc_id"), "text")
    snip = d.select(
        (F.col("doc_id") * 2 + 1).alias("doc_id"),
        F.array_join(F.slice(toks, 1, 8), " ").alias("text"))
    out = dedup.containment_pairs(base.unionByName(snip), shingle_n=2,
                                  min_containment=0.9)
    return out.select(
        "id_a", "id_b", F.round("containment", 6).alias("containment"))


@register(
    "q_video_containment",
    # trimmed-upload fixture: every selected video v{did} has 10 unique
    # frame digests; a trimmed clip t{did} carries only frames 0-3 of
    # the SAME digests. Jaccard(clip, full) = 4/10 — the 0.5 near-dup
    # threshold misses it — but containment = 4/4 = 1.0.
    "WITH d AS (SELECT doc_id AS did FROM documents WHERE doc_id % 7 = 3), "
    "fr AS (SELECT 'v' || did AS media_id, "
    "    md5('f' || did || '_' || t.g) AS fd "
    "  FROM d, generate_series(0, 9) t(g) "
    "  UNION ALL "
    "  SELECT 't' || did, md5('f' || did || '_' || t.g) "
    "  FROM d, generate_series(0, 3) t(g)), "
    "sz AS (SELECT media_id, count(DISTINCT fd) AS n FROM fr "
    "  GROUP BY media_id), "
    "sh AS (SELECT a.media_id AS id_a, b.media_id AS id_b, "
    "  CAST(count(*) AS BIGINT) AS c FROM fr a JOIN fr b "
    "  ON a.fd = b.fd AND a.media_id < b.media_id GROUP BY 1, 2) "
    "SELECT id_a, id_b, round(c / least(sa.n, sb.n), 6) AS containment "
    "FROM sh JOIN sz sa ON sa.media_id = id_a "
    "JOIN sz sb ON sb.media_id = id_b "
    "WHERE c / least(sa.n, sb.n) >= 0.75",
)
def q_video_containment(spark, sf):
    """Trimmed-upload video near-dup (dedup.token_set_jaccard_pairs
    with metric="containment"): a clip whose sampled frames are a
    SUBSET of the full video's shares 4 of its own 4 digests but only
    4 of the union's 10 — Jaccard 0.4 slips under q_video_near_dup's
    0.5 threshold, containment scores it 1.0. Same one-token-keyed-
    exchange engine (window set-size counts taken before the bucket
    guard, materialize boundary before the self-join); only the final
    metric expression differs. The oracle replays digests, the pair
    join, and the min-denominator naively."""
    d = load(spark, sf, "documents").filter(
        F.col("doc_id") % 7 == 3).select(F.col("doc_id").alias("did"))

    def digest():
        return F.md5(
            F.concat(F.lit("f"), F.col("did").cast("string"), F.lit("_"),
                     F.col("t").cast("string")).cast("binary"))

    full = d.select(
        "did", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("t"))
    clip = d.select(
        "did", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("t"))
    frames = full.select(
        F.concat(F.lit("v"), F.col("did").cast("string")).alias("media_id"),
        digest().alias("frame_digest"),
    ).unionByName(clip.select(
        F.concat(F.lit("t"), F.col("did").cast("string")).alias("media_id"),
        digest().alias("frame_digest")))
    out = dedup.token_set_jaccard_pairs(
        frames, "media_id", "frame_digest", min_jaccard=0.75,
        max_bucket_size=None, metric="containment")
    return out.select(
        "id_a", "id_b", F.round("containment", 6).alias("containment"))


@register(
    "q_pq_adc_topk",
    # product quantization, static codebooks: subspace j's 4 centroids
    # are the first 4 vectors' j-th 8-dim slices (deterministic, SQL-
    # replayable like _static_codebook). The oracle replays the whole
    # pipeline: per-(vector, subspace) nearest sub-centroid by
    # argmax(dot - |c|^2/2) with ties to the smaller code, the query's
    # m x ksub inner-product lookup table, and the summed ADC score.
    "WITH pcb AS (SELECT vec_id AS cid, embedding FROM embeddings "
    "  WHERE vec_id < 4), "
    "pce AS (SELECT cid, CAST((i - 1) // 8 AS INT) AS j, (i - 1) % 8 AS si, "
    "  CAST(v AS DOUBLE) AS v FROM (SELECT cid, unnest(embedding) AS v, "
    "  generate_subscripts(embedding, 1) AS i FROM pcb)), "
    "pcn AS (SELECT cid, j, sum(v * v) AS n2 FROM pce GROUP BY cid, j), "
    "pae AS (SELECT vec_id, CAST((i - 1) // 8 AS INT) AS j, "
    "  (i - 1) % 8 AS si, CAST(v AS DOUBLE) AS v "
    "  FROM (SELECT vec_id, unnest(embedding) AS v, "
    "  generate_subscripts(embedding, 1) AS i FROM embeddings)), "
    "prd AS (SELECT a.vec_id, c.cid, a.j, sum(a.v * c.v) AS dp "
    "  FROM pae a JOIN pce c ON a.j = c.j AND a.si = c.si "
    "  GROUP BY 1, 2, 3), "
    "psc AS (SELECT prd.vec_id, prd.j, prd.cid, dp - n2 / 2 AS s "
    "  FROM prd JOIN pcn ON pcn.cid = prd.cid AND pcn.j = prd.j), "
    "pcode AS (SELECT vec_id, j, cid AS code FROM ("
    "  SELECT vec_id, j, cid, row_number() OVER (PARTITION BY vec_id, j "
    "  ORDER BY s DESC, cid) AS rn FROM psc) WHERE rn = 1), "
    "plut AS (SELECT c.cid, c.j, sum(q.v * c.v) AS t "
    "  FROM pce c JOIN pae q ON q.j = c.j AND q.si = c.si "
    "  WHERE q.vec_id = 0 GROUP BY 1, 2), "
    "pscore AS (SELECT pcode.vec_id, sum(plut.t) AS score "
    "  FROM pcode JOIN plut ON plut.cid = pcode.code "
    "  AND plut.j = pcode.j GROUP BY 1) "
    "SELECT vec_id, round(score, 6) AS adc_score FROM pscore "
    "ORDER BY adc_score DESC, vec_id LIMIT 10",
)
def q_pq_adc_topk(spark, sf):
    """Product quantization + asymmetric distance (similarity.pq_encode
    / pq_adc_topk; Jegou et al. 2011) — the bytes lever PAST scalar
    int8: m=8 tinyint codes replace 64 floats (32x), and the query
    scores each row with m table lookups instead of a 64-dim dot. The
    codebooks are static (first 4 vectors' subvector slices) so the
    whole pipeline — per-subspace argmax assignment with
    smaller-code ties, the driver-built LUT, the summed ADC score, the
    top-k — is replayed by the oracle in closed form. The training
    loop (pq_fit = m independent sample-fit kmeans) stays off the
    oracle path like q_ivf_topk's."""
    e = load(spark, sf, "embeddings")
    flat = _static_codebook(e)
    cbs = [[vec[j * 8:(j + 1) * 8] for vec in flat] for j in range(8)]
    codes = similarity.pq_encode(e, cbs)
    return similarity.pq_adc_topk(codes, cbs, flat[0], k=10)


@register(
    "q_ivfpq_probe",
    # FAISS-IVFPQ layout replay: coarse assign/probe come from
    # _IVF_ASSIGN_SQL (cb/ce/cn/ae/rd/sc/assign/probe); vce slices the
    # SAME first-4 codebook into 8x8 PQ sub-centroids; rsd/xe/xrd/xsc/
    # xcode product-quantize each vector's RESIDUAL against its
    # assigned coarse centroid; qr/qe/qlut build the per-probed-list
    # residual-query lookup tables and qct the coarse dot terms; fsc
    # sums them into the ADC score.
    f"WITH {_IVF_ASSIGN_SQL}, "
    "vce AS (SELECT cid, CAST((i - 1) // 8 AS INT) AS j, (i - 1) % 8 AS si, "
    "  CAST(v AS DOUBLE) AS v FROM ce), "
    "vcn AS (SELECT cid, j, sum(v * v) AS n2 FROM vce GROUP BY cid, j), "
    "rsd AS (SELECT a.vec_id, a.i, CAST(a.v AS DOUBLE) - CAST(c.v AS DOUBLE) "
    "  AS v FROM ae a JOIN assign s ON s.vec_id = a.vec_id "
    "  JOIN ce c ON c.cid = s.list_id AND c.i = a.i), "
    "xe AS (SELECT vec_id, CAST((i - 1) // 8 AS INT) AS j, (i - 1) % 8 AS si, "
    "  v FROM rsd), "
    "xrd AS (SELECT x.vec_id, c.cid, x.j, sum(x.v * c.v) AS dp "
    "  FROM xe x JOIN vce c ON c.j = x.j AND c.si = x.si GROUP BY 1, 2, 3), "
    "xsc AS (SELECT xrd.vec_id, xrd.j, xrd.cid, dp - n2 / 2 AS s "
    "  FROM xrd JOIN vcn ON vcn.cid = xrd.cid AND vcn.j = xrd.j), "
    "xcode AS (SELECT vec_id, j, cid AS code FROM ("
    "  SELECT vec_id, j, cid, row_number() OVER (PARTITION BY vec_id, j "
    "  ORDER BY s DESC, cid) AS rn FROM xsc) WHERE rn = 1), "
    "qr AS (SELECT p.cid AS l, c.i, CAST(a.v AS DOUBLE) - "
    "  CAST(c.v AS DOUBLE) AS v FROM probe p "
    "  JOIN ce c ON c.cid = p.cid "
    "  JOIN ae a ON a.i = c.i AND a.vec_id = 0), "
    "qe AS (SELECT l, CAST((i - 1) // 8 AS INT) AS j, (i - 1) % 8 AS si, "
    "  v FROM qr), "
    "qlut AS (SELECT q.l, c.cid AS code, q.j, sum(q.v * c.v) AS t "
    "  FROM qe q JOIN vce c ON c.j = q.j AND c.si = q.si GROUP BY 1, 2, 3), "
    "qct AS (SELECT p.cid AS l, sum(CAST(a.v AS DOUBLE) * "
    "  CAST(c.v AS DOUBLE)) AS t0 FROM probe p "
    "  JOIN ce c ON c.cid = p.cid "
    "  JOIN ae a ON a.i = c.i AND a.vec_id = 0 GROUP BY 1), "
    "fsc AS (SELECT x.vec_id, qct.t0 + sum(ql.t) AS score "
    "  FROM xcode x JOIN assign s ON s.vec_id = x.vec_id "
    "  JOIN probe p ON p.cid = s.list_id "
    "  JOIN qlut ql ON ql.l = s.list_id AND ql.j = x.j "
    "  AND ql.code = x.code "
    "  JOIN qct ON qct.l = s.list_id "
    "  WHERE x.vec_id <> 0 GROUP BY x.vec_id, qct.t0) "
    "SELECT vec_id, round(score, 6) AS adc_score FROM fsc "
    "ORDER BY adc_score DESC, vec_id LIMIT 10",
)
def q_ivfpq_probe(spark, sf):
    """The FAISS-IVFPQ store, physically (similarity.write_ivfpq_store
    / ivfpq_topk): nlists partition directories — the probe's literal
    isin arrives as a PartitionFilter, asserted in-plan — whose files
    hold m=8 tinyint PQ codes over RESIDUALS (by_residual encoding)
    instead of 64 floats: 32x fewer payload bytes than the float
    corpus, 8x fewer than the int8 store, asserted via ReadSchema.
    The probe scores each row as dot(q, coarse_l) + m lookups into the
    per-list residual-query LUT. The oracle replays coarse assignment,
    residual encoding, per-subspace argmax, both LUT terms, and the
    top-k — the physical layout must not change a value."""
    e = load(spark, sf, "embeddings")
    cents = _static_codebook(e)
    cbs = [[vec[j * 8:(j + 1) * 8] for vec in cents] for j in range(8)]
    path = _scratch_dir(sf, "ivfpq_layout")
    similarity.write_ivfpq_store(e, path, cents, cbs)
    back = spark.read.parquet(path)
    out = similarity.ivfpq_topk(
        back.filter(F.col("vec_id") != 0), cents, cbs, cents[0],
        k=10, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re as _re
    _check_plan(bool(_re.search(r"PartitionFilters: \[[^\]]*list_id", plan)),
                plan, "nprobe list_id filter missing from IVFPQ scan")
    _check_plan("tinyint" in plan.split("ReadSchema")[-1]
                and "embedding" not in plan.split("ReadSchema")[-1],
                plan, "IVFPQ scan must read tinyint codes, not floats")
    return out


_ES_T_SQL = (
    "t AS (SELECT doc_id, lang, n_chars, "
    "  round(ln((" + salted_hash_sql("doc_id", 5) + " + 1) / "
    "  1152921504606846976.0) / CAST(n_chars AS DOUBLE), 9) AS es "
    "  FROM documents WHERE n_chars > 0)"
)


@register(
    "q_weighted_sample",
    # A-ES race-key replay: u = (hash+1)/2^60 in (0,1], key = ln(u)/w
    # rounded to 9dp BEFORE the rank (BM25 tie-pinning), ties on doc_id.
    f"WITH {_ES_T_SQL} "
    "SELECT doc_id, lang, n_chars FROM t "
    "ORDER BY es DESC, doc_id LIMIT 50",
)
def q_weighted_sample(spark, sf):
    """Exact weighted sampling without replacement
    (sampling.weighted_sample — Efraimidis & Spirakis 2006): the 50
    documents winning the ln(u)/w race, w = n_chars, u from the
    portable salted hash (never an RNG — the same row wins on any
    engine, any retry, any partitioning). Plans as
    TakeOrderedAndProject: per-partition partial top-n, one merge — the
    sequential weighted reservoir re-expressed order-free for a 100 TB
    scan. The oracle replays hash → u → ln(u)/w → rank verbatim."""
    d = load(spark, sf, "documents")
    out = sampling.weighted_sample(
        d, F.col("n_chars"), 50, F.col("doc_id"), salt=5)
    return out.select("doc_id", "lang", "n_chars")


@register(
    "q_weighted_sample_per_group",
    f"WITH {_ES_T_SQL} "
    "SELECT doc_id, lang FROM (SELECT doc_id, lang, row_number() OVER ("
    "  PARTITION BY lang ORDER BY es DESC, doc_id) AS rn FROM t) "
    "WHERE rn <= 20",
)
def q_weighted_sample_per_group(spark, sf):
    """Per-language weighted sampling without replacement
    (sampling.weighted_sample_per_group): every language keeps its 20
    best ln(u)/w race keys. The ranking rides keyed_rank's three-phase
    range split, so a 2-language 100 TB corpus still sorts in
    num_ranges tasks per language instead of two mega-tasks; the
    oracle proves the decomposition exact against the naive
    per-language window."""
    d = load(spark, sf, "documents")
    out = sampling.weighted_sample_per_group(
        d, "lang", F.col("n_chars"), 20, F.col("doc_id"), salt=5)
    return out.select("doc_id", "lang")


@register(
    "q_doremi_mix",
    # full replay of the DoReMi chain: per-domain mean excess loss →
    # tempered softmax (every float step rounded 9dp, matching the
    # driver-side Python walk) → uniform blend → floor-integer budgets →
    # the hash-priority running-sum cap (token_budget_cap's naive-window
    # twin). tau = 0.5, smoothing = 0.2, budget = 30% of corpus tokens.
    "WITH t AS (SELECT doc_id, source AS dom, "
    "  len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
    "      x -> x <> '')) AS n, "
    "  round(ln(1.0 + n_chars / 1000.0), 9) AS loss, "
    + salted_hash_sql("doc_id") + " AS h FROM documents), "
    "ml AS (SELECT dom, round(avg(loss), 9) AS m FROM t GROUP BY 1), "
    "mm AS (SELECT max(m) AS s FROM ml), "
    "ex AS (SELECT dom, round(exp((m - mm.s) / 0.5), 9) AS e "
    "  FROM ml, mm), "
    "z AS (SELECT sum(e) AS z, count(*) AS k FROM ex), "
    "al AS (SELECT dom, round((1.0 - 0.2) * round(e / z.z, 9) "
    "  + 0.2 / z.k, 9) AS a FROM ex, z), "
    "tot AS (SELECT CAST(sum(n) AS DOUBLE) AS tc FROM t), "
    "bud AS (SELECT dom, floor(a * (tot.tc * 0.3)) AS b FROM al, tot), "
    "cum AS (SELECT doc_id, dom, sum(n) OVER (PARTITION BY dom "
    "  ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND "
    "  CURRENT ROW) AS c FROM t) "
    "SELECT cum.doc_id, cum.dom AS source FROM cum "
    "JOIN bud ON bud.dom = cum.dom WHERE cum.c <= bud.b",
)
def q_doremi_mix(spark, sf):
    """DoReMi-weighted mix construction (sampling.doremi_mix — Xie et
    al. 2023, arXiv:2305.10429, the reweighting/resampling side):
    per-source mean excess loss (proxy: ln(1 + n_chars/1000), standing
    in for the proxy-model column — the training loop is model-runtime
    scope) → tempered softmax blended with uniform → integer token
    budgets → token_budget_cap's bucketed two-phase hash-priority cap.
    The whole chain — means, exp, normalize, blend, floor, running
    sum — replays in the oracle; corpus text shuffles zero times, and
    the only driver state is two tiny maps (weights, bucket offsets)."""
    d = load(spark, sf, "documents")
    ntok = F.size(tokens_ws(F.col("text")))
    loss = F.round(
        F.log(F.lit(1.0) + F.col("n_chars") / F.lit(1000.0)), 9)
    total = d.agg(F.sum(ntok.cast("long")).alias("t")).head().t
    out = sampling.doremi_mix(
        d, "source", loss, ntok, budget=float(total) * 0.3,
        key=F.col("doc_id"), temperature=0.5, smoothing=0.2)
    return out.select("doc_id", "source")


@register(
    "q_bitext_mine",
    # fixture: x = every 4th embedding; y = x's identical twins
    # (+100000) plus the %4==1 vectors as distractors (+200000). The
    # oracle replays coarse assignment of BOTH sides against the shared
    # first-4 codebook, within-list pair cosines, both rank windows,
    # the k-NN-average denominators, and the ratio margin.
    "WITH cb AS (SELECT vec_id AS cid, embedding FROM embeddings "
    "  WHERE vec_id < 4), "
    "ce AS (SELECT cid, unnest(embedding) AS v, "
    "  generate_subscripts(embedding, 1) AS i FROM cb), "
    "cn AS (SELECT cid, sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) AS n2 "
    "  FROM ce GROUP BY cid), "
    "xs AS (SELECT vec_id AS id, embedding FROM embeddings "
    "  WHERE vec_id % 4 = 0), "
    "ys AS (SELECT vec_id + 100000 AS id, embedding FROM embeddings "
    "  WHERE vec_id % 4 = 0 UNION ALL "
    "  SELECT vec_id + 200000, embedding FROM embeddings "
    "  WHERE vec_id % 4 = 1), "
    "xe AS (SELECT id, unnest(embedding) AS v, "
    "  generate_subscripts(embedding, 1) AS i FROM xs), "
    "ye AS (SELECT id, unnest(embedding) AS v, "
    "  generate_subscripts(embedding, 1) AS i FROM ys), "
    "xd AS (SELECT x.id, c.cid, sum(CAST(x.v AS DOUBLE) * "
    "  CAST(c.v AS DOUBLE)) AS dp FROM xe x JOIN ce c ON x.i = c.i "
    "  GROUP BY 1, 2), "
    "xa AS (SELECT id, cid AS l FROM (SELECT xd.id, xd.cid, "
    "  row_number() OVER (PARTITION BY xd.id ORDER BY dp - n2 / 2 DESC, "
    "  xd.cid) AS rn FROM xd JOIN cn USING (cid)) WHERE rn <= 2), "
    "yd AS (SELECT y.id, c.cid, sum(CAST(y.v AS DOUBLE) * "
    "  CAST(c.v AS DOUBLE)) AS dp FROM ye y JOIN ce c ON y.i = c.i "
    "  GROUP BY 1, 2), "
    "ya AS (SELECT id, cid AS l FROM (SELECT yd.id, yd.cid, "
    "  row_number() OVER (PARTITION BY yd.id ORDER BY dp - n2 / 2 DESC, "
    "  yd.cid) AS rn FROM yd JOIN cn USING (cid)) WHERE rn = 1), "
    "xn AS (SELECT id, sqrt(sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) "
    "  AS nrm FROM xe GROUP BY id), "
    "yn AS (SELECT id, sqrt(sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) "
    "  AS nrm FROM ye GROUP BY id), "
    "pd AS (SELECT xe.id AS xid, ye.id AS yid, sum(CAST(xe.v AS DOUBLE) "
    "  * CAST(ye.v AS DOUBLE)) AS dp FROM xe JOIN ye ON xe.i = ye.i "
    "  JOIN xa ON xa.id = xe.id JOIN ya ON ya.id = ye.id AND ya.l = xa.l "
    "  GROUP BY 1, 2), "
    "pc AS (SELECT xid, yid, round(dp / (xn.nrm * yn.nrm), 9) AS c "
    "  FROM pd JOIN xn ON xn.id = xid JOIN yn ON yn.id = yid), "
    "rk AS (SELECT xid, yid, c, row_number() OVER (PARTITION BY xid "
    "  ORDER BY c DESC, yid) AS rx, row_number() OVER (PARTITION BY yid "
    "  ORDER BY c DESC, xid) AS ry FROM pc), "
    "av AS (SELECT rk.*, avg(CASE WHEN rx <= 4 THEN c END) OVER ("
    "  PARTITION BY xid) AS dx, avg(CASE WHEN ry <= 4 THEN c END) OVER ("
    "  PARTITION BY yid) AS dy FROM rk) "
    "SELECT xid AS x_id, yid AS y_id, round(c, 6) AS cosine, "
    "  round(c / ((dx + dy) / 2), 6) AS margin FROM av "
    "WHERE rx = 1 AND ry = 1 AND round(c / ((dx + dy) / 2), 6) >= 1.02",
)
def q_bitext_mine(spark, sf):
    """Margin-based bitext mining (similarity.mine_bitext — Artetxe &
    Schwenk 2019's ratio margin, the CCMatrix recipe): mutual nearest
    neighbors under cos/((avgk_x + avgk_y)/2), both corpora bucketed by
    the SHARED coarse codebook so candidates meet in a list_id
    equi-join (|X||Y|/nlists work, never a cross product). The fixture
    plants each x's identical twin in y beside same-language
    distractors: the twin wins at cosine 1.0 with margin > 1 wherever
    its list offers real competition. Every float step is rounded
    before ranking/thresholding, so both engines mine the same pairs."""
    e = load(spark, sf, "embeddings")
    cents = _static_codebook(e)
    x = e.filter(F.col("vec_id") % 4 == 0).select("vec_id", "embedding")
    twin = e.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    dis = e.filter(F.col("vec_id") % 4 == 1).select(
        (F.col("vec_id") + 200000).alias("vec_id"), "embedding")
    out = similarity.mine_bitext(
        x, twin.unionByName(dis), cents, k=4, margin_threshold=1.02,
        nprobe=2)
    return out.select("x_id", "y_id",
                      F.round("cosine", 6).alias("cosine"), "margin")


@register(
    "q_orc_roundtrip",
    "SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars "
    "FROM documents GROUP BY lang",
)
def q_orc_roundtrip(spark, sf):
    """ORC write→read-back round-trip (sources.write_orc/read_orc —
    engine extension beyond the reference's parquet/jsonl surface):
    zstd ORC carries the documents table losslessly through Spark's
    vectorized ORC path; the aggregate over the read-back must equal
    the oracle's over the original parquet."""
    from metadata_enhanced_pretrain_datapipeline_spark.sources import readers, writers

    d = load(spark, sf, "documents")
    path = _scratch_dir(sf, "orc_roundtrip")
    writers.write_orc(d, path)
    back = readers.read_orc(spark, path, columns=["lang", "n_chars"])
    return back.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").cast("long").alias("chars"))


@register(
    "q_ngram_novelty",
    "WITH " + _shingle_ctes("", 3) + ", "
    "h AS (SELECT doc_id, " + md5_hash64_sql("shingle") + " AS h FROM sh), "
    "rh AS (SELECT DISTINCT h FROM h WHERE doc_id % 37 = 0) "
    "SELECT h.doc_id, round(1.0 - CAST(sum(CASE WHEN rh.h IS NOT NULL "
    "THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS novelty "
    "FROM h LEFT JOIN rh ON rh.h = h.h GROUP BY h.doc_id",
)
def q_ngram_novelty(spark, sf):
    """Per-document n-gram novelty vs a reference corpus
    (dedup.ngram_novelty): 1 − overlap fraction of distinct word
    trigrams — the memorization-risk/freshness score, the aggregate
    dual of the contamination flag pass (same broadcast shingle-hash
    set; every doc scored instead of contaminated docs flagged). The
    mod-37 'reference' docs self-match as a live canary (novelty 0);
    the oracle replays shingling, hashing, the left join, and the
    ratio."""
    d = load(spark, sf, "documents")
    ref = d.filter(F.col("doc_id") % 37 == 0)
    return dedup.ngram_novelty(d, ref, shingle_n=3, portable=True)


@register(
    "q_rp_topk",
    # the deterministic plane weights ((i0·A[p] + 5p+2) mod 11 − 5)
    # replayed verbatim; cosine in the 8-dim projected space, rounded
    # to 6dp before the rank like every ANN oracle.
    "WITH pl(p, a, b) AS (VALUES (0, 3, 2), (1, 5, 7), (2, 7, 12), "
    "  (3, 13, 17), (4, 17, 22), (5, 19, 27), (6, 23, 32), (7, 29, 37)), "
    "ae AS (SELECT vec_id, unnest(embedding) AS v, "
    "  generate_subscripts(embedding, 1) AS i FROM embeddings), "
    "pr AS (SELECT vec_id, p, sum(CAST(v AS DOUBLE) * "
    "  (((i - 1) * a + b) % 11 - 5)) AS pv "
    "  FROM ae CROSS JOIN pl GROUP BY 1, 2), "
    "qn AS (SELECT sqrt(sum(pv * pv)) AS n FROM pr WHERE vec_id = 0), "
    "vn AS (SELECT vec_id, sqrt(sum(pv * pv)) AS n FROM pr GROUP BY 1), "
    "dp AS (SELECT a.vec_id, sum(a.pv * q.pv) AS d FROM pr a "
    "  JOIN pr q ON q.p = a.p AND q.vec_id = 0 "
    "  WHERE a.vec_id <> 0 GROUP BY 1) "
    "SELECT dp.vec_id, round(dp.d / (vn.n * qn.n), 6) AS cosine "
    "FROM dp JOIN vn ON vn.vec_id = dp.vec_id CROSS JOIN qn "
    "ORDER BY cosine DESC, dp.vec_id LIMIT 10",
)
def q_rp_topk(spark, sf):
    """Signed random projection + top-k in the projected space
    (similarity.rp_project — the JL dimension lever beside int8/PQ:
    64 floats → 8 doubles, and the output is still a plain vector so
    the whole ANN/near-dup family composes on it unchanged). The
    deterministic mod-11 plane weights make the projection itself
    oracle-replayable — recall vs the full-dim top-k is measured, not
    assumed (scripts/ann_recall.py on a projected corpus)."""
    e = load(spark, sf, "embeddings")
    proj = similarity.rp_project(e, out_dim=8)
    qv = [float(x)
          for x in proj.filter(F.col("vec_id") == 0).head().rp]
    return similarity.brute_force_topk(
        proj.filter(F.col("vec_id") != 0).select("vec_id", "rp"),
        qv, k=10, vec_col="rp")


@register(
    "q_curation_v2",
    # this session's operators composed into one curation chain, each
    # stage the proven oracle piece: trigram-novelty gate vs the mod-37
    # reference (ngram_novelty replay — ref members self-match to 0 and
    # drop) → DoReMi per-source budgets over the GATED corpus (means →
    # tempered softmax → uniform blend → floor budgets → hash-priority
    # running-sum cap) → per-language weighted sample without
    # replacement (A-ES race key, row_number twin of keyed_rank).
    "WITH " + _shingle_ctes("", 3) + ", "
    "hh AS (SELECT doc_id, " + md5_hash64_sql("shingle") + " AS h FROM sh), "
    "rh AS (SELECT DISTINCT h FROM hh WHERE doc_id % 37 = 0), "
    "nov AS (SELECT hh.doc_id, 1.0 - CAST(sum(CASE WHEN rh.h IS NOT NULL "
    "  THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS nv "
    "  FROM hh LEFT JOIN rh ON rh.h = hh.h GROUP BY hh.doc_id), "
    "g AS (SELECT d.* FROM documents d JOIN nov ON nov.doc_id = d.doc_id "
    "  WHERE round(nv, 6) >= 0.5), "
    "t AS (SELECT doc_id, lang, source AS dom, "
    "  len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
    "      x -> x <> '')) AS n, n_chars, "
    "  round(ln(1.0 + n_chars / 1000.0), 9) AS loss, "
    + salted_hash_sql("doc_id") + " AS h FROM g), "
    "ml AS (SELECT dom, round(avg(loss), 9) AS m FROM t GROUP BY 1), "
    "mm AS (SELECT max(m) AS s FROM ml), "
    "ex AS (SELECT dom, round(exp((m - mm.s) / 0.5), 9) AS e "
    "  FROM ml, mm), "
    "z AS (SELECT sum(e) AS z, count(*) AS k FROM ex), "
    "al AS (SELECT dom, round((1.0 - 0.2) * round(e / z.z, 9) "
    "  + 0.2 / z.k, 9) AS a FROM ex, z), "
    "tot AS (SELECT CAST(sum(n) AS DOUBLE) AS tc FROM t), "
    "bud AS (SELECT dom, floor(a * (tot.tc * 0.5)) AS b FROM al, tot), "
    "cum AS (SELECT doc_id, lang, dom, n_chars, n, sum(n) OVER ("
    "  PARTITION BY dom ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED "
    "  PRECEDING AND CURRENT ROW) AS c FROM t), "
    "mix AS (SELECT cum.doc_id, cum.lang, cum.dom, cum.n_chars FROM cum "
    "  JOIN bud ON bud.dom = cum.dom WHERE cum.c <= bud.b), "
    "es AS (SELECT doc_id, lang, dom, round(ln(("
    + salted_hash_sql("doc_id", 5) + " + 1) / 1152921504606846976.0) "
    "  / CAST(n_chars AS DOUBLE), 9) AS e FROM mix WHERE n_chars > 0) "
    "SELECT doc_id, lang, dom AS source FROM (SELECT doc_id, lang, dom, "
    "  row_number() OVER (PARTITION BY lang ORDER BY e DESC, doc_id) "
    "  AS rn FROM es) WHERE rn <= 15",
)
def q_curation_v2(spark, sf):
    """The round-9 curation chain composed end to end: novelty gate
    (keep docs whose trigram overlap with the mod-37 reference leaves
    novelty ≥ 0.5 — re-crawls and reference members drop) → DoReMi mix
    (per-source tempered-softmax budgets over the gated corpus, 50%
    token budget, hash-priority cap) → per-language A-ES weighted
    sample (15 docs per language, weight = n_chars). Each stage is the
    oracle-proven operator; the composition is what a real curation
    run executes, and the single composed oracle proves the stages
    hand off exactly (the q_mix_pipeline/q_corpus_lifecycle pattern).
    Corpus text crosses the wire zero times: the novelty join carries
    hashes, the cap carries token counts, the sample ranks race
    keys."""
    d = load(spark, sf, "documents")
    ref = d.filter(F.col("doc_id") % 37 == 0)
    nov = dedup.ngram_novelty(d, ref, shingle_n=3, portable=True)
    ntok = F.size(tokens_ws(F.col("text")))
    # materialization boundary (r12, the q_mix_pipeline pattern): the
    # tail is MULTI-ACTION (the budget total here, doremi_weights'
    # alpha aggregation, token_budget_cap's bucket offsets, and
    # keyed_rank's range boundaries each run a driver-side action), and
    # every action was re-executing the novelty gate's shingle
    # explosion + broadcast join. Token counts are folded into the
    # projection so the cached frame is TEXT-FREE — five narrow columns
    # instead of the corpus (profiled 9.5s -> ~3s).
    gated = materialize(
        d.join(nov, "doc_id").filter(F.col("novelty") >= 0.5)
        .select("doc_id", "source", "lang", "n_chars",
                ntok.alias("__ntok")),
        eager=False)
    loss = F.round(
        F.log(F.lit(1.0) + F.col("n_chars") / F.lit(1000.0)), 9)
    total = gated.agg(F.sum(F.col("__ntok").cast("long")).alias("t")).head().t
    mixed = sampling.doremi_mix(
        gated, "source", loss, F.col("__ntok"), budget=float(total) * 0.5,
        key=F.col("doc_id"), temperature=0.5, smoothing=0.2)
    out = sampling.weighted_sample_per_group(
        mixed, "lang", F.col("n_chars"), 15, F.col("doc_id"), salt=5)
    return out.select("doc_id", "lang", "source")


@register("q_stream_image_dedup", _REGISTRY["q_image_dedup_against"][1])
def q_stream_image_dedup(spark, sf):
    """Continuous visual-store ingestion
    (streaming.events.stream_append_image_hash_store): month 1's image
    blobs arrive as a 2-batch stream (pre-split files,
    maxFilesPerTrigger=1), each micro-batch decodes once through the
    shared image_dhash projection and appends 8-byte (media_id, dhash)
    rows; the new month's recompressed/edited twins then batch-dedup
    against the STREAM-BUILT store with the standard
    image_dedup_against probe. The oracle IS q_image_dedup_against's
    SQL verbatim — the stream-built store must answer identically to
    the batch-built one (the q_stream_ivf_append contract, visual
    edition). Unlike the IVF store, at-least-once retries are exact
    here by construction: the probe is hash-ball membership, so
    duplicate store rows cannot flip a decision."""
    import shutil

    import numpy as np
    import pandas as pd

    from metadata_enhanced_pretrain_datapipeline_spark.operators import multimodal
    from metadata_enhanced_pretrain_datapipeline_spark.streaming import events as se

    d = load(spark, sf, "documents").filter(
        F.col("doc_id") % 10 == 2).select("doc_id")

    def build_old(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"].to_numpy():
                y = np.arange(16).reshape(16, 1, 1)
                x = np.arange(18).reshape(1, 18, 1)
                c = np.arange(3).reshape(1, 1, 3)
                base = ((did * 131 + y * 17 + x * 29 + c * 53) % 199)
                rows.append((f"m{did}_a",
                             multimodal.encode_bmp(base.astype(np.uint8))))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    def build_new(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"].to_numpy():
                if did % 2 != 0:
                    continue
                y = np.arange(16).reshape(16, 1, 1)
                x = np.arange(18).reshape(1, 18, 1)
                c = np.arange(3).reshape(1, 1, 3)
                base = ((did * 131 + y * 17 + x * 29 + c * 53) % 199)
                if did % 8 == 6:
                    cb = ((x // 2) + (y // 2)) % 2 == 0
                    tw = base + np.where(cb, 17, 0)
                else:
                    tw = base + 1
                rows.append((f"m{did}_b",
                             multimodal.encode_png(tw.astype(np.uint8))))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    schema = "media_id string, content binary"
    scratch = _scratch_dir(sf, "stream_imghash")
    src, store, ck = f"{scratch}/src", f"{scratch}/store", f"{scratch}/ck"
    for p in (src, store, ck):
        shutil.rmtree(p, ignore_errors=True)
    # two input files -> two micro-batches under maxFilesPerTrigger=1
    # (split on the TENS digit: every selected did ends in 2, so a
    # last-digit split would leave one batch empty)
    d.filter((F.col("doc_id") / 10).cast("long") % 2 == 0) \
        .mapInPandas(build_old, schema).write.parquet(f"{src}/part_a")
    d.filter((F.col("doc_id") / 10).cast("long") % 2 == 1) \
        .mapInPandas(build_old, schema).write.parquet(f"{src}/part_b")
    stream = (
        spark.readStream.schema("media_id string, content binary")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    se.stream_append_image_hash_store(stream, store, ck, stub=False)
    seen = spark.read.parquet(store)
    new_media = d.mapInPandas(build_new, schema)
    kept = multimodal.image_dedup_against(new_media, seen, max_hamming=2,
                                          stub=False)
    return kept.select("media_id")


@register(
    "q_paragraph_semantic_dedup",
    # chunks = the embeddings table reshaped (doc vec_id//4, chunk
    # vec_id%4) so the exact stride key doc*4+chunk IS vec_id and the
    # proven bucket/pair/resolution replay carries over unchanged; the
    # per-doc rollup + 6dp-rounded keep flag are replayed on top.
    f"WITH bk AS ({_NEAR_DUP_BUCKET6}), "
    "be AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, bk.bucket "
    "  FROM embeddings e JOIN bk USING (vec_id)), "
    "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
    "  list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * "
    "  sqrt(list_dot_product(b.v, b.v))) AS c "
    "  FROM be a JOIN be b ON a.bucket = b.bucket AND a.vec_id < b.vec_id), "
    "k AS (SELECT vec_id FROM embeddings WHERE vec_id NOT IN "
    "  (SELECT id_b FROM p WHERE c >= 0.3)), "
    "st AS (SELECT vec_id // 4 AS doc_id, count(*) AS n_chunks "
    "  FROM embeddings GROUP BY 1), "
    "kc AS (SELECT vec_id // 4 AS doc_id, count(*) AS kept FROM k "
    "  GROUP BY 1) "
    "SELECT st.doc_id, CAST(n_chunks AS BIGINT) AS n_chunks, "
    "  CAST(coalesce(kept, 0) AS BIGINT) AS kept_chunks, "
    "  round(CAST(coalesce(kept, 0) AS DOUBLE) / n_chunks, 6) "
    "  AS kept_frac, "
    "  round(CAST(coalesce(kept, 0) AS DOUBLE) / n_chunks, 6) >= 0.5 "
    "  AS keep "
    "FROM st LEFT JOIN kc ON kc.doc_id = st.doc_id",
)
def q_paragraph_semantic_dedup(spark, sf):
    """SemDeDup at paragraph granularity
    (dedup.paragraph_semantic_dedup — the paper's deployment shape):
    chunk embeddings dedup corpus-wide through the proven
    semantic_dedup plan, then every DOCUMENT gets a surviving-chunk
    fraction and a keep flag (< 50% survivors ⇒ the doc is mostly
    semantically-duplicated content). The fixture reshapes the
    embeddings table into 4-chunk documents so the operator's exact
    stride key (doc·4 + chunk) equals vec_id and the oracle replays
    buckets, pairs, resolution, the rollup, and the rounded flag in
    closed form."""
    e = load(spark, sf, "embeddings")
    chunks = e.select(
        F.expr("vec_id div 4").alias("doc_id"),
        (F.col("vec_id") % 4).alias("chunk_id"),
        "embedding")
    return dedup.paragraph_semantic_dedup(
        chunks, threshold=0.3, num_planes=6, max_bucket_size=None,
        min_kept_frac=0.5)


@register(
    "q_semantic_dedup_against",
    # the stored months are the %3==0 vectors; the new month carries
    # the %3==1 vectors plus verbatim CLONES of every stored vector
    # (+500000 ids) — a clone shares its original's bucket and cosine
    # 1.0, so it must drop; the oracle replays buckets, the
    # new-vs-store join, the threshold, and the anti-join.
    f"WITH bk AS ({_NEAR_DUP_BUCKET6}), "
    "be AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, bk.bucket "
    "  FROM embeddings e JOIN bk USING (vec_id)), "
    "sn AS (SELECT * FROM be WHERE vec_id % 3 = 0), "
    "nw AS (SELECT vec_id, v, bucket FROM be WHERE vec_id % 3 = 1 "
    "  UNION ALL SELECT vec_id + 500000, v, bucket FROM be "
    "  WHERE vec_id % 3 = 0), "
    "dr AS (SELECT DISTINCT n.vec_id FROM nw n JOIN sn s "
    "  ON s.bucket = n.bucket "
    "  WHERE list_dot_product(n.v, s.v) / (sqrt(list_dot_product(n.v, "
    "  n.v)) * sqrt(list_dot_product(s.v, s.v))) >= 0.3) "
    "SELECT vec_id FROM nw WHERE vec_id NOT IN (SELECT vec_id FROM dr)",
)
def q_semantic_dedup_against(spark, sf):
    """Incremental semantic dedup (dedup.embedding_dedup_against — the
    embedding member of the against-store family, completing the
    granularity set: digests, bands, dHashes, token sets, and now
    vectors): month N+1's embeddings bucket-join against the persisted
    store and drop on cosine ≥ threshold — the deduplicated past is
    never re-paired against itself, unlike a unioned self-join.
    Threshold 0.3 / planes 6 / uncapped as in the other semantic
    fixtures (near-orthogonal synthetic corpus; uncapped buckets make
    the oracle replay pigeonhole-complete)."""
    e = load(spark, sf, "embeddings")
    new = e.filter(F.col("vec_id") % 3 == 1).select(
        "vec_id", "embedding").unionByName(
        e.filter(F.col("vec_id") % 3 == 0).select(
            (F.col("vec_id") + 500000).alias("vec_id"), "embedding"))
    seen = e.filter(F.col("vec_id") % 3 == 0).select("embedding")
    kept = dedup.embedding_dedup_against(
        new, seen, threshold=0.3, num_planes=6, max_bucket_size=None)
    return kept.select("vec_id")


@register(
    "q_token_balanced_shards",
    # the bucketed two-phase running sum reconstructs the GLOBAL
    # cumulative token sum exactly (offsets are per-bucket prefix sums
    # in hash order), so the oracle replays it as one naive window —
    # bucketing must be invisible in the assignment.
    "WITH t AS (SELECT doc_id, "
    "  len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
    "      x -> x <> '')) AS n, "
    + salted_hash_sql("doc_id") + " AS h FROM documents), "
    "c AS (SELECT doc_id, n, sum(n) OVER (ORDER BY h, doc_id "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t) "
    "SELECT CAST(floor((cum - n) / 2000.0) AS INT) AS shard, "
    "  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS tokens "
    "FROM c GROUP BY 1",
)
def q_token_balanced_shards(spark, sf):
    """Token-balanced sharding (sampling.token_balanced_shards):
    next-fit bin packing of whole documents into ~2000-token shards in
    salted-hash order — the equal-TOKEN complement of hash-mod
    sharding (which balances doc counts and lets long-doc skew starve
    Megatron data-parallel ranks). The operator computes the global
    running sum with the bucketed two-phase shape (one bounded
    bucket-sum collect, in-bucket window + literal offsets — no
    single-task global sort); the oracle replays it as the naive
    global window, proving the decomposition exact."""
    d = load(spark, sf, "documents")
    ntok = F.size(tokens_ws(F.col("text")))
    sharded = sampling.token_balanced_shards(
        d.withColumn("__n", ntok), F.col("__n"), 2000, F.col("doc_id"))
    return sharded.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("__n").cast("long").alias("tokens"))


# ===========================================================================
# round-10 additions: production-shaped twins for the fixture-quadratic
# near-dup queries (VERDICT r9 "What's missing" #3). Each fixture keeps its
# oracle-complete config (uncapped buckets, constant content variety —
# required for pigeonhole-complete replay, quadratic by construction at
# sf1.0+); each TWIN registers the DEPLOYED config — default bucket cap and
# per-id content whose variety grows with the corpus (multi-moduli closed
# forms, so ~199·193 image variants instead of 199) — with an oracle that
# replays the deterministic window-count cap itself. The driver's bench now
# prices what users actually run (the q_quantized_topk/store_probe
# precedent).
# ===========================================================================


@register(
    "q_image_near_dup_capped",
    # pixels vary with the corpus: (did%199, did%193) pick the image (the
    # fixture's single mod-199 offset gave ~199 variants total); even dids
    # carry a +1-brightness PNG twin, did%8==6 a +17 checkerboard edit.
    # The oracle replays the dHash AND the deployed Manku cap: 64-bit
    # hashes split into chunks of widths [22,21,21] (offsets 0/22/43 —
    # dedup._fingerprint_chunks for bits=64, max_hamming=2, computed on
    # the unsigned HUGEINT image of the signed hash), per-(chunk,value)
    # buckets kept when 2 <= n <= 256, pairs verified bit_count(xor) <= 2.
    "WITH d AS (SELECT doc_id AS did FROM documents WHERE doc_id % 10 = 4), "
    "m AS (SELECT 'm' || did || '_a' AS media_id, did, 0 AS edit FROM d "
    "  UNION ALL "
    "  SELECT 'm' || did || '_b', did, CASE WHEN did % 8 = 6 THEN 2 "
    "  ELSE 1 END FROM d WHERE did % 2 = 0), "
    "px AS (SELECT media_id, y.g AS y, x.g AS x, "
    "  ((did % 199) * (y.g*17 + x.g*29 + c.g*53 + 1) "
    "   + (did % 193) * (y.g*7 + x.g*11 + c.g*3 + 5)) % 231 "
    "  + CASE WHEN edit = 1 THEN 1 "
    "         WHEN edit = 2 AND ((x.g//2)+(y.g//2)) % 2 = 0 THEN 17 "
    "         ELSE 0 END AS v "
    "  FROM m, generate_series(0,15) y(g), generate_series(0,17) x(g), "
    "  generate_series(0,2) c(g)), "
    "cell AS (SELECT media_id, y//2 AS i, x//2 AS j, SUM(v) AS s "
    "  FROM px GROUP BY media_id, y//2, x//2), "
    "bits AS (SELECT l.media_id, l.i, l.j, "
    "  CASE WHEN r.s > l.s THEN 1 ELSE 0 END AS b "
    "  FROM cell l JOIN cell r ON r.media_id = l.media_id "
    "  AND r.i = l.i AND r.j = l.j + 1 WHERE l.j <= 7), "
    "dh AS (SELECT media_id, CAST(SUM(CASE WHEN i*8+j = 63 "
    "  THEN b * (-9223372036854775807 - 1) "
    "  ELSE b * (1::BIGINT << CAST(i*8+j AS INT)) END) AS BIGINT) "
    "  AS dhash FROM bits GROUP BY media_id), "
    "fpu AS (SELECT media_id, dhash, CAST(dhash AS HUGEINT) "
    "  + CASE WHEN dhash < 0 THEN 18446744073709551616::HUGEINT "
    "    ELSE 0::HUGEINT END AS u FROM dh), "
    "ck AS (SELECT media_id, dhash, 0 AS c, "
    "    CAST(u % 4194304 AS BIGINT) AS v FROM fpu "
    "  UNION ALL SELECT media_id, dhash, 1, "
    "    CAST((u // 4194304) % 2097152 AS BIGINT) FROM fpu "
    "  UNION ALL SELECT media_id, dhash, 2, "
    "    CAST(u // 8796093022208 AS BIGINT) FROM fpu), "
    "bk AS (SELECT c, v FROM ck GROUP BY c, v "
    "  HAVING count(*) BETWEEN 2 AND 256), "
    "cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b, "
    "    a.dhash AS ha, b.dhash AS hb "
    "  FROM ck a JOIN bk ON bk.c = a.c AND bk.v = a.v "
    "  JOIN ck b ON b.c = a.c AND b.v = a.v "
    "    AND a.media_id < b.media_id) "
    "SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming "
    "FROM cand WHERE bit_count(xor(ha, hb)) <= 2",
)
def q_image_near_dup_capped(spark, sf):
    """Visual dHash near-dup in the DEPLOYED config (the production twin
    of q_image_near_dup, VERDICT r9 #3): per-doc pixels picked by
    (did % 199, did % 193) so image variety grows with the corpus —
    the fixture's single mod-199 offset capped variety at ~199 images
    and sent bucket populations quadratic at sf1.0+ (SCALE.md r9
    adjudication) — and the Manku bucket guard at its DEFAULT cap 256,
    exactly what SCALE.md round 9 priced out-of-registry. Real
    stdlib BMP encode+decode on originals, real zlib PNG on the
    recompressed twins (+1 brightness pairs; +17 checkerboard edits
    must NOT pair). The oracle replays pixels → dHash → the 22/21/21
    chunk split → the 2..256 bucket-count window → verified pairs, so
    the CAP itself is hash-checked, not just the hash."""
    import numpy as np
    import pandas as pd

    from metadata_enhanced_pretrain_datapipeline_spark.operators import multimodal

    d = load(spark, sf, "documents").filter(
        F.col("doc_id") % 10 == 4).select("doc_id")

    def build(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"].to_numpy():
                did = int(did)
                y = np.arange(16).reshape(16, 1, 1)
                x = np.arange(18).reshape(1, 18, 1)
                c = np.arange(3).reshape(1, 1, 3)
                base = ((did % 199) * (y * 17 + x * 29 + c * 53 + 1)
                        + (did % 193) * (y * 7 + x * 11 + c * 3 + 5)) % 231
                rows.append((f"m{did}_a",
                             multimodal.encode_bmp(base.astype(np.uint8))))
                if did % 2 == 0:
                    if did % 8 == 6:
                        cb = ((x // 2) + (y // 2)) % 2 == 0
                        tw = base + np.where(cb, 17, 0)
                    else:
                        tw = base + 1
                    rows.append((f"m{did}_b",
                                 multimodal.encode_png(tw.astype(np.uint8))))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = d.mapInPandas(build, "media_id string, content binary")
    return multimodal.image_near_dup_pairs(
        media, max_hamming=2, max_bucket_size=256, stub=False)


@register(
    "q_audio_near_dup_capped",
    # same planted-twin structure as q_audio_near_dup (did%11==4 docs pair
    # up, sharing 9 of 12 window-energy patterns via pair_base), but the
    # energies mix TWO moduli of the base id — variety grows with the
    # corpus (~97·89 distinct clips vs the fixture's 97) — and the token
    # (window-fingerprint) buckets run at the deployed default cap 256.
    # The oracle replays the fingerprint fold AND the cap: per-token
    # bucket counts, 2 <= n <= 256 kept, intersections from surviving
    # rows, Jaccard on the FULL set sizes (taken before the cap, the
    # operator's contract).
    "WITH d AS (SELECT doc_id AS did FROM documents WHERE doc_id % 11 = 4), "
    "wn AS (SELECT did, t.w FROM d, generate_series(0, 11) t(w)), "
    "en AS (SELECT did, w, i.i, "
    "  CAST((((CASE WHEN w < 9 THEN did - 11 * (((did - 4) // 11) % 2) "
    "    ELSE did END) % 97) * (i.i * 7 + w * 17 + 1) "
    "   + ((CASE WHEN w < 9 THEN did - 11 * (((did - 4) // 11) % 2) "
    "    ELSE did END) % 89) * (i.i * 5 + w * 13 + 3)) % 101 AS BIGINT) "
    "  AS e FROM wn, generate_series(0, 31) i(i)), "
    "fp AS (SELECT 'au' || a.did AS media_id, a.w, "
    "  sum(CASE WHEN a.e > b.e THEN 1::BIGINT << (30 - a.i) "
    "    ELSE 0 END) AS fp "
    "  FROM en a JOIN en b ON b.did = a.did AND b.w = a.w "
    "    AND b.i = a.i + 1 GROUP BY 1, 2), "
    "tok AS (SELECT DISTINCT media_id, fp FROM fp), "
    "sz AS (SELECT media_id, count(*) AS n FROM tok GROUP BY 1), "
    "bc AS (SELECT fp, count(*) AS bn FROM tok GROUP BY fp), "
    "live AS (SELECT t.media_id, t.fp FROM tok t JOIN bc USING (fp) "
    "  WHERE bn BETWEEN 2 AND 256), "
    "sh AS (SELECT a.media_id AS id_a, b.media_id AS id_b, "
    "  CAST(count(*) AS BIGINT) AS c FROM live a JOIN live b "
    "  ON a.fp = b.fp AND a.media_id < b.media_id GROUP BY 1, 2) "
    "SELECT id_a, id_b, round(c / (sa.n + sb.n - c), 6) AS jaccard "
    "FROM sh JOIN sz sa ON sa.media_id = id_a "
    "JOIN sz sb ON sb.media_id = id_b "
    "WHERE c / (sa.n + sb.n - c) >= 0.5",
)
def q_audio_near_dup_capped(spark, sf):
    """Audio fingerprint-overlap near-dup in the DEPLOYED config (the
    production twin of q_audio_near_dup, VERDICT r9 #3): window
    energies mix (base % 97) and (base % 89) so clip variety grows
    with the corpus — the fixture's single mod-97 pattern kept ~97
    distinct clips and went quadratic at sf1.0 (the SCALE.md r9
    fixture-artifact adjudication; the deployed shape was priced only
    out-of-registry, same section) — and token_set_jaccard_pairs runs at
    its DEFAULT bucket cap 256. The oracle replays the Haitsma-Kalker
    sign-bit fold AND the per-token 2..256 count window, proving the
    cap semantics (full sizes, capped intersections) exactly."""
    d = load(spark, sf, "documents").filter(
        F.col("doc_id") % 11 == 4).select(F.col("doc_id").alias("did"))
    wn = d.select(
        "did", F.explode(F.sequence(F.lit(0), F.lit(11))).alias("w"))
    pair_base = (F.col("did")
                 - 11 * (F.floor((F.col("did") - 4) / 11) % 2)).cast("long")
    base = F.when(F.col("w") < 9, pair_base).otherwise(
        F.col("did").cast("long"))
    energies = F.transform(
        F.sequence(F.lit(0), F.lit(31)),
        lambda i: (((base % 97) * (i * 7 + F.col("w") * 17 + 1)
                    + (base % 89) * (i * 5 + F.col("w") * 13 + 3)) % 101)
        .cast("double"))
    from metadata_enhanced_pretrain_datapipeline_spark.operators.multimodal import energy_fingerprint

    fps = wn.select(
        F.concat(F.lit("au"), F.col("did").cast("string")).alias("media_id"),
        energy_fingerprint(energies).alias("fp"))
    out = dedup.token_set_jaccard_pairs(
        fps, "media_id", "fp", min_jaccard=0.5, max_bucket_size=256)
    return out.select("id_a", "id_b",
                      F.round(F.col("jaccard"), 6).alias("jaccard"))


@register(
    "q_semantic_dedup_against_prod",
    # the deployed config SCALE.md round 9 priced out-of-registry
    # (VERDICT r9 #3): planes=12 (4096 buckets, the fixture's 64 made the
    # join quadratic by construction) and the store-side degenerate-bucket
    # guard at cap 1024. The oracle replays the 12-plane bucket assignment,
    # the seen-side bucket-count exclusion, the bucket-join cosine
    # threshold, and the anti-join.
    f"WITH bk AS ({_near_dup_bucket_sql(12)}), "
    "be AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, bk.bucket "
    "  FROM embeddings e JOIN bk USING (vec_id)), "
    "sn AS (SELECT * FROM be WHERE vec_id % 3 = 0), "
    "sc AS (SELECT bucket, count(*) AS n FROM sn GROUP BY 1), "
    "sl AS (SELECT sn.vec_id, sn.v, sn.bucket FROM sn "
    "  JOIN sc USING (bucket) WHERE sc.n <= 1024), "
    "nw AS (SELECT vec_id, v, bucket FROM be WHERE vec_id % 3 = 1 "
    "  UNION ALL SELECT vec_id + 500000, v, bucket FROM be "
    "  WHERE vec_id % 3 = 0), "
    "dr AS (SELECT DISTINCT n.vec_id FROM nw n JOIN sl s "
    "  ON s.bucket = n.bucket "
    "  WHERE list_dot_product(n.v, s.v) / (sqrt(list_dot_product(n.v, "
    "  n.v)) * sqrt(list_dot_product(s.v, s.v))) >= 0.3) "
    "SELECT vec_id FROM nw WHERE vec_id NOT IN (SELECT vec_id FROM dr)",
)
def q_semantic_dedup_against_prod(spark, sf):
    """Incremental semantic dedup in the DEPLOYED config (the production
    twin of q_semantic_dedup_against, VERDICT r9 #3): planes=12 —
    4096 buckets, so store-bucket populations grow with corpus/4096
    instead of corpus/64 — and max_bucket_size=1024, the guard that
    keeps a degenerate stored bucket from going quadratic (its
    exclusions are visible via dedup.overcap_bucket_stats). Same data
    split as the fixture: the store is the %3==0 vectors, the new
    month is %3==1 plus verbatim clones of the store (+500000 ids)
    that must drop. An out-of-registry probe (SCALE.md) measured it at
    25.5s vs the fixture's 314.9s at sf10; registering it makes the
    driver's own bench price it every round."""
    e = load(spark, sf, "embeddings")
    new = e.filter(F.col("vec_id") % 3 == 1).select(
        "vec_id", "embedding").unionByName(
        e.filter(F.col("vec_id") % 3 == 0).select(
            (F.col("vec_id") + 500000).alias("vec_id"), "embedding"))
    seen = e.filter(F.col("vec_id") % 3 == 0).select("embedding")
    kept = dedup.embedding_dedup_against(
        new, seen, threshold=0.3, num_planes=12, max_bucket_size=1024)
    return kept.select("vec_id")


@register(
    "q_overcap_stats",
    # the visibility half of the against-store guard (ADVICE r9): bucket
    # counts over the store under the probe's exact config, rolled into
    # (overcap_buckets, overcap_seen_rows, max_seen_bucket). planes=6 /
    # cap=8 so the guard BINDS at sf0.01 (~10 rows/bucket) and the row is
    # non-degenerate.
    f"WITH bk AS ({_near_dup_bucket_sql(6)}), "
    "sn AS (SELECT bucket FROM bk WHERE vec_id % 3 = 0), "
    "c AS (SELECT bucket, count(*) AS n FROM sn GROUP BY 1) "
    "SELECT CAST(sum(CASE WHEN n > 8 THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS overcap_buckets, "
    "CAST(sum(CASE WHEN n > 8 THEN n ELSE 0 END) AS BIGINT) "
    "  AS overcap_seen_rows, "
    "CAST(max(n) AS BIGINT) AS max_seen_bucket FROM c",
)
def q_overcap_stats(spark, sf):
    """Store-bucket degeneracy report (dedup.overcap_bucket_stats — the
    detectability half of embedding_dedup_against's conservative bucket
    guard, ADVICE r9): one (bucket, count) aggregation over the store
    under the probe's exact bucketing config, rolled up to how many
    buckets the guard will exclude, how many stored rows that hides
    from the probe, and the worst bucket's population. Run before
    trusting an against-store probe's misses; the shuffle carries
    (bucket, count) longs, never vectors."""
    e = load(spark, sf, "embeddings")
    seen = e.filter(F.col("vec_id") % 3 == 0).select("embedding")
    return dedup.overcap_bucket_stats(seen, max_bucket_size=8,
                                      num_planes=6)


@register(
    "q_ngram_repetition",
    # same derived boilerplate corpus as q_repetition_signals (header =
    # first 6 words, repeated doc_id % 4 times, joined by spaces): the
    # oracle replays the 2-gram occurrence counts, the (count desc, gram
    # asc) top pick, the duplicated-5-gram set, and the POSITION-distinct
    # coverage union, all over token characters.
    "WITH base AS (SELECT doc_id, text, "
    "  array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ') AS hdr, "
    "  CAST(doc_id % 4 AS INT) AS reps FROM documents), "
    "d AS (SELECT doc_id, array_to_string(list_concat("
    "  list_transform(range(1, reps + 1), x -> hdr), [text]), ' ') AS t "
    "  FROM base), "
    "tk AS (SELECT doc_id, arr, len(arr) AS n, "
    "  length(array_to_string(arr, '')) AS total FROM "
    "  (SELECT doc_id, list_filter(regexp_split_to_array(trim(t), '\\s+'), "
    "   x -> x <> '') AS arr FROM d)), "
    "s2a AS (SELECT doc_id, arr, unnest(range(1, n)) AS i FROM tk "
    "  WHERE n >= 2), "
    "s2 AS (SELECT doc_id, array_to_string(list_slice(arr, i, i + 1), ' ') "
    "  AS g FROM s2a), "
    "c2 AS (SELECT doc_id, g, count(*) AS cnt FROM s2 GROUP BY 1, 2), "
    "top AS (SELECT doc_id, cnt * (length(g) - 1) AS chars FROM "
    "  (SELECT doc_id, cnt, g, row_number() OVER (PARTITION BY doc_id "
    "   ORDER BY cnt DESC, g ASC) AS rn FROM c2) WHERE rn = 1), "
    "s5a AS (SELECT doc_id, arr, unnest(range(1, n - 3)) AS i FROM tk "
    "  WHERE n >= 5), "
    "s5 AS (SELECT doc_id, i, array_to_string(list_slice(arr, i, i + 4), "
    "  ' ') AS g FROM s5a), "
    "d5 AS (SELECT doc_id, g FROM s5 GROUP BY doc_id, g "
    "  HAVING count(*) >= 2), "
    "occ AS (SELECT s5.doc_id, s5.i FROM s5 JOIN d5 USING (doc_id, g)), "
    "cov AS (SELECT DISTINCT occ.doc_id, occ.i + k.k AS j FROM occ, "
    "  (SELECT unnest(range(0, 5)) AS k) k), "
    "cc AS (SELECT cov.doc_id, sum(length(arr[j])) AS chars FROM cov "
    "  JOIN tk USING (doc_id) GROUP BY 1) "
    "SELECT tk.doc_id, "
    "  CASE WHEN n >= 2 THEN round(CAST(top.chars AS DOUBLE) / total, 6) "
    "    END AS top_ngram_char_frac, "
    "  CASE WHEN n >= 5 THEN round(CAST(coalesce(cc.chars, 0) AS DOUBLE) "
    "    / total, 6) END AS dup_ngram_char_frac "
    "FROM tk LEFT JOIN top USING (doc_id) LEFT JOIN cc USING (doc_id)",
)
def q_ngram_repetition(spark, sf):
    """Extension — the n-gram half of the Gopher repetition family
    (functions/text.ngram_repetition_signals; Rae et al. 2021 §A1.1,
    datatrove gopher_repetition_filter): fraction of token characters
    in all occurrences of the most frequent 2-gram (tie → smallest
    gram), and in position-distinct coverage of duplicated 5-grams
    (overlaps never double-count). Same derived-boilerplate corpus as
    q_repetition_signals (the raw word-soup has no planted repeats):
    the repeated 6-word header plants both duplicated 2-grams and
    duplicated 5-grams with a doc_id-dependent distribution. Pure
    array expressions, narrow projection, no shuffle."""
    from metadata_enhanced_pretrain_datapipeline_spark.functions.text import ngram_repetition_signals

    d = load(spark, sf, "documents")
    hdr = F.array_join(F.slice(F.split("text", " "), 1, 6), " ")
    reps = (F.col("doc_id") % 4).cast("int")
    derived = F.array_join(
        F.concat(F.array_repeat(hdr, reps), F.array(F.col("text"))), " ")
    # two-projection compute-once (the q_script_detect r10 lesson):
    # both output fields reference the struct, and codegen does not CSE
    # across duplicated transform() lambda trees. repartition(32): the
    # n-gram stage must not serialize on the O(1)-file testdata scan.
    withs = d.repartition(32).select(
        "doc_id",
        ngram_repetition_signals(derived, top_n=2, dup_n=5).alias("sig"))
    return withs.select(
        "doc_id",
        F.round(F.col("sig")["top_ngram_char_frac"],
                6).alias("top_ngram_char_frac"),
        F.round(F.col("sig")["dup_ngram_char_frac"],
                6).alias("dup_ngram_char_frac"))


@register(
    "q_wet_roundtrip",
    # the reader is the thing under test: documents serialize to real WET
    # bytes (warcinfo preamble + one conversion record per doc; half the
    # files multi-member gzip, half plain), read_wet parses them back, and
    # the oracle states what a lossless roundtrip must return.
    "SELECT doc_id, 'https://example.com/' || doc_id AS url, text "
    "FROM documents",
)
def q_wet_roundtrip(spark, sf):
    """Common Crawl WET source roundtrip (sources/readers.read_wet +
    writers.wet_record — the crawl entry point datatrove pipelines
    start from, beyond the reference's parquet/jsonl surface): the
    corpus serializes into real WET files — warcinfo preamble the
    reader must SKIP, one WARC conversion record per document, exact
    Content-Length byte slicing, multi-member gzip for even-led
    batches and plain streams for odd — then read_wet parses them back
    via the binaryFile + mapInPandas file-granular path. Hash match
    proves header parsing, member-spanning gunzip, byte slicing, and
    UTF-8 handling are lossless. The builder writes to a shared
    scratch path (a cluster run points it at shared storage); the
    READER is the production path."""
    import os
    import shutil

    from metadata_enhanced_pretrain_datapipeline_spark.sources import readers, writers

    d = load(spark, sf, "documents").select("doc_id", "text") \
        .repartition(8, F.col("doc_id") % 8)
    scratch = _scratch_dir(sf, "wet")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch, exist_ok=True)

    def build(batches):
        import gzip
        import uuid

        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"n": pd.Series([], dtype="int64")})
                continue
            parts = [writers.warcinfo_record()]
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                parts.append(writers.wet_record(
                    f"https://example.com/{did}",
                    "2026-01-01T00:00:00Z", text))
            gz = int(pdf["doc_id"].min()) % 2 == 0
            blob = (b"".join(gzip.compress(p) for p in parts) if gz
                    else b"".join(parts))
            name = os.path.join(
                scratch,
                f"{uuid.uuid4().hex}.warc.wet" + (".gz" if gz else ""))
            with open(name, "wb") as f:
                f.write(blob)
            yield pd.DataFrame({"n": pd.Series([len(pdf)], dtype="int64")})

    d.mapInPandas(build, "n long").agg(F.sum("n")).head()  # force build
    out = readers.read_wet(spark, scratch)
    return out.select(
        F.regexp_extract("url", r"/(\d+)$", 1).cast("long").alias("doc_id"),
        "url", "text")


@register(
    "q_html_extract",
    # synthesized page per doc: head+script junk that must vanish, an h1
    # from the first 3 words, the body text in a <p>, an entity-bearing
    # footer div. The oracle states the extraction contract directly
    # (skip-subtrees, block newlines, entity decode); whitespace collapse
    # is a no-op on this corpus and unit-tested separately.
    "SELECT doc_id, "
    "  array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') "
    "  || chr(10) || text || chr(10) || 'footer & nav' AS text "
    "FROM documents",
)
def q_html_extract(spark, sf):
    """HTML → text extraction (operators/html_extract — the step between
    read_warc's response bodies and every text operator; the reference
    framework runs trafilatura here, stubbed per docs/model_plugins.md
    with this REAL stdlib-parser baseline): each doc becomes a full page
    (head with title+script junk, h1 from its first 3 words, the text
    in a paragraph, an entity-bearing footer) and the Arrow-batched
    extractor must drop the head subtree, break blocks into lines, and
    decode &amp; — the oracle is the extraction contract itself."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators.html_extract import extract_text_col

    d = load(spark, sf, "documents")
    hdr = F.array_join(F.slice(F.split("text", " "), 1, 3), " ")
    page = F.concat(
        F.lit("<html><head><title>junk title</title>"
              "<script>var x = 1;</script></head><body><h1>"),
        hdr,
        F.lit("</h1><p>"), F.col("text"),
        F.lit("</p><div>footer &amp; nav</div></body></html>"))
    return d.select("doc_id", extract_text_col(page).alias("text"))


# ---------------------------------------------------------------------------
# round-10 additions: DCT perceptual hash (pHash)


@register(
    "q_image_phash_near_dup",
    # closed-form pHash replay (VERDICT r9 #6): doc did's ORIGINAL (_a,
    # 64x64 BMP) has pixel (y, x, c) = (did*131 + y*17 + x*29 + c*53)
    # % 199; every selected did also carries a _b — did % 3 == 0 gets a
    # CONTENT EDIT (+40/channel on the left half, same size, PNG; must
    # NOT pair: measured hamming >= 15), everyone else a RESCALED twin
    # (2x nearest-neighbor to 128x128, +1/channel brightness, PNG; the
    # re-upload transform dHash misses). The raster identities make the
    # oracle exact without modeling 128x128 pixels: at 64x64 the 32x32
    # adaptive pool is 2x2 cells with v = sum//4; the 2x-replicated
    # +1-brightness twin pools to EXACTLY v + 3 (each orig pixel appears
    # 4x, +3 luminance/pixel, floor((4s+48)/16) = floor(s/4)+3), and the
    # left-half edit to v + 120 for j < 16. DCT basis = round(cos(pi*
    # (2y+1)*u/64)*1e6) as BIGINT (half-away-from-zero both engines,
    # bit-identical basis asserted in tests), coefficients = basis-
    # sandwich integer sums, bit (u, v) = 63*C > sum(AC) in HUGEINT,
    # packing = 2^(u*8+v) with bit 63 as the signed two's-complement
    # term (the dHash precedent). Pairs = every (a < b) within Hamming
    # distance 2; uncapped buckets are pigeonhole-complete so the naive
    # cross-join replay IS the operator's contract.
    "WITH d AS (SELECT doc_id AS did FROM documents WHERE doc_id % 10 = 7), "
    "px AS (SELECT did, y.g AS y, x.g AS x, "
    "  CAST((did*131 + y.g*17 + x.g*29 + c.g*53) % 199 AS BIGINT) AS v "
    "  FROM d, generate_series(0,63) y(g), generate_series(0,63) x(g), "
    "  generate_series(0,2) c(g)), "
    "cell AS (SELECT did, y//2 AS i, x//2 AS j, SUM(v)//4 AS v "
    "  FROM px GROUP BY did, y//2, x//2), "
    "g AS (SELECT 'm' || did || '_a' AS media_id, i, j, v FROM cell "
    "  UNION ALL "
    "  SELECT 'm' || did || '_b', i, j, v + CASE WHEN did % 3 = 0 THEN "
    "  (CASE WHEN j < 16 THEN 120 ELSE 0 END) ELSE 3 END FROM cell), "
    "b AS (SELECT u.g AS u, y.g AS y, "
    "  CAST(round(cos(pi()*(2*y.g+1)*u.g/64)*1000000) AS BIGINT) AS f "
    "  FROM generate_series(0,7) u(g), generate_series(0,31) y(g)), "
    "rt AS (SELECT g.media_id, bu.u AS u, g.j, SUM(g.v * bu.f) AS r "
    "  FROM g JOIN b bu ON bu.y = g.i GROUP BY 1, 2, 3), "
    "co AS (SELECT rt.media_id, rt.u, bv.u AS v, SUM(rt.r * bv.f) AS c "
    "  FROM rt JOIN b bv ON bv.y = rt.j GROUP BY 1, 2, 3), "
    "ac AS (SELECT media_id, SUM(CASE WHEN u = 0 AND v = 0 THEN 0 "
    "  ELSE c END) AS sumac FROM co GROUP BY media_id), "
    "bits AS (SELECT co.media_id, co.u, co.v, "
    "  CASE WHEN 63 * co.c > ac.sumac THEN 1 ELSE 0 END AS bt "
    "  FROM co JOIN ac USING (media_id)), "
    "ph AS (SELECT media_id, CAST(SUM(CASE WHEN u*8+v = 63 "
    "  THEN bt * (-9223372036854775807 - 1) "
    "  ELSE bt * (1::BIGINT << CAST(u*8+v AS INT)) END) AS BIGINT) "
    "  AS phash FROM bits GROUP BY media_id) "
    "SELECT a.media_id AS id_a, b.media_id AS id_b, "
    "  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming "
    "FROM ph a JOIN ph b ON a.media_id < b.media_id "
    "WHERE bit_count(xor(a.phash, b.phash)) <= 2",
)
def q_image_phash_near_dup(spark, sf):
    """Visual near-dup on the DCT perceptual hash (VERDICT r9 #6) — the
    RESCALE-robust twin of q_image_near_dup: per selected doc,
    closed-form 64x64 pixels encode a real BMP; every doc plants a _b
    that is either a 2x nearest-neighbor RESCALE with +1 brightness
    re-encoded as a real zlib PNG (must pair — exactly the transform
    that defeats dHash's fixed cell grid) or, for did % 3 == 0, a
    +40-left-half content edit (must NOT pair — measured hamming >=
    15 vs a cross-image floor of 10). The chain is all real:
    multimodal.image_phash decodes each blob with the stdlib codecs
    (stub=False), adaptive-mean-pools channel-sum luminance to 32x32,
    applies the quantized-integer 8x8 DCT (every multiply/add exact —
    no libm drift can flip a bit), thresholds on the integer AC mean,
    and dedup.hamming_pairs_from_fingerprints buckets the 64-bit
    hashes exactly as for dHash/SimHash. The oracle replays raster,
    basis, transform, bits, and pairs in closed form; uncapped buckets
    make the bucketed pair set provably equal to the naive replay.

    Scale: identical shape to q_image_near_dup — blobs decode ONCE
    into 12-byte (id, hash) rows, one (chunk, value) exchange, codegen
    xor verify; production floods set max_bucket_size."""
    import numpy as np
    import pandas as pd

    from metadata_enhanced_pretrain_datapipeline_spark.operators import multimodal

    # repartition BEFORE the build: the sf0.1 documents table is one
    # parquet file, and without this the whole encode+decode+DCT chain
    # runs in a single task (measured 39s -> ~3s at sf0.1; the blob
    # work, not the id scan, is the cost to parallelize)
    d = (load(spark, sf, "documents").filter(
        F.col("doc_id") % 10 == 7).select("doc_id").repartition(32))

    def build(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"].to_numpy():
                did = int(did)
                y = np.arange(64).reshape(64, 1, 1)
                x = np.arange(64).reshape(1, 64, 1)
                c = np.arange(3).reshape(1, 1, 3)
                base = (did * 131 + y * 17 + x * 29 + c * 53) % 199
                rows.append((f"m{did}_a",
                             multimodal.encode_bmp(base.astype(np.uint8))))
                if did % 3 == 0:
                    ed = base.copy()
                    ed[:, :32, :] += 40
                    rows.append((f"m{did}_b",
                                 multimodal.encode_png(ed.astype(np.uint8))))
                else:
                    tw = np.repeat(np.repeat(base + 1, 2, axis=0), 2, axis=1)
                    rows.append((f"m{did}_b",
                                 multimodal.encode_png(tw.astype(np.uint8))))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = d.mapInPandas(build, "media_id string, content binary")
    return multimodal.image_phash_near_dup_pairs(
        media, max_hamming=2, max_bucket_size=None, stub=False)


#: winnowing replay (Schleimer et al. 2003): positional k=5 word grams
#: (portable md5 hash), window=4 minima with rightmost tie-break, distinct
#: selected (pos, hash). ``{src}`` is a CTE exposing (doc_id, text).
def _winnow_sql(src: str, k: int = 5, window: int = 4) -> str:
    gram = " || ' ' || ".join(f"ws[i + {j}]" for j in range(k))
    return (
        "wtok AS (SELECT doc_id, list_filter(regexp_split_to_array("
        f"trim(text), '\\s+'), x -> x <> '') AS ws FROM {src}), "
        f"wg AS (SELECT doc_id, i AS pos, {md5_hash64_sql(gram)} AS h "
        "  FROM (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - "
        f"{k - 2}, 1))) AS i FROM wtok)), "
        "wn AS (SELECT doc_id, count(*) AS ng FROM wg GROUP BY doc_id), "
        "ww AS (SELECT doc_id, unnest(generate_series(1, greatest(ng - "
        f"{window - 1}, 1))) AS s FROM wn), "
        "wj AS (SELECT ww.doc_id, ww.s, wg.pos, wg.h, row_number() OVER "
        "  (PARTITION BY ww.doc_id, ww.s ORDER BY wg.h, wg.pos DESC) AS rn "
        "  FROM ww JOIN wg ON wg.doc_id = ww.doc_id "
        f"  AND wg.pos BETWEEN ww.s AND ww.s + {window - 1}), "
        "wfp AS (SELECT DISTINCT doc_id, CAST(pos AS INT) AS pos, h "
        "  FROM wj WHERE rn = 1)"
    )


@register(
    "q_winnow_fingerprints",
    # full winnowing replay over the real corpus: positional 5-gram md5
    # hashes, 4-wide window minima (ties -> rightmost pos, the paper's
    # robust rule), distinct (pos, hash) selections.
    "WITH src AS (SELECT doc_id, text FROM documents), "
    + _winnow_sql("src")
    + " SELECT doc_id, pos, h AS fp FROM wfp",
)
def q_winnow_fingerprints(spark, sf):
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — MOSS; dedup.winnow_fingerprints): every positional
    word 5-gram hashes, each 4-window's minimum hash is selected
    (rightmost position on ties), and the distinct selections are the
    doc's fingerprints — ~2/(window+1) the gram volume, with the
    guarantee that any shared run of k+window-1 = 8 words yields a
    shared fingerprint. The local complement of whole-doc digests and
    MinHash resemblance: fingerprints LOCALIZE shared passages. The
    oracle replays grams, window minima, tie-breaks, and the distinct
    in SQL (row_number over (hash, pos DESC) per window).

    Scale: gram hashing and window minima are lambda-bound per-row
    array expressions in codegen (no shuffle, no Python); output rows
    are (id, int, long) — the text never leaves the scan."""
    return dedup.winnow_fingerprints(
        load(spark, sf, "documents"), "doc_id", "text",
        k=5, window=4, portable=True)


@register(
    "q_winnow_overlap",
    # planted partial overlap: doc did's text gains a 24-word passage
    # unique to its PAIR group gid = did // 2 ('p<gid>_<j>' words — group
    # variety grows with the corpus, the fixture-variety lesson), so
    # (2g, 2g+1) share a 24-word run that PROVABLY yields >= 5 shared
    # winnowed fingerprints (17 interior windows, a selection covers at
    # most 4); the min_shared=5 count gate keeps every planted pair at
    # any doc length, where a ratio threshold measurably loses 10% of
    # them to length dilution (and ALSO keeps genuinely near-identical
    # base-text pairs — intended). Oracle replays passage, winnowing,
    # fingerprint sets, intersections, and the count gate naively
    # (uncapped buckets are complete; real-corpus fp buckets max at 4).
    "WITH src AS (SELECT doc_id, trim(text) || ' ' || array_to_string("
    "  list_transform(range(0, 24), j -> 'p' || CAST(doc_id // 2 AS "
    "  VARCHAR) || '_' || CAST(j AS VARCHAR)), ' ') AS text "
    "  FROM documents), "
    + _winnow_sql("src")
    + ", dfp AS (SELECT DISTINCT doc_id, h FROM wfp), "
    "sz AS (SELECT doc_id, count(*) AS n FROM dfp GROUP BY doc_id), "
    "sh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
    "  CAST(count(*) AS BIGINT) AS c FROM dfp a JOIN dfp b "
    "  ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2) "
    "SELECT id_a, id_b, round(c / (sa.n + sb.n - c), 6) AS jaccard "
    "FROM sh JOIN sz sa ON sa.doc_id = id_a "
    "JOIN sz sb ON sb.doc_id = id_b "
    "WHERE c >= 5",
)
def q_winnow_overlap(spark, sf):
    """Partial-overlap detection via winnowed fingerprints — the MOSS
    composition (dedup.winnow_overlap_pairs): winnow_fingerprints feeds
    token_set_jaccard_pairs on distinct fingerprint hashes, catching
    documents that SHARE A PASSAGE (quotation, boilerplate splice,
    partial plagiarism) which whole-doc near-dup dilutes away. The
    fixture appends a 24-word passage unique to each doc pair
    (gid = doc_id // 2): planted pairs share >= 5 winnowed fingerprints
    BY THE COVERING GUARANTEE (17 windows lie fully inside the shared
    20-gram run; one selection covers at most 4 of them), so the
    min_shared=5 count gate keeps all of them at every scale while
    chance base-text overlaps share 1-3. Ratio thresholds measurably
    fail here (min planted jaccard 0.077 < max chance 0.14 at sf0.01 —
    length dilution), which is exactly why the operator's primary lever
    is the MOSS count. Uncapped buckets keep the pair set provably
    complete for the naive replay.

    Scale: fingerprints are ~2/(window+1) of gram volume; the pair
    stage is the proven token-set engine (one token-keyed exchange +
    bucket guard + materialize boundary — never all-pairs)."""
    d = load(spark, sf, "documents")
    gid = F.floor(F.col("doc_id") / 2).cast("long")
    passage = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(23)),
            lambda j: F.concat(F.lit("p"), gid.cast("string"),
                               F.lit("_"), j.cast("string"))))
    fused = d.select(
        "doc_id",
        F.concat(F.trim("text"), F.lit(" "), passage).alias("text"))
    out = dedup.winnow_overlap_pairs(
        fused, "doc_id", "text", k=5, window=4,
        min_shared=5, max_bucket_size=None, portable=True)
    return out.select("id_a", "id_b",
                      F.round(F.col("jaccard"), 6).alias("jaccard"))


@register(
    "q_winnow_dedup_against",
    # the winnowing member of the against-store family: months split by
    # doc_id % 3 (0,1 = seen store, 2 = new crawl); docs with
    # did % 6 IN (1, 2) carry a 24-word passage keyed did // 6, so doc
    # 6m+2 (new) splices the passage doc 6m+1 (seen) already contributed
    # to the store and must drop (>= 5 shared fingerprints by the
    # window-covering guarantee); did % 6 == 5 new docs carry no passage
    # and survive unless their BASE text genuinely shares >= 5 winnowed
    # fingerprints with the seen months (the oracle replays those too).
    "WITH src AS (SELECT doc_id, trim(text) || CASE WHEN doc_id % 6 IN "
    "  (1, 2) THEN ' ' || array_to_string(list_transform(range(0, 24), "
    "  j -> 'p' || CAST(doc_id // 6 AS VARCHAR) || '_' || "
    "  CAST(j AS VARCHAR)), ' ') ELSE '' END AS text FROM documents), "
    + _winnow_sql("src")
    + ", dfp AS (SELECT DISTINCT doc_id, h FROM wfp), "
    "seen AS (SELECT DISTINCT h FROM dfp WHERE doc_id % 3 IN (0, 1)), "
    "hits AS (SELECT doc_id FROM dfp JOIN seen USING (h) "
    "  WHERE doc_id % 3 = 2 GROUP BY doc_id HAVING count(*) >= 5) "
    "SELECT doc_id FROM documents WHERE doc_id % 3 = 2 "
    "AND doc_id NOT IN (SELECT doc_id FROM hits)",
)
def q_winnow_dedup_against(spark, sf):
    """Incremental partial-overlap dedup vs a fingerprint store
    (dedup.winnow_dedup_against): month N+1's documents winnow once and
    probe the persisted fingerprint hashes of prior months — a new page
    SPLICING a passage already crawled drops on >= 5 shared
    fingerprints (the covering guarantee), even though whole-doc
    digests and MinHash resemblance both dilute a 24-word quote inside
    a fresh page to a miss. The past lives on as 8-byte hashes; its
    text never re-tokenizes. Fixture: planted cross-month splices
    (did % 6 == 2 quotes did % 6 == 1's passage) must drop,
    passage-free new docs survive, and the oracle replays fingerprints,
    the store join, the count gate, and the anti-join naively.

    Scale: one fp equi-join over (id, long) rows + per-id count +
    ids-only anti-join; the store side is distinct-ed so re-ingested
    duplicate hashes cannot double-count."""
    d = load(spark, sf, "documents")
    gid = F.floor(F.col("doc_id") / 6).cast("long")
    passage = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(23)),
            lambda j: F.concat(F.lit("p"), gid.cast("string"),
                               F.lit("_"), j.cast("string"))))
    fused = d.select(
        "doc_id",
        F.concat(
            F.trim("text"),
            F.when(F.col("doc_id") % 6 == 1, F.concat(F.lit(" "), passage))
            .when(F.col("doc_id") % 6 == 2, F.concat(F.lit(" "), passage))
            .otherwise(F.lit(""))).alias("text"))
    seen_docs = fused.filter(F.col("doc_id") % 3 != 2)
    new_docs = fused.filter(F.col("doc_id") % 3 == 2)
    store = dedup.winnow_fingerprints(
        seen_docs, "doc_id", "text", k=5, window=4,
        portable=True).select("fp")
    kept = dedup.winnow_dedup_against(
        new_docs, store, "doc_id", "text", k=5, window=4,
        min_shared=5, portable=True)
    return kept.select("doc_id")


@register(
    "q_gopher_quality",
    # per-doc synthesized page exercising every rule: did % 3 == 0 adds
    # a bullet header line, did % 2 == 0 an ellipsis footer line,
    # did % 5 == 0 two '#' symbols. The oracle restates each signal
    # (alpha-word fraction over \s+ tokens, bullet/ellipsis line
    # fractions over trimmed non-empty lines, symbol-to-word ratio) and
    # the composed keep decision (word bounds, mean-word-length [3,10],
    # >= 2 stopwords, the four Gopher fraction thresholds) directly;
    # fractions are 6dp-rounded in both engines so the thresholds are
    # bit-portable. Java regex takes \uXXXX where DuckDB's RE2 does not
    # - the oracle uses the literal bullet/ellipsis characters.
    "WITH src AS (SELECT doc_id, "
    "  CASE WHEN doc_id % 3 = 0 THEN '- ' || array_to_string("
    "    list_slice(string_split(text, ' '), 1, 3), ' ') || chr(10) "
    "    ELSE '' END "
    "  || text "
    "  || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'see more...' "
    "     ELSE '' END "
    "  || CASE WHEN doc_id % 5 = 0 THEN ' # #' ELSE '' END AS t "
    "  FROM documents), "
    "w AS (SELECT doc_id, t, "
    "  list_filter(regexp_split_to_array(trim(t), '\\s+'), x -> x <> '') "
    "    AS ws, "
    "  list_filter(list_transform(string_split(t, chr(10)), "
    "    l -> trim(l)), l -> l <> '') AS ls FROM src), "
    "sig AS (SELECT doc_id, ws, t, "
    "  round(len(list_filter(ws, x -> regexp_matches(x, '\\p{L}'))) "
    "    / len(ws), 6) AS alpha_word_frac, "
    "  round(len(list_filter(ls, l -> regexp_matches(l, "
    "    '^(- |\\* |•)'))) / len(ls), 6) AS bullet_line_frac, "
    "  round(len(list_filter(ls, l -> regexp_matches(l, "
    "    '(\\.\\.\\.|…)$'))) / len(ls), 6) AS ellipsis_line_frac, "
    "  round((len(regexp_extract_all(t, '#')) "
    "    + len(regexp_extract_all(t, '\\.\\.\\.|…'))) / len(ws), 6) "
    "    AS symbol_word_ratio FROM w) "
    "SELECT doc_id, alpha_word_frac, bullet_line_frac, "
    "  ellipsis_line_frac, symbol_word_ratio, "
    "  COALESCE(len(ws) >= 20 AND len(ws) <= 100000 "
    "    AND round(list_sum(list_transform(ws, x -> len(x))) "
    "      / len(ws), 6) BETWEEN 3.0 AND 10.0 "
    "    AND len(list_filter(ws, x -> x IN ('the', 'a', 'of', 'to', "
    "      'and', 'in', 'is'))) >= 2 "
    "    AND alpha_word_frac >= 0.8 AND bullet_line_frac <= 0.9 "
    "    AND ellipsis_line_frac <= 0.3 AND symbol_word_ratio <= 0.1, "
    "    false) AS keep "
    "FROM sig",
)
def q_gopher_quality(spark, sf):
    """The document-level Gopher quality rules (Rae et al. 2021 §A1.1;
    functions/text.gopher_quality_signals + gopher_quality_keep) —
    completing the published rule set beside the repetition halves
    (q_repetition_signals, q_ngram_repetition), the length/stopword
    stats (q_quality_score) and C4's line rules (q_c4_line_filter):
    alpha-word fraction, bullet-line and ellipsis-line fractions,
    symbol-to-word ratio, and the COMPOSED keep decision (word bounds,
    mean word length in [3, 10], >= 2 stopwords, the four fraction
    thresholds). Each doc synthesizes a page hitting every rule (bullet
    header for did % 3 == 0, ellipsis footer for did % 2 == 0, '#'
    symbols for did % 5 == 0); the oracle restates signals and decision
    directly. Pure array/regexp expressions — narrow projection, no
    shuffle, no Python."""
    from metadata_enhanced_pretrain_datapipeline_spark.functions.text import (
        gopher_quality_keep,
        gopher_quality_signals,
    )

    d = load(spark, sf, "documents")
    hdr = F.array_join(F.slice(F.split("text", " "), 1, 3), " ")
    t2 = F.concat(
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("- "), hdr, F.lit("\n"))).otherwise(F.lit("")),
        F.col("text"),
        F.when(F.col("doc_id") % 2 == 0,
               F.lit("\nsee more...")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit(" # #")).otherwise(F.lit("")))
    # compute-once-then-derive: the signals struct and the synthesized
    # page land in a FIRST projection as attributes; the second derives
    # the four fractions and passes the struct into the keep via
    # signals=, so the selected struct is not computed a second time
    # inside the keep (codegen does not CSE across transform() lambda
    # trees). CollapseProject keeps the boundary: sig is non-cheap,
    # referenced five times. repartition(32): the per-row Gopher stage
    # must not serialize on the O(1)-file testdata scan.
    withs = d.repartition(32).select(
        "doc_id", t2.alias("t2"), gopher_quality_signals(t2).alias("sig"))
    sig = F.col("sig")
    return withs.select(
        "doc_id",
        sig["alpha_word_frac"].alias("alpha_word_frac"),
        sig["bullet_line_frac"].alias("bullet_line_frac"),
        sig["ellipsis_line_frac"].alias("ellipsis_line_frac"),
        sig["symbol_word_ratio"].alias("symbol_word_ratio"),
        gopher_quality_keep(F.col("t2"), min_words=20,
                            signals=sig).alias("keep"))


@register("q_stream_winnow_dedup", _REGISTRY["q_winnow_dedup_against"][1])
def q_stream_winnow_dedup(spark, sf):
    """Continuous fingerprint-store ingestion
    (streaming.events.stream_append_winnow_fingerprint_store): the seen
    months' documents arrive as a 2-batch stream (pre-split files,
    maxFilesPerTrigger=1), each micro-batch winnows once through the
    shared winnow_fingerprints projection and appends (doc_id, fp)
    rows; the new month then batch-dedups against the STREAM-BUILT
    store with the standard winnow_dedup_against probe. The oracle IS
    q_winnow_dedup_against's SQL verbatim — the stream-built store must
    answer identically to the batch-built one (the q_stream_ivf_append
    contract, text edition). At-least-once retries are exact here by
    construction: the probe DISTINCTs store fps before the count gate,
    so duplicate rows cannot change a decision."""
    import shutil

    from metadata_enhanced_pretrain_datapipeline_spark.streaming import events as se

    d = load(spark, sf, "documents")
    gid = F.floor(F.col("doc_id") / 6).cast("long")
    passage = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(23)),
            lambda j: F.concat(F.lit("p"), gid.cast("string"),
                               F.lit("_"), j.cast("string"))))
    fused = d.select(
        "doc_id",
        F.concat(
            F.trim("text"),
            F.when(F.col("doc_id") % 6 == 1, F.concat(F.lit(" "), passage))
            .when(F.col("doc_id") % 6 == 2, F.concat(F.lit(" "), passage))
            .otherwise(F.lit(""))).alias("text"))
    seen_docs = fused.filter(F.col("doc_id") % 3 != 2)
    new_docs = fused.filter(F.col("doc_id") % 3 == 2)

    scratch = _scratch_dir(sf, "stream_winnow")
    src, store, ck = f"{scratch}/src", f"{scratch}/store", f"{scratch}/ck"
    for p in (src, store, ck):
        shutil.rmtree(p, ignore_errors=True)
    # two input files -> two micro-batches under maxFilesPerTrigger=1
    # (parity split: seen dids are % 3 in (0, 1), both parities
    # present). Both halves in ONE job (r13): repartition(1) +
    # partitionBy emits exactly one file per half, replacing two
    # filter+repartition(1) writes that each re-scanned the corpus.
    seen_docs.withColumn("half", (F.col("doc_id") % 2).cast("int")) \
        .repartition(1).write.partitionBy("half").parquet(src)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    se.stream_append_winnow_fingerprint_store(
        stream, store, ck, k=5, window=4, portable=True)
    seen_fps = spark.read.parquet(store)
    kept = dedup.winnow_dedup_against(
        new_docs, seen_fps, "doc_id", "text", k=5, window=4,
        min_shared=5, portable=True)
    return kept.select("doc_id")


@register(
    "q_image_phash_letterbox",
    # letterboxed re-uploads: doc did's ORIGINAL (_a, 64x64 BMP) as in
    # q_image_phash_near_dup (selector % 10 == 9); every did also gets a
    # _b with 8 BLACK BARS top and bottom (80x64 PNG) — +1 brightness
    # for the twin (must pair at hamming 0), +40 on the left half for
    # did % 3 == 0 (content edit under the bars; must NOT pair,
    # measured >= 24). The operator strips consecutive uniform rows /
    # cols (strip_uniform_border) between decode and hash, so the
    # oracle never models the bars: post-strip rasters are EXACTLY the
    # base grid + 3 (twin) or + 120 on j < 16 (edit) — an off-by-one in
    # the strip would break the hash match. Same integer DCT replay as
    # q_image_phash_near_dup.
    "WITH d AS (SELECT doc_id AS did FROM documents WHERE doc_id % 10 = 9), "
    "px AS (SELECT did, y.g AS y, x.g AS x, "
    "  CAST((did*131 + y.g*17 + x.g*29 + c.g*53) % 199 AS BIGINT) AS v "
    "  FROM d, generate_series(0,63) y(g), generate_series(0,63) x(g), "
    "  generate_series(0,2) c(g)), "
    "cell AS (SELECT did, y//2 AS i, x//2 AS j, SUM(v)//4 AS v "
    "  FROM px GROUP BY did, y//2, x//2), "
    "g AS (SELECT 'm' || did || '_a' AS media_id, i, j, v FROM cell "
    "  UNION ALL "
    "  SELECT 'm' || did || '_b', i, j, v + CASE WHEN did % 3 = 0 THEN "
    "  (CASE WHEN j < 16 THEN 120 ELSE 0 END) ELSE 3 END FROM cell), "
    "b AS (SELECT u.g AS u, y.g AS y, "
    "  CAST(round(cos(pi()*(2*y.g+1)*u.g/64)*1000000) AS BIGINT) AS f "
    "  FROM generate_series(0,7) u(g), generate_series(0,31) y(g)), "
    "rt AS (SELECT g.media_id, bu.u AS u, g.j, SUM(g.v * bu.f) AS r "
    "  FROM g JOIN b bu ON bu.y = g.i GROUP BY 1, 2, 3), "
    "co AS (SELECT rt.media_id, rt.u, bv.u AS v, SUM(rt.r * bv.f) AS c "
    "  FROM rt JOIN b bv ON bv.y = rt.j GROUP BY 1, 2, 3), "
    "ac AS (SELECT media_id, SUM(CASE WHEN u = 0 AND v = 0 THEN 0 "
    "  ELSE c END) AS sumac FROM co GROUP BY media_id), "
    "bits AS (SELECT co.media_id, co.u, co.v, "
    "  CASE WHEN 63 * co.c > ac.sumac THEN 1 ELSE 0 END AS bt "
    "  FROM co JOIN ac USING (media_id)), "
    "ph AS (SELECT media_id, CAST(SUM(CASE WHEN u*8+v = 63 "
    "  THEN bt * (-9223372036854775807 - 1) "
    "  ELSE bt * (1::BIGINT << CAST(u*8+v AS INT)) END) AS BIGINT) "
    "  AS phash FROM bits GROUP BY media_id) "
    "SELECT a.media_id AS id_a, b.media_id AS id_b, "
    "  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming "
    "FROM ph a JOIN ph b ON a.media_id < b.media_id "
    "WHERE bit_count(xor(a.phash, b.phash)) <= 2",
)
def q_image_phash_letterbox(spark, sf):
    """Letterbox-robust visual near-dup — the second re-upload
    transform of VERDICT r9 #6 (rescaling being the first):
    multimodal.strip_uniform_border crops consecutive uniform rows and
    columns between decode and hash, so a letterboxed +1-brightness PNG
    re-upload pairs with its original at hamming 0 while a content
    edit hiding under the same bars stays >= 24 bits away. The bars
    are REAL black rows in real PNG bytes; the oracle never models
    them — it replays the post-strip raster identities (base grid + 3
    / + 120), so any off-by-one or tolerance bug in the strip breaks
    the hash match. Uncapped buckets keep the pair replay complete.

    Scale: the strip is an O(h*w) integer compare inside the decode
    MapInPandas stage — the downstream shape is unchanged (12-byte
    rows, one (chunk, value) exchange)."""
    import numpy as np
    import pandas as pd

    from metadata_enhanced_pretrain_datapipeline_spark.operators import multimodal

    d = (load(spark, sf, "documents").filter(
        F.col("doc_id") % 10 == 9).select("doc_id").repartition(32))

    def build(batches):
        for pdf in batches:
            rows = []
            bars = np.zeros((8, 64, 3), dtype=np.int64)
            for did in pdf["doc_id"].to_numpy():
                did = int(did)
                y = np.arange(64).reshape(64, 1, 1)
                x = np.arange(64).reshape(1, 64, 1)
                c = np.arange(3).reshape(1, 1, 3)
                base = (did * 131 + y * 17 + x * 29 + c * 53) % 199
                rows.append((f"m{did}_a",
                             multimodal.encode_bmp(base.astype(np.uint8))))
                if did % 3 == 0:
                    inner = base.copy()
                    inner[:, :32, :] += 40
                else:
                    inner = base + 1
                boxed = np.vstack([bars, inner, bars])
                rows.append((f"m{did}_b",
                             multimodal.encode_png(boxed.astype(np.uint8))))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = d.mapInPandas(build, "media_id string, content binary")
    return multimodal.image_phash_near_dup_pairs(
        media, max_hamming=2, max_bucket_size=None, stub=False,
        strip_border=True)


@register(
    "q_script_detect",
    # per-doc mixed-script page: closed-form runs of Cyrillic (chr 1103,
    # did % 7 copies), Han (chr 27721, did % 4) and Arabic (chr 1588,
    # did % 3) append to the Latin base text; digits ride whatever the
    # base contains. The oracle restates fractions over non-whitespace
    # chars and the fixed-tie-order dominant pick; RE2 spells script
    # classes \p{X} where Java wants \p{IsX} (SCRIPT_CLASSES carries
    # both spellings; parity engine-tested).
    "WITH src AS (SELECT doc_id, text || ' ' "
    "  || repeat(chr(1103), CAST(doc_id % 7 AS INT)) || ' ' "
    "  || repeat(chr(27721), CAST(doc_id % 4 AS INT)) || ' ' "
    "  || repeat(chr(1588), CAST(doc_id % 3 AS INT)) AS t "
    "  FROM documents), "
    "f AS (SELECT doc_id, "
    "  len(regexp_extract_all(t, '[^\\s]')) AS denom, "
    "  round(len(regexp_extract_all(t, '[\\p{Latin}]')) "
    "    / len(regexp_extract_all(t, '[^\\s]')), 6) AS latin_frac, "
    "  round(len(regexp_extract_all(t, '[\\p{Cyrillic}]')) "
    "    / len(regexp_extract_all(t, '[^\\s]')), 6) AS cyrillic_frac, "
    "  round(len(regexp_extract_all(t, '[\\p{Han}]')) "
    "    / len(regexp_extract_all(t, '[^\\s]')), 6) AS han_frac, "
    "  round(len(regexp_extract_all(t, '[\\p{Arabic}]')) "
    "    / len(regexp_extract_all(t, '[^\\s]')), 6) AS arabic_frac, "
    "  round(len(regexp_extract_all(t, '[\\p{Nd}]')) "
    "    / len(regexp_extract_all(t, '[^\\s]')), 6) AS digit_frac "
    "  FROM src) "
    "SELECT doc_id, latin_frac, cyrillic_frac, han_frac, arabic_frac, "
    "  digit_frac, "
    "  CASE WHEN latin_frac IS NULL THEN NULL "
    "  WHEN latin_frac >= cyrillic_frac AND latin_frac >= han_frac "
    "    AND latin_frac >= arabic_frac AND latin_frac >= 0.5 "
    "    THEN 'latin' "
    "  WHEN cyrillic_frac >= han_frac AND cyrillic_frac >= arabic_frac "
    "    AND cyrillic_frac >= 0.5 THEN 'cyrillic' "
    "  WHEN han_frac >= arabic_frac AND han_frac >= 0.5 THEN 'han' "
    "  WHEN arabic_frac >= 0.5 THEN 'arabic' "
    "  ELSE 'other' END AS script "
    "FROM f",
)
def q_script_detect(spark, sf):
    """Unicode-script composition + routing decision
    (functions/text.script_fractions / dominant_script) — the
    writing-system complement of the marker-word language-ID heuristic
    (q_lang_id separates languages only WITHIN the Latin script):
    per-script char fractions over non-whitespace chars and the
    fixed-tie-order dominant pick, for mixed-script spam/mojibake
    detection and per-script tokenizer/model routing. The fixture
    appends closed-form Cyrillic/Han/Arabic runs to the Latin base so
    every fraction and several tie branches exercise; the oracle
    restates the arithmetic with RE2's script-class spelling.

    Compute-once-then-derive (the r10 weak item, measured 7.6x): the
    fractions struct is materialized in a FIRST projection and the
    dominant pick derives from it via dominant_script_from in a SECOND
    — calling dominant_script(t2) beside script_fractions(t2) re-ran
    the whole regex suite because codegen does not CSE across separate
    transform() lambda trees. CollapseProject keeps the boundary: the
    struct is non-cheap and referenced six times. Repartitioned off
    the scan so a low source file count cannot serialize the regex
    stage on a 32-core runner (the pHash single-file lesson)."""
    from metadata_enhanced_pretrain_datapipeline_spark.functions.text import (
        dominant_script_from,
        script_fractions,
    )

    d = load(spark, sf, "documents").repartition(32)
    t2 = F.concat(
        F.col("text"), F.lit(" "),
        F.repeat(F.lit("я"), (F.col("doc_id") % 7).cast("int")),
        F.lit(" "),
        F.repeat(F.lit("汉"), (F.col("doc_id") % 4).cast("int")),
        F.lit(" "),
        F.repeat(F.lit("ش"), (F.col("doc_id") % 3).cast("int")))
    withs = d.select("doc_id", script_fractions(t2).alias("sf"))
    s = F.col("sf")
    return withs.select(
        "doc_id",
        s["latin_frac"].alias("latin_frac"),
        s["cyrillic_frac"].alias("cyrillic_frac"),
        s["han_frac"].alias("han_frac"),
        s["arabic_frac"].alias("arabic_frac"),
        s["digit_frac"].alias("digit_frac"),
        dominant_script_from(s).alias("script"))


@register(
    "q_lsh_calibration",
    # the S-curve parameter table for the repo's 32-hash MinHash family:
    # every (bands, rows) factorization of 32, the curve midpoint
    # (1/b)^(1/r), candidate probabilities at three operating points,
    # and the chosen flag for threshold 0.7 (nearest midpoint, ties ->
    # more bands). Pure arithmetic both sides (pow/round 6dp; midpoints
    # are well-separated so the 1-ulp pow caveat cannot flip a pick).
    "WITH p AS (SELECT b AS bands, 32 // b AS rows_per_band "
    "  FROM (VALUES (1), (2), (4), (8), (16), (32)) v(b)), "
    "m AS (SELECT bands, rows_per_band, "
    "  round(pow(1.0 / bands, 1.0 / rows_per_band), 6) AS s_mid, "
    "  round(1 - pow(1 - pow(0.5, rows_per_band), bands), 6) AS p_at_05, "
    "  round(1 - pow(1 - pow(0.7, rows_per_band), bands), 6) AS p_at_07, "
    "  round(1 - pow(1 - pow(0.9, rows_per_band), bands), 6) AS p_at_09 "
    "  FROM p) "
    "SELECT m.*, (abs(s_mid - 0.7), -bands) = (SELECT min((abs(s_mid "
    "  - 0.7), -bands)) FROM m) AS chosen FROM m",
)
def q_lsh_calibration(spark, sf):
    """MinHash-LSH parameter calibration (dedup.choose_lsh_params /
    lsh_collision_probability — MMDS ch. 3): for the repo's 32-hash signature
    family, every (bands, rows) factorization with its S-curve midpoint
    (1/b)^(1/r) and candidate probabilities at Jaccard 0.5/0.7/0.9,
    plus the chosen flag for a 0.7 dedup threshold (nearest midpoint,
    ties toward more bands — recall over verification cost). The table
    is what an operator consults before setting minhash_lsh_pairs'
    num_bands; the chosen row must agree with choose_lsh_params (the
    registry guard evaluates the Python picker against this frame's
    flag at build time via the oracle). Constant-size output — the
    query prices nothing, it DOCUMENTS the lever with oracle-checked
    arithmetic."""
    pairs = [(b, 32 // b) for b in (1, 2, 4, 8, 16, 32)]
    df = spark.createDataFrame(pairs, "bands int, rows_per_band int")
    mid = F.round(F.pow(1.0 / F.col("bands"),
                        1.0 / F.col("rows_per_band")), 6)
    def p_at(s):
        return F.round(
            1 - F.pow(1 - F.pow(F.lit(s), F.col("rows_per_band")),
                      F.col("bands")), 6)
    m = df.select(
        "bands", "rows_per_band", mid.alias("s_mid"),
        p_at(0.5).alias("p_at_05"), p_at(0.7).alias("p_at_07"),
        p_at(0.9).alias("p_at_09"))
    chosen_b, chosen_r = dedup.choose_lsh_params(0.7, 32)
    return m.withColumn(
        "chosen",
        (F.col("bands") == F.lit(chosen_b))
        & (F.col("rows_per_band") == F.lit(chosen_r)))


@register(
    "q_token_fertility",
    # per-language corpus accounting: ws-token parity mirrors tokens_ws
    # (trim → \s+ split → drop empties), BPE-ish tokens mirror TOKEN_REGEX,
    # bytes via octet_length; ratios derived in an outer select so both
    # engines divide the same aggregated values.
    "WITH a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "  CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
    "    x -> x <> ''))) AS BIGINT) AS ws_tokens, "
    f"  CAST(sum(len(regexp_extract_all(text, '{TOKEN_REGEX}'))) AS BIGINT) "
    "    AS bpe_tokens, "
    "  CAST(sum(strlen(text)) AS BIGINT) AS n_bytes "  # DuckDB bytes-of-VARCHAR (octet_length is BLOB-only there)
    "  FROM documents GROUP BY lang) "
    # nullif guards: a language whose texts produce ZERO tokens must be
    # NULL in BOTH engines — unguarded, Spark's non-ANSI Divide yields
    # NULL but DuckDB's ieee double division yields Infinity (ADVICE r10)
    "SELECT lang, n_docs, ws_tokens, bpe_tokens, n_bytes, "
    "  round(CAST(n_bytes AS DOUBLE) / nullif(bpe_tokens, 0), 6) "
    "    AS bytes_per_token, "
    "  round(CAST(bpe_tokens AS DOUBLE) / nullif(ws_tokens, 0), 6) "
    "    AS fertility "
    "FROM a",
)
def q_token_fertility(spark, sf):
    """Extension — tokenizer fertility accounting per language
    (functions/text.token_count_regex; the bytes-per-token /
    tokens-per-word tables every pretraining-data budget starts from,
    cf. the reference's token-count verification in
    gutenberg/create_excerpt.py:101-104 generalized corpus-wide):
    per-lang document counts, whitespace-token and BPE-ish-token sums,
    byte sums, and the derived bytes_per_token / fertility ratios.
    One map-side-combinable groupBy on a low-cardinality key; the scan
    reads (lang, text) only — nothing else shuffles."""
    from metadata_enhanced_pretrain_datapipeline_spark.functions.text import token_count_regex

    d = load(spark, sf, "documents")
    per = d.select(
        "lang",
        F.size(tokens_ws(F.col("text"))).alias("ws"),
        token_count_regex(F.col("text")).alias("bpe"),
        F.octet_length("text").alias("b"))
    agg = per.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws").alias("ws_tokens"),
        F.sum("bpe").alias("bpe_tokens"),
        F.sum("b").alias("n_bytes"))
    # try_divide + nullif in the oracle guard the zero-token language
    # identically in both engines (unguarded: Spark NULL vs DuckDB
    # Infinity — a latent oracle-parity mismatch, ADVICE r10)
    return agg.select(
        "lang", "n_docs", "ws_tokens", "bpe_tokens", "n_bytes",
        F.round(F.try_divide(F.col("n_bytes").cast("double"),
                             F.col("bpe_tokens")), 6)
         .alias("bytes_per_token"),
        F.round(F.try_divide(F.col("bpe_tokens").cast("double"),
                             F.col("ws_tokens")), 6)
         .alias("fertility"))


@register(
    "q_quality_retention_curve",
    # threshold sweep over the stopword-ratio quality score: bucket by
    # floor(ns*20/nt) — integer-exact cross-engine (the ns/nt double
    # round-trip could flip a boundary bucket) — then every threshold
    # k/20 sums the buckets at or above it via a tiny k>=bkt join.
    "WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array("
    "    trim(text), '\\s+'), x -> x <> '') AS ws FROM documents), "
    "s AS (SELECT doc_id, len(ws) AS nt, "
    f"  len(list_filter(ws, x -> x IN {str(tuple(sorted(STOPWORDS)))})) AS ns "
    "  FROM tok), "
    "b AS (SELECT least(CAST(floor((ns * 20.0) / nt) AS INT), 19) AS bkt, "
    "  CAST(count(*) AS BIGINT) AS nd, CAST(sum(nt) AS BIGINT) AS toks "
    "  FROM s WHERE nt > 0 GROUP BY 1), "
    "t AS (SELECT unnest(range(0, 20)) AS k) "
    "SELECT round(k / 20.0, 2) AS threshold, "
    "  CAST(coalesce(sum(nd), 0) AS BIGINT) AS docs_retained, "
    "  CAST(coalesce(sum(toks), 0) AS BIGINT) AS tokens_retained "
    "FROM t LEFT JOIN b ON b.bkt >= t.k GROUP BY k",
)
def q_quality_retention_curve(spark, sf):
    """Extension — quality-threshold retention curve: for each candidate
    stopword-ratio threshold t ∈ {0.00, 0.05, …, 0.95}, how many
    documents and tokens survive a `score >= t` gate. This is the
    calibration table an operator reads BEFORE choosing the reference's
    toxicity/quality thresholds (threshold_determination.py's quantile
    estimation answers "what threshold keeps X%"; this answers the
    inverse "what does threshold t cost") — sweeping 20 gates costs one
    corpus pass, not 20.

    Scale: score buckets are integer-exact (floor(ns*20/nt) on longs —
    no double boundary flips cross-engine); the corpus collapses to a
    ≤20-row bucket table in one map-side-combinable aggregation, and the
    sweep is a 20x20 range join on that tiny table. Empty documents
    (nt=0) have no score and are excluded from every gate by
    construction."""
    d = load(spark, sf, "documents")
    stop = F.array([F.lit(w) for w in _STOP])
    # bind the token array once — unbound expression args re-evaluate
    # per reference inside a projection (the r10 gopher 54x lesson)
    t = d.select(tokens_ws(F.col("text")).alias("ws"))
    s = t.select(
        F.size("ws").alias("nt"),
        F.size(F.filter(F.col("ws"), lambda x: F.array_contains(stop, x)))
         .alias("ns")).where(F.col("nt") > 0)
    b = s.select(
        F.least(F.floor((F.col("ns").cast("long") * 20) / F.col("nt")),
                F.lit(19)).cast("int").alias("bkt"),
        "nt").groupBy("bkt").agg(
        F.count("*").alias("nd"), F.sum("nt").alias("toks"))
    ks = spark.range(0, 20).select(F.col("id").cast("int").alias("k"))
    return (ks.join(F.broadcast(b), b.bkt >= ks.k, "left")
              .groupBy("k")
              .agg(F.coalesce(F.sum("nd"), F.lit(0)).alias("docs_retained"),
                   F.coalesce(F.sum("toks"), F.lit(0)).alias("tokens_retained"))
              .select(F.round(F.col("k") / 20.0, 2).alias("threshold"),
                      "docs_retained", "tokens_retained"))


from metadata_enhanced_pretrain_datapipeline_spark.functions.text import (  # noqa: E402
    MOJIBAKE_REGEX,
    mojibake_count,
)

#: planted encoding damage: the cp1252 mis-decoding of this clean tail's
#: UTF-8 bytes (generated, not typed — every byte exact; no quotes, SQL-safe)
_MOJI_CLEAN = " café — naïve «ok»"
_MOJI_TAIL = _MOJI_CLEAN.encode("utf-8").decode("cp1252")


@register(
    "q_mojibake_scan",
    # the derived corpus plants the double-encoded tail on every 7th doc;
    # detection is the same fixed alternation in both engines (signatures
    # are metacharacter-free and mutually exclusive per start position)
    "WITH d AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 "
    f"  THEN text || '{_MOJI_TAIL}' ELSE text END AS t FROM documents) "
    f"SELECT doc_id, CAST(len(regexp_extract_all(t, '{MOJIBAKE_REGEX}')) "
    "  AS INT) AS moji_hits, "
    f"len(regexp_extract_all(t, '{MOJIBAKE_REGEX}')) > 0 AS flagged FROM d",
)
def q_mojibake_scan(spark, sf):
    """Extension — encoding-damage detection (functions/text.
    mojibake_count; the ftfy sequence-table heuristic as one JVM
    regexp): count UTF-8-bytes-mis-decoded-as-cp1252 signatures ('é' →
    'Ã©', '—' → 'â€”') and flag documents for repair. The corpus-health
    scan every web-crawl ingest runs before text operators — damaged
    docs corrupt shingles, dedup digests, and language-ID alike.
    Fixture plants the damage on every 7th doc (5 signature hits);
    detection is one codegen regexp projection over the scan — no
    shuffle, no Python."""
    d = load(spark, sf, "documents")
    planted = F.when(F.col("doc_id") % 7 == 0,
                     F.concat(F.col("text"), F.lit(_MOJI_TAIL))) \
               .otherwise(F.col("text"))
    # bind the derived text once (unbound args re-evaluate per reference)
    t = d.select("doc_id", planted.alias("t"))
    hits = t.select("doc_id", mojibake_count(F.col("t")).alias("moji_hits"))
    return hits.select("doc_id", "moji_hits",
                       (F.col("moji_hits") > 0).alias("flagged"))


#: mixed-document prefix for the repair fixture: clean non-ASCII (an
#: accented Latin char + CJK) that makes the WHOLE-STRING transcode
#: impossible, forcing the per-segment path (ADVICE r10)
_MOJI_MIXED = " résumé 漢字"


@register(
    "q_mojibake_repair",
    # the oracle IS the repair contract: a planted tail must come back as
    # its clean form, untouched docs byte-identical — this hash-checks the
    # real cp1252→UTF-8 transcode in the UDF against the closed form.
    # Every 14th doc is MIXED (clean é/CJK beside the damage): the
    # whole-string transcode fails there and the per-segment sequence
    # table must repair the spans while the clean chars survive.
    f"SELECT doc_id, CASE WHEN doc_id % 14 = 0 "
    f"  THEN text || '{_MOJI_MIXED}' || '{_MOJI_CLEAN}' "
    f"WHEN doc_id % 7 = 0 THEN text || '{_MOJI_CLEAN}' "
    "ELSE text END AS text_fixed FROM documents",
)
def q_mojibake_repair(spark, sf):
    """Extension — gated mojibake repair (functions/text.fix_mojibake_udf):
    re-encode flagged text through the codec the damage came through
    (cp1252 first — curly quotes need its 0x80-0x9F row — then latin-1)
    and re-decode as UTF-8; documents MIXING damage with clean
    non-ASCII (the common case on real crawls — ADVICE r10) fail the
    whole-string transcode and repair PER SEGMENT via the generated
    sequence table, clean chars untouched. FAIL-CLOSED for the rest:
    clean accented text survives because its cp1252 bytes are not valid
    UTF-8 and no signature matches; pure ASCII round-trips to itself.
    The gate is a FILTER-SPLIT-UNION (functions/text.repair_mojibake):
    only the `mojibake_count > 0` branch pays the Arrow round-trip —
    the naive CASE-wrapped UDF evaluated Python over EVERY row because
    ExtractPythonUDFs pulls the UDF out unconditionally (r11 review
    finding, plan-verified; at 1/7 damaged this paid 7x the necessary
    Arrow cost). Oracle states the closed-form repaired corpus for
    BOTH repair paths (every 14th doc is mixed)."""
    from metadata_enhanced_pretrain_datapipeline_spark.functions.text import repair_mojibake

    d = load(spark, sf, "documents")
    planted = F.when(F.col("doc_id") % 14 == 0,
                     F.concat(F.col("text"), F.lit(_MOJI_MIXED),
                              F.lit(_MOJI_TAIL))) \
               .when(F.col("doc_id") % 7 == 0,
                     F.concat(F.col("text"), F.lit(_MOJI_TAIL))) \
               .otherwise(F.col("text"))
    t = d.select("doc_id", planted.alias("t"))
    return repair_mojibake(t, "t", "text_fixed").select("doc_id",
                                                        "text_fixed")


#: augmented corpus for the edit-distance fixture: every 5th doc gets a
#: 6-edit twin (' zz zz' appended — two new trailing tokens leave most
#: shingles, hence most bands, intact, so LSH surfaces the pair).
#: Offset 10^10, matching the edit-distance scale probe: SCALE.md already
#: prices 7.5M-doc corpora, where a 10^7 offset would collide twin ids
#: with real doc_ids and fabricate pairs in the text equi-joins
#: (ADVICE r10) — fixture and probe now share the collision-safe scheme
_EDIT_AUG_CTE = (
    "aug AS (SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 10000000000 AS doc_id, text || ' zz zz' AS text "
    "FROM documents WHERE doc_id % 5 = 0)")


@register(
    "q_edit_distance_near_dup",
    "WITH " + _EDIT_AUG_CTE + ", "
    + _minhash_bands_sql(8, 4, 3, "", src="aug") + ", "
    "kept AS (SELECT band, key FROM bands GROUP BY band, key "
    "  HAVING count(*) BETWEEN 2 AND 64), "
    "el AS (SELECT b.doc_id, b.band, b.key FROM bands b "
    "  JOIN kept USING (band, key)), "
    "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
    "  FROM el a JOIN el b ON a.band = b.band AND a.key = b.key "
    "  AND a.doc_id < b.doc_id), "
    "lev AS (SELECT id_a, id_b, levenshtein(ta.text, tb.text) AS d "
    "  FROM cand JOIN aug ta ON ta.doc_id = cand.id_a "
    "  JOIN aug tb ON tb.doc_id = cand.id_b) "
    "SELECT id_a, id_b, CAST(d AS INT) AS edit_distance FROM lev "
    "WHERE d <= 8",
)
def q_edit_distance_near_dup(spark, sf):
    """Extension — edit-distance near-duplicate pairs
    (operators/dedup.edit_distance_pairs): MinHash-LSH candidates,
    EXACT thresholded-Levenshtein verify — the precise complement of
    Jaccard resemblance (blind to edit count) and winnowing (localized
    runs). Fixture plants a 6-edit twin (' zz zz') on every 5th doc;
    exact-duplicate families in the raw corpus surface as distance-0
    pairs. The oracle replays the full chain: augmented union → md5
    shingle minhash → banding → capped buckets → DuckDB levenshtein.

    Scale: text travels only for candidate ids (two equi-joins after
    the one (band,key) exchange); the verify is Spark's banded-DP
    ``levenshtein(a, b, k)`` — O(k·min(m,n)) with early exit, -1 past
    the threshold, so rejected pairs cost one band of DP, not a full
    matrix."""
    d = load(spark, sf, "documents").select("doc_id", "text")
    twins = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10_000_000_000).alias("doc_id"),
        F.concat("text", F.lit(" zz zz")).alias("text"))
    # the md5 signature chain rides the scan stage: testdata/replica
    # document tables ship in O(10) files, which would serialize the
    # expensive stage on a 32-core runner (the pHash single-file lesson)
    aug = d.unionAll(twins).repartition(32)
    return dedup.edit_distance_pairs(
        aug, max_edits=8, num_hashes=8, bands=4,
        max_bucket_size=64, portable=True)


_CM_HASH = md5_hash64_sql(
    "COALESCE(CAST(k AS VARCHAR), '␀') || '_' || CAST(d AS VARCHAR)")
_CM_HASH_TOP = md5_hash64_sql(
    "COALESCE(CAST(top.k AS VARCHAR), '␀') || '_' || CAST(dd.d AS VARCHAR)")


@register(
    "q_countmin_heavy",
    # exact replay: same md5 salted-hash cells, same 4x64 table, same
    # min-over-depths estimate — the ESTIMATES are hash-checked, not just
    # the one-sided bound
    "WITH tok AS (SELECT unnest(list_filter(regexp_split_to_array("
    "    trim(text), '\\s+'), x -> x <> '')) AS k FROM documents), "
    "ex AS (SELECT k, CAST(count(*) AS BIGINT) AS exact_cnt "
    "  FROM tok GROUP BY k), "
    "top AS (SELECT k, exact_cnt FROM ex "
    "  ORDER BY exact_cnt DESC, k ASC LIMIT 20), "
    "dd AS (SELECT unnest(range(0, 4)) AS d), "
    f"sk AS (SELECT d, {_CM_HASH} % 64 AS bucket, "
    "  CAST(count(*) AS BIGINT) AS cnt FROM tok CROSS JOIN dd "
    "  GROUP BY 1, 2), "
    "est AS (SELECT top.k, min(cnt) AS est_cnt FROM top CROSS JOIN dd "
    f"  JOIN sk ON sk.d = dd.d AND sk.bucket = {_CM_HASH_TOP} % 64 "
    "  GROUP BY top.k) "
    "SELECT top.k AS token, top.exact_cnt, est.est_cnt "
    "FROM top JOIN est ON est.k = top.k",
)
def q_countmin_heavy(spark, sf):
    """Extension — Count-Min sketch heavy-hitter estimation
    (operators/aggregates.countmin_sketch/_estimate; Cormode &
    Muthukrishnan 2005): the corpus token stream collapses map-side
    into a 4×64 counter table (shuffle moves ≤256 rows per task
    regardless of corpus size; shard sketches merge by cell-wise add),
    then the 20 true-heaviest tokens are estimated back from it beside
    their exact counts. The deliberately narrow width makes collision
    overcounts VISIBLE — est_cnt ≥ exact_cnt always, equality only
    when all 4 cells are collision-free — and the md5 cell hash makes
    the exact estimates engine-portable, so the oracle checks the
    estimates themselves, not just the bound. The exact wordcount here
    exists to grade the sketch; production asks the sketch precisely
    to avoid it."""
    # explode + 4x md5 ride the scan stage — repartition so a low
    # source file count cannot serialize it (the pHash single-file lesson)
    d = load(spark, sf, "documents").repartition(32)
    tok = d.select(F.explode(tokens_ws(F.col("text"))).alias("k"))
    exact = tok.groupBy("k").agg(F.count("*").alias("exact_cnt"))
    # materialize the 20-row top frame: it feeds BOTH the estimate probe
    # and the final join, and without the boundary Catalyst re-runs the
    # whole wordcount per consumer (45.3s -> 4.5s at sf1.0 with the
    # repartition above — SCALE.md r10 session 3)
    top = materialize(
        exact.orderBy(F.col("exact_cnt").desc(), F.col("k").asc()).limit(20),
        eager=False)
    sk = aggregates.countmin_sketch(tok, "k", width=64, depth=4)
    est = aggregates.countmin_estimate(sk, top.select("k"), "k",
                                       width=64, depth=4)
    return top.join(est, "k").select(
        F.col("k").alias("token"), "exact_cnt", "est_cnt")


#: Luhn fixture: a VALID Visa test number and its off-by-one INVALID twin
_CC_VALID = "4539 1488 0343 6467"
_CC_INVALID = "4539 1488 0343 6468"
_CC_PLANT = (f"CASE WHEN doc_id % 6 = 0 THEN text || ' card {_CC_VALID} ok' "
             f"WHEN doc_id % 6 = 3 THEN text || ' card {_CC_INVALID} ok' "
             "ELSE text END")


@register(
    "q_pii_luhn",
    # positional checksum replay: digits list, right-distance parity via
    # len(dl) - i, doubled-digit folding, sum % 10
    f"WITH d AS (SELECT doc_id, {_CC_PLANT} AS t FROM documents), "
    "cands AS (SELECT doc_id, unnest(regexp_extract_all(t, "
    r"  '\b\d(?:[ -]?\d){12,18}\b')) AS candidate FROM d), "
    r"dig AS (SELECT doc_id, candidate, regexp_extract_all(candidate, '\d') "
    "  AS dl FROM cands), "
    "pos AS (SELECT doc_id, candidate, dl, "
    "  unnest(range(1, len(dl) + 1)) AS i FROM dig), "
    "v AS (SELECT doc_id, candidate, CAST(dl[i] AS INT) AS dgt, "
    "  (len(dl) - i) AS r FROM pos), "
    "s AS (SELECT doc_id, candidate, sum(CASE WHEN r % 2 = 1 THEN "
    "  CASE WHEN dgt * 2 > 9 THEN dgt * 2 - 9 ELSE dgt * 2 END "
    "  ELSE dgt END) AS total FROM v GROUP BY 1, 2) "
    "SELECT doc_id, candidate, total % 10 = 0 AS luhn_valid FROM s",
)
def q_pii_luhn(spark, sf):
    """Extension — card-number candidate detection with Luhn validation
    (operators/formatters.cc_candidates/_luhn_ok, extending the
    reference's regex-only PII family pii_formatter.py:63-70 with the
    checksum gate production PII passes require — a 16-digit order id
    is NOT a card, and masking it destroys data): every card-shaped
    digit run beside its ISO/IEC 7812 verdict. Fixture plants a valid
    Visa test number on doc_id%6==0 and its off-by-one invalid twin on
    %6==3; the oracle replays the digit fold positionally. Pure codegen
    array expressions over the scan; explode emits only docs with
    candidates."""
    d = load(spark, sf, "documents")
    planted = F.when(F.col("doc_id") % 6 == 0,
                     F.concat("text", F.lit(f" card {_CC_VALID} ok"))) \
               .when(F.col("doc_id") % 6 == 3,
                     F.concat("text", F.lit(f" card {_CC_INVALID} ok"))) \
               .otherwise(F.col("text"))
    t = d.select("doc_id", planted.alias("t"))
    ex = t.select("doc_id",
                  F.explode(formatters.cc_candidates(F.col("t")))
                   .alias("candidate"))
    return ex.select("doc_id", "candidate",
                     formatters._luhn_ok(F.col("candidate"))
                              .alias("luhn_valid"))


@register(
    "q_pii_cc_scrub",
    # the oracle IS the masking contract: valid plants come back tagged,
    # the invalid twin byte-identical
    "SELECT doc_id, CASE WHEN doc_id % 6 = 0 THEN text || ' card <cc-pii> ok' "
    f"WHEN doc_id % 6 = 3 THEN text || ' card {_CC_INVALID} ok' "
    "ELSE text END AS text_scrubbed FROM documents",
)
def q_pii_cc_scrub(spark, sf):
    """Extension — Luhn-gated card masking (formatters.cc_pii_scrub):
    candidates that pass the checksum are literal-replaced with
    <cc-pii>; failures stay byte-identical. The closed-form oracle
    hash-checks the whole extract→validate→fold-replace chain. One
    codegen projection — no shuffle, no Python; composes before the
    email→ip→iban chain like any other pass."""
    d = load(spark, sf, "documents")
    planted = F.when(F.col("doc_id") % 6 == 0,
                     F.concat("text", F.lit(f" card {_CC_VALID} ok"))) \
               .when(F.col("doc_id") % 6 == 3,
                     F.concat("text", F.lit(f" card {_CC_INVALID} ok"))) \
               .otherwise(F.col("text"))
    t = d.select("doc_id", planted.alias("t"))
    return t.select("doc_id",
                    formatters.cc_pii_scrub(F.col("t")).alias("text_scrubbed"))


# ===========================================================================
# round-11: the composed crawl front door (VERDICT r10 #2) — raw WARC
# response records -> HTTP body -> HTML extraction -> mojibake repair ->
# Gopher keep -> PII (email/ip/iban + Luhn card) -> exact dedup ->
# MinHash near-dedup, replayed in ONE oracle. Composition is where this
# repo's last three real bugs lived (trigger explosion r10, AQE-in-cache
# r9, countmin boundary r10) — the chain the reference framework's
# pipelines actually start from (datatrove WarcReader -> trafilatura ->
# quality filters; the reference consumes that output at
# pipelines/fineweb/main.py:97-99).
# ===========================================================================

#: the per-doc crawl-page BODY (inside the <p> block), identical order on
#: both sides: base text, mojibake plant (%7 — oracle states the CLEAN
#: form, the repair contract itself is hash-checked by q_mojibake_repair),
#: an email plant (%6=0), a Luhn-valid card plant (%6=3), an ellipsis
#: junk tail (%9 — its line then FAILS the Gopher ellipsis rule unless a
#: near-twin's ' zz zz' suffix rescues it), and the near-twin suffix.
_CRAWL_BODY_SQL = (
    "d.text"
    f" || CASE WHEN d.doc_id % 7 = 0 THEN '{_MOJI_CLEAN}' ELSE '' END"
    " || CASE WHEN d.doc_id % 6 = 0 THEN ' mail user' || "
    "CAST(d.doc_id AS VARCHAR) || '@example.com ok' ELSE '' END"
    f" || CASE WHEN d.doc_id % 6 = 3 THEN ' card {_CC_VALID} ok' ELSE '' END"
    " || CASE WHEN d.doc_id % 9 = 0 THEN ' more ...' ELSE '' END"
    " || CASE WHEN b.is_twin = 2 THEN ' zz zz' ELSE '' END"
)

_CRAWL_ORACLE = (
    # corpus = originals + byte-identical exact twins (%11, rid+2e10) +
    # 2-token near twins (%13, rid+1e10 — collision-safe offsets, the
    # edit-distance lesson)
    "WITH base AS ("
    "SELECT doc_id AS rid, doc_id AS did, 0 AS is_twin FROM documents "
    "UNION ALL SELECT doc_id + 20000000000, doc_id, 1 FROM documents "
    "  WHERE doc_id % 11 = 0 "
    "UNION ALL SELECT doc_id + 10000000000, doc_id, 2 FROM documents "
    "  WHERE doc_id % 13 = 0), "
    # the extraction contract (q_html_extract): h1 + <p> + footer blocks
    # joined by newlines, head junk gone, &amp; decoded
    "pg AS (SELECT b.rid, "
    "array_to_string(list_slice(string_split(d.text, ' '), 1, 3), ' ') "
    f"|| chr(10) || {_CRAWL_BODY_SQL} || chr(10) || 'footer & nav' AS t "
    "FROM base b JOIN documents d ON d.doc_id = b.did), "
    # the Gopher keep replay (q_gopher_quality's contract verbatim)
    "w AS (SELECT rid, t, "
    "list_filter(regexp_split_to_array(trim(t), '\\s+'), x -> x <> '') "
    "  AS ws, "
    "list_filter(list_transform(string_split(t, chr(10)), l -> trim(l)), "
    "  l -> l <> '') AS ls FROM pg), "
    "g AS (SELECT rid, t, ws, "
    "round(len(list_filter(ws, x -> regexp_matches(x, '\\p{L}'))) "
    "  / len(ws), 6) AS af, "
    "round(len(list_filter(ls, l -> regexp_matches(l, '^(- |\\* |•)'))) "
    "  / len(ls), 6) AS bf, "
    "round(len(list_filter(ls, l -> regexp_matches(l, '(\\.\\.\\.|…)$'))) "
    "  / len(ls), 6) AS ef, "
    "round((len(regexp_extract_all(t, '#')) "
    "  + len(regexp_extract_all(t, '\\.\\.\\.|…'))) / len(ws), 6) AS sr "
    "FROM w), "
    "kp AS (SELECT rid, t FROM g WHERE COALESCE("
    "len(ws) >= 20 AND len(ws) <= 100000 "
    "AND round(list_sum(list_transform(ws, x -> len(x))) / len(ws), 6) "
    "  BETWEEN 3.0 AND 10.0 "
    f"AND len(list_filter(ws, x -> x IN {str(tuple(sorted(STOPWORDS)))})) "
    "  >= 2 "
    "AND af >= 0.8 AND bf <= 0.9 AND ef <= 0.3 AND sr <= 0.1, false)), "
    # PII: the email->ip->iban regexp passes replayed live (incidental
    # matches included), the card closed-form (\b-anchored — the corpus
    # has no incidental Luhn-valid candidates, proven by q_pii_cc_scrub)
    f"scr AS (SELECT rid, regexp_replace({_pii_scrub_sql('t')}, "
    f"'\\b{_CC_VALID}\\b', '<cc-pii>', 'g') AS txt FROM kp), "
    # exact dedup: min-rid row per normalized (lower/collapse-ws/trim) key
    "dn AS (SELECT rid, txt, row_number() OVER (PARTITION BY "
    "lower(trim(regexp_replace(txt, '\\s+', ' ', 'g'))) ORDER BY rid) "
    "  AS rn FROM scr), "
    "dd AS (SELECT rid AS doc_id, txt AS text FROM dn WHERE rn = 1), "
    # MinHash-LSH near-dedup over the cleaned corpus (8 hashes, 4 bands)
    + _minhash_bands_sql(8, 4, 3, "", src="dd") + ", "
    "bk AS (SELECT band, key FROM bands GROUP BY band, key "
    "  HAVING count(*) BETWEEN 2 AND 64), "
    "el2 AS (SELECT b2.doc_id, b2.band, b2.key FROM bands b2 "
    "  JOIN bk USING (band, key)), "
    "drops AS (SELECT DISTINCT y.doc_id FROM el2 x JOIN el2 y "
    "  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id) "
    "SELECT doc_id, text FROM dd "
    "WHERE doc_id NOT IN (SELECT doc_id FROM drops)"
)


def _build_crawl_fixture(spark, sf: str, tag: str) -> str:
    """Write the crawl fixture: every document becomes a real HTML page
    (head junk, h1 from its first 3 words, the text with mojibake /
    email / Luhn-card / ellipsis-junk plants in a <p>, an entity-bearing
    footer), wrapped in a WARC response record (real HTTP bytes) —
    plus byte-identical exact twins (%11) and 2-token near twins (%13,
    collision-safe 1e10/2e10 id offsets). 32 build tasks -> 32
    .warc/.warc.gz files (half multi-member gzip) so neither the
    page-encode stage nor the read scan serializes at decade scales.
    Returns the scratch dir; shared by the batch front door and its
    streaming twin so both ingest IDENTICAL bytes."""
    import os
    import shutil

    from metadata_enhanced_pretrain_datapipeline_spark.sources import writers

    d = load(spark, sf, "documents").select("doc_id", "text")
    hdr = F.array_join(F.slice(F.split("text", " "), 1, 3), " ")
    body = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(_MOJI_TAIL))
         .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 6 == 0,
               F.concat(F.lit(" mail user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com ok"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 6 == 3,
               F.lit(f" card {_CC_VALID} ok")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 9 == 0,
               F.lit(" more ...")).otherwise(F.lit("")),
    )

    def page_of(b):
        return F.concat(
            F.lit("<html><head><title>junk title</title>"
                  "<script>var x = 1;</script></head><body><h1>"),
            hdr, F.lit("</h1><p>"), b,
            F.lit("</p><div>footer &amp; nav</div></body></html>"))

    rows = (
        d.select(F.col("doc_id").alias("rid"), page_of(body).alias("page"))
        .unionByName(d.filter(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 20_000_000_000).alias("rid"),
            page_of(body).alias("page")))
        .unionByName(d.filter(F.col("doc_id") % 13 == 0).select(
            (F.col("doc_id") + 10_000_000_000).alias("rid"),
            page_of(F.concat(body, F.lit(" zz zz"))).alias("page")))
        # hash the full rid, not rid % 32: hashing a 32-valued synthetic
        # key into 32 partitions collides (guide §2.5) — only ~20 of the
        # 32 build tasks got rows, so the WARC files were skewed 0-2x
        # and the stream's second micro-batch ran nearly empty (r13;
        # page content per rid is unchanged, so parse output and every
        # downstream result are identical)
        .repartition(32, F.col("rid")))

    scratch = _scratch_dir(sf, tag)
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch, exist_ok=True)

    def build(batches):
        import gzip
        import uuid

        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"n": pd.Series([], dtype="int64")})
                continue
            parts = [writers.warcinfo_record()]
            for rid, page in zip(pdf["rid"], pdf["page"]):
                parts.append(writers.warc_response_record(
                    f"https://example.com/{rid}",
                    "2026-01-01T00:00:00Z", page))
            gz = int(pdf["rid"].min()) % 2 == 0
            blob = (b"".join(gzip.compress(p) for p in parts) if gz
                    else b"".join(parts))
            name = os.path.join(
                scratch, f"{uuid.uuid4().hex}.warc" + (".gz" if gz else ""))
            with open(name, "wb") as f:
                f.write(blob)
            yield pd.DataFrame({"n": pd.Series([len(pdf)], dtype="int64")})

    rows.mapInPandas(build, "n long").agg(F.sum("n")).head()  # force build
    return scratch


def _crawl_curate(records):
    """The per-row curation chain shared by q_crawl_to_corpus and its
    streaming twin, applied to parsed WARC response records
    (url, content): HTTP body slice -> HTML extraction with mojibake
    repair FUSED into the same Python stage (one Arrow round-trip for
    both — a separate CASE-gated repair UDF does not actually gate,
    the r11 review finding; see extract_text_col) -> Gopher document
    keep -> PII scrub (email/ip/iban passes + the Luhn-gated card
    pass). Straight-line projection + filter — streamable, no
    shuffle, no state."""
    from metadata_enhanced_pretrain_datapipeline_spark.functions.text import (
        gopher_quality_keep,
    )
    from metadata_enhanced_pretrain_datapipeline_spark.operators.html_extract import (
        extract_text_col,
    )
    from metadata_enhanced_pretrain_datapipeline_spark.sources import readers

    parsed = records.select(
        F.regexp_extract("url", r"/(\d+)$", 1).cast("long").alias("doc_id"),
        readers.http_body_str(F.col("content")).alias("html"))
    repaired = parsed.select(
        "doc_id",
        extract_text_col(F.col("html"), fix_mojibake=True).alias("t1"))
    kept = repaired.filter(gopher_quality_keep(F.col("t1"), min_words=20))
    return kept.select(
        "doc_id",
        formatters.cc_pii_scrub(formatters.pii_scrub(F.col("t1")))
                  .alias("text"))


@register("q_crawl_to_corpus", _CRAWL_ORACLE)
def q_crawl_to_corpus(spark, sf):
    """The crawl FRONT DOOR end to end (VERDICT r10 #2): real WARC
    response records (HTTP bytes in real .warc/.warc.gz files) ->
    read_warc -> http_body_str -> HTML extraction (head junk dropped,
    blocks to lines, entities decoded) -> gated mojibake repair ->
    Gopher document keep -> PII scrub (email/ip/iban passes + the
    Luhn-gated card pass) -> exact-text dedup (min-id per normalized
    key) -> MinHash-LSH near-dedup. One oracle replays the whole
    chain closed-form; any drift in header slicing, extraction,
    repair, a quality threshold, a PII pass, or the band keys breaks
    the hash. This is the entry path the reference framework's
    pipelines consume pre-extracted (datatrove WarcReader ->
    trafilatura; pipelines/fineweb/main.py:97-99) — here it is ONE
    composed Spark plan.

    Scale: parallelism unit is the WARC file (a crawl ships 10^5+
    segments); the fixture writes 32 files and the read repartitions
    to 32 (the session-3 low-file-count rule) — the
    extract/repair/quality/PII chain (_crawl_curate) is a
    straight-line per-row stage, no shuffle until the exact-dedup key
    exchange. materialize() truncates lineage before the corpus is
    consumed twice (band generation + the anti-join return — the r7
    LeftAnti-through-Union lesson); near-dedup moves (band, key)
    longs, never text. Decade row: 10.1 -> 35.4s (3.5x, SCALE.md r11)."""
    from metadata_enhanced_pretrain_datapipeline_spark.sources import readers

    scratch = _build_crawl_fixture(spark, sf, "crawl")
    raw = readers.read_warc(spark, scratch).repartition(32)
    scrub = _crawl_curate(raw)
    corpus = materialize(dedup.dedup_exact_text(scrub), eager=False)
    return dedup.minhash_dedup(
        corpus, num_hashes=8, bands=4, shingle_n=3,
        max_bucket_size=64, portable=True).select("doc_id", "text")


@register("q_stream_crawl_ingest", _CRAWL_ORACLE)
def q_stream_crawl_ingest(spark, sf):
    """The crawl front door CONTINUOUS (streaming twin of
    q_crawl_to_corpus, same oracle verbatim — the batch-parity
    contract every stream query in this repo carries): WARC segments
    arrive as a binaryFile STREAM (2 micro-batches under
    maxFilesPerTrigger=16 over the 32-file fixture), each micro-batch
    runs the identical parse + curation chain (parse_warc_records and
    _crawl_curate are batch/stream agnostic) and lands curated
    (doc_id, text) rows through the transactional file sink
    (exactly-once: the sink manifest, not at-least-once appends —
    duplicate rows would change exact-dedup groups). Dedup then runs
    at splice time over the accumulated store — the monthly-splice
    pattern: per-row curation streams, corpus-wide dedup batches.

    Scale: a production ingest budgets micro-batches by FILES/BYTES
    per trigger (the availableNow trigger-per-file lesson, SCALE.md
    r10); the curation stage is stateless so failure recovery is pure
    checkpoint replay."""
    import shutil

    from metadata_enhanced_pretrain_datapipeline_spark.sources import readers

    scratch = _build_crawl_fixture(spark, sf, "stream_crawl")
    # sink + checkpoint live in their own scratch dir (atexit-cleaned
    # like every _scratch_dir; a bare sibling path would leak in /tmp)
    out = _scratch_dir(sf, "stream_crawl_out")
    store, ck = f"{out}/store", f"{out}/ck"
    for p in (store, ck):
        shutil.rmtree(p, ignore_errors=True)

    stream = (
        spark.readStream.format("binaryFile")
        .schema(readers.BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .load(scratch))
    curated = _crawl_curate(readers.parse_warc_records(stream))
    q = (curated.writeStream.format("parquet")
         .option("path", store)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()

    # NO repartition before the dedup (r13): dedup_exact_text's window
    # exchange re-shuffles the full row on the digest key anyway, so a
    # round-robin widen here was a second back-to-back text shuffle
    # (~0.4s at sf0.1, A/B row-identical); the store scan is already
    # file-per-sink-task wide and the normalization is map-side cheap.
    corpus = materialize(
        dedup.dedup_exact_text(spark.read.parquet(store)),
        eager=False)
    return dedup.minhash_dedup(
        corpus, num_hashes=8, bands=4, shingle_n=3,
        max_bucket_size=64, portable=True).select("doc_id", "text")


@register(
    "q_jpeg_roundtrip",
    # JPEG is LOSSY — the decoded sum is not closed-form like the
    # BMP/PNG/WAV roundtrips, so the oracle states the roundtrip
    # CONTRACT instead: exact dimensions, and the reconstruction error
    # bounded (measured worst over 600 ids: max 2, mean 0.38 — bounds
    # 8 / 2.0 leave 4-5x headroom; any entropy/IDCT/upsample bug blows
    # far past them, a wrong-dimension bug flips the shape columns).
    "SELECT doc_id, 24 AS width, 16 AS height, "
    "CAST(384 AS BIGINT) AS n_px, true AS err_bounded "
    "FROM documents WHERE doc_id % 20 = 2",
)
def q_jpeg_roundtrip(spark, sf):
    """Baseline JPEG codec roundtrip (operators/jpeg.py — the r10
    stretch item: the one format a real crawl actually dominates in,
    previously the last honest multimodal stub): per doc, synthesize a
    smooth 16x24 RGB gradient, ENCODE real baseline JFIF bytes (4:2:0
    chroma subsampling for even ids, 4:4:4 odd, restart markers every
    2 MCUs for ids % 3 == 0 — one fixture exercises subsampling,
    MCU padding, and the RSTn/DC-predictor-reset path), ship the
    binary through Arrow, DECODE with the pure stdlib+numpy baseline
    decoder (marker walk, stream-declared DQT/DHT tables, Huffman
    entropy decode, dequant+IDCT, chroma upsample), and emit the
    roundtrip contract: exact output dimensions and reconstruction
    error within the lossy bound. decode_image dispatches real JPEG
    bytes here (multimodal.py), so every downstream visual-dedup
    operator (dHash/pHash/letterbox) now prices REAL crawl bytes."""
    import numpy as np
    import pandas as pd

    from metadata_enhanced_pretrain_datapipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    d = load(spark, sf, "documents").filter(
        F.col("doc_id") % 20 == 2).select("doc_id")

    def roundtrip(batches):
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            out = []
            for did in ids:
                did = int(did)
                i = np.arange(16).reshape(16, 1, 1)
                j = np.arange(24).reshape(1, 24, 1)
                c = np.arange(3).reshape(1, 1, 3)
                px = (did % 97 + i * 3 + j * 2 + c * 5).astype(np.uint8)
                back = decode_jpeg(encode_jpeg(
                    px, quality=85, subsample=(did % 2 == 0),
                    restart_interval=(2 if did % 3 == 0 else 0)))
                err = np.abs(back.astype(np.int64) - px.astype(np.int64))
                out.append((did, back.shape[1], back.shape[0],
                            int(back.size // 3),
                            bool(err.max() <= 8 and err.mean() <= 2.0)))
            yield pd.DataFrame(out, columns=[
                "doc_id", "width", "height", "n_px", "err_bounded"])

    return d.mapInPandas(
        roundtrip,
        "doc_id long, width int, height int, n_px long, err_bounded boolean")


@register(
    "q_main_content",
    # per-block keep decisions replayed closed-form: nav + footer are
    # constant link-bars (always dropped — 18/13 chars, ~0.9 density);
    # the h1 and the article <p> keep iff their collapsed length >= 25
    # (density 0); the mixed paragraph is a constant KEEP (anchor 19
    # chars / 69 total = 0.275 <= 0.3). Kept blocks join with newlines
    # in document order. The oracle replays the extractor's WHITESPACE
    # COLLAPSE (trim + \\s+ -> ' ') on both the h1 and the article
    # block — scoring raw length() passes on a single-spaced fixture
    # but diverges the moment a corpus doc has doubled/leading
    # whitespace near the 25-char threshold (ADVICE r11).
    "WITH b AS (SELECT doc_id, "
    "trim(regexp_replace(array_to_string(list_slice(string_split(text, "
    "' '), 1, 3), ' '), '\\s+', ' ', 'g')) AS h1, "
    "trim(regexp_replace(text, '\\s+', ' ', 'g')) AS art "
    "FROM documents) "
    "SELECT doc_id, "
    "CASE WHEN length(h1) >= 25 THEN h1 || chr(10) ELSE '' END "
    "|| CASE WHEN length(art) >= 25 THEN art || chr(10) ELSE '' END "
    "|| 'Read the related article and the longer discussion that "
    "follows here' AS main_text FROM b",
)
def q_main_content(spark, sf):
    """Extension — MAIN-CONTENT extraction (operators/html_extract.
    html_main_content; Arc90 readability / Kohlschütter et al. 2010
    boilerpipe / trafilatura's core): segment the page into blocks at
    block-tag boundaries, keep blocks that are long enough AND not
    link-dominated (anchor chars / collapsed length <= 0.3) — the step
    that separates article text from nav bars, footers and sidebars,
    which plain extraction (q_html_extract) keeps. The fixture page
    wraps each doc in a constant link-bar nav, an h1 from its first 3
    words, the article <p>, a mixed paragraph whose density sits just
    under the threshold (0.275 — exercises the boundary), and a
    constant link footer; the oracle replays every block decision.
    Same Arrow scale shape as q_html_extract."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators.html_extract import (
        main_content_col,
    )

    # repartition(32): the per-row Python extraction must not serialize
    # on the O(10)-file testdata/replica scans (the session-3 rule)
    d = load(spark, sf, "documents").repartition(32)
    hdr = F.array_join(F.slice(F.split("text", " "), 1, 3), " ")
    page = F.concat(
        F.lit('<html><head><title>junk</title></head><body>'
              '<div><a href="#">Home</a> <a href="#">About</a> '
              '<a href="#">Contact</a></div><h1>'),
        hdr,
        F.lit('</h1><p>'), F.col("text"),
        F.lit('</p><p>Read <a href="#">the related article</a> and the '
              'longer discussion that follows here</p>'
              '<div><a href="#">Privacy</a> <a href="#">Terms</a></div>'
              '</body></html>'))
    return d.select("doc_id", main_content_col(page).alias("main_text"))


# ===========================================================================
# round-12: the MULTIMODAL crawl front door (VERDICT r11 #1) — the image
# twin of q_crawl_to_corpus: WARC response records whose bodies are real
# image bytes (JPEG/BMP/PNG, plus text/html decoys that must be routed
# away and an undecodable GIF that must pass through flagged) ->
# content-type routing -> HTTP body slice + decode + dHash in ONE Arrow
# stage -> within-crawl near-dup drop -> against-store drop. Composition
# is where this repo's last four real bugs lived (VERDICT r11).
# ===========================================================================

#: closed-form media pixels for the crawl-media fixture: a
#: multiplicative-hash pattern (NOT the linear gradient the other image
#: fixtures use) — JPEG q85 smoothing collapses linear-gradient dHashes
#: to hamming 0 across dids (measured r12), while hash-mixed pixels keep
#: every JPEG-involved pair far from the threshold (min measured 6
#: jpeg-jpeg / 16 jpeg-lossless over the sf0.1 did range;
#: tests/test_crawl_media.py pins the margin). Values < 199 so the +1 /
#: +17 twin edits never wrap uint8.
def _media_pixels(did: int, width: int):
    import numpy as np

    y = np.arange(16).reshape(16, 1, 1)
    x = np.arange(width).reshape(1, width, 1)
    c = np.arange(3).reshape(1, 1, 3)
    return (((did * 2654435761 + (y * width + x) * 40503 + c * 9719)
             % 8191) % 199)


def _media_blob(did: int) -> tuple[str, bytes]:
    """(format, original image bytes) for one crawl-media doc: format
    rotates by did % 3 — JPEG (16x24, q85, 4:2:0 for store-month ids),
    BMP, PNG (both 16x18)."""
    import numpy as np

    from metadata_enhanced_pretrain_datapipeline_spark.operators import multimodal
    from metadata_enhanced_pretrain_datapipeline_spark.operators.jpeg import encode_jpeg

    f = did % 3
    if f == 0:
        px = _media_pixels(did, 24).astype(np.uint8)
        return "jpeg", encode_jpeg(px, quality=85,
                                   subsample=(did % 20 == 2),
                                   restart_interval=0)
    px = _media_pixels(did, 18).astype(np.uint8)
    if f == 1:
        return "bmp", multimodal.encode_bmp(px)
    return "png", multimodal.encode_png(px)


def _interleave_refs(did: int) -> list:
    """The ordered <img src> reference list page ``did`` carries in the
    interleaved fixture — the SAME media ids the image records ship
    (plus a dangling ref that is never crawled), in the exact pos order
    the oracle's refs CTE numbers them."""
    refs = [f"m{did}_a"]
    if did % 3 == 0:
        refs.append(f"m{did}_r")
    if did % 4 == 2:
        refs.append(f"m{did}_x")
    if did % 3 != 0 and did % 4 == 2:
        refs.append(f"m{did}_p")
    if did % 3 != 0 and did % 4 == 0:
        refs.append(f"m{did}_e")
    if did % 30 == 2:
        refs.append(f"m{did}_u")
    refs.append(f"m{did}_missing")
    return refs


def _interleave_page(did: int) -> str:
    """The interleaved page HTML: head junk the extractor must skip,
    an h1 + two paragraphs (closed-form text), the image refs
    distributed between the paragraphs in _interleave_refs order."""
    refs = _interleave_refs(did)
    tags = [f'<img src="https://img.example.com/{r}">' for r in refs]
    return (
        f"<html><head><title>t{did}</title><script>var x=1;"
        f"</script></head><body><h1>Interleaved page {did}</h1>"
        f"{tags[0]}<p>Lead paragraph about page {did} with several "
        f"plain words.</p>{''.join(tags[1:-1])}"
        f"<p>Closing remarks for page {did} end here.</p>{tags[-1]}"
        f"</body></html>")


def _build_media_crawl_fixture(spark, sf: str, tag: str,
                               interleave: bool = False) -> str:
    """WARC fixture for the multimodal front door: per selected doc
    (did % 10 == 2) a mixed crawl segment carries a text/html DECOY
    page (must be routed away by content-type), the original image
    `_a` (format by did % 3), and a twin ladder exercising every
    dedup decision: `_r` byte-different re-encode of the same JPEG
    (restart_interval 2 — identical quantized coefficients, identical
    decode, the provably-hamming-0 re-encode case), `_x` byte-exact
    copy (did % 4 == 2), `_p` +1-brightness lossless recompress
    (did % 4 == 2 — dHash-identical), `_e` +17-checkerboard content
    EDIT (did % 4 == 0 — must usually survive), and `_u` an
    undecodable image/gif body (did % 30 == 2 — passes through with
    NULL hash, never dropped). 32 build tasks -> 32 .warc/.warc.gz
    files, half multi-member gzip, like the text crawl fixture."""
    import os
    import shutil

    from metadata_enhanced_pretrain_datapipeline_spark.sources import writers

    d = (load(spark, sf, "documents").filter(F.col("doc_id") % 10 == 2)
         .select("doc_id").repartition(32, F.col("doc_id") % 32))

    scratch = _scratch_dir(sf, tag)
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch, exist_ok=True)

    def build(batches):
        import gzip
        import uuid

        import numpy as np
        import pandas as pd

        from metadata_enhanced_pretrain_datapipeline_spark.operators import multimodal
        from metadata_enhanced_pretrain_datapipeline_spark.operators.jpeg import (
            encode_jpeg,
        )

        date = "2026-02-01T00:00:00Z"

        def img(mid, body, sub):
            return writers.warc_binary_response_record(
                f"https://img.example.com/{mid}", date, body,
                f"image/{sub}")

        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"n": pd.Series([], dtype="int64")})
                continue
            parts = [writers.warcinfo_record()]
            for did in pdf["doc_id"].to_numpy():
                did = int(did)
                parts.append(writers.warc_response_record(
                    f"https://example.com/page{did}", date,
                    _interleave_page(did) if interleave else
                    f"<html><body><p>decoy page {did}</p></body></html>"))
                fmt, blob = _media_blob(did)
                parts.append(img(f"m{did}_a", blob, fmt))
                if did % 3 == 0:
                    px = _media_pixels(did, 24).astype(np.uint8)
                    parts.append(img(
                        f"m{did}_r",
                        encode_jpeg(px, quality=85,
                                    subsample=(did % 20 == 2),
                                    restart_interval=2), "jpeg"))
                if did % 4 == 2:
                    parts.append(img(f"m{did}_x", blob, fmt))
                if did % 3 != 0 and did % 4 == 2:
                    px = (_media_pixels(did, 18) + 1).astype(np.uint8)
                    parts.append(img(
                        f"m{did}_p",
                        multimodal.encode_png(px)
                        if did % 3 == 2 else multimodal.encode_bmp(px),
                        "png" if did % 3 == 2 else "bmp"))
                if did % 3 != 0 and did % 4 == 0:
                    yy = np.arange(16).reshape(16, 1, 1)
                    xx = np.arange(18).reshape(1, 18, 1)
                    cb = ((xx // 2) + (yy // 2)) % 2 == 0
                    px = (_media_pixels(did, 18)
                          + np.where(cb, 17, 0)).astype(np.uint8)
                    parts.append(img(
                        f"m{did}_e",
                        multimodal.encode_png(px)
                        if did % 3 == 2 else multimodal.encode_bmp(px),
                        "png" if did % 3 == 2 else "bmp"))
                if did % 30 == 2:
                    parts.append(img(
                        f"m{did}_u",
                        b"GIF89a" + did.to_bytes(4, "big") * 8, "gif"))
            gz = int(pdf["doc_id"].min()) % 20 == 2
            blob = (b"".join(gzip.compress(p) for p in parts) if gz
                    else b"".join(parts))
            name = os.path.join(
                scratch, f"{uuid.uuid4().hex}.warc" + (".gz" if gz else ""))
            with open(name, "wb") as f:
                f.write(blob)
            yield pd.DataFrame({"n": pd.Series([len(pdf)], dtype="int64")})

    d.mapInPandas(build, "n long").agg(F.sum("n")).head()  # force build
    return scratch


#: lossless-media dHash replay CTEs (the q_image_near_dup machinery over
#: the multiplicative-hash pixels): media universe `m`, per-pixel values
#: with the twin edits, 2x2 cell sums, gradient bits, signed 64-bit hash.
_MEDIA_DH_SQL = (
    "d AS (SELECT doc_id AS did FROM documents WHERE doc_id % 10 = 2), "
    "m AS (SELECT 'm' || did || '_a' AS media_id, did, did % 3 AS f, "
    "  0 AS edit FROM d "
    "UNION ALL SELECT 'm' || did || '_x', did, did % 3, 0 FROM d "
    "  WHERE did % 4 = 2 "
    "UNION ALL SELECT 'm' || did || '_p', did, did % 3, 1 FROM d "
    "  WHERE did % 3 <> 0 AND did % 4 = 2 "
    "UNION ALL SELECT 'm' || did || '_e', did, did % 3, 2 FROM d "
    "  WHERE did % 3 <> 0 AND did % 4 = 0), "
    "lm AS (SELECT * FROM m WHERE f <> 0), "
    "px AS (SELECT media_id, y.g AS y, x.g AS x, "
    "  ((did*2654435761 + (y.g*18 + x.g)*40503 + c.g*9719) % 8191) % 199 "
    "  + CASE WHEN edit = 1 THEN 1 "
    "         WHEN edit = 2 AND ((x.g//2)+(y.g//2)) % 2 = 0 THEN 17 "
    "         ELSE 0 END AS v "
    "  FROM lm, generate_series(0,15) y(g), generate_series(0,17) x(g), "
    "  generate_series(0,2) c(g)), "
    "cell AS (SELECT media_id, y//2 AS i, x//2 AS j, SUM(v) AS s "
    "  FROM px GROUP BY media_id, y//2, x//2), "
    "bits AS (SELECT l.media_id, l.i, l.j, "
    "  CASE WHEN r.s > l.s THEN 1 ELSE 0 END AS b "
    "  FROM cell l JOIN cell r ON r.media_id = l.media_id "
    "  AND r.i = l.i AND r.j = l.j + 1 WHERE l.j <= 7), "
    "dh AS (SELECT media_id, CAST(SUM(CASE WHEN i*8+j = 63 "
    "  THEN b * (-9223372036854775807 - 1) "
    "  ELSE b * (1::BIGINT << CAST(i*8+j AS INT)) END) AS BIGINT) "
    "  AS dhash FROM bits GROUP BY media_id)"
)

#: the survival-decision chain over _MEDIA_DH_SQL (within-crawl greedy
#: near-dup drop, against-store drop, the JPEG structural rules),
#: ending in `surv` = every DECODABLE surviving media row — shared by
#: q_crawl_to_media and q_crawl_interleaved (identical image records,
#: identical decisions).
_MEDIA_SURV_SQL = (
    # within-crawl greedy smaller-id-wins over lossless hashes
    "ldrop AS (SELECT DISTINCT b2.media_id FROM dh a2 JOIN dh b2 "
    "  ON a2.media_id < b2.media_id "
    "  AND bit_count(xor(a2.dhash, b2.dhash)) <= 2), "
    "lsurv AS (SELECT lm.media_id, lm.did, lm.f FROM lm "
    "  WHERE lm.media_id NOT IN (SELECT media_id FROM ldrop)), "
    # the seen store: last month's originals, did % 20 = 2 (lossless
    # hashes replayed; JPEG store hashes match only their own '_a')
    "sdh AS (SELECT h.dhash FROM dh h JOIN lm ON lm.media_id = h.media_id "
    "  WHERE right(h.media_id, 2) = '_a' AND lm.did % 20 = 2), "
    "lsurv2 AS (SELECT s.media_id, s.did, s.f FROM lsurv s "
    "  JOIN dh h ON h.media_id = s.media_id "
    "  WHERE NOT EXISTS (SELECT 1 FROM sdh "
    "    WHERE bit_count(xor(h.dhash, sdh.dhash)) <= 2)), "
    # JPEG survivors: '_a' beats its hamming-0 twins; store month drops
    "jsurv AS (SELECT media_id, did, f FROM m "
    "  WHERE f = 0 AND right(media_id, 2) = '_a' AND did % 20 <> 2), "
    "surv AS (SELECT * FROM lsurv2 UNION ALL SELECT * FROM jsurv)"
)


@register(
    "q_crawl_to_media",
    # survivors replayed closed-form. Lossless decisions replay the full
    # dHash arithmetic; JPEG decisions are STRUCTURAL (byte/re-encode
    # twins decode identically -> hamming 0 -> the greedy drop keeps
    # '_a'; identical quantized coefficients make the restart-interval
    # re-encode provably pixel-identical) and rest on the measured
    # separation margin every JPEG-involved cross pair clears
    # (tests/test_crawl_media.py::test_jpeg_hash_separation pins >2
    # over the whole sf0.1 did range).
    f"WITH {_MEDIA_DH_SQL}, {_MEDIA_SURV_SQL} "
    "SELECT media_id, CASE f WHEN 0 THEN 'jpeg' WHEN 1 THEN 'bmp' "
    "  ELSE 'png' END AS fmt, "
    "  CASE WHEN f = 0 THEN 24 ELSE 18 END AS width, 16 AS height "
    "FROM surv "
    "UNION ALL SELECT 'm' || did || '_u', 'unknown', "
    "  CAST(NULL AS INTEGER), CAST(NULL AS INTEGER) FROM d "
    "  WHERE did % 30 = 2",
)
def q_crawl_to_media(spark, sf):
    """The MULTIMODAL crawl front door (VERDICT r11 #1) — the image
    twin of q_crawl_to_corpus, ONE composed plan: real mixed WARC
    segments (page + image responses interleaved, like a crawl ships
    them) -> read_warc -> content-type ROUTING (readers.
    http_content_type, a 256-byte JVM prefix decode — html pages never
    reach the decode stage) -> HTTP body slice + magic sniff + decode
    (real JPEG/BMP/PNG codecs) + dHash fused in ONE Arrow stage
    (multimodal.warc_image_dhash — image bytes cross Arrow once,
    ~40-byte rows come out) -> within-crawl near-dup drop (Manku
    chunk-bucket pairs + greedy smaller-id-wins) -> against-store drop
    (last month's media live on as 8-byte hashes) -> surviving media
    with format and exact decode dims. Undecodable bodies (the GIF
    rows) pass through flagged with NULL dims — a crawl pipeline must
    not crash on, or silently drop, formats it can't price.

    Scale: parallelism unit is the WARC file; the only Python stage is
    the single fused decode+hash map; the hash frame is materialized
    ONCE and every downstream consumer (pair generation, the kept
    anti-join, the store probe) reuses it — no re-decode; the pair and
    store exchanges move (chunk, value) longs, never pixels. Reference
    parity: the reference treats media as opaque binary + metadata
    (SURVEY.md S7/A8 family); the decode/hash chain is this repo's
    extension surface."""
    scratch = _build_media_crawl_fixture(spark, sf, "crawl_media")
    return _media_survivor_frame(spark, sf, scratch)


def _media_survivor_frame(spark, sf, scratch):
    """The media half of the crawl front door, from a built WARC dir to
    the surviving media frame (media_id, fmt, width, height) — shared
    by q_crawl_to_media and q_crawl_interleaved (whose fixtures differ
    only in PAGE content; the image records are identical, so the
    survival decisions and their oracle CTEs are too)."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators import multimodal
    from metadata_enhanced_pretrain_datapipeline_spark.operators.dedup import (
        drop_near_duplicates,
        hamming_dedup_against,
        hamming_pairs_from_fingerprints,
    )
    from metadata_enhanced_pretrain_datapipeline_spark.sources import readers

    raw = readers.read_warc(spark, scratch).repartition(32)
    imgs = raw.filter(
        readers.http_content_type(F.col("content")).startswith("image/"))
    meta = materialize(
        multimodal.warc_image_dhash(imgs)
        .withColumn("media_id",
                    F.regexp_extract("url", r"/(m\d+_[a-z])$", 1))
        .select("media_id", "fmt", "width", "height", "dhash"),
        eager=False)

    fps = meta.filter(F.col("dhash").isNotNull())
    pairs = hamming_pairs_from_fingerprints(
        fps.select("media_id", "dhash"), "media_id", "dhash", 64,
        max_hamming=2, max_bucket_size=None)
    kept = drop_near_duplicates(meta, pairs, "media_id")

    # the seen store: hash last month's blobs through the SAME decode
    # path (8 bytes per stored image — blobs never cross months)
    store_docs = (load(spark, sf, "documents")
                  .filter(F.col("doc_id") % 20 == 2).select("doc_id")
                  .repartition(32))

    def build_store(batches):
        import pandas as pd

        for pdf in batches:
            rows = [(f"m{int(did)}_a", _media_blob(int(did))[1])
                    for did in pdf["doc_id"].to_numpy()]
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    store = multimodal.image_dhash(
        store_docs.mapInPandas(build_store,
                               "media_id string, content binary"),
        stub=False).select("dhash")

    kept_fps = kept.filter(F.col("dhash").isNotNull())
    surv = hamming_dedup_against(
        kept_fps.select("media_id", "dhash"), store, "media_id",
        "dhash", 64, max_hamming=2).select("media_id")
    dropped = kept_fps.select("media_id").join(surv, "media_id",
                                               "left_anti")
    return (kept.join(dropped, "media_id", "left_anti")
            .select("media_id", "fmt", "width", "height"))


@register(
    "q_jpeg_progressive",
    # the cross-mode contract is exact, not just bounded: both encoders
    # quantize identically, so decode(SOF2 progressive bytes) must be
    # PIXEL-IDENTICAL to decode(SOF0 baseline bytes) — one boolean per
    # doc replays it, alongside exact dims and a bytes-differ witness
    # (the progressive stream really is a different encoding, not an
    # aliased baseline stream).
    "SELECT doc_id, 24 AS width, 16 AS height, true AS has_sof2, "
    "true AS bytes_differ, true AS decode_equal "
    "FROM documents WHERE doc_id % 20 = 7",
)
def q_jpeg_progressive(spark, sf):
    """PROGRESSIVE JPEG decode (VERDICT r11 #2 — the honesty gap left
    by r11's baseline-only codec: a real crawl's image mix has a
    substantial SOF2 share): per doc, synthesize high-frequency pixels
    (the multiplicative-hash pattern), encode REAL progressive bytes —
    spectral selection (split luma AC bands) AND successive
    approximation (DC + two AC refinement precisions), 4:2:0 for
    ids % 2 == 0, per-scan restart markers for ids % 3 == 0 — decode
    through the coefficient-store path (operators/jpeg.py
    _decode_progressive_scan), and assert the exact cross-mode
    contract: identical pixels to the baseline encoding of the same
    array. Any desync in EOB runs, refinement correction bits, the
    tight-vs-padded block grids, or restart resets flips decode_equal
    somewhere in the id sweep. decode_image dispatches SOF2 via the
    same SOI sniff, so the whole visual-dedup family now prices
    progressive crawl bytes too."""
    import numpy as np
    import pandas as pd

    from metadata_enhanced_pretrain_datapipeline_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    d = load(spark, sf, "documents").filter(
        F.col("doc_id") % 20 == 7).select("doc_id")

    def roundtrip(batches):
        for pdf in batches:
            out = []
            for did in pdf["doc_id"].to_numpy():
                did = int(did)
                px = _media_pixels(did, 24).astype(np.uint8)
                kw = dict(quality=85, subsample=(did % 2 == 0),
                          restart_interval=(2 if did % 3 == 0 else 0))
                base = encode_jpeg(px, **kw)
                prog = encode_jpeg_progressive(px, **kw)
                back = decode_jpeg(prog)
                out.append((did, back.shape[1], back.shape[0],
                            b"\xff\xc2" in prog, prog != base,
                            bool(np.array_equal(back,
                                                decode_jpeg(base)))))
            yield pd.DataFrame(out, columns=[
                "doc_id", "width", "height", "has_sof2", "bytes_differ",
                "decode_equal"])

    return d.repartition(32).mapInPandas(
        roundtrip,
        "doc_id long, width int, height int, has_sof2 boolean, "
        "bytes_differ boolean, decode_equal boolean")


#: The shared language-ID fixture CTE (q_langid_ngram and
#: q_lang_routed_curation): per-doc 200-char window (offset
#: doc_id % 50) into the doc's language sample (lang = doc_id % 8 over
#: the sorted codes), every 97th doc emptied to exercise the
#: degenerate no-trigram path (doc absent from the output in BOTH
#: engines). References the classifier chain's own `samp` table.
_LANGID_DOC_CTE = (
    "docs AS (SELECT d.doc_id, CASE WHEN d.doc_id % 97 = 0 THEN '' "
    "ELSE substr(s.sample, CAST(1 + d.doc_id % 50 AS INT), 200) END "
    "AS text FROM documents d JOIN (SELECT lang, sample, "
    "CAST(row_number() OVER (ORDER BY lang) - 1 AS BIGINT) AS idx "
    "FROM samp) s ON d.doc_id % 8 = s.idx)"
)


def _langid_fixture_docs(spark, sf):
    """The Spark twin of _LANGID_DOC_CTE."""
    from metadata_enhanced_pretrain_datapipeline_spark.functions.langid import (
        LANG_SAMPLES,
    )

    samples = spark.createDataFrame(
        [(i, lang, s) for i, (lang, s)
         in enumerate(sorted(LANG_SAMPLES.items()))],
        "idx long, lang string, sample string")
    d = load(spark, sf, "documents").select("doc_id")
    return (
        d.join(F.broadcast(samples), d["doc_id"] % 8 == samples["idx"])
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 97 == 0, F.lit("")).otherwise(
                F.substring(
                    F.col("sample"),
                    (F.lit(1) + F.col("doc_id") % 50).cast("int"),
                    F.lit(200))).alias("text")))


def _langid_oracle() -> str:
    """Oracle for q_langid_ngram: the profile/score arithmetic replayed
    verbatim by langid_oracle_sql over the shared fixture CTE."""
    from metadata_enhanced_pretrain_datapipeline_spark.functions.langid import (
        langid_oracle_sql,
    )

    return langid_oracle_sql(_LANGID_DOC_CTE, k=64)


@register("q_langid_ngram", _langid_oracle())
def q_langid_ngram(spark, sf):
    """Character-n-gram language ID (VERDICT r11 stretch #6): the
    Cavnar-Trenkle out-of-place method as a closed-form DataFrame
    pipeline (functions/langid.py) — the statistical Latin-language
    router the reference world fills with fasttext-LID (reference
    `fasttext_annotator.py`; the model runtime stays a plug-in, this
    is the in-engine baseline). Completes the routing stack:
    script_fractions routes writing systems (q_script_detect), marker
    words separate a few Latin languages (q_lang_id), this separates
    eight Latin languages statistically with integer-only arithmetic
    both engines replay bit-for-bit.

    Fixture: each doc gets a 200-char window (offset doc_id % 50) into
    its language's self-authored sample paragraph (lang = doc_id % 8),
    so every language and 50 distinct partial profiles exercise; every
    97th doc is emptied to pin the degenerate no-trigram path (the doc
    vanishes from the output of BOTH engines — Spark's sequence(1,0)
    junk grams are filtered, DuckDB's generate_series is empty).

    Scale: language profiles build from 8 tiny rows and BROADCAST;
    per-doc profiles are one explode + groupBy keyed by doc_id (the
    only data-sized shuffle); scoring moves O(docs * 64 * 8) ~20-byte
    (doc, lang, tri, rank) rows through broadcast joins — no Python
    anywhere, whole-stage codegen end to end."""
    from metadata_enhanced_pretrain_datapipeline_spark.functions.langid import (
        langid_ngram,
    )

    return langid_ngram(_langid_fixture_docs(spark, sf),
                        "doc_id", "text", k=64)


def _lang_routed_oracle() -> str:
    from metadata_enhanced_pretrain_datapipeline_spark.functions.langid import (
        lang_routed_keep_oracle_sql,
    )

    return lang_routed_keep_oracle_sql(_LANGID_DOC_CTE, k=64)


@register("q_lang_routed_curation", _lang_routed_oracle())
def q_lang_routed_curation(spark, sf):
    """LANGUAGE-ROUTED curation gate (the composition the LID exists
    for): classify with langid_ngram, then apply the PER-LANGUAGE
    stopword rule — Gopher's ">= 2 stopwords" is English-only, and a
    multilingual corpus routes each doc to its own function-word list
    (the reference world wires fasttext-LID into per-language filter
    configs; here BOTH the classifier profiles and the stopword lists
    derive in-engine from the same 8 sample paragraphs, so the whole
    routed decision is oracle-replayable). Output per doc: predicted
    lang, classifier distance, word count, per-lang stopword hits, and
    the composed keep decision.

    Plan shape: the classifier plan + one doc_id equi-join back to the
    text + ONE BroadcastHashJoin routing each doc to its language's
    8-word stopword array + a codegen filter-count — routing adds no
    data-sized shuffle. The token array materializes once in its own
    projection (two sibling references — the r10 CSE lesson). Docs
    with no trigrams fail closed (absent), same as the classifier."""
    from metadata_enhanced_pretrain_datapipeline_spark.functions.langid import (
        lang_routed_keep,
    )

    return lang_routed_keep(_langid_fixture_docs(spark, sf),
                            "doc_id", "text", k=64)


@register(
    "q_crawl_interleaved",
    # every decision replayed closed-form: the survival set is the
    # SHARED media chain (_MEDIA_SURV_SQL — identical image records,
    # identical decisions as q_crawl_to_media) plus the undecodable
    # passthrough rows; each page's ordered ref list is enumerated by
    # the same modulus rules the fixture builds with (pos-numbered in
    # page order); the interleaved output keeps surviving refs in
    # DOCUMENT ORDER (string_agg ORDER BY pos) and the page text is
    # the extraction contract stated directly.
    f"WITH {_MEDIA_DH_SQL}, {_MEDIA_SURV_SQL}, "
    "survall AS (SELECT media_id FROM surv "
    "  UNION ALL SELECT 'm' || did || '_u' FROM d WHERE did % 30 = 2), "
    "refs AS (SELECT did, 0 AS pos, 'm' || did || '_a' AS ref FROM d "
    "UNION ALL SELECT did, 1, 'm' || did || '_r' FROM d "
    "  WHERE did % 3 = 0 "
    "UNION ALL SELECT did, 2, 'm' || did || '_x' FROM d "
    "  WHERE did % 4 = 2 "
    "UNION ALL SELECT did, 3, 'm' || did || '_p' FROM d "
    "  WHERE did % 3 <> 0 AND did % 4 = 2 "
    "UNION ALL SELECT did, 4, 'm' || did || '_e' FROM d "
    "  WHERE did % 3 <> 0 AND did % 4 = 0 "
    "UNION ALL SELECT did, 5, 'm' || did || '_u' FROM d "
    "  WHERE did % 30 = 2 "
    "UNION ALL SELECT did, 6, 'm' || did || '_missing' FROM d), "
    "kept AS (SELECT r.did, r.pos, r.ref FROM refs r "
    "  JOIN survall s ON s.media_id = r.ref), "
    "agg AS (SELECT did, string_agg(ref, ',' ORDER BY pos) AS images, "
    "  CAST(count(*) AS INT) AS n_kept FROM kept GROUP BY did) "
    "SELECT d.did AS doc_id, "
    "  'Interleaved page ' || d.did || chr(10) || "
    "  'Lead paragraph about page ' || d.did || "
    "  ' with several plain words.' || chr(10) || "
    "  'Closing remarks for page ' || d.did || ' end here.' AS text, "
    "  coalesce(a.images, '') AS images, "
    "  CAST(2 + CASE WHEN d.did % 3 = 0 THEN 1 ELSE 0 END "
    "    + CASE WHEN d.did % 4 = 2 THEN 1 ELSE 0 END "
    "    + CASE WHEN d.did % 3 <> 0 AND d.did % 4 = 2 THEN 1 ELSE 0 END "
    "    + CASE WHEN d.did % 3 <> 0 AND d.did % 4 = 0 THEN 1 ELSE 0 END "
    "    + CASE WHEN d.did % 30 = 2 THEN 1 ELSE 0 END AS INT) AS n_refs, "
    "  coalesce(a.n_kept, 0) AS n_kept "
    "FROM d LEFT JOIN agg a ON a.did = d.did",
)
def q_crawl_interleaved(spark, sf):
    """IMAGE-TEXT INTERLEAVED corpus builder — the multimodal
    pretraining artifact (OBELICS / MMC4 shape) the two front doors
    compose into: ONE crawl carries pages AND their images; pages keep
    their prose through the text extraction path, images run the full
    visual-dedup chain (decode -> dHash -> within-crawl near-dup ->
    against-store), and each page re-attaches the SURVIVING images in
    original document order — dropped near-dups, store-month repeats
    and dangling refs vanish from the page's image list while the
    undecodable passthrough rows stay (a multimodal pipeline must not
    silently lose media it cannot price).

    Per page: extracted text, the comma-joined surviving image ids in
    page order, total refs on the page, refs kept.

    Scale: the image half is the shared survivor chain (one fused
    Arrow decode stage, hash-only exchanges); the page half is pure
    JVM routing + regexp ref extraction + ONE Arrow extraction stage,
    materialized before its two consumers (the r10 dual-consumption
    lesson); the re-attach moves (pos, ref) pairs through a semi-join
    keyed by media id and one per-page aggregation — pixels and page
    bytes never meet the shuffle. Reference parity: the reference
    treats media as opaque binary + metadata (SURVEY.md S7/A8); the
    interleave composition is this repo's extension surface."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators.html_extract import (
        extract_text_col,
    )
    from metadata_enhanced_pretrain_datapipeline_spark.sources import readers

    scratch = _build_media_crawl_fixture(spark, sf, "crawl_inter",
                                         interleave=True)
    surv = _media_survivor_frame(spark, sf, scratch).select("media_id")

    raw = readers.read_warc(spark, scratch).repartition(32)
    pages = raw.filter(
        readers.http_content_type(F.col("content")) == "text/html")
    html = readers.http_body_str(F.col("content"))
    pg = materialize(
        pages.select(
            F.regexp_extract("url", r"page(\d+)$", 1).cast("long")
            .alias("doc_id"),
            extract_text_col(html).alias("text"),
            F.regexp_extract_all(
                html,
                F.lit(r'<img src="https://img\.example\.com/([^"]+)">'),
                1).alias("refs")),
        eager=False)

    kept = (pg.select("doc_id", F.posexplode("refs").alias("pos", "ref"))
            .join(surv.withColumnRenamed("media_id", "ref"), "ref",
                  "left_semi")
            .groupBy("doc_id")
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "ref"))),
                    lambda s: s["ref"]),
                ",").alias("images"),
                F.count("*").cast("int").alias("n_kept")))
    return (pg.select("doc_id", "text", F.size("refs").alias("n_refs"))
            .join(kept, "doc_id", "left")
            .select("doc_id", "text",
                    F.coalesce("images", F.lit("")).alias("images"),
                    "n_refs",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept")))
