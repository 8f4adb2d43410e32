"""Deduplication operators — exact and near-duplicate.

The reference only has order-dependent exact id-dedup
(gutenberg create_excerpt.py:113-118,170-181). A pretraining-data engine at
100 TB needs the full family; these are the extension operators (prompt +
SURVEY.md §7.1 M5): exact text dedup, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design:
- exact dedup: hash-groupBy on a 64-bit digest of normalized text — one
  shuffle keyed by digest, never by the text itself.
- MinHash-LSH: shingle hashes are a JVM projection and the k signature
  minimums one numpy ``mapInArrow`` fold over them (only id + hash array
  cross Arrow); the band→bucket groupBy is the only shuffle; candidate
  pairs are verified with exact Jaccard only within buckets. No O(n²)
  stage anywhere. ``minhash_dedup`` materializes its input once, so the
  pair pipeline and the anti-join read the same rows.
- embedding near-dup reuses the LSH bucketing from similarity.py.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from metadata_enhanced_pretrain_datapipeline_spark.functions.hashing import md5_hash64
from metadata_enhanced_pretrain_datapipeline_spark.functions.text import word_shingles


#: Column-metadata key stamped on a band store's ``key`` column by
#: :func:`minhash_band_keys` recording which keying built it
#: ("portable" = md5-based, "native" = xxhash64). Spark persists column
#: metadata in the parquet footer / catalog schema, so the mode travels
#: WITH the store and :func:`minhash_dedup_against` can refuse a
#: mismatched probe (which would silently match nothing — every
#: duplicate admitted) instead of producing a wrong-but-plausible result.
KEYING_METADATA_KEY = "mep_keying"


def _keying_name(portable: bool) -> str:
    return "portable" if portable else "native"


def _shingle_hash(s, portable: bool = False):
    """Internal shingle hash for near-dup ops: xxhash64 (JVM-native, ~2x
    faster than the md5+conv portable hash — measured at sf0.1).
    shiftrightunsigned clears the sign so modular arithmetic stays in
    [0, 2^63).

    ``portable=True`` switches to the engine-portable 60-bit md5 hash so a
    DuckDB oracle can reproduce the EXACT pair/fingerprint sets (the
    banding/vote arithmetic is pure SQL) — used by the oracle-checked
    query twins; the bench path keeps xxhash64."""
    if portable:
        return md5_hash64(s)
    return F.shiftrightunsigned(F.xxhash64(s), 1)

# Per-component MinHash constants: deterministic (a, b) pairs derived from
# small primes — public construction, seedless so reruns agree.
_MINHASH_PARAMS = [(2 * i + 1, 7919 * (i + 1)) for i in range(32)]
#: the Mersenne prime modulus of every component (hashing.minhash_expr's p)
_MINHASH_P = (1 << 31) - 1


def normalized_text_key(text: Column) -> Column:
    """Digest key for exact near-whitespace dedup: lower + collapse runs of
    whitespace + trim, then the portable 60-bit md5 hash."""
    return md5_hash64(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))))


def dedup_exact(df: DataFrame, key: Column, order: list[Column]) -> DataFrame:
    """F11 — first-wins exact dedup: keep the first row per key under the
    given order (reference seen-set semantics, create_excerpt.py:113-118).
    row_number window ≡ one shuffle on the key."""
    w = Window.partitionBy(key).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def dedup_exact_text(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact-text dedup keyed on the normalized digest; keeps min-id per
    group (deterministic, order-free → safe under AQE re-planning)."""
    keyed = df.withColumn("__k", normalized_text_key(F.col(text_col)))
    w = Window.partitionBy("__k").orderBy(F.col(id_col))
    return keyed.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__k", "__rn")


def _shingle_hashes(df: DataFrame, text_col: str, shingle_n: int,
                    portable: bool) -> DataFrame:
    """``df`` plus ``__hashes``: the doc's distinct shingle hashes
    (array<long>, JVM-side). An empty array for a doc with fewer than
    ``shingle_n`` tokens, NULL for NULL text. The input is widened to
    full parallelism: the stages above it are pure CPU
    (partitioning.ensure_min_partitions)."""
    from metadata_enhanced_pretrain_datapipeline_spark.partitioning import ensure_min_partitions

    sh = word_shingles(F.col(text_col), n=shingle_n)
    # array_distinct once: repeated shingles cannot change any minimum,
    # and deduplicating them here keeps them out of all k components
    return ensure_min_partitions(df).withColumn(
        "__hashes", F.array_distinct(F.transform(sh, lambda s: _shingle_hash(s, portable)))
    )


def _minhash_arrays(hashes: "pa.ListArray", num_hashes: int) -> list["pa.Array"]:
    """The k MinHash components of each row of an Arrow list<long>
    column of shingle hashes: ``min((h % p * a + b) % p)`` with the
    ``_MINHASH_PARAMS`` constants, exactly :func:`hashing.minhash_expr`'s
    arithmetic. A NULL or empty row gets NULL components, as
    ``array_min`` of NULL or of an empty array does. Shingle hashes are
    never NULL elements (both hashes are defined on every string).

    One ``np.minimum.reduceat`` per component over the list offsets:
    the worker holds the hashes plus one scratch int64 per shingle,
    never a k × shingles matrix (~0.9 GB at a 10k-row Arrow batch of
    2 KB docs)."""
    offs = np.asarray(hashes.offsets, dtype=np.int64)
    lo, hi = int(offs[0]), int(offs[-1])
    h = np.asarray(hashes.values.slice(lo, hi - lo), dtype=np.int64) % _MINHASH_P
    lens = np.diff(offs)
    nonempty = lens > 0
    # each nonempty row opens a segment that runs to the next nonempty
    # row's start, i.e. exactly its own elements
    starts = offs[:-1][nonempty] - lo
    null = ~nonempty
    if hashes.null_count:
        null |= np.asarray(hashes.is_null(), dtype=bool)
    scratch = np.empty_like(h)
    out = []
    for a, b in _MINHASH_PARAMS[:num_hashes]:
        mins = np.zeros(len(hashes), np.int64)
        if len(starts):
            np.multiply(h, a, out=scratch)
            scratch += b
            np.remainder(scratch, _MINHASH_P, out=scratch)
            mins[nonempty] = np.minimum.reduceat(scratch, starts)
        out.append(pa.array(mins, mask=null))
    return out


def _minhash_fold(hashed: DataFrame, num_hashes: int) -> DataFrame:
    """``hashed`` (a :func:`_shingle_hashes` frame) with ``__hashes``
    replaced by the ``mh_0..mh_{k-1}`` signature columns, computed by
    :func:`_minhash_arrays` in one ``mapInArrow`` pass. Every other
    column passes through unchanged, so callers project to the columns
    they need first: whatever is left crosses Arrow twice."""
    sig_names = [f"mh_{i}" for i in range(min(num_hashes, len(_MINHASH_PARAMS)))]
    keep = [f for f in hashed.schema.fields if f.name != "__hashes"]
    schema = StructType(keep + [StructField(n, LongType()) for n in sig_names])
    names = [f.name for f in keep]

    def fold(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            sigs = _minhash_arrays(batch.column(batch.schema.get_field_index("__hashes")),
                                   num_hashes)
            yield pa.RecordBatch.from_arrays(
                [batch.column(batch.schema.get_field_index(n)) for n in names] + sigs,
                names=names + sig_names)

    return hashed.mapInArrow(fold, schema)


def minhash_signatures(df: DataFrame, text_col: str = "text", num_hashes: int = 32,
                       shingle_n: int = 3, portable: bool = False) -> DataFrame:
    """Per-doc MinHash signature: ``df`` plus ``mh_0..mh_{k-1}`` (bigint;
    NULL for a doc with no shingle). Shingling and hashing run JVM-side
    (:func:`_shingle_hashes`); the k minimums are one numpy fold over the
    hash arrays (:func:`_minhash_fold`), equal element for element to k
    :func:`hashing.minhash_expr` columns and about half their cost (the
    JVM form runs k ``array_min(transform(...))`` passes per doc).

    All of ``df``'s columns, the text included, cross Arrow; the LSH
    operators use :func:`_id_signatures`, which sends only the id."""
    return _minhash_fold(_shingle_hashes(df, text_col, shingle_n, portable), num_hashes)


def _id_signatures(df: DataFrame, id_col: str, text_col: str, num_hashes: int,
                   shingle_n: int, portable: bool) -> DataFrame:
    """(id, mh_*) signatures: only the id and the hash array cross Arrow."""
    hashed = _shingle_hashes(df.select(id_col, text_col), text_col, shingle_n, portable)
    return _minhash_fold(hashed.select(id_col, "__hashes"), num_hashes)


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      num_hashes: int = 32, bands: int = 8,
                      shingle_n: int = 3, max_bucket_size: int = 64,
                      portable: bool = False) -> DataFrame:
    """MinHash-LSH candidate pairs: band the signature, bucket-join within
    bands, emit (id_a, id_b) with id_a < id_b.

    bands×rows layout: num_hashes = bands * rows_per_band. Docs sharing ALL
    rows of any band collide. The self-join happens per (band, bucket-key)
    group — bounded by bucket size, not corpus size.

    ``max_bucket_size`` drops degenerate buckets before the self-join —
    a bucket with thousands of members is boilerplate/templated content
    whose pair-set is quadratic and useless (the standard guard in
    production dedup pipelines); at 100 TB this cap is what keeps the
    candidate-pair stage linear in corpus size. Dropped buckets should be
    routed to a boilerplate review sink by callers that care.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "trailing signature components would be paid for but never banded"
        )
    sigs = _id_signatures(df, id_col, text_col, num_hashes, shingle_n, portable)
    buckets = minhash_band_keys(sigs, id_col, num_hashes, bands, portable)
    return lsh_pairs_from_band_keys(buckets, id_col, max_bucket_size)


def lsh_pairs_from_band_keys(buckets: DataFrame, id_col: str = "doc_id",
                             max_bucket_size: int | None = 64) -> DataFrame:
    """The bucket-join half of :func:`minhash_lsh_pairs`, taking an
    ALREADY-COMPUTED (id, band, key) relation — for callers that hold
    one from an earlier stage (r13: a store probe's band keys restricted
    to survivors, :func:`minhash_dedup_against_bands`) so the
    shingle→minhash projection never runs twice. Emits exactly what
    minhash_lsh_pairs emits over the same band relation."""
    # ONE explicit exchange on the bucket key. Everything downstream (the
    # size guard and both sides of the self-join) hangs off this single
    # shuffle of tiny (id, band, key) rows, so the expensive
    # shingle→hash→minhash projection under it runs ONCE and ReuseExchange
    # dedupes the shuffle for the join's two sides. The previous
    # guard-by-broadcast-anti-join formulation forked the plan BELOW the
    # shuffle: column pruning specialized each branch's scan and the whole
    # signature projection ran 4x (4 FileScans in the physical plan,
    # measured ~2x wall-clock at sf0.1).
    buckets = buckets.repartition("band", "key")
    # Size guard as a window count over the co-partitioned buckets — adds
    # NO shuffle and no recompute. A huge degenerate bucket is counted
    # linearly in one task (spillable sort-based window), and the
    # quadratic work it would cause is what the filter prevents. Singleton
    # buckets (count 1) can never pair, so dropping them here keeps most
    # rows out of the aggregation — at corpus scale the vast majority of
    # buckets are singletons.
    w = Window.partitionBy("band", "key")
    counted = buckets.withColumn("__n", F.count("*").over(w))
    upper = (F.col("__n") <= F.lit(max_bucket_size)) if max_bucket_size is not None else F.lit(True)
    buckets = counted.filter((F.col("__n") >= 2) & upper).drop("__n")
    if max_bucket_size is None:
        # No cap means no boundedness promise: the collect_list path below
        # would materialize a degenerate bucket's entire member list (and
        # its C(k,2) pair array) inside ONE row — unspillable executor
        # OOM. Fall back to the streamed, spill-safe self-join; both
        # sides read the one (band,key) exchange above.
        l, r = buckets.alias("l"), buckets.alias("r")
        return (
            l.join(r, ["band", "key"])
            .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
            .distinct()
        )
    # Pair expansion WITHOUT a self-join: collect the (guard-bounded, so
    # OOM-safe) member list per bucket — shuffle-free, the clustering from
    # the repartition above satisfies the groupBy — and emit the sorted
    # combinations with array expressions. A self-join formulation forks
    # the plan into two consumers of the bucket rows, and the planner
    # broadcasts one side (different exchange type), defeating exchange
    # reuse: the whole signature projection ran twice (measured ~1.4x
    # wall-clock at sf0.1).
    grouped = buckets.groupBy("band", "key").agg(
        F.array_sort(F.collect_list(F.col(id_col))).alias("ids")
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_arr).alias("p"))
        # the array is sorted so id_a <= id_b; strict < preserves the
        # self-join's behavior if a caller ever feeds duplicate ids
        .filter(F.col("p.id_a") < F.col("p.id_b"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def minhash_band_keys(sigs: DataFrame, id_col: str = "doc_id",
                      num_hashes: int = 32, bands: int = 8,
                      portable: bool = False) -> DataFrame:
    """(id, band, key) LSH band-bucket keys of a signature frame — the
    SIGNATURE-STORE schema for incremental fuzzy dedup: write this to
    parquet (partitioned or bucketed by (band, key)) once per snapshot,
    and later snapshots dedup against the STORE without ever
    re-minhashing the old corpus (at 100 TB, re-shingling last month's
    crawl is the cost that makes naive re-dedup infeasible).

    The key is a 64-BIT HASH of the band's signature components, not
    their concatenated string (round 6): a (doc, band) store row is then
    two bigints + a small int instead of an ~70-char string — ~3× fewer
    store bytes on disk, and every downstream exchange/join on (band,
    key) moves and compares fixed-width longs instead of strings (the
    banding exchange is THE shuffle of MinHash-LSH, so its row width is
    the operator's shuffle cost). A key collision within a band merely
    adds one spurious candidate pair with probability ~2^-60 — candidate
    generation is already a recall/precision trade, so this is free.
    ``portable=True`` uses the engine-portable md5 key hash (DuckDB
    oracles replay it exactly); the default is xxhash64 over the raw
    components, JVM-native with no string materialization at all.

    Also the banding stage OF :func:`minhash_lsh_pairs` (docs sharing
    ALL rows of any band collide); null-signature docs (fewer tokens
    than the shingle width) emit no keys — they cannot be shingle
    near-dups and would otherwise all share one degenerate bucket.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        members = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        if portable:
            key = md5_hash64(F.concat_ws("_", *members))
        else:
            key = F.xxhash64(*members)
        # null-signature docs carry a NULL key (below) instead of being
        # pre-filtered on mh_0: a `sigs.filter(mh_0 IS NOT NULL)` gets
        # PUSHED below the signature projection by alias substitution,
        # re-inlining the ENTIRE shingle+hash+min chain into the Filter
        # — every row paid the chain TWICE (r12 plan audit; the filter
        # now sits ABOVE the explode, which is a pushdown barrier).
        band_cols.append(F.struct(
            F.lit(b).alias("band"),
            F.when(F.col("mh_0").isNotNull(), key).alias("key")))
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(
        id_col,
        F.col("bk.band").alias("band"),
        # stamp the keying mode as column metadata: parquet footers and
        # catalog schemas persist it, so a store written from this frame
        # carries its own keying and a mismatched probe is detectable
        # (see minhash_dedup_against) instead of silently matching nothing
        F.col("bk.key").alias(
            "key", metadata={KEYING_METADATA_KEY: _keying_name(portable)}),
    ).filter(F.col("key").isNotNull())


def lsh_collision_probability(jaccard: float, bands: int,
                              rows_per_band: int) -> float:
    """P[two docs with Jaccard ``jaccard`` become an LSH candidate pair]
    under the bands × rows layout: ``1 - (1 - s^r)^b`` — each band
    collides iff all r of its components match (each with probability s,
    the defining MinHash property), and any of the b bands colliding
    makes a candidate. The S-curve every LSH layout is a point on.
    """
    return 1.0 - (1.0 - jaccard ** rows_per_band) ** bands


def lsh_tune(threshold: float, num_hashes: int,
             fn_weight: float = 1.0) -> tuple[int, int]:
    """Pick the (bands, rows_per_band) layout for ``num_hashes``
    signature components that best separates pairs around a target
    Jaccard ``threshold``: minimizes the false-positive integral of the
    S-curve below the threshold plus ``fn_weight`` × the false-negative
    integral above it (the standard MMDS criterion) over all exact
    factorizations b × r = num_hashes.

    This is the question every dedup deployment actually asks — "I want
    ~0.8-near-dups caught; how do I band my 128 hashes?" — answered
    from the closed form instead of corpus experiments. ``fn_weight``
    > 1 biases toward recall (missing a near-dup is worse than
    verifying a spurious candidate — the usual economics, since
    candidates are cheap to verify via
    :func:`minhash_estimate_jaccard` but a missed duplicate is
    training-set contamination).

    Returns (bands, rows_per_band) with bands * rows_per_band ==
    num_hashes, directly usable as :func:`minhash_lsh_pairs` /
    :func:`minhash_band_keys` arguments.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    layouts = [(b, num_hashes // b) for b in range(1, num_hashes + 1)
               if num_hashes % b == 0]
    steps = 1000

    def cost(b: int, r: int) -> float:
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = lsh_collision_probability(s, b, r)
            if s < threshold:
                fp += p / steps
            else:
                fn += (1.0 - p) / steps
        return fp + fn_weight * fn

    return min(layouts, key=lambda br: cost(*br))


def minhash_estimate_jaccard(pairs: DataFrame, sigs: DataFrame,
                             id_col: str = "doc_id",
                             num_hashes: int = 32) -> DataFrame:
    """Signature-estimated Jaccard for candidate pairs: the fraction of
    matching MinHash components is an unbiased estimator of J(A, B)
    (the defining MinHash property: P[min-hash collision] = Jaccard) —
    the TEXT-FREE verification step for LSH candidates. With signatures
    persisted next to :func:`minhash_band_keys`'s store, dedup
    thresholds are tuned and candidates scored from the store alone;
    estimator std-error is sqrt(J(1-J)/k), so k=32 resolves ~0.09.

    Input ``pairs`` is (id_a, id_b) (:func:`minhash_lsh_pairs` output);
    ``sigs`` is :func:`minhash_signatures` output. Two id-keyed joins
    pull each side's components; the match count is a pure-codegen sum.
    The division is by a power of two, so the estimate is bit-exact
    across engines for num_hashes in {8, 16, 32, 64}.
    """
    a = sigs.select(F.col(id_col).alias("id_a"),
                    *[F.col(f"mh_{i}").alias(f"__a{i}") for i in range(num_hashes)])
    b = sigs.select(F.col(id_col).alias("id_b"),
                    *[F.col(f"mh_{i}").alias(f"__b{i}") for i in range(num_hashes)])
    joined = pairs.join(a, "id_a").join(b, "id_b")
    matches = sum(
        F.when(F.col(f"__a{i}") == F.col(f"__b{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    return joined.select(
        "id_a", "id_b",
        (matches / F.lit(float(num_hashes))).alias("est_jaccard"),
    )


def _check_band_store_probe(seen_bands: DataFrame, portable: bool) -> None:
    """Shared probe-side guards for band-store consumers
    (:func:`minhash_dedup_against` / :func:`minhash_dedup_against_bands`):
    a STRING key column is a pre-round-6 concatenated-component store
    (its keys join against the probe's long keys as NULL casts —
    silently matching nothing, every duplicate admitted), and a
    keying-mode mismatch (portable vs native, recorded as column
    metadata by minhash_band_keys) is the same silent-miss failure
    between two long-key hash families. Absent metadata stays
    permissive — the guard catches the recorded case."""
    from pyspark.sql.types import StringType

    if isinstance(seen_bands.schema["key"].dataType, StringType):
        raise ValueError(
            "minhash_dedup_against: seen_bands has a STRING key column — "
            "a pre-round-6 concatenated-component store. Probing it with "
            "hashed 64-bit keys would silently match nothing (every "
            "duplicate admitted); rebuild the store with the current "
            "minhash_band_keys/write_band_store."
        )
    stored = (seen_bands.schema["key"].metadata or {}).get(KEYING_METADATA_KEY)
    if stored is not None and stored != _keying_name(portable):
        raise ValueError(
            f"minhash_dedup_against: seen_bands was keyed "
            f"'{stored}' but this probe uses "
            f"'{_keying_name(portable)}' (portable={portable}) — the two "
            "hash families never collide, so the probe would silently "
            "match nothing and admit every duplicate. Pass "
            f"portable={stored == 'portable'} to match the store, or "
            "rebuild the store with the probe's keying."
        )


def minhash_dedup_against(new_docs: DataFrame, seen_bands: DataFrame,
                          id_col: str = "doc_id", text_col: str = "text",
                          num_hashes: int = 32, bands: int = 8,
                          shingle_n: int = 3,
                          portable: bool = False) -> DataFrame:
    """Incremental FUZZY dedup across snapshots: drop new documents that
    LSH-collide with a previously-written signature store
    (:func:`minhash_band_keys` output) — the near-dup complement of
    :func:`dedup_against` (exact digests), and the monthly-crawl
    workflow where the old corpus is only ever touched as its store.

    Collision = sharing ANY band key with any seen document — the
    standard LSH candidate rule. Precision is set by the bands x rows
    layout (more rows per band = stricter); there is deliberately no
    exact-Jaccard verification step, because that would need the seen
    TEXT, which the store does not carry — callers needing verification
    keep a text-addressable sample of the store instead.

    The store's ``key`` must be the 64-bit hashed band key
    (:func:`minhash_band_keys` as of round 6). A string-keyed store
    (the pre-round-6 concatenated-component format) would join against
    the probe's long keys as NULL casts and silently match NOTHING —
    every duplicate admitted — so a string key column raises here
    instead; rebuild the store with the current :func:`minhash_band_keys`.

    Scale: the new snapshot is shingled/minhashed once; the join is
    keyed on (band, key) against the store (distinct-ed store-side —
    a hot boilerplate bucket must not fan new rows out); flagged ids
    come back as an ids-only anti-join. No broadcast assumption on
    either side.

    ``portable`` must match the flag the STORE was built with: it
    selects both the shingle hash and the band-key hash, and a store
    probed with the other keying silently matches nothing.
    """
    _check_band_store_probe(seen_bands, portable)
    sigs = _id_signatures(new_docs, id_col, text_col, num_hashes, shingle_n, portable)
    new_bands = minhash_band_keys(sigs, id_col, num_hashes, bands, portable)
    hits = (
        new_bands
        .join(seen_bands.select("band", "key").distinct(), ["band", "key"])
        .select(id_col).distinct()
    )
    return new_docs.join(hits, id_col, "left_anti")


def minhash_dedup_against_bands(new_docs: DataFrame, seen_bands: DataFrame,
                                id_col: str = "doc_id",
                                text_col: str = "text",
                                num_hashes: int = 32, bands: int = 8,
                                shingle_n: int = 3,
                                portable: bool = False) -> tuple[DataFrame, DataFrame]:
    """:func:`minhash_dedup_against` that ALSO returns the survivors'
    band keys — for the monthly-splice workflow where the surviving
    month's keys become its own store
    (``write_band_store(bands(kept))``): the probe already computed
    every new document's band keys, so re-shingling the survivors for
    the store write is a full second minhash pass over the month's text
    (guide §7.2 duplicated subtrees; r13). Returns ``(kept_docs,
    kept_bands)`` where ``kept_bands`` is row-identical to
    ``minhash_band_keys(minhash_signatures(kept_docs, ...), ...)`` —
    minhash is per-document deterministic, so restricting the probe's
    band relation to surviving ids IS the survivors' band relation
    (keying metadata rides the column through the join).

    The probe's band relation and the hit id set are each consumed
    twice (collision join + survivor restriction; anti-join + band
    restriction), so both materialize lazily — without the boundaries
    each consumer would re-run the minhash subtree (the
    LeftAnti-through-Union lesson). Same guards and same store contract
    as :func:`minhash_dedup_against`.
    """
    from metadata_enhanced_pretrain_datapipeline_spark.checkpointing import materialize

    _check_band_store_probe(seen_bands, portable)
    sigs = _id_signatures(new_docs, id_col, text_col, num_hashes, shingle_n, portable)
    new_bands = materialize(
        minhash_band_keys(sigs, id_col, num_hashes, bands, portable),
        eager=False)
    hits = materialize(
        new_bands
        .join(seen_bands.select("band", "key").distinct(), ["band", "key"])
        .select(id_col).distinct(),
        eager=False)
    kept = new_docs.join(hits, id_col, "left_anti")
    kept_bands = new_bands.join(hits, id_col, "left_anti")
    return kept, kept_bands


def write_band_store(bands: DataFrame, path: str, mode: str = "overwrite",
                     cluster: bool = True) -> None:
    """Persist a MinHash signature store (:func:`minhash_band_keys`
    output) as BAND-PARTITIONED parquet: the directory layout is
    ``band=<b>/part-*.parquet``, each file carrying only (id, key) rows.

    This layout is the monthly-snapshot workflow's cost model made
    physical: a probe that names a band subset (per-band incremental
    probing, threshold tuning on one band, a re-banded store migration)
    prunes to those directories at FILE-LISTING time — the filter arrives
    as a PartitionFilter, zero rows of other bands are read — and the
    full (band, key) probe join ships each band's files only to that
    band's join tasks. At 100 TB the store is the only artifact of last
    month's corpus the workflow ever touches, so its read cost IS the
    workflow's cost; q_band_store_pruned_probe asserts the pruning
    in-plan against this layout.

    ``cluster=True`` (default, r12) repartitions on ("band", "key")
    before the write: without it each of the writing frame's tasks
    emits one file into EVERY band directory (task_count x band_count
    small files — 128 at sf0.1; measured 2.5x slower to re-read), with
    it each band directory holds AQE-sized, key-clustered files
    (row-group min/max on key then prunes WITHIN a band too). Callers
    whose frame is already (band, key)-clustered pass cluster=False to
    skip the redundant exchange (compact_band_store).
    """
    if cluster:
        bands = bands.repartition("band", "key")
    bands.write.mode(mode).partitionBy("band").parquet(path)


def write_band_store_bucketed(bands: DataFrame, table: str, path: str,
                              num_buckets: int = 64,
                              mode: str = "overwrite") -> None:
    """Persist a signature store BUCKETED on (band, key) — the layout
    for the other store access pattern: the FULL probe join.

    Two layouts, two access patterns:

    - :func:`write_band_store` (band-partitioned directories) serves
      band-SUBSET probes: the subset arrives as a PartitionFilter and
      other bands' files are never listed.
    - This (a (band, key)-bucketed table) serves the full (band, key)
      probe join: the store scan's bucketing already satisfies the
      join's clustering, so the STORE SIDE JOINS WITH NO EXCHANGE — only
      the (much smaller) new snapshot's band keys shuffle, into the
      store's bucket layout. At 100 TB the store is the big side of the
      monthly probe, and not re-shuffling it every month is the join's
      dominant cost gone (q_band_store_colocated_probe asserts exactly
      one hashpartitioning Exchange in-plan — the probe side's).

    ``sortBy`` the bucket keys so in-bucket merge needs no full sort of
    a bucket at read time. Size ``num_buckets`` to the monthly probe's
    target parallelism — it is fixed at write time and the probe side
    coalesces to it.

    The frame is repartitioned onto the bucket hash first (r12 — the
    r6 bucketed-join lesson applied here too): repartition(n, cols)
    and bucketBy share pmod(murmur3, n), so each bucket lands in ONE
    task → one file per bucket (instead of task_count files each), and
    the sortBy survives as the file order with no read-time re-sort.
    """
    (bands.repartition(num_buckets, "band", "key")
     .write.mode(mode).bucketBy(num_buckets, "band", "key")
     .sortBy("band", "key").option("path", path).saveAsTable(table))


def read_band_store(spark, path: str,
                    bands: list[int] | None = None,
                    empty_schema: str = "doc_id long, band int, key long",
                    ) -> DataFrame:
    """Read a band store written by :func:`write_band_store`, optionally
    restricted to a band subset. The ``bands`` filter is a predicate on
    the PARTITION column, so it prunes directories at file-listing time
    (PartitionFilters in the scan — other bands' files are never opened).
    Returns (id, band, key) rows suitable for
    :func:`minhash_dedup_against`'s ``seen_bands`` side.

    An EMPTY store is legitimate (a pipeline's first snapshot, or a
    snapshot where no document was long enough to shingle): a
    band-partitioned write of zero rows leaves no parquet footers to
    infer from, so this falls back to ``empty_schema`` (the store
    schema under default column names — override if the store was built
    with a different id column) instead of failing the whole monthly
    run on UNABLE_TO_INFER_SCHEMA. The fallback is NARROW by design:
    only the schema-inference failure of an existing-but-footerless
    directory is treated as "first snapshot". A missing path, bad
    mount, or typo'd month (PATH_NOT_FOUND and every other
    AnalysisException) RE-RAISES — substituting an empty store there
    would make the monthly probe silently keep every duplicate, the
    exact failure class the string-key and keying-mode guards exist
    to prevent.
    """
    from pyspark.errors import AnalysisException

    try:
        store = spark.read.parquet(path)
    except AnalysisException as e:
        # pyspark 4 names the accessor getCondition (getErrorClass is the
        # deprecated alias); fall back through both, then to the message
        cond = None
        for acc in ("getCondition", "getErrorClass"):
            fn = getattr(e, acc, None)
            if fn is not None:
                try:
                    cond = fn()
                except Exception:
                    cond = None
                if cond:
                    break
        if cond != "UNABLE_TO_INFER_SCHEMA" and (
                cond is not None or "UNABLE_TO_INFER_SCHEMA" not in str(e)):
            raise
        store = spark.createDataFrame([], empty_schema)
    if bands is not None:
        store = store.filter(F.col("band").isin([int(b) for b in bands]))
    return store


def compact_band_store(spark, monthly_paths: list[str], out_path: str,
                       id_col: str = "doc_id",
                       bucketed_table: str | None = None,
                       num_buckets: int = 64) -> None:
    """Band-store LIFECYCLE: compact N monthly snapshot stores into one
    (round 7 — without this the store only ever grows by appended
    snapshots). Union the monthly stores, ``distinct`` on
    (id, band, key) — a document re-crawled in several months carries
    identical band keys in each, so compaction is where that
    cross-month redundancy is reclaimed — and rewrite in the
    band-partitioned probe layout (:func:`write_band_store`), with
    ``repartition("band", "key")`` first so each band directory's files
    are key-clustered (row-group min/max then prunes WITHIN a band too).
    Pass ``bucketed_table`` to ALSO emit the (band, key)-bucketed layout
    for full-probe joins (:func:`write_band_store_bucketed`).

    Scale: the compaction is one shuffle of (id, band, key) longs —
    never any text — and at 100 TB it is the store-side analogue of
    parquet small-file compaction: M monthly stores × T tasks of files
    collapse to one directory tree per band, so the monthly probe lists
    N× fewer files and reads each surviving (band, key) row once
    instead of once per month it appeared in.

    RETENTION: the input monthly directories are left in place — the
    caller deletes them once the compacted store is durable (the usual
    write-then-swap discipline); ``out_path`` must not be one of
    ``monthly_paths`` (the overwrite would destroy an input mid-read;
    raises).

    Keying safety: monthly stores carry their keying mode as column
    metadata (see :data:`KEYING_METADATA_KEY`); mixing portable- and
    native-keyed stores would produce a store that silently half-matches
    every probe, so a recorded mixture raises. The surviving mode is
    re-stamped on the output so the compacted store stays
    probe-validatable.
    """
    import os as _os
    from functools import reduce

    # realpath-normalized like compact_ivf_quantized_store's guard: a
    # trailing slash / relative spelling / symlink alias must not slip
    # an input past the overwrite check
    if _os.path.realpath(out_path) in {_os.path.realpath(p)
                                       for p in monthly_paths}:
        raise ValueError(
            "compact_band_store: out_path is one of monthly_paths — "
            "overwriting an input store mid-read would destroy it; "
            "write to a fresh path, then swap and delete the months."
        )
    stores = [read_band_store(spark, p,
                              empty_schema=f"{id_col} long, band int, key long")
              for p in monthly_paths]
    modes = {(s.schema["key"].metadata or {}).get(KEYING_METADATA_KEY)
             for s in stores} - {None}
    if len(modes) > 1:
        raise ValueError(
            f"compact_band_store: monthly stores mix keyings {sorted(modes)} "
            "— their keys never collide, so the merged store would "
            "silently half-match every probe. Rebuild the odd months "
            "with one keying first."
        )
    # ONE exchange, not two (r12): repartition on (band, key) FIRST,
    # then dedup — hashpartitioning(band, key) satisfies the
    # dropDuplicates aggregate's clustering requirement on the SUPERSET
    # (id, band, key), so the aggregate runs in place on the
    # key-clustered layout the write wants anyway. The previous
    # distinct-then-repartition shape paid a second full shuffle of the
    # store to move already-deduped rows into the write layout.
    merged = (
        reduce(lambda a, b: a.unionByName(b), stores)
        .select(id_col, "band", "key")
        .repartition("band", "key")
        .dropDuplicates([id_col, "band", "key"])
    )
    if modes:
        # re-stamp: union/distinct keep the first input's metadata, but an
        # unstamped FIRST month would drop a later month's recorded mode
        merged = merged.select(
            id_col, "band",
            F.col("key").alias("key",
                               metadata={KEYING_METADATA_KEY: modes.pop()}))
    write_band_store(merged, out_path, cluster=False)
    if bucketed_table is not None:
        write_band_store_bucketed(
            spark.read.parquet(out_path).select(id_col, "band", "key"),
            bucketed_table, out_path.rstrip("/") + "_bucketed",
            num_buckets=num_buckets)


def _overlap_metric(metric: str) -> Column:
    """Pair-overlap metric over (n_a, n_b, n_common) columns — the one
    definition shared by every set-overlap pair generator here.

    - ``jaccard``: |A∩B| / |A∪B| — symmetric similarity; dilutes toward 0
      when one set is much larger than the other.
    - ``containment``: |A∩B| / min(|A|, |B|) — "is the smaller set inside
      the bigger one": 1.0 for a snippet quoted whole inside a long doc or
      a trimmed clip inside the full video, exactly the near-superset
      duplicates Jaccard scores near |small|/|big| and misses.
    """
    if metric == "jaccard":
        return (F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
    if metric == "containment":
        return (F.col("n_common").cast("double")
                / F.least(F.col("n_a"), F.col("n_b")))
    raise ValueError(f"unknown overlap metric {metric!r} "
                     "(expected 'jaccard' or 'containment')")


def _shingle_pair_counts(df: DataFrame, id_col: str, text_col: str,
                         shingle_n: int) -> DataFrame:
    """Shared shingle-inverted-index pair counter under
    :func:`jaccard_pairs` / :func:`containment_pairs`: explode distinct
    shingles, self-join on shingle, count common shingles per (id_a <
    id_b) pair; set sizes ride the rows. The join is keyed by shingle —
    a hot shingle (stopword trigram) can skew; AQE skew-join splits it."""
    from metadata_enhanced_pretrain_datapipeline_spark.partitioning import ensure_min_partitions

    # bind the shingle array once, then size/explode the column — two
    # raw word_shingles references would shingle every row twice. The
    # explode is STAGED through a 1-element-array Generate (r13, the
    # winnow_fp_sets fix): exploding the aliased column directly lets
    # the Generate-inferred size/isnotnull predicate push below the
    # projection by alias substitution, re-inlining the whole shingle
    # chain into a Filter — the plan audit showed the chain 3x per
    # self-join side; the barrier makes it evaluate exactly once.
    sh = (
        ensure_min_partitions(df)
        .select(F.col(id_col).alias("id"),
                F.explode(F.array(F.struct(
                    word_shingles(F.col(text_col), shingle_n).alias("a")
                ))).alias("__g1"))
        .select("id", F.size("__g1.a").alias("n_sh"),
                F.explode("__g1.a").alias("shingle"))
    )
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  shingle_n: int = 3, min_jaccard: float = 0.0) -> DataFrame:
    """n-gram Jaccard similarity for candidate pairs via a shingle inverted
    index: explode distinct shingles, self-join on shingle, count common
    shingles per pair, then |A∩B| / (|A|+|B|-|A∩B|).

    The join is keyed by shingle — a hot shingle (stopword trigram) can
    skew; AQE skew-join splits it, and `min_jaccard` prunes the long tail
    early. For full-corpus dedup prefer minhash_lsh_pairs; this operator is
    the exact verifier within LSH buckets.
    """
    jac = (_shingle_pair_counts(df, id_col, text_col, shingle_n)
           .withColumn("jaccard", _overlap_metric("jaccard"))
           .select("id_a", "id_b", "jaccard"))
    return jac.filter(F.col("jaccard") >= F.lit(min_jaccard))


def containment_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", shingle_n: int = 3,
                      min_containment: float = 0.5) -> DataFrame:
    """n-gram CONTAINMENT candidate pairs — |A∩B| / min(|A|, |B|) over
    distinct shingles, the asymmetric complement of :func:`jaccard_pairs`
    (reference parity: the fuzzy-dedup family, minhash_dedup.py; the
    containment variant is the standard extension for quote/excerpt
    duplication — Broder 1997's containment coefficient).

    Jaccard dilutes when sizes differ: a 50-shingle snippet quoted whole
    inside a 5000-shingle page scores ~0.01 and survives every Jaccard
    threshold, yet it IS a duplicate of the page's content. Containment
    scores that pair 1.0. Same inverted-index skeleton and skew caveats
    as jaccard_pairs; at corpus scale run it on LSH candidates or a
    sample, not as the full-corpus pair generator.
    """
    pairs = (_shingle_pair_counts(df, id_col, text_col, shingle_n)
             .withColumn("containment", _overlap_metric("containment"))
             .select("id_a", "id_b", "containment"))
    return pairs.filter(F.col("containment") >= F.lit(min_containment))


def simhash(df: DataFrame, text_col: str = "text", bits: int = 16,
            portable: bool = False) -> DataFrame:
    """SimHash fingerprint: per-shingle portable hash → per-bit weighted
    vote → fingerprint int. Expressed with aggregate() over the shingle
    array per row — no explode, no shuffle.

    bit_b(doc) = 1 if Σ_shingles sign(bit_b(hash)) > 0.

    Hash array materialized once in its own projection (Catalyst doesn't
    share subexpressions across the per-bit aggregates — same rationale as
    minhash_signatures), input widened to full parallelism (CPU-bound).
    """
    from metadata_enhanced_pretrain_datapipeline_spark.partitioning import ensure_min_partitions

    sh = word_shingles(F.col(text_col), 3)
    hashed = ensure_min_partitions(df).withColumn(
        "__hashes", F.transform(sh, lambda s: _shingle_hash(s, portable))
    )
    # Per-bit vote via size(filter(...)) instead of a per-bit aggregate()
    # fold (r12): votes are +1/-1 per shingle, so
    # vote_b > 0  ⟺  2·setcount_b > n_shingles — integer arithmetic,
    # fingerprints identical (equivalence-checked old-vs-new over the
    # corpus + NULL/empty/short edge rows). filter's predicate is a
    # single cheap mask test per element and avoids the fold machinery;
    # measured best of three shapes in an in-process alternating bench
    # (per-bit aggregate, one fused array-accumulator fold, this) at
    # bits=16 and tied-best at bits=32.
    n = F.size(F.col("__hashes"))
    fingerprint = F.lit(0).cast("long")
    for b in range(bits):
        cnt = F.size(F.filter(
            F.col("__hashes"),
            lambda h: h.bitwiseAND(F.lit(1 << b)) != F.lit(0)))
        fingerprint = fingerprint + F.when(
            cnt * 2 > n, F.lit(1 << b)).otherwise(F.lit(0))
    return hashed.withColumn("simhash", fingerprint).drop("__hashes")


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", bits: int = 32,
                  max_hamming: int = 3, portable: bool = False,
                  max_bucket_size: int | None = 256) -> DataFrame:
    """Near-duplicate candidate PAIRS from SimHash fingerprints — the
    Manku et al. (WWW'07) web-dedup construction that completes
    :func:`simhash` from a per-doc fingerprint into a pair generator:
    split the ``bits``-bit fingerprint into ``max_hamming + 1`` chunks;
    by pigeonhole, two fingerprints within Hamming distance
    ``max_hamming`` agree EXACTLY on at least one chunk, so bucketing
    on (chunk_idx, chunk_value) finds every such pair, and
    ``bit_count(xor)`` verifies the distance exactly within buckets.
    Returns (id_a, id_b, hamming) with id_a < id_b.

    Complements MinHash-LSH: SimHash candidates approximate COSINE over
    the shingle-frequency vector (a weighted, occurrence-sensitive
    signal) where MinHash approximates set Jaccard; production web
    dedup runs both. Docs with fewer than 3 tokens have no shingles and
    are excluded (they cannot be shingle near-dups and would otherwise
    share the all-zero fingerprint).

    Scale shape mirrors :func:`minhash_lsh_pairs`: fingerprints are a
    narrow codegen projection; ONE exchange on the (chunk, value)
    bucket key; a shuffle-free window count drops singleton and
    degenerate buckets (``max_bucket_size`` keeps templated-content
    buckets from going quadratic); pair expansion is bounded
    collect_list + array combinations; the xor verification is pure
    codegen. Nothing text-sized shuffles past the fingerprint stage.
    """
    from metadata_enhanced_pretrain_datapipeline_spark.functions.text import tokens_ws

    eligible = df.filter(F.size(tokens_ws(F.col(text_col))) >= 3)
    fps = simhash(eligible, text_col, bits, portable).select(
        F.col(id_col).alias("id"), "simhash")
    return hamming_pairs_from_fingerprints(
        fps, "id", "simhash", bits, max_hamming, max_bucket_size)


def _fingerprint_chunks(fps: DataFrame, bits: int,
                        max_hamming: int) -> DataFrame:
    """Explode ``(id, __fp)`` rows into the ``max_hamming + 1`` Manku
    chunks: (id, __fp, c, v) where ``v`` is chunk ``c``'s masked bits.
    Shared by the pair generator and the incremental against-store
    probe; sign-fill bits of ``shiftright`` are masked off (offset +
    width <= bits <= 64 for every chunk), so a full-width signed
    fingerprint extracts exactly."""
    chunks = max_hamming + 1
    base, rem = divmod(bits, chunks)
    widths = [base + (1 if i < rem else 0) for i in range(chunks)]
    offsets = [sum(widths[:i]) for i in range(chunks)]
    chunk_cols = [
        F.struct(
            F.lit(i).alias("c"),
            F.shiftright(F.col("__fp"), offsets[i])
            .bitwiseAND(F.lit((1 << widths[i]) - 1)).alias("v"),
        )
        for i in range(chunks)
    ]
    return fps.select(
        "id", "__fp", F.explode(F.array(*chunk_cols)).alias("ck")
    ).select("id", "__fp", F.col("ck.c").alias("c"), F.col("ck.v").alias("v"))


def hamming_dedup_against(new_fps: DataFrame, seen_fps: DataFrame,
                          id_col: str, fp_col: str, bits: int,
                          max_hamming: int) -> DataFrame:
    """Incremental Hamming dedup across snapshots: drop NEW fingerprints
    within ``max_hamming`` of ANY previously-seen fingerprint — the
    against-store complement of :func:`hamming_pairs_from_fingerprints`,
    and the visual/simhash analogue of :func:`minhash_dedup_against`
    (monthly crawl: last month's images live on only as their 8-byte
    hashes; the new month never re-decodes them). ``seen_fps`` needs
    only ``fp_col``. Returns the surviving ``new_fps`` rows.

    Same pigeonhole machinery: both sides explode into chunks, an
    equi-join on (chunk, value) finds every candidate (COMPLETE — any
    pair within ``max_hamming`` agrees on some chunk), bit_count(xor)
    verifies, and the flagged ids come back as an ids-only anti-join.

    Scale: the exchange key is (chunk, value) over 12-byte rows; the
    store side is distinct-ed per (c, v, fp) so a re-ingested duplicate
    hash cannot fan new rows out twice. A monochrome/templated
    thumbnail flood makes hot chunk values — cap such content upstream
    (the same guidance as the pair generator's max_bucket_size).
    """
    from metadata_enhanced_pretrain_datapipeline_spark.checkpointing import materialize

    # new_fps feeds TWO consumers — the chunk probe and the anti-join
    # return — and for every caller its subtree is the DECODE stage
    # (image_dhash over blobs / a fingerprint projection), the heaviest
    # per-row work in the pipeline; without a boundary that stage runs
    # twice per action (r13 — the LeftAnti-through-Union class, measured
    # ~0.7 s of re-decode at sf0.1 on the image probes). The cached
    # relation is (id, fp) — ~12 bytes/row by contract.
    new_fps = materialize(new_fps, eager=False)
    new_ch = _fingerprint_chunks(
        new_fps.select(F.col(id_col).alias("id"),
                       F.col(fp_col).alias("__fp")),
        bits, max_hamming)
    seen_ch = (
        _fingerprint_chunks(
            seen_fps.select(F.lit(0).cast("long").alias("id"),
                            F.col(fp_col).alias("__fp")),
            bits, max_hamming)
        .select("c", "v", F.col("__fp").alias("__sfp")).distinct()
    )
    hits = (
        new_ch.join(seen_ch, ["c", "v"])
        .filter(F.bit_count(F.col("__fp").bitwiseXOR(F.col("__sfp")))
                <= F.lit(max_hamming))
        .select(F.col("id").alias(id_col)).distinct()
    )
    return new_fps.join(hits, id_col, "left_anti")


def hamming_pairs_from_fingerprints(fps: DataFrame, id_col: str,
                                    fp_col: str, bits: int,
                                    max_hamming: int,
                                    max_bucket_size: int | None = 256,
                                    ) -> DataFrame:
    """The Manku chunk-bucket pair generator over ANY ``bits``-wide
    integer fingerprint column — the shared tail of :func:`simhash_pairs`
    (text fingerprints) and
    :func:`~metadata_enhanced_pretrain_datapipeline_spark.operators.multimodal.image_near_dup_pairs`
    (perceptual image hashes): split into ``max_hamming + 1`` chunks, by
    pigeonhole any two fingerprints within Hamming distance
    ``max_hamming`` agree exactly on some chunk, bucket on
    (chunk_idx, chunk_value), verify with ``bit_count(xor)``. Returns
    (id_a, id_b, hamming) with id_a < id_b. With
    ``max_bucket_size=None`` the candidate set is provably COMPLETE
    (every qualifying pair is emitted — the mode the image oracle
    replays); a cap trades that guarantee for protection against
    degenerate buckets (templated content, monochrome thumbnails).

    For ``bits=64`` the fingerprint occupies the full signed long
    (two's complement); chunk extraction stays exact because
    ``shiftright`` sign-fill bits are masked off (offset + width <= 64
    for every chunk), and xor/bit_count act on the raw 64-bit pattern.

    Scale shape: see :func:`simhash_pairs` — one (chunk, value)
    exchange, shuffle-free window count for the bucket guards, bounded
    collect_list + array-combination pair expansion, codegen xor.
    """
    buckets = _fingerprint_chunks(
        fps.select(F.col(id_col).alias("id"), F.col(fp_col).alias("__fp")),
        bits, max_hamming)
    buckets = buckets.repartition("c", "v")
    w = Window.partitionBy("c", "v")
    counted = buckets.withColumn("__n", F.count("*").over(w))
    upper = (F.col("__n") <= F.lit(max_bucket_size)
             if max_bucket_size is not None else F.lit(True))
    buckets = counted.filter((F.col("__n") >= 2) & upper).drop("__n")
    grouped = buckets.groupBy("c", "v").agg(
        F.array_sort(F.collect_list(F.struct("id", "__fp"))).alias("ms"))
    pair_arr = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + F.lit(2), F.size(F.col("ms"))),
                lambda y: F.struct(
                    x["id"].alias("id_a"), y["id"].alias("id_b"),
                    F.bit_count(x["__fp"].bitwiseXOR(y["__fp"]))
                    .alias("hamming"),
                ),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_arr).alias("p"))
        .filter((F.col("p.id_a") < F.col("p.id_b"))
                & (F.col("p.hamming") <= F.lit(max_hamming)))
        .select("p.id_a", "p.id_b", F.col("p.hamming").cast("int").alias("hamming"))
        .distinct()
    )


def embedding_near_dup(df: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding", threshold: float = 0.95,
                       num_planes: int = 8,
                       max_bucket_size: int | None = 1024,
                       centroids: list[list[float]] | None = None) -> DataFrame:
    """Embedding-cosine near-dup: bucket embeddings, exact cosine only
    within buckets, keep pairs with cosine ≥ threshold.

    Bucketing has two modes:

    - default — hyperplane-sign LSH (similarity.lsh_bucket), single-pass
      and deterministic, capped at 2**15 buckets by the 15-plane limit;
    - ``centroids=[...]`` — nearest-centroid (IVF) assignment against a
      broadcast codebook (similarity._nearest_centroid_col, the same
      argmax the ANN store uses). This is the SemDeDup paper's own
      clustering shape and the LARGE-CORPUS branch: past ~2**15 buckets
      the plane cap binds, while a codebook scales to any k (the
      centroid list is k×dim doubles driver-side; assignment stays a
      narrow projection, no join). With a deterministic codebook (e.g.
      first-k vectors, or a persisted k-means fit) the whole operator
      remains oracle-checkable.

    ``max_bucket_size`` is the same degenerate-bucket guard as
    minhash_lsh_pairs: near-duplicate-heavy corpora (exactly where this
    operator runs) produce skewed buckets whose within-bucket self-join
    goes quadratic at 100 TB. Buckets above the cap are dropped from the
    pair stage — raise ``num_planes`` / the codebook k (finer buckets)
    rather than the cap when recall matters.
    """
    from metadata_enhanced_pretrain_datapipeline_spark.operators.similarity import (
        _nearest_centroid_col,
        lsh_bucket,
    )
    from metadata_enhanced_pretrain_datapipeline_spark.functions.arrays import (
        cosine_from_norms, l2_norm)

    if centroids is not None:
        b = _nearest_centroid_col(F.col(vec_col), centroids)
    else:
        b = lsh_bucket(F.col(vec_col), num_planes)
    keyed = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), b.alias("bucket"))
    # One exchange on the bucket key (same reasoning as minhash_lsh_pairs:
    # a fork below the shuffle recomputes the bucket projection per
    # consumer); the size guard is then a shuffle-free window count that
    # also drops singleton buckets — no pair can come from them, and they
    # are the common case.
    keyed = keyed.repartition("bucket")
    w = Window.partitionBy("bucket")
    counted = keyed.withColumn("__n", F.count("*").over(w))
    upper = (F.col("__n") <= F.lit(max_bucket_size)) if max_bucket_size is not None else F.lit(True)
    # the norm is hoisted out of the within-bucket pair join (r12):
    # computed once per vector AFTER the bucket-survivor filter (below
    # the filter it would also tax the singleton-bucket majority, which
    # never pairs — a chunk-level corpus measured that as a net loss)
    # instead of once per candidate pair — bit-identical
    keyed = (counted.filter((F.col("__n") >= 2) & upper).drop("__n")
             .withColumn("nm", l2_norm(F.col("v"))))
    l, r = keyed.alias("l"), keyed.alias("r")
    return (
        l.join(r, "bucket")
        .filter(F.col("l.id") < F.col("r.id"))
        .withColumn("cosine", cosine_from_norms(F.col("l.v"), F.col("r.v"),
                                                F.col("l.nm"), F.col("r.nm")))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"), "cosine")
    )


def drop_near_duplicates(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """Resolve candidate pairs into a deduplicated corpus: drop every doc
    that has a near-duplicate with a smaller id.

    This is the standard greedy resolution used by production near-dedup
    pipelines (and the fuzzy analogue of the reference's seen-set/IdFilter
    flow, robots_filter.py:95-121 applied to dedup ids): for each pair
    (id_a < id_b) the larger id is dropped, so exactly the per-component
    minimum plus any doc never named as a bigger half survives — no
    iterative connected-components job, one anti-join. ``pairs`` must have
    (id_a, id_b) with id_a < id_b (minhash_lsh_pairs / jaccard_pairs /
    embedding_near_dup all guarantee this).

    Scale: the drop set is distinct ids only (no text). No broadcast hint
    — in the near-dup-heavy regime this operator exists for, the drop set
    scales with the corpus and a forced broadcast would hit the driver
    collect limits; AQE converts the anti-join to broadcast at runtime
    whenever the set actually is small.

    The drop set is materialized once (lazy materialize) before the
    anti-join: Catalyst pushes LeftAnti through a Union, so a unioned
    corpus (monthly snapshots, the mutant fixtures) would otherwise
    re-evaluate the ENTIRE pair pipeline once per union branch — the
    sf10 probe measured q_simhash_dedup paying the whole
    fingerprint+bucket subtree twice for its two-branch corpus. Lazy
    (not eager) so plan-building passes over the registry stay free;
    the first real action computes the ids once and every branch reuses
    them. Under MEP_SPARK_CHECKPOINT_DIR this is a reliable (lazy)
    checkpoint; otherwise a MEMORY_AND_DISK persist — lineage KEPT, so
    an executor lost after materialization recomputes its blocks
    instead of failing the job (see checkpointing.materialize).
    """
    from metadata_enhanced_pretrain_datapipeline_spark.checkpointing import materialize

    drop = materialize(pairs.select(F.col("id_b").alias(id_col)).distinct(),
                       eager=False)
    return df.join(drop, id_col, "left_anti")


def minhash_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  num_hashes: int = 32, bands: int = 8, shingle_n: int = 3,
                  max_bucket_size: int = 64, portable: bool = False) -> DataFrame:
    """End-to-end fuzzy dedup: MinHash-LSH candidate pairs → greedy
    smaller-id-wins resolution → kept corpus.

    The input feeds both the pair pipeline (under the drop set) and the
    anti-join's left side, so it is materialized once (lazy, see
    checkpointing.materialize): otherwise each consumer re-runs the
    input's whole plan, e.g. a ``dedup_exact_text`` window shuffle."""
    from metadata_enhanced_pretrain_datapipeline_spark.checkpointing import materialize

    df = materialize(df, eager=False)
    pairs = minhash_lsh_pairs(df, id_col, text_col, num_hashes, bands,
                              shingle_n, max_bucket_size, portable)
    return drop_near_duplicates(df, pairs, id_col)


def semantic_dedup(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", threshold: float = 0.95,
                   num_planes: int = 8,
                   max_bucket_size: int | None = 1024,
                   centroids: list[list[float]] | None = None) -> DataFrame:
    """End-to-end semantic dedup over an embedding column (the SemDeDup
    recipe, Abbas et al. 2023, arXiv:2303.09540): bucket embeddings,
    flag within-bucket pairs with cosine ≥ ``threshold``, keep one
    representative per near-duplicate pair.

    SemDeDup clusters with k-means and keeps the member farthest from
    the centroid; here the default bucketing is the hyperplane LSH
    already used for ANN (deterministic, single-pass — no iterative
    float convergence, so the whole operator stays oracle-checkable) and
    the resolution is the same greedy smaller-id-wins every other dedup
    family in this package uses (drop_near_duplicates). The semantics
    that matter — "semantically near-identical docs collapse to one" —
    are identical; which member survives differs from the paper's
    centroid-distance choice.

    Pass ``centroids=[...]`` to bucket by nearest-centroid assignment
    instead — the paper's own k-means clustering and the LARGE-CORPUS
    branch: hyperplane LSH caps at 2**15 buckets (15 planes), while a
    codebook (similarity.kmeans_fit, or any deterministic/persisted
    one) scales bucket count to the cluster fan-out SemDeDup actually
    uses (the paper runs 11k clusters over LAION). Assignment stays a
    narrow projection against the broadcast codebook — the one bucket
    exchange below is unchanged.

    Scale: pair generation shuffles only (id, vec, bucket) under ONE
    bucket exchange with the degenerate-bucket window guard; the drop
    set is distinct ids (no vectors); the corpus comes back via one
    left-anti join. Old-vs-new incremental runs can feed the pair set
    from a persisted bucket store exactly like the minhash band store.
    """
    pairs = embedding_near_dup(df, id_col, vec_col, threshold,
                               num_planes, max_bucket_size, centroids)
    return drop_near_duplicates(df, pairs, id_col)


def simhash_dedup(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", bits: int = 32,
                  max_hamming: int = 3, portable: bool = False,
                  max_bucket_size: int | None = 256) -> DataFrame:
    """End-to-end SimHash dedup: Manku-style candidate pairs
    (:func:`simhash_pairs`) → greedy smaller-id-wins resolution → kept
    corpus. The cosine-signal twin of :func:`minhash_dedup` (Jaccard)
    and :func:`semantic_dedup` (embedding space) — production web dedup
    runs the fingerprint families side by side.

    Scale: inherits simhash_pairs' shape (one (chunk,value) exchange,
    window size guard, bounded pair expansion); the drop set is distinct
    ids, the corpus returns through one anti-join.
    """
    pairs = simhash_pairs(df, id_col, text_col, bits, max_hamming,
                          portable, max_bucket_size)
    return drop_near_duplicates(df, pairs, id_col)


def dedup_keep_best(df: DataFrame, pairs: DataFrame, quality_col: str,
                    id_col: str = "doc_id", max_iterations: int = 64,
                    checkpoint_dir: str | None = None) -> DataFrame:
    """Quality-aware duplicate resolution: group candidate pairs into
    TRANSITIVE clusters and keep the highest-``quality_col`` member of
    each cluster (ties break to the smaller id), instead of
    :func:`drop_near_duplicates`'s positional smaller-id-wins rule.

    This is the resolution production pipelines actually want when docs
    carry a quality signal (reference analogue: the quality_threshold +
    dedup composition, pipelines/quality_filtering.py applied per
    duplicate group): a near-dup cluster should surrender its
    low-quality mirror copies, not whichever happened to get the larger
    id. Transitive closure matters — with pairwise-only resolution a
    chain a-b-c can keep both endpoints.

    Scale: the cluster map is pair-graph-sized (pointer doubling,
    O(log n) rounds — :func:`duplicate_clusters`); quality values join
    onto cluster MEMBERS only (ids + one scalar, never text); the
    per-cluster argmax is one window over cluster_id whose partitions
    are duplicate-cluster-sized; losers return as an ids-only anti-join.
    """
    clusters = duplicate_clusters(
        pairs, max_iterations, checkpoint_dir=checkpoint_dir
    ).withColumnRenamed("doc_id", id_col)
    member_q = (
        df.select(F.col(id_col), F.col(quality_col).alias("__q"))
        .join(clusters, id_col)
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("__q"), F.asc(id_col))
    losers = (
        member_q.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def contamination_hits(docs: DataFrame, benchmark: DataFrame,
                       id_col: str = "doc_id", text_col: str = "text",
                       shingle_n: int = 8, min_hits: int = 1,
                       bench_text_col: str | None = None,
                       portable: bool = False) -> DataFrame:
    """Benchmark decontamination, the n-gram-overlap flag pass: a training
    doc is contaminated when it shares >= ``min_hits`` distinct word
    ``shingle_n``-grams with ANY benchmark document (the GPT-3/Pile-style
    13-gram rule; n is a parameter because the synthetic corpus is short).

    Returns (id_col, contam_hits) for contaminated docs only.

    Scale design: the benchmark side is tiny next to a 100 TB corpus, so
    its distinct shingle hashes BROADCAST — the corpus-side shingle
    explosion is filtered by the broadcast hash-join in place (no corpus
    shuffle on shingles), and the only exchange is the per-doc hit count
    keyed by id. Shingles travel as 64-bit hashes, never strings.
    """
    bt = bench_text_col or text_col
    bench_h = (
        benchmark
        .select(F.explode(word_shingles(F.col(bt), shingle_n)).alias("sh"))
        .select(_shingle_hash(F.col("sh"), portable).alias("h"))
        .distinct()
    )
    doc_h = docs.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("sh"),
    ).select(id_col, _shingle_hash(F.col("sh"), portable).alias("h"))
    return (
        doc_h.join(F.broadcast(bench_h), "h")
        # shingles are distinct per doc (word_shingles), so count(*) is
        # already the distinct-hit count — no countDistinct shuffle state
        .groupBy(id_col).agg(F.count("*").alias("contam_hits"))
        .filter(F.col("contam_hits") >= F.lit(min_hits))
    )


def multi_benchmark_contamination(docs: DataFrame, benchmarks: DataFrame,
                                  id_col: str = "doc_id",
                                  text_col: str = "text",
                                  bench_id_col: str = "benchmark_id",
                                  shingle_n: int = 8, min_hits: int = 1,
                                  bench_text_col: str | None = None,
                                  portable: bool = False) -> DataFrame:
    """Decontamination against MANY benchmarks in ONE corpus pass:
    ``benchmarks`` carries (bench_id_col, text) for every eval set, and
    the result is (id_col, bench_id_col, contam_hits) — identical to
    running :func:`contamination_hits` once per benchmark, without
    re-scanning the corpus per eval set (real pipelines decontaminate
    against dozens; at 100 TB the corpus scan IS the cost).

    Scale: the (benchmark, shingle-hash) pairs are distinct-ed and
    broadcast (eval sets are tiny next to the corpus); a shingle shared
    by k benchmarks fans its matching corpus row into k join rows —
    exactly the per-benchmark hit those k separate passes would count.
    The only exchange is the per-(doc, benchmark) count keyed by id.
    """
    bt = bench_text_col or text_col
    bench_h = (
        benchmarks
        .select(F.col(bench_id_col),
                F.explode(word_shingles(F.col(bt), shingle_n)).alias("sh"))
        .select(bench_id_col, _shingle_hash(F.col("sh"), portable).alias("h"))
        .distinct()
    )
    doc_h = docs.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("sh"),
    ).select(id_col, _shingle_hash(F.col("sh"), portable).alias("h"))
    return (
        doc_h.join(F.broadcast(bench_h), "h")
        # doc shingles and (benchmark, h) pairs are both distinct, so
        # count(*) is the distinct shared-shingle count per pair
        .groupBy(id_col, bench_id_col)
        .agg(F.count("*").alias("contam_hits"))
        .filter(F.col("contam_hits") >= F.lit(min_hits))
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  shingle_n: int = 8, min_hits: int = 1,
                  bench_text_col: str | None = None,
                  portable: bool = False) -> DataFrame:
    """Drop contaminated docs from the corpus (anti-join against the flag
    pass). The drop set is ids only; AQE broadcasts it when small."""
    hits = contamination_hits(docs, benchmark, id_col, text_col, shingle_n,
                              min_hits, bench_text_col, portable)
    return docs.join(hits.select(id_col), id_col, "left_anti")


def _trimmed_nonempty_lines(text_col: str) -> Column:
    """Trimmed, non-empty line array of a text column — the shared line
    model of the boilerplate pair below."""
    return F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )


def boilerplate_lines(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", max_docs: int = 10) -> DataFrame:
    """Cross-document boilerplate detection (the CCNet-style paragraph
    dedup signal): a trimmed non-empty line appearing in more than
    ``max_docs`` DISTINCT documents is boilerplate (nav bars, cookie
    banners, footers). Returns (line, n_docs) for boilerplate lines.

    Scale: lines are distinct-ed per doc BEFORE the explode (array_distinct
    on the line array — no per-duplicate fan-out), so the count agg is one
    shuffle of (line, partial count) pairs and count(*) equals the distinct
    doc count exactly.
    """
    lines = _trimmed_nonempty_lines(text_col)
    per_doc = df.select(F.col(id_col), F.explode(F.array_distinct(lines)).alias("line"))
    return (
        per_doc.groupBy("line").agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > F.lit(max_docs))
    )


def drop_boilerplate_lines(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           max_docs: int = 10) -> DataFrame:
    """Remove cross-document boilerplate lines from every document and
    rebuild ``text_col`` (docs left with no lines are dropped).

    Shape: detection agg (one shuffle) → anti-join of the exploded
    positional lines against the boilerplate set (AQE broadcasts it when
    small, which it is in practice — the set is bounded by lines that
    repeat across >max_docs docs) → positional regroup (one shuffle keyed
    by doc). When the input carries columns beyond (id, text), the
    rebuilt text joins back to them on id — one more join the id-and-
    text-only fast path avoids.
    """
    lines = _trimmed_nonempty_lines(text_col)
    bl = boilerplate_lines(df, id_col, text_col, max_docs).select("line")
    pos = df.select(
        F.col(id_col), F.posexplode(lines).alias("pos", "line")
    ).join(bl, "line", "left_anti")
    rebuilt = (
        pos.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "line"))).alias("__pl"))
        .select(
            F.col(id_col),
            F.array_join(
                F.transform("__pl", lambda s: s.getField("line")), "\n"
            ).alias(text_col),
        )
    )
    other = [c for c in df.columns if c != text_col]
    if other == [id_col]:
        return rebuilt
    return df.drop(text_col).join(rebuilt, id_col)


def duplicate_clusters(pairs: DataFrame, max_iterations: int = 64,
                       checkpoint: bool = True,
                       checkpoint_dir: str | None = None,
                       stats: dict | None = None) -> DataFrame:
    """Resolve candidate near-duplicate pairs into TRANSITIVE clusters:
    (doc_id, cluster_id) with cluster_id = the minimum id reachable
    through the pair graph — the connected-components resolution that
    complements :func:`drop_near_duplicates` (greedy, non-transitive)
    when chains a-b, b-c must land in ONE cluster.

    Min-label propagation WITH pointer doubling, as plain DataFrame
    joins. Each round every node (1) takes min(own label, neighbors'
    labels), then (2) shortcuts through its label's label
    (``l(u) <- l(l(u))``, the pointer-jumping half of
    large-star/small-star connected components). Labels are ids from the
    same component and only ever decrease, and ``l(x) <= x`` holds
    throughout, so the jump is safe; with it the frontier a label has
    traveled roughly doubles per round, making rounds-to-fixpoint
    O(log n) in the component size rather than O(diameter) — a 100 TB
    boilerplate chain of length d closes in ~log2(d) rounds, not d.
    Stops at the fixpoint (no label changed); **raises RuntimeError** if
    ``max_iterations`` rounds pass without convergence — partial labels
    are wrong answers and are never returned silently. Only ids
    appearing in pairs are emitted (singletons are trivially their own
    cluster).

    Scale: per-round cost is two id-only joins (the neighbor-min over
    the self-looped PAIR graph — the self-loops fold the "own label"
    term into the same join — and the pointer-jump label self-join) —
    orders of magnitude smaller than the corpus.
    Lineage is truncated each round (eager, so the convergence count
    reuses it): ``localCheckpoint`` by default, or a RELIABLE checkpoint
    when ``checkpoint_dir`` is set (or MEP_SPARK_CHECKPOINT_DIR is
    exported) — executor-local blocks die with an executor, and at
    cluster scale an 8-round job must survive a lost node, so reliable
    mode is the right default off this machine (see checkpointing.py).
    The fixpoint is unique, so iteration order never changes the result.

    ``stats``, when passed a dict, receives ``{"iterations": n,
    "converged": True}`` for observability/tests.

    ``checkpoint=False`` is TEST-ONLY (tiny graphs): without per-round
    materialization the convergence aggregate recomputes the full,
    exponentially nesting join lineage every round — at any real scale
    keep the default (ADVICE r12).
    """
    import os as _os

    from metadata_enhanced_pretrain_datapipeline_spark.checkpointing import (
        CHECKPOINT_DIR_ENV, materialize)

    _reliable = checkpoint_dir or _os.environ.get(CHECKPOINT_DIR_ENV)
    # Ids must be INTEGRAL: cluster ids are minimum member ids, and
    # min-label semantics on strings or inexact floats is not a contract
    # this op makes. Non-numeric ids (e.g. string doc hashes, which the
    # generic pair generators permit) are refused up front.
    _id_types = {t for c, t in pairs.dtypes if c in ("id_a", "id_b")}
    _bad = {t for t in _id_types
            if not (t in ("tinyint", "smallint", "int", "bigint")
                    or (t.startswith("decimal(") and t.endswith(",0)")))}
    if _bad:
        raise TypeError(
            "duplicate_clusters: id columns must be integral (got "
            f"{sorted(_bad)}); hash non-numeric ids to longs (e.g. "
            "xxhash64) before pairing")
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).union(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    if checkpoint:
        # without this, every round's join re-evaluates the FULL upstream
        # pair lineage (e.g. the whole MinHash-LSH subtree) — the loop is
        # only "joins on the pair graph" if the graph is materialized.
        # Materialize BEFORE deriving nodes/self-loops: both read edges,
        # and unmaterialized they would each re-run the pair subtree.
        edges = materialize(edges, checkpoint_dir)
    nodes = edges.select(F.col("src").alias("id")).distinct()
    if checkpoint:
        # consumed every round (self-loop branch of the graph join) and
        # once for the label init — one tiny distinct, computed once
        nodes = materialize(nodes, checkpoint_dir)
    # self-loop edges (r12): appending (id, id) for every node folds the
    # "min(own label, neighbors' labels)" combine into the SAME
    # neighbor-min join — each round is ONE graph join + the pointer
    # jump, where the old shape ran nbr-join, a labels⨝nbr combine join,
    # then the jump (three joins). The self-loop guarantees every node
    # survives the inner join/groupBy with at least its own label.
    edges = edges.union(
        nodes.select(F.col("id").alias("src"), F.col("id").alias("dst"))
    )
    labels = nodes.withColumn("label", F.col("id"))
    converged = False
    rounds = 0
    if nodes.isEmpty():
        converged = True  # empty pair graph: nothing to propagate
        max_iterations = 0
    for _ in range(max_iterations):
        rounds += 1
        # the self-loop edge also carries each node's own label into the
        # round (__own), the witness the convergence count compares to
        propagated = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src").agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("src") == F.col("dst"), F.col("label"))).alias("__own"))
            .select(F.col("src").alias("id"), "label", "__own")
        )
        # pointer doubling: l(u) <- min(l(u), l(l(u))). Every label value
        # is itself a node id in the graph, so the self-join always hits
        # (left join only guards the l(u)=u rows joining to themselves —
        # they hit too, harmlessly).
        jump = propagated.select(
            F.col("id").alias("__jid"), F.col("label").alias("__jlabel")
        )
        stepped = (
            propagated.join(jump, propagated["label"] == jump["__jid"], "left")
            .select(
                propagated["id"],
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("__jlabel"), F.col("label")),
                ).alias("label"),
                "__own",
            )
        )
        if checkpoint and not _reliable:
            # LAZY localCheckpoint (r12): the convergence count below
            # is the round's only action, so it both computes the round
            # AND materializes the truncated blocks — ONE job per round
            # where eager-checkpoint-then-count ran two; the agg computes
            # every partition, so the checkpoint needs no fill-in pass.
            stepped = stepped.localCheckpoint(eager=False)
        elif checkpoint:
            # reliable mode keeps the eager persist+checkpoint dance
            # (see materialize: a bare lazy .checkpoint() would
            # compute the round twice under a reliable dir)
            stepped = materialize(stepped, checkpoint_dir)
        # labels only ever DECREASE (each new label is a min that
        # includes the node's own), so "no label fell this round" is the
        # fixpoint. A count of fallen labels cannot overflow, unlike a
        # label sum over decimal(38,0) ids near 10^37.
        changed = stepped.filter(F.col("label") < F.col("__own")).count()
        labels = stepped.drop("__own")
        if changed == 0:
            converged = True
            break
    if stats is not None:
        stats["iterations"] = rounds
        stats["converged"] = converged
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters: no fixpoint after {max_iterations} rounds; "
            "labels are partially propagated — raise max_iterations "
            "(pointer doubling needs ~log2(component size) rounds)"
        )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def excise_repeated_ngrams(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", n: int = 8,
                           min_count: int = 2,
                           portable: bool = False) -> DataFrame:
    """Substring-level corpus dedup (Lee et al. 2022, 'Deduplicating
    Training Data Makes Language Models Better'), word-granular: any word
    n-gram occurring ``min_count``-or-more times ACROSS the corpus is
    excised from every document — the cross-document repeated-span pass
    that complements within-doc :func:`repetition` signals, line-level
    :func:`drop_boilerplate_lines`, and whole-doc near-dup. Lee et al.
    build suffix arrays for exact maximal substrings; the Spark-first
    equivalent at fixed granularity is positional n-gram hashing — every
    word covered by any repeated n-gram window is dropped, so a repeated
    span of any length >= n disappears wholesale (overlapping windows all
    trip the counter).

    Returns (id_col, n_kept_words, text_col) with exactly one row per
    input document — fully-excised docs come back with empty text, docs
    shorter than n words pass through untouched.

    Scale: positional n-grams are one explode of words-per-doc rows
    (hashes only — 60-bit ints, never the gram text, beyond the initial
    projection); the occurrence count and the per-doc flagged-start
    regroup are the only shuffles, both keyed (hash / doc id) and linear;
    the repeated-set join is an equi-join on the hash, no broadcast
    assumption. The excision itself is per-row array arithmetic in
    codegen.
    """
    from metadata_enhanced_pretrain_datapipeline_spark.functions.text import tokens_ws
    from metadata_enhanced_pretrain_datapipeline_spark.partitioning import (
        ensure_min_partitions,
    )

    # widen a narrow scan first (r12): tokenize+explode+gram-hash is
    # per-row CPU in the scan stage, single-tasked on a 1-file input.
    # Projected to (id, text) before the exchange (r13): both consumers
    # below (the gram probe and the excision rebuild) read only these
    # two columns, so the widening never ships the rest of the row.
    df = ensure_min_partitions(df.select(id_col, text_col))
    base = df.select(F.col(id_col), tokens_ws(F.col(text_col)).alias("__ws"))
    starts = F.when(
        F.size("__ws") >= n, F.sequence(F.lit(1), F.size("__ws") - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        F.col(id_col), F.col("__ws"), F.explode(starts).alias("__s")
    ).select(
        F.col(id_col),
        F.col("__s"),
        _shingle_hash(
            F.array_join(F.slice("__ws", F.col("__s"), n), " "), portable
        ).alias("__h"),
    )
    # occurrence count as a WINDOW over the hash clustering, not a
    # count-aggregate joined back: the join formulation consumes the gram
    # subtree twice (once for the counts, once for the probe — measured
    # ~2x the gram cost at sf0.1), while the window rides the single
    # Exchange on __h that the grams need anyway — the same one-shuffle
    # guard shape as minhash_lsh_pairs' bucket cap
    wh = Window.partitionBy("__h")
    flagged = (
        grams.withColumn("__c", F.count("*").over(wh))
        .filter(F.col("__c") >= min_count)
        .groupBy(id_col).agg(F.collect_list("__s").alias("__starts"))
    )
    out = df.select(id_col, text_col).join(flagged, id_col, "left")
    ws = tokens_ws(F.col(text_col))
    starts_arr = F.coalesce(F.col("__starts"), F.array().cast("array<int>"))
    # merge the flagged windows into disjoint covered ranges BEFORE the
    # per-word test: a boilerplate doc whose every window is flagged has
    # thousands of starts but ONE merged range, so the membership test is
    # O(ranges) per word instead of O(starts) — the same quadratic-scalar
    # class as the char_bigrams substr fix (see SCALE.md). The fold
    # appends/replaces the last range of a sorted scan; covered windows
    # [s, s+n-1] merge whenever the next start is <= hi + 1.
    merged = F.aggregate(
        F.array_sort(starts_arr),
        F.array().cast("array<struct<lo:int,hi:int>>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s <= F.element_at(acc, -1)["hi"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.struct(
                    F.element_at(acc, -1)["lo"].alias("lo"),
                    F.greatest(
                        F.element_at(acc, -1)["hi"], s + F.lit(n - 1)
                    ).alias("hi"),
                )),
            ),
        ).otherwise(
            F.concat(acc, F.array(F.struct(
                s.alias("lo"), (s + F.lit(n - 1)).alias("hi")
            )))
        ),
    )
    out = out.withColumn("__cov", merged)
    indexed = F.transform(
        ws, lambda w, i: F.struct(w.alias("w"), (i + F.lit(1)).alias("j"))
    )
    kept = F.filter(
        indexed,
        lambda x: ~F.exists(
            F.col("__cov"),
            lambda r: (r["lo"] <= x["j"]) & (x["j"] <= r["hi"]),
        ),
    )
    # bind the filtered array ONCE (size + rebuild both consume it; two
    # bare references would each re-run the whole filter/exists chain —
    # the word_shingles no-CSE guard)
    out = out.withColumn("__kept", kept)
    return out.select(
        F.col(id_col),
        F.size("__kept").cast("int").alias("n_kept_words"),
        F.array_join(F.transform("__kept", lambda x: x["w"]), " ").alias(text_col),
    )


def dedup_against(df: DataFrame, seen: DataFrame, text_col: str = "text",
                  seen_text_col: str | None = None) -> DataFrame:
    """Cross-snapshot incremental dedup: drop documents whose normalized
    text digest already occurs in a previously-processed corpus — the
    crawl-over-crawl pass that keeps each monthly snapshot from
    re-admitting last month's pages.

    Digest-keyed anti-join: the seen side reduces to DISTINCT 60-bit
    digests before the join (no text ever shuffles, the seen set is ids
    of content not content); AQE broadcasts it when it fits. One shuffle
    at most, zero when broadcast.
    """
    st = seen_text_col or text_col
    seen_keys = seen.select(
        normalized_text_key(F.col(st)).alias("__k")
    ).distinct()
    return (
        df.withColumn("__k", normalized_text_key(F.col(text_col)))
        .join(seen_keys, "__k", "left_anti")
        .drop("__k")
    )


def dedup_lines_within_doc(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           sep: str = "\n") -> DataFrame:
    """WITHIN-document line dedup (the Dolma/CCNet light pass that
    precedes corpus-level dedup): drop repeated copies of a line inside
    one document, keeping the first occurrence, and rebuild the text —
    kills per-page template repetition (nav bars, cookie banners
    repeated per section) without any cross-document state. Completes
    the granularity ladder: within-doc lines (this) → corpus-level
    lines (:func:`segment_dedup`) → substrings
    (:func:`excise_repeated_ngrams`) → whole docs.

    Blank/whitespace-only lines pass through untouched — they are
    paragraph STRUCTURE, and collapsing them would merge paragraphs.
    NULL text is treated as ''. Returns (id, text, n_lines_kept) with
    n_lines_kept counting non-blank kept lines.

    Scale: one explode, one (id, line) window — the partition key
    includes the line text, so a hot boilerplate line is bounded by its
    count WITHIN one document (never corpus-hot), and the per-doc
    rebuild collect is bounded by document size. No cross-doc shuffle
    of anything.
    """
    import re as _re

    lines = df.select(
        F.col(id_col),
        # F.split takes a REGEX; the separator is a literal (and is used
        # literally in the array_join rebuild), so escape it — sep='|'
        # must not mean empty-alternation char-splitting
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep))
        ).alias("pos", "line"),
    )
    w = Window.partitionBy(id_col, "line").orderBy("pos")
    blank = F.trim(F.col("line")) == ""
    kept = lines.withColumn("__rn", F.row_number().over(w)).filter(
        blank | (F.col("__rn") == 1))
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias(text_col),
        F.sum(F.when(blank, 0).otherwise(1)).cast("long").alias("n_lines_kept"),
    )


def segment_dedup(segments: DataFrame, id_col: str = "doc_id",
                  pos_col: str = "pos", seg_col: str = "segment") -> DataFrame:
    """Corpus-level line/paragraph dedup (the RefinedWeb/CCNet line-level
    pass; complements the document-level dedup_exact_text and the
    substring-level excise_repeated_ngrams): keep each distinct segment
    only at its FIRST occurrence — the smallest (doc, position) over the
    whole corpus — and drop every later copy.

    Input is the exploded (id, pos, segment) stream. Plan: digest each
    segment, groupBy-MIN of the (id, pos) STRUCT (lexicographic struct
    ordering — map-side partial agg, so a boilerplate segment duplicated
    1e9 times reduces per-partition BEFORE the shuffle and hot digests
    cannot skew a reducer the way a row_number window would), then a
    join on (digest, id, pos) recovers the keeper rows. Two linear
    shuffles; only digests and bigints move. The struct-min needs no
    integer encoding, so there is no max-position contract to validate.
    """
    digest = F.md5(F.col(seg_col))
    d = segments.withColumn("__dg", digest)
    firsts = d.groupBy("__dg").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col(pos_col).alias("p")))
        .alias("__first")
    ).select(
        F.col("__dg").alias("__fdg"),
        F.col("__first.i").alias("__fid"),
        F.col("__first.p").alias("__fpos"),
    )
    return (
        d.join(
            firsts,
            (d["__dg"] == firsts["__fdg"])
            & (d[id_col] == firsts["__fid"])
            & (d[pos_col] == firsts["__fpos"]),
        )
        .select(*[F.col(c) for c in segments.columns])
    )


def reassemble_segments(kept: DataFrame, docs: DataFrame,
                        id_col: str = "doc_id", pos_col: str = "pos",
                        seg_col: str = "segment", sep: str = " ",
                        out_col: str = "kept_text") -> DataFrame:
    """Stitch deduped segments back into per-doc text, ordered by position.
    Docs whose every segment was a duplicate do NOT vanish: a left join
    back to the doc ids emits them with 0 segments and empty text (the
    char_lm_score lesson — downstream joins expect one row per doc)."""
    per_doc = (
        kept.groupBy(id_col)
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(pos_col, seg_col))),
                    lambda s: s[seg_col],
                ),
                sep,
            ).alias(out_col),
        )
    )
    return (
        docs.select(id_col).join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce(out_col, F.lit("")).alias(out_col),
        )
    )


# --- Bloom-prefiltered membership (scale path for anti-joins) -------------


def _bloom_position_cols(key: Column, num_bits: int, num_hashes: int) -> list[Column]:
    """k double-hashed bit positions, computed JVM-side so the build and
    probe sides share EXACT arithmetic (xxhash64 is Spark-internal — fine:
    bloom bits are never compared to an oracle, only final rows are).
    h1/h2 are reduced mod num_bits before combining, so h1 + i*h2 stays
    far under 2^63 (ANSI overflow would throw)."""
    h1 = F.pmod(F.xxhash64(key), F.lit(num_bits))
    h2 = F.pmod(F.xxhash64(key, F.lit(1)), F.lit(num_bits))
    return [
        F.pmod(h1 + F.lit(i) * h2, F.lit(num_bits)).cast("long").alias(f"__bp{i}")
        for i in range(num_hashes)
    ]


def build_bloom_bits(keys: DataFrame, key_col: str,
                     num_bits: int = 1 << 23, num_hashes: int = 4,
                     max_build_partitions: int = 64) -> bytes:
    """Distributed Bloom filter build: every partition folds its keys into
    a local numpy bitmap in ONE Arrow pass (no explode, no shuffle), the
    per-partition bitmaps (num_bits/8 bytes each) come back to the driver
    and OR-merge. 2^23 bits = 1 MiB per partition message; for 1e9 keys
    size num_bits ~ 10x key count for ~1% FP.

    The position stream coalesces to ``max_build_partitions`` first so
    driver traffic is bounded at max_build_partitions x (num_bits/8)
    bytes regardless of the seen side's input partitioning — a 100 TB
    seen-side with 100k parquet splits must not ship 100k bitmaps to a
    single-threaded driver merge (coalesce is shuffle-free; each build
    task just reads more splits).
    """
    import numpy as np
    import pyarrow as pa

    nbytes = num_bits // 8
    pos_df = keys.select(*_bloom_position_cols(F.col(key_col), num_bits, num_hashes))
    if pos_df.rdd.getNumPartitions() > max_build_partitions:
        pos_df = pos_df.coalesce(max_build_partitions)

    def fold(batches):
        bm = np.zeros(nbytes, dtype=np.uint8)
        for batch in batches:
            for col in batch.columns:
                pos = col.to_numpy(zero_copy_only=False)
                np.bitwise_or.at(bm, pos >> 3, (np.uint8(1) << (pos & 7).astype(np.uint8)))
        yield pa.RecordBatch.from_arrays([pa.array([bm.tobytes()])], ["bits"])

    merged = np.zeros(nbytes, dtype=np.uint8)
    for row in pos_df.mapInArrow(fold, "bits binary").collect():
        merged |= np.frombuffer(row.bits, dtype=np.uint8)
    return merged.tobytes()


def bloom_anti_join(df: DataFrame, seen: DataFrame, df_key: Column,
                    seen_key: Column, num_bits: int = 1 << 23,
                    num_hashes: int = 4) -> DataFrame:
    """EXACT anti-join with a Bloom pre-filter — the 100 TB shape for
    'drop everything already in that other corpus' when the seen side is
    too big to broadcast exactly but its bloom fits in a closure:

    1. build the bloom over the seen keys (one linear pass, 1 MiB bits);
    2. definite-misses (bloom says absent) pass through with NO shuffle;
    3. only the maybe-hits (a ~FP-fraction sliver plus true members)
       enter the exact anti-join shuffle.

    False positives cost only wasted verification; the result equals the
    plain anti-join bit-for-bit (pytest-pinned), so the oracle is NOT IN.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bits = build_bloom_bits(seen.select(seen_key.alias("__sk")), "__sk",
                            num_bits, num_hashes)

    def _might_contain(pos_arrays):
        if len(pos_arrays) == 0:  # np.vstack raises on an empty batch
            return pd.Series([], dtype=bool)
        bm = np.frombuffer(bits, dtype=np.uint8)
        # k positions per row, packed as one array column (pandas_udf has
        # no varargs signature); vstack → (n, k) int matrix, all-bits-set
        pos = np.vstack(pos_arrays.to_numpy())
        hit = ((bm[pos >> 3] >> (pos & 7)) & 1).astype(bool)
        return pd.Series(hit.all(axis=1))

    # hint-free form: `from __future__ import annotations` stringifies
    # hints and pyspark can't resolve them against function-local imports
    might_contain = pandas_udf(_might_contain, "boolean")

    tagged = df.withColumn(
        "__maybe",
        might_contain(F.array(*_bloom_position_cols(df_key, num_bits, num_hashes))),
    )
    # the two branches each scan+probe independently (the UDF is a cheap
    # vectorized bitmap lookup); the alternative — one anti-join over ALL
    # rows with `__maybe AND key=key` — would drag every definite-miss
    # through the shuffle, which is exactly what the bloom exists to avoid
    misses = tagged.filter(~F.col("__maybe")).drop("__maybe")
    maybes = tagged.filter(F.col("__maybe")).drop("__maybe")
    seen_keys = seen.select(seen_key.alias("__sk")).distinct()
    verified = (
        maybes.withColumn("__dk", df_key)
        .join(seen_keys, F.col("__dk") == F.col("__sk"), "left_anti")
        .drop("__dk")
    )
    return misses.unionByName(verified)


def snapshot_diff(old: DataFrame, new: DataFrame, key_col: str,
                  digest: Column | None = None,
                  text_col: str = "text") -> DataFrame:
    """Change-data derivation between two corpus snapshots: one row per
    key present in either side, labeled ``added`` (new only), ``removed``
    (old only), ``changed`` (both, digest differs) or ``unchanged`` —
    the crawl-over-crawl audit that tells a pipeline what to re-process
    (the complement of dedup_against, which only drops).

    Digest-only full outer join on the key: text never joins, each side
    reduces to ONE (key, digest) row per key first (groupBy-max — a
    duplicate-key crawl record must not fan the diff out into a
    cross-product), so the shuffle carries two bigints per row. Default
    digest = the normalized text key. Presence is tracked with explicit
    markers, NOT digest nullity — a NULL text (NULL digest) on a present
    key is still present, and NULL-vs-value digests compare as changed
    via null-safe equality.
    """
    dg = digest if digest is not None else normalized_text_key(F.col(text_col))
    o = (old.select(F.col(key_col).alias("__k"), dg.alias("__od"))
         .groupBy("__k").agg(F.max("__od").alias("__od"))
         .withColumn("__op", F.lit(1)))
    n = (new.select(F.col(key_col).alias("__k"), dg.alias("__nd"))
         .groupBy("__k").agg(F.max("__nd").alias("__nd"))
         .withColumn("__np", F.lit(1)))
    joined = o.join(n, "__k", "full_outer")
    return joined.select(
        F.col("__k").alias(key_col),
        F.when(F.col("__op").isNull(), "added")
        .when(F.col("__np").isNull(), "removed")
        .when(~F.col("__od").eqNullSafe(F.col("__nd")), "changed")
        .otherwise("unchanged")
        .alias("change"),
    )


def token_set_jaccard_pairs(df: DataFrame, id_col: str, token_col: str,
                            min_jaccard: float = 0.5,
                            max_bucket_size: int | None = 256,
                            metric: str = "jaccard",
                            min_common: int = 1,
                            distinct_with_sizes: bool = False) -> DataFrame:
    """Exact set-Jaccard candidate pairs over a PRE-EXPLODED
    (id, token) relation — :func:`jaccard_pairs` without the text
    shingling front end, for ids whose "tokens" are already first-class
    rows: sampled video frame digests
    (:func:`~metadata_enhanced_pretrain_datapipeline_spark.operators.multimodal.video_near_dup_pairs`),
    per-host URL sets, citation lists. Returns (id_a, id_b, jaccard)
    with id_a < id_b, jaccard = |A∩B| / (|A|+|B|-|A∩B|) over DISTINCT
    tokens, >= ``min_jaccard``.

    Scale shape: three narrow exchanges over (id, token) rows — the
    distinct, a per-id window count (true set sizes, taken BEFORE any
    bucket is dropped), and a per-token window count whose filter kills
    singleton buckets and (``max_bucket_size``) degenerate ones — a
    black-frame digest shared by half the corpus must not go quadratic.
    ``metric="containment"`` scores |A∩B| / min(|A|,|B|) instead (output
    column renamed to match, threshold applies to it): the trimmed-upload
    case — a clip whose frames are a SUBSET of the full video's — scores
    1.0 on containment but only |clip|/|full| on Jaccard.
    ``min_common`` additionally requires |A∩B| >= that COUNT — absolute
    shared-evidence thresholding (the MOSS convention for winnowed
    fingerprints), robust where ratio metrics dilute on length-skewed
    pairs; the default 1 is a no-op (every emitted pair shares a token).
    The surviving bucket rows then MATERIALIZE (lazy persist) before
    the self-join: a self-join re-evaluates its subtree per side, so
    without the boundary the whole distinct+count chain would run twice
    (the LeftAnti-through-Union lesson, same fix as
    drop_near_duplicates). Per-pair intersection counts come from the
    bucketed self-join's groupBy (AQE splits residual skew); set sizes
    ride the rows, so nothing re-aggregates the corpus. Dropping a
    capped bucket UNDERCOUNTS intersections for pairs sharing that
    token (conservative: pairs can only miss, never false-positive on
    jaccard) — same contract as every bucket cap in this family.
    ``distinct_with_sizes=True`` declares the input ALREADY carries
    distinct (id, token) rows plus an ``n_tok`` column with the true
    per-id set size (the :func:`winnow_fp_sets` shape, where both are
    computed inside the per-doc array before the explode) — the
    row-level distinct AND the per-id window count are then skipped:
    two fewer full exchanges of the token relation (r13). The caller
    owns the contract; duplicated rows under this flag double-count
    intersections.
    """
    from metadata_enhanced_pretrain_datapipeline_spark.checkpointing import materialize

    if distinct_with_sizes:
        tok = (df.select(F.col(id_col).alias("id"),
                         F.col("n_tok").cast("long").alias("n_tok"),
                         F.col(token_col).alias("token"))
               .filter(F.col("token").isNotNull()))
        counted = tok.withColumn(
            "__n", F.count("*").over(Window.partitionBy("token")))
    else:
        tok = (df.select(F.col(id_col).alias("id"),
                         F.col(token_col).alias("token"))
               .filter(F.col("token").isNotNull()).distinct())
        counted = (
            tok.withColumn("n_tok",
                           F.count("*").over(Window.partitionBy("id")))
            .withColumn("__n",
                        F.count("*").over(Window.partitionBy("token")))
        )
    upper = (F.col("__n") <= F.lit(max_bucket_size)
             if max_bucket_size is not None else F.lit(True))
    live = counted.filter((F.col("__n") >= 2) & upper).drop("__n")
    live = materialize(live, eager=False)
    a, b = live.alias("a"), live.alias("b")
    inter = (
        a.join(b, "token")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_tok").alias("n_a"),
            F.col("b.n_tok").alias("n_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    if min_common > 1:
        inter = inter.filter(F.col("n_common") >= F.lit(min_common))
    jac = (inter.withColumn(metric, _overlap_metric(metric))
           .select("id_a", "id_b", metric))
    return jac.filter(F.col(metric) >= F.lit(min_jaccard))


def semantic_contamination_hits(corpus: DataFrame, benchmark: DataFrame,
                                threshold: float = 0.9,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                bench_id_col: str = "bench_id",
                                bench_vec_col: str = "embedding",
                                max_benchmark: int = 65536,
                                centroids: list[list[float]] | None = None,
                                nprobe: int = 2) -> DataFrame:
    """SEMANTIC decontamination hits — the embedding-space counterpart
    of :func:`contamination_hits`: a corpus row is contaminated when its
    embedding's cosine to ANY benchmark vector reaches ``threshold``
    (6dp-rounded, the engine-portable compare the miners' rank bands
    use). N-gram decontamination misses paraphrased/translated benchmark
    leakage; this catches whatever the embedding space considers the
    same content (the reference's contamination story is n-gram-only —
    this is the extension a modern eval-hygiene pipeline adds on top).
    Returns (corpus_id, bench_id, cosine).

    Scale shape: benchmarks are small and stay small — the benchmark
    side is COUNTED against ``max_benchmark`` and raises loudly past it
    (the mine_hard_negatives contract). With ``centroids=None`` the
    bounded benchmark broadcasts and fans the corpus out in ONE scan
    (the deliberate multi-query shape; |corpus| × |bench| compares).
    With ``centroids``, corpus rows are IVF-assigned (argmax) and each
    benchmark vector probes its ``nprobe`` nearest lists via
    :func:`~metadata_enhanced_pretrain_datapipeline_spark.operators.similarity.ivf_probe_lists`
    — an equi-join on list_id (work/nlists; a corpus row lives in
    exactly one list so no pair double-counts). nprobe > 1 exists
    because decontamination MISSES are costly: a benchmark vector near
    a centroid boundary still probes the neighbor list. Hits outside
    the probed lists are missed by construction — the standard
    IVF recall trade, tunable with nprobe/nlists.
    """
    from metadata_enhanced_pretrain_datapipeline_spark.functions.arrays import (
        cosine_from_norms, l2_norm)
    from metadata_enhanced_pretrain_datapipeline_spark.operators.similarity import (
        ivf_assign, ivf_probe_lists)

    n_bench = benchmark.limit(max_benchmark + 1).count()
    if n_bench > max_benchmark:
        raise ValueError(
            f"semantic_contamination_hits: benchmark exceeds "
            f"max_benchmark={max_benchmark} — the benchmark side must "
            "stay broadcast-small; split it and union the hit sets.")
    # norms hoisted out of the |corpus|x|bench| fan-out (r12): once per
    # corpus row / per broadcast bench row, bit-identical per pair
    bench = benchmark.select(F.col(bench_id_col).alias("__bid"),
                             F.col(bench_vec_col).alias("__bv"),
                             l2_norm(F.col(bench_vec_col)).alias("__bn"))
    if centroids is None:
        paired = corpus.withColumn(
            "__cn", l2_norm(F.col(vec_col))).crossJoin(F.broadcast(bench))
    else:
        assigned = ivf_assign(corpus, centroids, vec_col).withColumn(
            "__cn", l2_norm(F.col(vec_col)))
        bench_lists = bench.withColumn(
            "list_id",
            F.explode(ivf_probe_lists(F.col("__bv"), centroids, nprobe)))
        paired = assigned.join(F.broadcast(bench_lists), "list_id")
    return (
        paired.select(
            F.col(id_col).alias("corpus_id"),
            F.col("__bid").alias("bench_id"),
            F.round(cosine_from_norms(F.col(vec_col), F.col("__bv"),
                                      F.col("__cn"), F.col("__bn")), 6)
            .alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )


def semantic_decontaminate(corpus: DataFrame, benchmark: DataFrame,
                           threshold: float = 0.9,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           bench_id_col: str = "bench_id",
                           bench_vec_col: str = "embedding",
                           max_benchmark: int = 65536,
                           centroids: list[list[float]] | None = None,
                           nprobe: int = 2) -> DataFrame:
    """Drop every corpus row :func:`semantic_contamination_hits` flags —
    ids-only distinct + left_anti, so the corpus embedding column never
    shuffles (same sink shape as :func:`decontaminate`)."""
    hits = semantic_contamination_hits(
        corpus, benchmark, threshold, id_col, vec_col, bench_id_col,
        bench_vec_col, max_benchmark, centroids, nprobe)
    hit_ids = hits.select(F.col("corpus_id").alias(id_col)).distinct()
    return corpus.join(hit_ids, id_col, "left_anti")


def token_set_jaccard_against(new_df: DataFrame, seen_df: DataFrame,
                              id_col: str, token_col: str,
                              min_jaccard: float = 0.5,
                              max_bucket_size: int | None = 256,
                              metric: str = "jaccard") -> DataFrame:
    """Incremental :func:`token_set_jaccard_pairs`: Jaccard candidate
    pairs between a NEW month's (id, token) sets and a persisted STORE
    of prior months' tokens — month N+1's media never re-pair among
    the already-deduped past, mirroring :func:`hamming_dedup_against`
    for the token-set families (video frame digests, audio window
    fingerprints, per-host URL sets). Both frames use ``id_col`` /
    ``token_col`` names. Returns (new_id, seen_id, jaccard) with
    jaccard over DISTINCT tokens >= ``min_jaccard``;
    ``metric="containment"`` swaps in |A∩B| / min(|A|,|B|) (column
    renamed to match) for the trimmed-clip-of-a-seen-video case.

    Scale shape: per side, two narrow window counts over the distinct
    (id, token) rows — true set sizes FIRST, then the per-token bucket
    guard (a token kept on both sides fans out at most
    ``max_bucket_size``² pairs; dropping a capped bucket undercounts
    conservatively, the family contract). The cross-frame equi-join on
    token replaces the pair generator's self-join, so no materialize
    boundary is needed — each subtree is consumed once.
    """
    def prep(d: DataFrame, side: str) -> DataFrame:
        t = (d.select(F.col(id_col).alias(f"{side}_id"),
                      F.col(token_col).alias("token"))
             .filter(F.col("token").isNotNull()).distinct())
        t = t.withColumn(f"n_{side}",
                         F.count("*").over(Window.partitionBy(f"{side}_id")))
        if max_bucket_size is not None:
            t = (t.withColumn("__n",
                              F.count("*").over(Window.partitionBy("token")))
                 .filter(F.col("__n") <= F.lit(max_bucket_size))
                 .drop("__n"))
        return t

    inter = (
        prep(new_df, "new").join(prep(seen_df, "seen"), "token")
        .groupBy("new_id", "seen_id", "n_new", "n_seen")
        .agg(F.count("*").alias("n_common"))
    )
    inter = inter.withColumnRenamed("n_new", "n_a").withColumnRenamed(
        "n_seen", "n_b")
    jac = (inter.withColumn(metric, _overlap_metric(metric))
           .select("new_id", "seen_id", metric))
    return jac.filter(F.col(metric) >= F.lit(min_jaccard))


def ngram_novelty(docs: DataFrame, ref: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", shingle_n: int = 3,
                  ref_text_col: str | None = None,
                  portable: bool = False,
                  out_col: str = "novelty") -> DataFrame:
    """Per-document n-gram NOVELTY against a reference corpus:
    ``1 − |shingles(doc) ∩ shingles(ref)| / |shingles(doc)|`` over
    distinct word n-grams — the memorization-risk / freshness signal
    (novelty ~0: the doc restates the reference, e.g. a re-crawl or a
    benchmark paraphrase; ~1: genuinely new text). The aggregate dual of
    :func:`contamination_hits` (hit COUNT, flag-pass semantics): same
    broadcast shingle-hash set, but every doc gets a score instead of
    contaminated docs getting a row.

    Scale shape is contamination's: the reference's distinct shingle
    hashes broadcast; the corpus-side shingle explosion is marked by
    the broadcast left join in place and collapses in ONE per-doc
    count/sum aggregation — shingles travel as 64-bit hashes, the
    corpus never shuffles them, text never leaves the scan stage.
    Docs with fewer than ``shingle_n`` words have no shingles and are
    absent from the output (no 0/0 row).
    """
    rt = ref_text_col or text_col
    ref_h = (
        ref.select(F.explode(word_shingles(F.col(rt), shingle_n)).alias("sh"))
        .select(_shingle_hash(F.col("sh"), portable).alias("h"))
        .distinct().withColumn("__r", F.lit(1))
    )
    doc_h = docs.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("sh"),
    ).select(id_col, _shingle_hash(F.col("sh"), portable).alias("h"))
    return (
        doc_h.join(F.broadcast(ref_h), "h", "left")
        .groupBy(id_col)
        .agg(F.round(
            F.lit(1.0)
            - F.sum(F.coalesce(F.col("__r"), F.lit(0))) / F.count("*"),
            6).alias(out_col))
    )


def paragraph_semantic_dedup(chunks: DataFrame, doc_id_col: str = "doc_id",
                             chunk_id_col: str = "chunk_id",
                             vec_col: str = "embedding",
                             threshold: float = 0.95, num_planes: int = 8,
                             max_bucket_size: int | None = 1024,
                             centroids: list[list[float]] | None = None,
                             min_kept_frac: float = 0.5) -> DataFrame:
    """SemDeDup at PARAGRAPH granularity — the paper's deployment shape
    (Abbas et al. 2023 dedupes chunk/paragraph embeddings, then data
    decisions happen per document): chunk near-duplicates collapse
    corpus-wide through :func:`semantic_dedup` (a boilerplate paragraph
    shared by 10k documents survives once), and each DOCUMENT is scored
    by its surviving-chunk fraction — ``keep`` is false when fewer than
    ``min_kept_frac`` of its chunks survive, i.e. the document is
    mostly semantically-duplicated content. The input is the
    (doc, chunk, embedding) relation the chunk-embedding annotator
    already produces (A1's explode shape, xlmr_embedding_annotator.py's
    per-512-token chunks).

    Chunk identity for the smaller-id-wins resolution is the exact
    integer ``doc_id * (max_chunk_id + 1) + chunk_id`` (one tiny agg
    for the stride — no hash collisions, deterministic winner, and the
    key arithmetic replays in SQL). Returns one row per document:
    (doc_id, n_chunks, kept_chunks, kept_frac, keep); the caller joins
    ``keep`` back to the corpus or thresholds kept_frac differently —
    the decision column is data, not a hidden filter.

    Scale: inherits semantic_dedup's one-bucket-exchange shape over
    (key, vec, bucket) rows; the per-doc rollup is one count
    aggregation on integer keys. Fraction compared on the 6dp-rounded
    value so the keep flag is bit-portable cross-engine.
    """
    bounds = chunks.agg(
        F.max(F.col(chunk_id_col)).alias("m"),
        F.min(F.col(chunk_id_col)).alias("lo"),
        F.max(F.abs(F.col(doc_id_col).cast("long"))).alias("d")).head()
    mx = bounds.m
    if mx is None:
        return chunks.sparkSession.createDataFrame(
            [], f"{doc_id_col} long, n_chunks long, kept_chunks long, "
                "kept_frac double, keep boolean")
    # the stride key is collision-free ONLY for chunk_id ∈ [0, mx] and
    # doc_id*stride+mx inside long range — a negative chunk_id aliases a
    # neighboring document's key, and overflow wraps silently with ANSI
    # off (ADVICE r9): guard both loudly instead of deduping wrongly.
    if int(bounds.lo) < 0:
        raise ValueError(
            f"paragraph_semantic_dedup: negative {chunk_id_col} "
            f"(min={bounds.lo}) breaks the collision-free stride key; "
            "re-index chunks to [0, max] first.")
    stride = int(mx) + 1
    if int(bounds.d or 0) > (2**63 - 1 - int(mx)) // stride:
        raise ValueError(
            f"paragraph_semantic_dedup: |{doc_id_col}|max={bounds.d} x "
            f"stride={stride} overflows long — colliding keys would "
            "pick wrong dedup winners; hash to a denser id space first.")
    keyed = chunks.withColumn(
        "__ck",
        F.col(doc_id_col).cast("long") * F.lit(stride)
        + F.col(chunk_id_col).cast("long"))
    kept = semantic_dedup(keyed, "__ck", vec_col, threshold, num_planes,
                          max_bucket_size, centroids)
    totals = keyed.groupBy(doc_id_col).agg(F.count("*").alias("n_chunks"))
    survived = kept.groupBy(doc_id_col).agg(
        F.count("*").alias("__kept"))
    frac = F.round(
        F.coalesce(F.col("__kept"), F.lit(0)) / F.col("n_chunks"), 6)
    return (totals.join(survived, doc_id_col, "left")
            .select(doc_id_col, "n_chunks",
                    F.coalesce(F.col("__kept"), F.lit(0))
                    .alias("kept_chunks"),
                    frac.alias("kept_frac"),
                    (frac >= F.lit(float(min_kept_frac))).alias("keep")))


def embedding_dedup_against(new: DataFrame, seen: DataFrame,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.95, num_planes: int = 8,
                            max_bucket_size: int | None = 1024,
                            centroids: list[list[float]] | None = None,
                            seen_bucket_col: str | None = None) -> DataFrame:
    """Incremental SEMANTIC dedup across snapshots — the embedding
    member of the against-store family (exact digests = dedup_against,
    MinHash bands = minhash_dedup_against, dHash = image_dedup_against,
    token sets = token_set_jaccard_against): drop a NEW vector when its
    cosine to ANY stored vector in its bucket reaches ``threshold``.
    The monthly-crawl story for semantic dedup: last month's corpus
    lives on as (embedding[, bucket]) rows, the deduplicated past is
    never re-paired against itself, and month N+1 pays one
    bucket-keyed equi-join against the store instead of a unioned
    self-join (which would also re-flag old-vs-old pairs).

    ``seen`` needs only the vector column (plus ``seen_bucket_col`` to
    reuse buckets persisted at write time —
    similarity.write_bucketed_embeddings' layout — skipping the
    recompute; when absent, buckets are recomputed with the SAME plane
    family/codebook, which must match the store's or the probe is
    meaningless — the minhash keying-mode lesson). Bucket modes and the
    degenerate-bucket guard are embedding_near_dup's: hyperplane LSH by
    default, ``centroids`` for the large-corpus branch; the guard
    bounds the per-bucket join the same conservative way (an
    over-capped bucket can only MISS drops, never invent them).
    Returns surviving ``new`` rows with all their columns.

    The guard's exclusions are DETECTABLE (ADVICE r9 — silent skips hid
    recall loss from degenerate store buckets): run
    :func:`overcap_bucket_stats` on the same store/config to get
    (overcap_buckets, overcap_seen_rows, max_seen_bucket) as one tiny
    aggregation. A ``df.observe`` metric riding the probe itself was
    tried and rejected: AQE's query-stage re-planning drops the
    CollectMetrics row in this join shape (empty Observation under
    adaptive execution, verified on 4.1), and the repo runs AQE on.
    """
    from metadata_enhanced_pretrain_datapipeline_spark.operators.similarity import (
        _nearest_centroid_col,
        lsh_bucket,
    )
    from metadata_enhanced_pretrain_datapipeline_spark.functions.arrays import (
        cosine_from_norms, l2_norm)

    def bucket_of(c):
        return (_nearest_centroid_col(c, centroids) if centroids is not None
                else lsh_bucket(c, num_planes))

    # norms hoisted out of the bucket-pair join (r12): once per new/seen
    # vector below the join, bit-identical per pair
    nk = new.select(F.col(id_col).alias("__nid"),
                    F.col(vec_col).alias("__nv"),
                    bucket_of(F.col(vec_col)).alias("__b"),
                    l2_norm(F.col(vec_col)).alias("__nn"))
    if seen_bucket_col is not None:
        sk = seen.select(F.col(vec_col).alias("__sv"),
                         F.col(seen_bucket_col).alias("__b"))
    else:
        sk = seen.select(F.col(vec_col).alias("__sv"),
                         bucket_of(F.col(vec_col)).alias("__b"))
    if max_bucket_size is not None:
        w = Window.partitionBy("__b")
        sk = (sk.repartition("__b")
              .withColumn("__n", F.count("*").over(w))
              .filter(F.col("__n") <= F.lit(max_bucket_size)).drop("__n"))
    # store-side norm AFTER the guard (rows a capped bucket drops never
    # pay it); once per surviving store row, not once per probe pair
    sk = sk.withColumn("__sn", l2_norm(F.col("__sv")))
    hits = (nk.join(sk, "__b")
            .filter(cosine_from_norms(F.col("__nv"), F.col("__sv"),
                                      F.col("__nn"), F.col("__sn"))
                    >= F.lit(threshold))
            .select(F.col("__nid").alias(id_col)).distinct())
    return new.join(hits, id_col, "left_anti")


def overcap_bucket_stats(seen: DataFrame, vec_col: str = "embedding",
                         max_bucket_size: int = 1024,
                         num_planes: int = 8,
                         centroids: list[list[float]] | None = None,
                         seen_bucket_col: str | None = None) -> DataFrame:
    """The visibility half of :func:`embedding_dedup_against`'s
    degenerate-bucket guard (ADVICE r9): one row of
    (overcap_buckets, overcap_seen_rows, max_seen_bucket) for a store
    under the SAME bucketing config the probe will use, so operators
    can detect recall loss (rows the guard will silently exclude)
    before trusting a probe's misses. One bucket-count aggregation over
    the store — the shuffle carries (bucket, count) longs, never
    vectors — with a single-row rollup; run it against the persisted
    store path, not the corpus.
    """
    from metadata_enhanced_pretrain_datapipeline_spark.operators.similarity import (
        _nearest_centroid_col,
        lsh_bucket,
    )

    b = (F.col(seen_bucket_col) if seen_bucket_col is not None
         else _nearest_centroid_col(F.col(vec_col), centroids)
         if centroids is not None
         else lsh_bucket(F.col(vec_col), num_planes))
    counts = seen.groupBy(b.alias("__b")).agg(F.count("*").alias("__n"))
    over = F.col("__n") > F.lit(max_bucket_size)
    return counts.agg(
        F.sum(over.cast("long")).alias("overcap_buckets"),
        F.sum(F.when(over, F.col("__n")).otherwise(F.lit(0)))
        .alias("overcap_seen_rows"),
        F.max(F.col("__n")).alias("max_seen_bucket"))


def _winnow_fp_structs(text: Column, k: int = 5, window: int = 4,
                       portable: bool = False) -> Column:
    """Winnowing fingerprint EXPRESSION (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every POSITIONAL word
    ``k``-gram of ``text``, slide a window of ``window`` consecutive
    gram hashes, and select each window's minimum — ties broken toward
    the RIGHTMOST position (the paper's robust-winnowing rule, made
    deterministic cross-engine). Returns an ``array<struct<h, np,
    pos>>`` of the selected (hash, position) pairs, deduplicated —
    :func:`winnow_fingerprints` explodes it to rows, and
    :func:`winnow_fp_sets` reduces it to per-doc distinct-hash sets
    map-side. Guarantee (the paper's): any shared word run of at least
    ``k + window - 1`` words contributes at least one IDENTICAL
    fingerprint hash to both documents, while the fingerprint density
    is ~2/(window+1) of all grams — the local, overlap-preserving
    compression that whole-doc digests (:func:`normalized_text_key`)
    and per-doc MinHash signatures both lack (MinHash estimates
    whole-set resemblance; winnowing LOCALIZES matches, so pair stages
    can threshold on shared-run evidence).

    Documents with fewer than ``k`` words yield an empty array;
    documents with 1..window-1 grams yield the single minimum over what
    grams exist (one whole-doc window), so short docs still
    fingerprint.

    Scale: everything is per-row codegen array arithmetic (the gram
    hashes and window minima are lambda-BOUND so each materializes
    once — the word_shingles precedent); the text column never leaves
    the scan projection.

    ``portable=True`` uses the engine-portable md5 gram hash so a SQL
    oracle replays fingerprints exactly; the bench path keeps xxhash64.
    """
    from metadata_enhanced_pretrain_datapipeline_spark.functions.text import tokens_ws

    def gram_struct(toks, i):
        joined = F.concat_ws(
            " ", F.slice(toks, i, k))
        return F.struct(
            _shingle_hash(joined, portable).alias("h"),
            (-i).alias("np"),  # struct min = (h asc, pos DESC): rightmost tie
            i.alias("pos"))

    grams = F.get(
        F.transform(
            F.array(tokens_ws(text)),
            lambda toks: F.filter(
                F.transform(
                    F.sequence(F.lit(1),
                               F.greatest(F.size(toks) - F.lit(k - 1),
                                          F.lit(1))),
                    lambda i: F.when(i + F.lit(k - 1) <= F.size(toks),
                                     gram_struct(toks, i)),
                ),
                lambda g: g.isNotNull(),
            ),
        ),
        0,
    )
    fps = F.get(
        F.transform(
            F.array(grams),
            lambda gs: F.array_distinct(
                F.filter(
                    F.transform(
                        F.sequence(
                            F.lit(1),
                            F.greatest(F.size(gs) - F.lit(window - 1),
                                       F.lit(1))),
                        lambda s: F.array_min(F.slice(gs, s, window)),
                    ),
                    lambda m: m.isNotNull(),
                )
            ),
        ),
        0,
    )
    return fps


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 5,
                        window: int = 4,
                        portable: bool = False) -> DataFrame:
    """Winnowing document fingerprints — see :func:`_winnow_fp_structs`
    for the algorithm and scale notes. Returns (id_col, pos, fp):
    ``pos`` is the 1-based gram start of the selected gram, ``fp`` its
    hash; (pos, fp) pairs are distinct per document, but the same fp
    can recur at several positions."""
    from metadata_enhanced_pretrain_datapipeline_spark.partitioning import (
        ensure_min_partitions,
    )

    # widen a narrow scan first (r12): the gram/window chain is pure
    # per-row CPU and the sf0.1 single-file corpus ran it in ONE task;
    # wide production scans are untouched.
    df = ensure_min_partitions(df)
    fps = _winnow_fp_structs(F.col(text_col), k, window, portable)
    # barrier-staged explode (r13): exploding the fingerprint array
    # directly lets InferFiltersFromGenerate's size/isnotnull predicate
    # push below the projection by alias substitution, re-inlining the
    # ENTIRE winnow chain into a Filter — every row paid the chain
    # twice (the r12 minhash_band_keys pushdown class, seen in this
    # op's own r13 plan audit). Staging through a 1-element-array
    # Generate folds the first inferred filter to a constant, and the
    # second explode's inferred filter references the Generate-output
    # ATTRIBUTE — a Generate is a pushdown barrier, so the chain now
    # evaluates exactly once per row.
    one = df.select(
        F.col(id_col),
        F.explode(F.array(F.struct(fps.alias("a")))).alias("__g1"))
    return (one.select(F.col(id_col), F.explode("__g1.a").alias("__fp"))
            .select(id_col, F.col("__fp.pos").alias("pos"),
                    F.col("__fp.h").alias("fp")))


def winnow_fp_sets(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", k: int = 5, window: int = 4,
                   portable: bool = False) -> DataFrame:
    """Per-document DISTINCT fingerprint hashes with the set size riding
    along: (id_col, n_tok, fp) where ``n_tok`` is the document's
    distinct-fp count — exactly the relation the set-overlap consumers
    (:func:`winnow_dedup_against`, :func:`winnow_overlap_pairs`) start
    from. The dedup and the size are computed INSIDE the per-document
    array (``array_distinct`` + ``size`` before the explode), so the
    consumers skip both the (id, fp) DISTINCT exchange and the per-id
    set-size window a row-level relation would need (r13: two full
    exchanges of the fingerprint relation removed; positions are
    dropped, which is what makes the map-side dedup possible)."""
    from metadata_enhanced_pretrain_datapipeline_spark.partitioning import (
        ensure_min_partitions,
    )

    df = ensure_min_partitions(df)
    hashes = F.array_distinct(F.transform(
        _winnow_fp_structs(F.col(text_col), k, window, portable),
        lambda g: g["h"]))
    # barrier-staged explode — see winnow_fingerprints: without it the
    # Generate-inferred size/isnotnull filter re-inlines the whole
    # winnow chain below this projection (r13 plan audit measured the
    # chain 3x per row at sf1.0)
    one = df.select(
        F.col(id_col),
        F.explode(F.array(F.struct(hashes.alias("a")))).alias("__g1"))
    return one.select(F.col(id_col), F.size("__g1.a").alias("n_tok"),
                      F.explode("__g1.a").alias("fp"))


def winnow_overlap_pairs(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", k: int = 5,
                         window: int = 4, min_jaccard: float = 0.0,
                         min_shared: int = 5,
                         max_bucket_size: int | None = 256,
                         portable: bool = False) -> DataFrame:
    """Partial-overlap candidate pairs via winnowed fingerprints — the
    MOSS composition: :func:`winnow_fingerprints` (localized shared-run
    evidence) feeding :func:`token_set_jaccard_pairs` on the DISTINCT
    fingerprint hashes. Catches documents sharing a long passage
    (quotation, boilerplate splice, partial plagiarism) that whole-doc
    near-dup dilutes away. The PRIMARY lever is ``min_shared`` — the
    MOSS convention of absolute shared-fingerprint count (a shared run
    of >= k + m*window - 1 words provably yields >= m shared
    fingerprints by the window-covering argument), because ratio
    metrics dilute on length-skewed pairs: a 24-word splice inside a
    long document scores tiny Jaccard but a guaranteed count.
    ``min_jaccard`` remains available as a secondary ratio gate.
    Returns (id_a, id_b, jaccard) over fingerprint sets, id_a < id_b.

    ``id_col`` must be unique in ``df``: a duplicated id double-counts
    its shared fingerprints, which can push the Jaccard above 1."""
    fps = winnow_fp_sets(df, id_col, text_col, k, window, portable)
    return token_set_jaccard_pairs(
        fps.select(F.col(id_col).alias("id"), "n_tok", F.col("fp")),
        "id", "fp", min_jaccard, max_bucket_size, min_common=min_shared,
        distinct_with_sizes=True)


def winnow_dedup_against(new_docs: DataFrame, seen_fps: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         k: int = 5, window: int = 4,
                         min_shared: int = 5,
                         portable: bool = False) -> DataFrame:
    """Incremental PARTIAL-OVERLAP dedup across snapshots: drop new
    documents sharing at least ``min_shared`` winnowed fingerprints
    with a persisted fingerprint store — the winnowing member of the
    against-store family (exact digests = dedup_against, MinHash bands
    = minhash_dedup_against, dHashes = image_dedup_against, token sets
    = token_set_dedup_against, vectors = embedding_dedup_against).
    The monthly-crawl story for SPLICED content: a new page quoting a
    24-word passage already crawled last month shares >= 5 fingerprints
    by the window-covering guarantee and drops, even when the rest of
    the page is fresh — whole-doc digests and MinHash resemblance both
    dilute this case away. ``seen_fps`` needs only ``fp``
    (:func:`winnow_fingerprints` output persisted from prior months —
    8-byte hashes; last month's text never re-tokenizes).

    Returns surviving ``new_docs`` rows (all columns intact). Documents
    too short to fingerprint can never hit the store and are KEPT.
    ``id_col`` must be unique in ``new_docs``: rows sharing an id pool
    their hits, so a duplicated document can reach ``min_shared`` on
    double-counted evidence.

    Scale: the new month fingerprints once (per-row codegen arrays,
    deduplicated INSIDE the per-doc array — r13: the old row-level
    ``.distinct()`` was a full extra exchange of the fingerprint
    relation); the store side is distinct-ed per fp so re-ingested
    duplicates cannot double-count; one fp equi-join over (id, long)
    rows, a per-id count, and an ids-only anti-join — text never
    shuffles."""
    fps = winnow_fp_sets(new_docs, id_col, text_col, k, window,
                         portable).select(F.col(id_col), F.col("fp"))
    seen = seen_fps.select("fp").distinct()
    hits = (fps.join(seen, "fp")
            .groupBy(id_col).agg(F.count("*").alias("__n"))
            .filter(F.col("__n") >= F.lit(min_shared))
            .select(id_col))
    return new_docs.join(hits, id_col, "left_anti")


def choose_lsh_params(threshold: float,
                      num_hashes: int = 32) -> tuple[int, int]:
    """Pick the (bands, rows_per_band) factorization of ``num_hashes``
    whose S-curve midpoint ``(1/bands)^(1/rows)`` lands nearest the
    target Jaccard ``threshold`` — the principled parameter chooser for
    :func:`minhash_lsh_pairs` instead of folklore defaults: below the
    midpoint candidate probability falls off steeply, above it rises
    steeply, so matching the midpoint to the dedup threshold minimizes
    both misses and junk candidates. Deterministic: exact divisor
    enumeration, ties broken toward MORE bands (higher recall — a
    missed near-dup costs more than an extra verification). Returns
    (bands, rows_per_band)."""
    best = None
    for bands in range(1, num_hashes + 1):
        if num_hashes % bands:
            continue
        rows = num_hashes // bands
        mid = (1.0 / bands) ** (1.0 / rows)
        key = (abs(mid - threshold), -bands)
        if best is None or key < best[0]:
            best = (key, (bands, rows))
    return best[1]


def edit_distance_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", max_edits: int = 4,
                        num_hashes: int = 8, bands: int = 4,
                        shingle_n: int = 3, max_bucket_size: int = 64,
                        portable: bool = False) -> DataFrame:
    """Edit-distance near-duplicate pairs: MinHash-LSH candidate
    generation, EXACT thresholded-Levenshtein verification.

    The precise complement of the resemblance family: Jaccard over
    shingles measures set overlap (robust to reordering, blind to small
    in-place edits' count), winnowing finds localized shared runs —
    this returns pairs whose full texts are within ``max_edits``
    single-character operations, the metric plagiarism/boilerplate
    review and training-data forensics actually quote. Same recall
    contract as every LSH op here: a pair is only checked if the
    banding surfaces it (reference near-dedup semantics,
    fineweb-2/main.py's minhash stage; calibrate with
    :func:`choose_lsh_params`).

    Scale shape: candidates come from :func:`minhash_lsh_pairs` (one
    (band,key) exchange, bucket-capped, never all-pairs); full text
    then travels ONLY for candidate ids (two id-equi-joins), and the
    verify runs JVM-side via Spark's thresholded ``levenshtein(a, b,
    k)`` — banded DP that early-exits at k, O(k·min(m,n)) per pair
    instead of O(m·n), returning -1 past the threshold so the filter
    never materializes distances it won't keep.
    """
    cand = minhash_lsh_pairs(df, id_col=id_col, text_col=text_col,
                             num_hashes=num_hashes, bands=bands,
                             shingle_n=shingle_n,
                             max_bucket_size=max_bucket_size,
                             portable=portable)
    t = df.select(F.col(id_col), F.col(text_col))
    ta = t.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta"))
    tb = t.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb"))
    return (cand.join(ta, "id_a").join(tb, "id_b")
                .select("id_a", "id_b",
                        F.levenshtein(F.col("__ta"), F.col("__tb"),
                                      int(max_edits)).alias("edit_distance"))
                .where(F.col("edit_distance") >= 0))
