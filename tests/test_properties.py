"""Hypothesis property tests for the order-dependent operators (SURVEY §5.2):
W1 segmentation and W2 packing invariants must hold for ARBITRARY inputs,
not just the fixtures."""

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from metadata_enhanced_pretrain_datapipeline_spark.operators import segment, tokens

_slow = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(0, 2),            # doc
        st.integers(0, 30),           # idx
        st.text(alphabet="abcd", min_size=0, max_size=12),  # txt
        st.booleans(),                # ok
    ),
    min_size=0,
    max_size=25,
    unique_by=lambda t: (t[0], t[1]),
)


@_slow
@given(rows=rows_strategy, max_length=st.integers(4, 40))
def test_segment_blocks_invariants(spark, rows, max_length):
    df = spark.createDataFrame(rows, "doc long, idx long, txt string, ok boolean") \
        if rows else spark.createDataFrame([], "doc long, idx long, txt string, ok boolean")
    out = segment.segment_blocks(df, "doc", "idx", "txt", max_length=max_length,
                                 valid_col="ok", max_gap=2).collect()
    # 1. no MULTI-ROW block exceeds max_length (a single oversized row is
    #    its own block, never dropped — paradocs parity)
    assert all(len(r.text) <= max_length for r in out if r.n_rows > 1)
    # 2. valid rows are conserved exactly
    valid = [t for t in rows if t[3]]
    assert sum(r.n_rows for r in out) == len(valid)
    # 3. every block belongs to an input doc
    assert {r.doc for r in out} <= {t[0] for t in rows}


texts_strategy = st.lists(
    st.text(alphabet="xyz ", min_size=0, max_size=40), min_size=1, max_size=15
)


@_slow
@given(texts=texts_strategy, seq_len=st.integers(4, 64))
def test_pack_sequences_invariants(spark, texts, seq_len):
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tokens.pack_sequences(df, "doc_id", seq_len=seq_len, shards=2).collect()
    n_tokens = sum(len(t.split()) for t in texts)
    # every sequence exactly seq_len; non-pad tokens conserved
    assert all(len(r.tokens) == seq_len for r in out)
    assert sum(len(r.tokens) - r.n_pad for r in out) == n_tokens
    # seq_idx dense per shard
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.seq_idx)
    for idxs in by_shard.values():
        assert sorted(idxs) == list(range(len(idxs)))


def _naive_pack_with_metadata(rows, seq_len, pad_id=1, per_sequence=False):
    """Reference fold for the differential test: the straightforward
    per-token list implementation of megatron_tokenizer_context.py:283-334
    semantics (shard pre-assigned; rows pre-sorted)."""
    BOC, EOC = 2, 3
    bufs, meta_c, pad_c, counters, out = {}, {}, {}, {}, []

    def emit_full(shard):
        buf = bufs[shard]
        while len(buf) >= seq_len:
            out.append((shard, counters.get(shard, 0), tuple(buf[:seq_len]),
                        pad_c.pop(shard, 0), meta_c.get(shard, 0)))
            counters[shard] = counters.get(shard, 0) + 1
            meta_c[shard] = 0
            del buf[:seq_len]

    for shard, toks, mtoks in rows:
        buf = bufs.setdefault(shard, [])
        run = [BOC, *mtoks, EOC]
        if len(run) > seq_len:
            run = run[: seq_len - 1] + [EOC]

        def inject():
            room = seq_len - (len(buf) % seq_len)
            if room < len(run):
                buf.extend([pad_id] * room)
                pad_c[shard] = pad_c.get(shard, 0) + room
                emit_full(shard)
            buf.extend(run)
            meta_c[shard] = meta_c.get(shard, 0) + len(run)

        if per_sequence:
            inject()
            for t in toks:
                if len(buf) % seq_len == 0 and len(buf) > 0:
                    emit_full(shard)
                    inject()
                buf.append(t)
        else:
            inject()
            buf.extend(toks)
        emit_full(shard)

    for shard, buf in bufs.items():
        if buf:
            pad = seq_len - len(buf) + pad_c.pop(shard, 0)
            out.append((shard, counters.get(shard, 0),
                        tuple(buf + [pad_id] * (seq_len - len(buf))), pad,
                        meta_c.get(shard, 0)))
    return sorted(out)


@_slow
@given(
    docs=st.lists(
        st.tuples(st.text(alphabet="pq ", max_size=30),   # text
                  st.text(alphabet="m ", max_size=40)),  # meta words
        min_size=1, max_size=10,
    ),
    seq_len=st.integers(6, 48),
    per_seq=st.booleans(),
)
# an 8-word meta cut to a run of exactly seq_len, re-injected per sequence
@example(docs=[("p p p", "m m m m m m m m")], seq_len=6, per_seq=True)
def test_pack_with_metadata_differential(spark, docs, seq_len, per_seq):
    """The Arrow fold must equal the naive per-token list fold exactly —
    including straddle pads, meta/pad attribution and cross-batch carry."""
    from pyspark.sql import functions as F

    from metadata_enhanced_pretrain_datapipeline_spark.functions.hashing import md5_hash64

    rows = [(i, t, m) for i, (t, m) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, meta string")
    got = sorted(
        (r.shard, r.seq_idx, tuple(r.tokens), r.n_pad, r.n_meta_tokens)
        for r in tokens.pack_with_metadata(
            df, "doc_id", seq_len=seq_len, shards=2, per_sequence=per_seq
        ).collect()
    )
    # replicate the operator's shard assignment + tokenization host-side
    shard_tok = df.select(
        (md5_hash64(F.col("doc_id")) % F.lit(2)).alias("shard"),
        F.col("doc_id"),
        tokens.tokenize_ws(F.col("text")).alias("toks"),
        tokens.tokenize_ws(F.substring(F.col("meta"), 1, 50)).alias("mtoks"),
    ).collect()
    naive_rows = [(r.shard, list(r.toks), list(r.mtoks))
                  for r in sorted(shard_tok, key=lambda r: (r.shard, r.doc_id))]
    want = _naive_pack_with_metadata(naive_rows, seq_len, per_sequence=per_seq)
    assert got == want


budget_rows = st.lists(
    st.tuples(
        st.integers(0, 99),       # id
        st.sampled_from(["a", "b", "c"]),
        st.integers(0, 20),       # tokens
    ),
    min_size=1, max_size=30,
    unique_by=lambda t: t[0],
)


@_slow
@given(rows=budget_rows, budget=st.integers(0, 60), nb=st.integers(1, 9))
def test_token_budget_cap_invariants(spark, rows, budget, nb):
    from pyspark.sql import functions as F

    from metadata_enhanced_pretrain_datapipeline_spark.functions.hashing import salted_hash
    from metadata_enhanced_pretrain_datapipeline_spark.operators import sampling

    df = spark.createDataFrame(rows, "id long, grp string, n long")
    kept = sampling.token_budget_cap(
        df, "grp", F.col("n"), budget, F.col("id"), num_buckets=nb).collect()
    kept_ids = {r.id for r in kept}
    # priority order = (salted_hash(id), id)
    order = {r.id: (r.h, r.id) for r in
             df.withColumn("h", salted_hash(F.col("id"))).collect()}
    by_grp: dict = {}
    for i, g, n in rows:
        by_grp.setdefault(g, []).append((order[i], i, n))
    for g, items in by_grp.items():
        items.sort()
        acc, want = 0, set()
        for _, i, n in items:
            if acc + n <= budget:
                want.add(i)
            acc += n  # inclusive running sum — NOT best-fit: later smaller
            #           rows must not sneak in past an overflow (prefix rule)
        got = {i for i in kept_ids if any(i == x[1] for x in items)}
        assert got == want


@_slow
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d", "e"]), min_size=0, max_size=14),
        min_size=1, max_size=8,
    ),
    n=st.integers(2, 4),
    min_count=st.integers(2, 3),
)
def test_excise_repeated_ngrams_matches_naive_fold(spark, docs, n, min_count):
    """Differential: the distributed positional-hash excision must equal a
    naive single-process reference on arbitrary tiny corpora (small
    alphabet forces plenty of repeated n-grams, within AND across docs)."""
    from collections import Counter

    from metadata_enhanced_pretrain_datapipeline_spark.operators import dedup

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_kept_words, r.text)
           for r in dedup.excise_repeated_ngrams(
               df, n=n, min_count=min_count).collect()}

    counts = Counter()
    for ws in docs:
        for s in range(len(ws) - n + 1):
            counts[tuple(ws[s:s + n])] += 1
    want = {}
    for i, ws in enumerate(docs):
        flagged = [s for s in range(len(ws) - n + 1)
                   if counts[tuple(ws[s:s + n])] >= min_count]
        kept = [w for j, w in enumerate(ws)
                if not any(s <= j <= s + n - 1 for s in flagged)]
        want[i] = (len(kept), " ".join(kept))
    assert got == want


@_slow
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda p: p[0] != p[1]),
        min_size=1, max_size=20,
    )
)
def test_duplicate_clusters_matches_union_find(spark, edges):
    from metadata_enhanced_pretrain_datapipeline_spark.operators import dedup

    pairs = [(min(a, b), max(a, b)) for a, b in edges]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r.doc_id: r.cluster_id for r in dedup.duplicate_clusters(df).collect()}

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert got == want


segments_strategy = st.lists(
    st.tuples(
        st.integers(0, 4),                                  # doc
        st.integers(0, 15),                                 # pos
        st.text(alphabet="xy", min_size=1, max_size=4),     # segment
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda t: (t[0], t[1]),
)


@_slow
@given(segs=segments_strategy)
def test_segment_dedup_first_wins_invariants(spark, segs):
    """For ARBITRARY segment streams: (a) exactly one survivor per
    distinct segment text, (b) each survivor is the (doc, pos)-smallest
    occurrence, (c) survivors are a subset of the input rows."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators import dedup

    df = spark.createDataFrame(segs, "doc_id long, pos int, segment string")
    kept = [(r.doc_id, r.pos, r.segment)
            for r in dedup.segment_dedup(df).collect()]
    inp = set(segs)
    assert set(kept) <= inp
    by_text = {}
    for d, p, s in segs:
        cur = by_text.get(s)
        if cur is None or (d, p) < cur:
            by_text[s] = (d, p)
    expect = {(d, p, s) for s, (d, p) in by_text.items()}
    assert set(kept) == expect


bloom_keys_strategy = st.tuples(
    st.sets(st.integers(0, 300), max_size=40),   # corpus keys
    st.sets(st.integers(0, 300), max_size=40),   # seen keys
    st.sampled_from([64, 256, 1 << 12]),         # bloom sizes incl. saturated
)


@_slow
@given(cfg=bloom_keys_strategy)
def test_bloom_anti_join_always_equals_plain_anti_join(spark, cfg):
    """For ARBITRARY key sets and bloom sizes (including tiny saturated
    filters that force everything through the verify path), the
    bloom-prefiltered anti-join must equal the plain anti-join exactly —
    false positives cost work, never rows; false negatives are
    impossible."""
    from pyspark.sql import functions as F

    from metadata_enhanced_pretrain_datapipeline_spark.operators import dedup

    corpus_keys, seen_keys, bits = cfg
    corpus = spark.createDataFrame(
        [(k,) for k in sorted(corpus_keys)] or [(None,)], "k long").filter(
        F.col("k").isNotNull())
    seen = spark.createDataFrame(
        [(k,) for k in sorted(seen_keys)] or [(None,)], "sk long").filter(
        F.col("sk").isNotNull())
    out = dedup.bloom_anti_join(
        corpus, seen, df_key=F.col("k").cast("string"),
        seen_key=F.col("sk").cast("string"), num_bits=bits, num_hashes=3)
    got = sorted(r.k for r in out.collect())
    assert got == sorted(corpus_keys - seen_keys)


upsert_batches_strategy = st.lists(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 30), st.integers(0, 99)),
        min_size=0, max_size=8,
        unique_by=lambda t: (t[0], t[1]),  # version unique per key per batch
    ),
    min_size=1, max_size=4,
)


@_slow
@given(batches=upsert_batches_strategy)
def test_versioned_upsert_idempotent_and_order_independent(spark, batches):
    """With versions unique per key (the CDC contract): folding batches
    in ANY order converges to the global max-version row per key, and
    re-applying any batch is a no-op (retry safety)."""
    from metadata_enhanced_pretrain_datapipeline_spark.streaming.events import versioned_upsert

    # make versions globally unique per key across batches too
    seen = set()
    flat = []
    for bi, b in enumerate(batches):
        kept = []
        for k, v, p in b:
            if (k, v) not in seen:
                seen.add((k, v))
                kept.append((k, v, p))
        flat.append(kept)
    schema = "k long, version int, payload int"
    empty = spark.createDataFrame([], schema)

    def fold(order):
        t = empty
        for b in order:
            t = versioned_upsert(t, spark.createDataFrame(b, schema) if b else empty,
                                 ["k"], "version")
        return {r.k: (r.version, r.payload) for r in t.collect()}

    fwd = fold(flat)
    rev = fold(list(reversed(flat)))
    # reference: global max version per key
    best = {}
    for b in flat:
        for k, v, p in b:
            if k not in best or v > best[k][0]:
                best[k] = (v, p)
    assert fwd == best and rev == best
    # retry: re-applying the last batch onto the already-folded table
    # changes nothing (no third fold chain — rebuild from the fwd dict)
    if flat and flat[-1]:
        t = spark.createDataFrame(
            [(k, v, pay) for k, (v, pay) in fwd.items()] or [], schema)
        again = versioned_upsert(t, spark.createDataFrame(flat[-1], schema), ["k"], "version")
        assert {r.k: (r.version, r.payload) for r in again.collect()} == best


@_slow
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda p: p[0] != p[1]),
        min_size=0, max_size=20,
    )
)
def test_leakage_safe_split_never_separates_connected_docs(spark, edges):
    """End-to-end leakage safety for ARBITRARY pair graphs: run the REAL
    clustering (pointer doubling) into the REAL split and assert no two
    connected docs ever land in different splits — the contamination
    the operator exists to make impossible — and that every doc (in a
    pair or not) gets exactly one assignment."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators import dedup, sampling

    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    pairs = [(min(a, b), max(a, b)) for a, b in edges]
    pdf = (spark.createDataFrame(pairs, "id_a long, id_b long")
           if pairs else spark.createDataFrame([], "id_a long, id_b long"))
    clusters = dedup.duplicate_clusters(pdf)
    out = {r.doc_id: (r.split_key, r.split)
           for r in sampling.leakage_safe_split(docs, clusters).collect()}
    assert set(out) == set(range(20))  # one row per doc, always

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in pairs:
        assert out[a] == out[b], f"connected {a},{b} split apart"
        assert find(a) == find(b)


# --- cross-engine hash parity (round 6) ---------------------------------
# Every oracle in the registry rests on md5_hash64/salted_hash producing
# the SAME 60-bit value in Spark and DuckDB. The fixtures only exercise
# ASCII-ish corpus text; this pins the primitive on arbitrary unicode
# (accents, CJK, emoji, control chars, NULLs) drawn by hypothesis.

_hash_strings = st.lists(
    st.one_of(
        st.none(),
        st.text(max_size=40),  # full unicode (minus surrogates)
    ),
    min_size=1,
    max_size=12,
)


@_slow
@given(strings=_hash_strings, salt=st.integers(0, 999))
def test_salted_hash_cross_engine_parity(spark, strings, salt):
    import duckdb

    from pyspark.sql import functions as F

    from metadata_enhanced_pretrain_datapipeline_spark.functions.hashing import (
        salted_hash, salted_hash_sql)

    rows = [(i, s) for i, s in enumerate(strings)]
    df = spark.createDataFrame(rows, "i long, s string")
    got = {r.i: r.h for r in df.select(
        "i", salted_hash(F.col("s"), salt).alias("h")).collect()}
    con = duckdb.connect()
    expr = salted_hash_sql("s", salt)
    for i, s in rows:
        want = con.execute(
            f"SELECT {expr} FROM (SELECT CAST(? AS VARCHAR) AS s)", [s]
        ).fetchone()[0]
        assert got[i] == want, (s, salt, got[i], want)
