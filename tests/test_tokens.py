import struct

import numpy as np
from pyspark.sql import functions as F

from metadata_enhanced_pretrain_datapipeline_spark.operators import tokens


def test_pack_conserves_tokens(spark, docs):
    n_tokens = docs.select(
        F.sum(F.size(tokens.tokenize_ws(F.col("text")))).alias("n")
    ).collect()[0].n
    packed = tokens.pack_sequences(docs, "doc_id", seq_len=64, shards=3)
    rows = packed.collect()
    total = sum(len(r.tokens) for r in rows)
    pad = sum(r.n_pad for r in rows)
    assert all(len(r.tokens) == 64 for r in rows)  # every sequence aligned
    assert total - pad == n_tokens  # non-pad tokens conserved
    # at most one partial (padded) sequence per shard (W2 property, §5.3)
    by_shard = {}
    for r in rows:
        if r.n_pad > 0:
            by_shard[r.shard] = by_shard.get(r.shard, 0) + 1
    assert all(v == 1 for v in by_shard.values())


def test_pack_deterministic(spark, docs):
    a = sorted(map(tuple, tokens.pack_sequences(docs, "doc_id", seq_len=64, shards=3)
                   .select("shard", "seq_idx", "n_pad").collect()))
    b = sorted(map(tuple, tokens.pack_sequences(docs, "doc_id", seq_len=64, shards=3)
                   .select("shard", "seq_idx", "n_pad").collect()))
    assert a == b


def test_megatron_idx_format_golden(tmp_path):
    """Byte-exact .idx spec (reference megatron_tokenizer.py:119-174):
    MMIDIDX magic, <Q version=1, <B dtype code, <Q counts, int32 lengths,
    int64 pointers, int64 doc indices."""
    with tokens._ShardFiles(str(tmp_path), 50000) as files:
        files.append(0, np.array([1, 2, 3, 4, 5]), np.array([3, 2]))
    (summary,) = files.summary()
    assert summary.to_pydict() == {"shard": [0], "n_tokens": [5]}
    bin_p, idx_p = str(tmp_path / "shard_00000.bin"), str(tmp_path / "shard_00000.idx")
    raw = open(idx_p, "rb").read()
    assert raw[:9] == b"MMIDIDX\x00\x00"
    off = 9
    (version,) = struct.unpack_from("<Q", raw, off); off += 8
    (code,) = struct.unpack_from("<B", raw, off); off += 1
    (n_seq,) = struct.unpack_from("<Q", raw, off); off += 8
    (n_doc,) = struct.unpack_from("<Q", raw, off); off += 8
    assert (version, code, n_seq, n_doc) == (1, 8, 2, 3)
    lengths = np.frombuffer(raw, dtype=np.int32, count=2, offset=off); off += 8
    pointers = np.frombuffer(raw, dtype=np.int64, count=2, offset=off); off += 16
    docidx = np.frombuffer(raw, dtype=np.int64, count=3, offset=off)
    assert lengths.tolist() == [3, 2]
    assert pointers.tolist() == [0, 6]  # uint16 -> 3 tokens = 6 bytes
    assert docidx.tolist() == [0, 1, 2]
    # bin payload: uint16 little-endian token ids
    payload = np.frombuffer(open(bin_p, "rb").read(), dtype=np.uint16)
    assert payload.tolist() == [1, 2, 3, 4, 5]


def test_write_megatron_distributed(spark, docs, tmp_path):
    out = str(tmp_path / "meg")
    tokens.write_megatron(docs, out, shards=2)
    import glob
    bins = sorted(glob.glob(out + "/*.bin"))
    idxs = sorted(glob.glob(out + "/*.idx"))
    assert len(bins) == 2 and len(idxs) == 2


def test_write_megatron_packed(spark, docs, tmp_path):
    out = str(tmp_path / "megp")
    tokens.write_megatron_packed(docs, out, seq_len=64, shards=2)
    import glob
    idxs = sorted(glob.glob(out + "/*.idx"))
    assert len(idxs) == 2
    # every packed doc is exactly seq_len tokens
    for idx in idxs:
        raw = open(idx, "rb").read()
        (n_seq,) = struct.unpack_from("<Q", raw, 18)
        lengths = np.frombuffer(raw, dtype=np.int32, count=n_seq, offset=34)
        assert all(l == 64 for l in lengths)


def test_read_megatron_rejects_bad_magic(tmp_path):
    import pytest

    from metadata_enhanced_pretrain_datapipeline_spark.operators.tokens import read_megatron_partition

    bad = tmp_path / "corrupt.idx"
    bad.write_bytes(b"NOTMAGIC" + b"\x00" * 64)
    (tmp_path / "corrupt.bin").write_bytes(b"\x00" * 8)
    with pytest.raises(ValueError, match="bad magic"):
        read_megatron_partition(str(tmp_path / "corrupt.bin"), str(bad))


def _executed_plan_of(spark, action) -> str:
    """The final physical plan, one node per line, of the one SQL
    execution ``action`` runs (read from the SQL status store, so
    operators that build and collect their own frame can be audited)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def latest(k):  # the k most recent retained executions, oldest first
        n = store.executionsCount()
        runs = store.executionsList(max(0, n - k), k)
        return [runs.apply(i) for i in range(runs.size())]

    conf = "spark.sql.ui.explainMode"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "simple")
    try:
        before = max([e.executionId() for e in latest(1)], default=-1)
        action()
    finally:
        spark.conf.set(conf, prev)
    plans = [e.physicalPlanDescription() for e in latest(5) if e.executionId() > before]
    assert len(plans) == 1, plans
    # the adaptive plan prints the plan it ran, then the initial one
    plan = plans[0].split("== Initial Plan ==")[0]
    return plan.split("== Final Plan ==")[-1].split("== Current Plan ==")[-1]


def test_write_megatron_packed_tokenizes_once_in_one_python_pass(spark, docs, tmp_path):
    """Text crosses the range exchange and is tokenized above it (the
    range sample job and the shuffle map never tokenize), and one
    mapInArrow packs and writes (packed tokens never return to the JVM)."""
    plan = _executed_plan_of(spark, lambda: tokens.write_megatron_packed(
        docs, str(tmp_path / "m"), seq_len=64, shards=2))
    lines = plan.splitlines()
    assert sum("MapInArrow" in line for line in lines) == 1, plan
    (ex,) = [i for i, line in enumerate(lines)
             if "Exchange rangepartitioning" in line]
    tokenizes = ["transform(" in line and "md5(" in line for line in lines]
    assert any(tokenizes[:ex]) and not any(tokenizes[ex:]), plan


def test_packed_shards_hold_the_pack_sequences_rows(spark, docs, tmp_path):
    """The sink and pack_sequences share one fold: each shard file holds
    exactly that shard's packed sequences, in seq_idx order."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators.tokens import read_megatron_partition

    out = str(tmp_path / "m")
    tokens.write_megatron_packed(docs, out, seq_len=64, shards=3)
    rows = tokens.pack_sequences(docs, "doc_id", seq_len=64, shards=3).collect()
    for shard in {r.shard for r in rows}:
        seqs = sorted((r.seq_idx, r.tokens) for r in rows if r.shard == shard)
        base = f"{out}/shard_{shard:05d}"
        lengths, flat = read_megatron_partition(base + ".bin", base + ".idx")
        assert lengths.tolist() == [64] * len(seqs)
        assert flat.tolist() == [t for _, s in seqs for t in s]


def test_write_megatron_shards_hold_docs_in_order(spark, docs, tmp_path):
    """One Megatron document per input doc, in order-key order per shard."""
    from metadata_enhanced_pretrain_datapipeline_spark.functions.hashing import md5_hash64
    from metadata_enhanced_pretrain_datapipeline_spark.operators.tokens import read_megatron_partition

    out = str(tmp_path / "m")
    tokens.write_megatron(docs, out, shards=2)
    want = docs.select(
        (md5_hash64(F.col("doc_id")) % 2).alias("shard"), "doc_id",
        tokens.tokenize_ws(F.col("text")).alias("toks")).collect()
    for shard in (0, 1):
        mine = sorted((r.doc_id, r.toks) for r in want if r.shard == shard)
        base = f"{out}/shard_{shard:05d}"
        lengths, flat = read_megatron_partition(base + ".bin", base + ".idx")
        assert lengths.tolist() == [len(t) for _, t in mine]
        assert flat.tolist() == [t for _, toks in mine for t in toks]
