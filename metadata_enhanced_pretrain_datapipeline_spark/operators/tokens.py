"""Tokenization, sequence packing, and the Megatron binary sink
(SURVEY.md §2.9 W2 / §2.2 K4).

The tokenizer is a whitespace+vocab-hash stub (real BPE libs aren't in the
container); the packing and binary-format logic — the part the reference
actually implements (megatron_tokenizer.py:78-204,
megatron_tokenizer_context.py:210-356) — is real.

Physical shape: the running `offset_in_sequence` carries ACROSS documents
(megatron_tokenizer_context.py:301-324), so output depends on document
order. Every operator here shuffles (shard, order key, text) with
repartitionByRange(shard).sortWithinPartitions(shard, order) and
tokenizes AFTER the sort (:func:`_tokens_by_shard`): each doc is
tokenized once, not again in the range-partitioning sample job and the
shuffle map. One mapInArrow per partition then folds and, for the sinks,
writes: token arrays travel as Arrow int32 buffers (no pickle, no
per-token Python objects), one packing fold (:func:`_pack_fold`, behind
:func:`pack_sequences`, :func:`pack_with_metadata` and
:func:`write_megatron_packed`) works on numpy views, and the shard writer (:class:`_ShardFiles`) appends to the
.bin files as the fold emits. Each partition ≡ one reference rank, which
also starts fresh at offset 0 (megatron_tokenizer_context.py:262) —
parity documented.
"""

from __future__ import annotations

import os
import struct
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metadata_enhanced_pretrain_datapipeline_spark.functions.hashing import md5_hash64
from metadata_enhanced_pretrain_datapipeline_spark.functions.text import tokens_ws


def _list_views(col: "pa.Array") -> tuple[np.ndarray, np.ndarray]:
    """(offsets, values) numpy views of an Arrow list<int32> column — the
    zero-copy access pattern that keeps token arrays out of Python objects."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    return np.asarray(col.offsets), np.asarray(col.values)


def _seq_batch(runs: list[tuple[int, int, np.ndarray, int, int]], seq_len: int,
               meta: bool = False) -> Iterator["pa.RecordBatch"]:
    """The packed sequences of :func:`_pack_fold` ``runs`` as Arrow
    batches of (shard, seq_idx, tokens, n_pad[, n_meta_tokens]) rows, one
    per sequence, each run's pad and meta counts on its first row: a
    single values buffer + uniform offsets, no per-token objects.

    Yields one batch normally; splits when a single batch's token count
    would overflow the int32 list offsets (n * seq_len >= 2^31 — e.g. a
    100 TB-scale fold yielding >2 Gi tokens at once). Splitting keeps the
    column type a plain list<int32> (Spark's mapInArrow schema), vs the
    large_list alternative that Spark's Arrow reader doesn't accept.
    """
    n_seq = np.array([len(r[2]) // seq_len for r in runs], np.int64)
    first = np.cumsum(n_seq) - n_seq  # row of each run's first sequence
    n = int(n_seq.sum())
    shard = np.repeat(np.array([r[0] for r in runs], np.int64), n_seq)
    seq_idx = np.repeat(np.array([r[1] for r in runs], np.int64) - first, n_seq) + np.arange(n)
    fields = {"n_pad": 3, "n_meta_tokens": 4} if meta else {"n_pad": 3}
    counts = {name: np.zeros(n, np.int32) for name in fields}
    for name, k in fields.items():
        counts[name][first] = [r[k] for r in runs]
    flat = np.concatenate([r[2] for r in runs]).astype(np.int32, copy=False)
    cap = max(1, ((1 << 31) - 1) // max(seq_len, 1))  # rows per batch
    for lo in range(0, n, cap):
        hi = min(lo + cap, n)
        tok_col = pa.ListArray.from_arrays(
            pa.array((np.arange(hi - lo + 1) * seq_len).astype(np.int32)),
            pa.array(flat[lo * seq_len:hi * seq_len], type=pa.int32()),
        )
        yield pa.RecordBatch.from_arrays(
            [pa.array(shard[lo:hi]), pa.array(seq_idx[lo:hi]), tok_col,
             *[pa.array(v[lo:hi]) for v in counts.values()]],
            ["shard", "seq_idx", "tokens", *counts])


def tokenize_ws(text: Column, vocab_size: int = 50000) -> Column:
    """Stub tokenizer: whitespace words → deterministic int ids via the
    portable hash (mod vocab). JVM-side; stands in for tokenizer.encode_batch
    (megatron_tokenizer.py:236).

    Tokenization semantics (incl. the empty-text guard) live in
    functions/text.tokens_ws — single source of truth."""
    return F.transform(
        tokens_ws(text), lambda w: (md5_hash64(w) % F.lit(vocab_size)).cast("int")
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """G6 — per-doc token counts + the stats the reference accumulates per
    rank and merges (stat_update("tokens", ...), megatron_tokenizer.py:283;
    merge job slurm_nodes.py:199-220). In Spark the merge job disappears:
    one agg."""
    return df.withColumn("n_tokens", F.size(tokenize_ws(F.col(text_col))))


def _tokens_by_shard(df: DataFrame, order_col: str, shards: int,
                     texts: dict[str, Column], vocab_size: int = 50000) -> DataFrame:
    """(shard, <name> token array per ``texts`` entry) rows, range-
    partitioned by shard and sorted by (shard, ``order_col``); shard =
    hash-bucket of the order key. The text crosses the exchange and is
    tokenized above the sort, so the range-partitioning sample job and
    the shuffle map never tokenize."""
    arranged = df.select(
        (md5_hash64(F.col(order_col)) % F.lit(shards)).alias("shard"),
        F.col(order_col).alias("__ord"),
        *[c.alias(f"__{name}") for name, c in texts.items()],
    ).repartitionByRange(shards, "shard").sortWithinPartitions("shard", "__ord")
    return arranged.select(
        "shard", *[tokenize_ws(F.col(f"__{name}"), vocab_size).alias(name) for name in texts])


def _shard_runs(shards_np: np.ndarray) -> Iterator[tuple[int, int, int]]:
    """(shard, start, end) of each run of equal shards in a batch sorted
    by shard."""
    change = np.nonzero(np.diff(shards_np))[0] + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [len(shards_np)]))
    for s, e in zip(starts, ends):
        yield int(shards_np[s]), int(s), int(e)


# Metadata conditioning (reference megatron_tokenizer_context.py:210-356,
# pack loop 283-334) marks a document's sequences with <BOC> meta <EOC>
# token runs.
BOC_ID = 2
EOC_ID = 3


class _Carry:
    """One shard's fold state: the pending token chunks (``total`` tokens,
    a partial sequence after each drain) and, for the next sequence
    emitted, its index and the pad and meta counts it carries — the
    reference's per-rank counters."""
    __slots__ = ("chunks", "total", "counter", "pad", "meta")

    def __init__(self):
        self.chunks: list[np.ndarray] = []
        self.total = self.counter = self.pad = self.meta = 0

    def add(self, arr: np.ndarray) -> None:
        if len(arr):
            self.chunks.append(arr)
            self.total += len(arr)


def _pack_fold(batches: Iterator["pa.RecordBatch"], seq_len: int, pad_id: int,
               meta: bool = False, per_sequence: bool = False
               ) -> Iterator[list[tuple[int, int, np.ndarray, int, int]]]:
    """The W2 packing fold over (shard, toks[, mtoks]) batches sorted by
    shard, then document order — the one fold behind
    :func:`pack_sequences` and :func:`pack_with_metadata` (rows) and
    :func:`write_megatron_packed` (shard files). Each shard's token
    stream is cut into seq_len sequences, the remainder carried across
    documents and batches (megatron_tokenizer_context.py:301-324; each
    shard ≈ one reference rank starting fresh, :262), and the final
    partial sequence padded with pad_id (:302).

    With ``meta``, a [BOC_ID, *mtoks, EOC_ID] run goes before each
    document, or, with ``per_sequence``, at the start of every sequence
    the document spans (:314-322). A run never straddles a boundary: if
    it does not fit in the current sequence's remainder, the remainder is
    padded and the run starts the next sequence. A run longer than a
    sequence is cut to [BOC_ID, *mtoks[:seq_len - 2], EOC_ID] (:296-298).
    Without ``meta`` each shard's tokens of a batch are added at once, no
    per-document loop.

    Yields, per input batch that completes a sequence and once for the
    padded tails, a list of runs ``(shard, seq_idx of the run's first
    sequence, the run's tokens flat (a multiple of seq_len), pad count,
    meta token count)``; both counts belong to the run's first sequence."""
    states: dict[int, _Carry] = {}
    boc, eoc = np.array([BOC_ID], np.int32), np.array([EOC_ID], np.int32)

    def drain(sh: int, st: _Carry, runs: list) -> None:
        if st.total < seq_len:
            return
        buf = st.chunks[0] if len(st.chunks) == 1 else np.concatenate(st.chunks)
        n_full = st.total // seq_len
        runs.append((sh, st.counter, buf[:n_full * seq_len], st.pad, st.meta))
        rest = buf[n_full * seq_len:]
        st.chunks = [np.array(rest, copy=True)] if len(rest) else []
        st.total = len(rest)
        st.counter += n_full
        st.pad = st.meta = 0

    def inject(sh: int, st: _Carry, run: np.ndarray, runs: list) -> None:
        room = seq_len - st.total % seq_len
        if room < len(run):
            st.add(np.full(room, pad_id, np.int32))
            st.pad += room
            drain(sh, st, runs)
        st.add(run)
        st.meta += len(run)

    for batch in batches:
        shards_np = np.asarray(batch.column(batch.schema.get_field_index("shard")))
        if len(shards_np) == 0:
            continue
        offs, vals = _list_views(batch.column(batch.schema.get_field_index("toks")))
        if meta:
            m_offs, m_vals = _list_views(batch.column(batch.schema.get_field_index("mtoks")))
        runs: list = []
        for sh, s, e in _shard_runs(shards_np):
            st = states.setdefault(sh, _Carry())
            if not meta:
                st.add(vals[offs[s]:offs[e]])
                drain(sh, st, runs)
                continue
            for r in range(s, e):
                doc = vals[offs[r]:offs[r + 1]]
                run = np.concatenate((boc, m_vals[m_offs[r]:m_offs[r + 1]], eoc))
                if len(run) > seq_len:
                    run = np.concatenate((run[:seq_len - 1], eoc))
                inject(sh, st, run, runs)
                if not per_sequence:
                    st.add(doc)
                else:  # re-inject at every boundary the document crosses
                    pos = 0
                    while pos < len(doc):
                        if st.total and st.total % seq_len == 0:
                            drain(sh, st, runs)
                            inject(sh, st, run, runs)
                        take = min(seq_len - st.total % seq_len, len(doc) - pos)
                        st.add(doc[pos:pos + take])
                        pos += take
                drain(sh, st, runs)
        if runs:
            yield runs
    tails = [(sh, st.counter,
              np.concatenate(st.chunks + [np.full(seq_len - st.total, pad_id, np.int32)]),
              seq_len - st.total + st.pad, st.meta)
             for sh, st in states.items() if st.total]
    if tails:
        yield tails


def pack_sequences(df: DataFrame, order_col: str, text_col: str = "text",
                   seq_len: int = 4096, pad_id: int = 1,
                   shards: int = 8) -> DataFrame:
    """W2 — stateful sequence packing: concatenate token streams doc-after-
    doc into fixed seq_len sequences, carrying the offset across documents
    (megatron_tokenizer_context.py:283-334); pad the final partial sequence
    with pad_id (=1, :302).

    Returns (shard, seq_idx, tokens array<int>, n_pad). Deterministic: shard
    = hash-bucket of order key ranges; docs sorted within shard.
    """
    arranged = _tokens_by_shard(df, order_col, shards, {"toks": F.col(text_col)})

    def fold(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for runs in _pack_fold(batches, seq_len, pad_id):
            yield from _seq_batch(runs, seq_len)

    return arranged.mapInArrow(fold, "shard long, seq_idx long, tokens array<int>, n_pad int")


def pack_with_metadata(df: DataFrame, order_col: str, text_col: str = "text",
                       meta_col: str = "meta", seq_len: int = 4096,
                       pad_id: int = 1, shards: int = 8,
                       per_sequence: bool = False,
                       meta_max_chars: int = 50,
                       vocab_size: int = 50000) -> DataFrame:
    """W2 full form — metadata-conditioned packing: :func:`pack_sequences`
    with a <BOC> meta <EOC> run (meta cut to ``meta_max_chars`` chars)
    before each document, or at the start of every sequence a document
    spans (``per_sequence``); placement rules in :func:`_pack_fold`.

    Returns (shard, seq_idx, tokens array<int>, n_pad, n_meta_tokens).
    """
    arranged = _tokens_by_shard(
        df, order_col, shards,
        {"toks": F.col(text_col), "mtoks": F.substring(F.col(meta_col), 1, meta_max_chars)},
        vocab_size)

    def fold(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for runs in _pack_fold(batches, seq_len, pad_id, meta=True, per_sequence=per_sequence):
            yield from _seq_batch(runs, seq_len, meta=True)

    return arranged.mapInArrow(
        fold, "shard long, seq_idx long, tokens array<int>, n_pad int, n_meta_tokens int")


# ---------------------------------------------------------------------------
# K4 — Megatron .bin/.idx sink. Byte format documented at reference
# megatron_tokenizer.py:119-174: header b"MMIDIDX\x00\x00", version <Q =1,
# dtype code <B (4=int32 ... 8=uint16), <Q sequence count, <Q doc count,
# int32 sequence lengths, int64 pointers, int64 document indices.
# ---------------------------------------------------------------------------

_MAGIC = b"MMIDIDX\x00\x00"


def _token_dtype(vocab_size: int) -> tuple[type, int]:
    """(numpy dtype, Megatron dtype code) of the token ids. Mirrors the
    reference PipelineStepWithTokenizer.token_size exactly: int32 only
    when vocab_size > np.iinfo(np.uint16).max + 1 (= 65536), else uint16
    (megatron_tokenizer.py:54-60,104-107)."""
    return (np.uint16, 8) if vocab_size <= 65536 else (np.int32, 4)


def _write_idx(idx_path: str, lengths: np.ndarray, code: int, itemsize: int) -> None:
    """The .idx of a .bin holding documents of ``lengths`` tokens back to
    back: magic, version, dtype code, counts, int32 lengths, int64 byte
    pointers, int64 document indices."""
    nbytes = lengths.astype(np.int64) * itemsize
    with open(idx_path, "wb") as i:
        i.write(_MAGIC)
        i.write(struct.pack("<Q", 1))
        i.write(struct.pack("<B", code))
        i.write(struct.pack("<Q", len(lengths)))
        i.write(struct.pack("<Q", len(lengths) + 1))
        i.write(lengths.astype(np.int32).tobytes(order="C"))
        i.write((np.cumsum(nbytes) - nbytes).tobytes(order="C"))
        i.write(np.arange(len(lengths) + 1, dtype=np.int64).tobytes(order="C"))


class _ShardFiles:
    """One task's Megatron shard writer: a ``shard_NNNNN.bin``/``.idx``
    pair per shard under ``out_dir``, one per reference rank
    (get_output_filename, megatron_tokenizer.py:207-209). ``append``
    streams a shard's next documents into its .bin; leaving the ``with``
    block closes every .bin and, unless it raised, writes every .idx.
    :meth:`summary` then yields the per-shard token totals, the only
    thing that reaches the driver."""

    def __init__(self, out_dir: str, vocab_size: int):
        self.out_dir = out_dir
        self.dtype, self.code = _token_dtype(vocab_size)
        self._bins: dict = {}
        self._lengths: dict[int, list[np.ndarray]] = {}

    def _base(self, shard: int) -> str:
        return os.path.join(self.out_dir, f"shard_{shard:05d}")

    def append(self, shard: int, flat: np.ndarray, lengths: np.ndarray) -> None:
        """Append documents of ``lengths`` tokens, back to back in ``flat``."""
        f = self._bins.get(shard)
        if f is None:
            f = self._bins[shard] = open(self._base(shard) + ".bin", "wb")
            self._lengths[shard] = []
        f.write(flat.astype(self.dtype, copy=False).tobytes(order="C"))
        self._lengths[shard].append(lengths)

    def __enter__(self) -> "_ShardFiles":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        for f in self._bins.values():
            f.close()
        if exc_type is None:
            itemsize = np.dtype(self.dtype).itemsize
            for shard, parts in self._lengths.items():
                _write_idx(self._base(shard) + ".idx", np.concatenate(parts),
                           self.code, itemsize)

    def summary(self) -> Iterator["pa.RecordBatch"]:
        if self._lengths:
            shards = sorted(self._lengths)
            yield pa.RecordBatch.from_arrays(
                [pa.array(shards, pa.int64()),
                 pa.array([int(sum(p.sum() for p in self._lengths[s])) for s in shards],
                          pa.int64())],
                ["shard", "n_tokens"])


def write_megatron(df: DataFrame, out_dir: str, text_col: str = "text",
                   order_col: str = "doc_id", shards: int = 4,
                   vocab_size: int = 50000) -> None:
    """Distributed K4 sink, one Megatron document per input doc: one
    .bin/.idx pair per shard (:class:`_ShardFiles`), docs in order-key
    order. Writes run executor-side inside mapInArrow."""
    arranged = _tokens_by_shard(df, order_col, shards, {"toks": F.col(text_col)}, vocab_size)
    os.makedirs(out_dir, exist_ok=True)

    def write_part(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        with _ShardFiles(out_dir, vocab_size) as files:
            for batch in batches:
                shards_np = np.asarray(batch.column(batch.schema.get_field_index("shard")))
                if len(shards_np) == 0:
                    continue
                offs, vals = _list_views(batch.column(batch.schema.get_field_index("toks")))
                for sh, s, e in _shard_runs(shards_np):
                    files.append(sh, vals[offs[s]:offs[e]], np.diff(offs[s:e + 1]))
        yield from files.summary()

    arranged.mapInArrow(write_part, "shard long, n_tokens long").collect()


def write_megatron_packed(df: DataFrame, out_dir: str, order_col: str = "doc_id",
                          text_col: str = "text", seq_len: int = 4096,
                          shards: int = 4, vocab_size: int = 50000) -> None:
    """K4 ∘ W2 — the reference's actual flow: tokenize → pack into fixed
    seq_len sequences (pad id 1) → write one .bin/.idx pair per shard,
    each packed sequence one Megatron 'document'
    (megatron_tokenizer_context.py:210-356 feeding MegatronTokenizedFile).
    One mapInArrow runs :func:`_pack_fold` and writes its sequences as
    they complete, so packed tokens never return to the
    JVM. Only a tiny per-shard summary reaches the driver."""
    arranged = _tokens_by_shard(df, order_col, shards, {"toks": F.col(text_col)}, vocab_size)
    os.makedirs(out_dir, exist_ok=True)

    def write_part(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        with _ShardFiles(out_dir, vocab_size) as files:
            for runs in _pack_fold(batches, seq_len, pad_id=1):
                for sh, _, flat, _, _ in runs:
                    files.append(sh, flat, np.full(len(flat) // seq_len, seq_len))
        yield from files.summary()

    arranged.mapInArrow(write_part, "shard long, n_tokens long").collect()


def read_megatron_partition(bin_path: str, idx_path: str) -> tuple[np.ndarray, np.ndarray]:
    """Read a .bin/.idx pair back: (per-doc lengths, flat token array) —
    the verification twin of :class:`_ShardFiles` (same layout:
    magic, version, dtype code, counts, int32 lengths, int64 pointers,
    int64 doc index; then the packed token buffer)."""
    with open(idx_path, "rb") as f:
        if f.read(len(_MAGIC)) != _MAGIC:
            raise ValueError(f"{idx_path}: bad magic")
        struct.unpack("<Q", f.read(8))  # version
        code = struct.unpack("<B", f.read(1))[0]
        n_docs = struct.unpack("<Q", f.read(8))[0]
        n_idx = struct.unpack("<Q", f.read(8))[0]
        lengths = np.frombuffer(f.read(4 * n_docs), np.int32)
        np.frombuffer(f.read(8 * n_docs), np.int64)  # pointers
        np.frombuffer(f.read(8 * n_idx), np.int64)   # doc index
    dtype = np.uint16 if code == 8 else np.int32
    flat = np.fromfile(bin_path, dtype=dtype)
    if int(lengths.sum()) != len(flat):
        raise ValueError(
            f"{bin_path}: token buffer ({len(flat)}) disagrees with idx "
            f"lengths ({int(lengths.sum())})"
        )
    return lengths, flat
