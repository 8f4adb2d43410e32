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
per-token Python objects), the packing fold (:func:`_pack_fold`) works on
numpy views, and the shard writer (:class:`_ShardFiles`) appends to the
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


def _seq_batch(shards: list[int], idxs: list[int], flat_chunks: list[np.ndarray],
               pads: list[int], seq_len: int, extra: dict[str, list[int]] | None = None
               ) -> Iterator["pa.RecordBatch"]:
    """Assemble packed sequences (each exactly seq_len tokens) into Arrow
    batches: a single values buffer + uniform offsets, no per-token objects.

    Yields one batch normally; splits when a single batch's token count
    would overflow the int32 list offsets (n * seq_len >= 2^31 — e.g. a
    100 TB-scale fold yielding >2 Gi tokens at once). Splitting keeps the
    column type a plain list<int32> (Spark's mapInArrow schema), vs the
    large_list alternative that Spark's Arrow reader doesn't accept.
    """
    n = len(shards)
    flat = (np.concatenate(flat_chunks).astype(np.int32, copy=False)
            if flat_chunks else np.empty(0, np.int32))
    cap = max(1, ((1 << 31) - 1) // max(seq_len, 1))  # rows per batch
    for lo in range(0, n, cap):
        hi = min(lo + cap, n)
        m = hi - lo
        tok_col = pa.ListArray.from_arrays(
            pa.array((np.arange(m + 1) * seq_len).astype(np.int32)),
            pa.array(flat[lo * seq_len:hi * seq_len], type=pa.int32()),
        )
        names = ["shard", "seq_idx", "tokens", "n_pad"]
        cols = [
            pa.array(np.asarray(shards[lo:hi], np.int64)),
            pa.array(np.asarray(idxs[lo:hi], np.int64)),
            tok_col,
            pa.array(np.asarray(pads[lo:hi], np.int32)),
        ]
        for name, vals in (extra or {}).items():
            names.append(name)
            cols.append(pa.array(np.asarray(vals[lo:hi], np.int32)))
        yield pa.RecordBatch.from_arrays(cols, names)


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


def _pack_fold(batches: Iterator["pa.RecordBatch"], seq_len: int, pad_id: int
               ) -> Iterator[list[tuple[int, int, np.ndarray, int]]]:
    """The W2 packing fold over (shard, toks) batches sorted by shard,
    then document order: concatenate each shard's token stream into
    seq_len sequences, carrying the remainder across documents and
    batches, and pad each shard's final partial sequence with pad_id.

    Yields, per input batch that completes a sequence and once for the
    padded tails, a list of runs ``(shard, seq_idx of the run's first
    sequence, the run's tokens flat (a multiple of seq_len), pad count of
    the run's last sequence)``. The one fold behind
    :func:`pack_sequences` (rows) and :func:`write_megatron_packed`
    (shard files)."""
    carry: dict[int, np.ndarray] = {}
    counters: dict[int, int] = {}
    empty = np.empty(0, np.int32)
    for batch in batches:
        shards_np = np.asarray(batch.column(batch.schema.get_field_index("shard")))
        if len(shards_np) == 0:
            continue
        offs, vals = _list_views(batch.column(batch.schema.get_field_index("toks")))
        runs = []
        for sh, s, e in _shard_runs(shards_np):
            chunk = vals[offs[s]:offs[e]]
            prev = carry.get(sh, empty)
            buf = np.concatenate((prev, chunk)) if len(prev) else chunk
            n_full = len(buf) // seq_len
            if n_full:
                c = counters.get(sh, 0)
                runs.append((sh, c, buf[: n_full * seq_len], 0))
                counters[sh] = c + n_full
            carry[sh] = np.array(buf[n_full * seq_len:], copy=True)
        if runs:
            yield runs
    tails = []
    for sh, buf in carry.items():
        if len(buf):
            pad = seq_len - len(buf)
            tails.append((sh, counters.get(sh, 0),
                          np.concatenate((buf, np.full(pad, pad_id, np.int32))), pad))
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
            out_s: list[int] = []; out_i: list[int] = []; out_p: list[int] = []
            for sh, first, flat, pad in runs:
                n = len(flat) // seq_len
                out_s.extend([sh] * n)
                out_i.extend(range(first, first + n))
                out_p.extend([0] * (n - 1) + [pad])
            yield from _seq_batch(out_s, out_i, [r[2] for r in runs], out_p, seq_len)

    return arranged.mapInArrow(fold, "shard long, seq_idx long, tokens array<int>, n_pad int")


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


# ---------------------------------------------------------------------------
# W2 full form — metadata-conditioned packing
# (reference megatron_tokenizer_context.py:210-356, pack loop 283-334):
# inject <BOC> meta <EOC> token runs at sequence-aligned positions, once per
# document or once per sequence; pad with pad_id when a meta run would
# straddle a boundary (:302); truncate meta to 50 chars when longer than a
# sequence (:296-298); offset carries across documents within a shard
# (:301-324; each shard ≈ one reference rank starting fresh, :262).
# ---------------------------------------------------------------------------

BOC_ID = 2
EOC_ID = 3


def pack_with_metadata(df: DataFrame, order_col: str, text_col: str = "text",
                       meta_col: str = "meta", seq_len: int = 4096,
                       pad_id: int = 1, shards: int = 8,
                       per_sequence: bool = False,
                       meta_max_chars: int = 50,
                       vocab_size: int = 50000) -> DataFrame:
    """Returns (shard, seq_idx, tokens array<int>, n_pad, n_meta_tokens).

    Meta runs are [BOC_ID, *tokenize(meta), EOC_ID] placed at the start of
    the document (default) or re-injected at the start of every sequence a
    document spans (``per_sequence``, :314-322). A run never straddles a
    boundary: if it does not fit in the current sequence's remainder, the
    remainder is padded and the run starts the next sequence (:302).
    """
    arranged = _tokens_by_shard(
        df, order_col, shards,
        {"toks": F.col(text_col), "mtoks": F.substring(F.col(meta_col), 1, meta_max_chars)},
        vocab_size)

    schema = "shard long, seq_idx long, tokens array<int>, n_pad int, n_meta_tokens int"

    class _Shard:
        """Per-shard fold state: pending token chunks (total < seq_len after
        each drain) plus the pad/meta counts attributed to the NEXT emitted
        sequence — same attribution as the reference's per-rank counters."""
        __slots__ = ("chunks", "total", "counter", "meta", "pad")

        def __init__(self):
            self.chunks: list[np.ndarray] = []
            self.total = 0
            self.counter = 0
            self.meta = 0
            self.pad = 0

        def append(self, arr: np.ndarray):
            if len(arr):
                self.chunks.append(arr)
                self.total += len(arr)

    def fold(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        states: dict[int, _Shard] = {}
        out_s: list[int] = []; out_i: list[int] = []
        out_t: list[np.ndarray] = []; out_p: list[int] = []; out_m: list[int] = []

        def emit_full(st: _Shard, sh: int):
            if st.total < seq_len:
                return
            buf = np.concatenate(st.chunks)
            n_full = len(buf) // seq_len
            out_t.append(buf[: n_full * seq_len])
            for i in range(n_full):
                out_s.append(sh)
                out_i.append(st.counter + i)
                # straddle pads + meta count ride the FIRST sequence emitted
                out_p.append(st.pad if i == 0 else 0)
                out_m.append(st.meta if i == 0 else 0)
            st.counter += n_full
            st.pad = 0
            st.meta = 0
            rest = buf[n_full * seq_len:]
            st.chunks = [np.array(rest, copy=True)] if len(rest) else []
            st.total = len(rest)

        def inject(st: _Shard, sh: int, meta_run: np.ndarray):
            room = seq_len - (st.total % seq_len)
            if room < len(meta_run):  # would straddle -> pad out (:302)
                st.append(np.full(room, pad_id, np.int32))
                st.pad += room
                emit_full(st, sh)
            st.append(meta_run)
            st.meta += len(meta_run)

        for batch in batches:
            i_shard = batch.schema.get_field_index("shard")
            shards_np = np.asarray(batch.column(i_shard))
            t_offs, t_vals = _list_views(batch.column(batch.schema.get_field_index("toks")))
            m_offs, m_vals = _list_views(batch.column(batch.schema.get_field_index("mtoks")))
            for r in range(len(shards_np)):
                sh = int(shards_np[r])
                st = states.setdefault(sh, _Shard())
                doc = t_vals[t_offs[r]:t_offs[r + 1]]
                meta_run = np.concatenate((
                    np.array([BOC_ID], np.int32),
                    m_vals[m_offs[r]:m_offs[r + 1]],
                    np.array([EOC_ID], np.int32),
                ))
                if len(meta_run) > seq_len:  # truncate pathological meta (:296-298)
                    meta_run = np.concatenate(
                        (meta_run[: seq_len - 1], np.array([EOC_ID], np.int32)))

                if per_sequence:
                    # inject at doc start and at every boundary the doc crosses
                    inject(st, sh, meta_run)
                    pos = 0
                    while pos < len(doc):
                        if st.total % seq_len == 0 and st.total > 0:
                            emit_full(st, sh)
                            inject(st, sh, meta_run)
                        room = seq_len - (st.total % seq_len)
                        take = min(room, len(doc) - pos)
                        st.append(doc[pos:pos + take])
                        pos += take
                else:
                    inject(st, sh, meta_run)
                    st.append(doc)
                emit_full(st, sh)
            if out_s:
                yield from _seq_batch(out_s, out_i, out_t, out_p, seq_len,
                                      extra={"n_meta_tokens": out_m})
                out_s, out_i, out_t, out_p, out_m = [], [], [], [], []

        for sh, st in states.items():
            if st.total:
                fill = seq_len - st.total
                out_s.append(sh); out_i.append(st.counter)
                out_t.append(np.concatenate(
                    st.chunks + [np.full(fill, pad_id, np.int32)]))
                out_p.append(fill + st.pad)
                out_m.append(st.meta)
        if out_s:
            yield from _seq_batch(out_s, out_i, out_t, out_p, seq_len,
                                  extra={"n_meta_tokens": out_m})

    return arranged.mapInArrow(fold, schema)


def write_megatron_packed(df: DataFrame, out_dir: str, order_col: str = "doc_id",
                          text_col: str = "text", seq_len: int = 4096,
                          shards: int = 4, vocab_size: int = 50000) -> None:
    """K4 ∘ W2 — the reference's actual flow: tokenize → pack into fixed
    seq_len sequences (pad id 1) → write one .bin/.idx pair per shard,
    each packed sequence one Megatron 'document'
    (megatron_tokenizer_context.py:210-356 feeding MegatronTokenizedFile).
    One mapInArrow runs the :func:`pack_sequences` fold and writes its
    sequences as they complete, so packed tokens never return to the
    JVM. Only a tiny per-shard summary reaches the driver."""
    arranged = _tokens_by_shard(df, order_col, shards, {"toks": F.col(text_col)}, vocab_size)
    os.makedirs(out_dir, exist_ok=True)

    def write_part(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        with _ShardFiles(out_dir, vocab_size) as files:
            for runs in _pack_fold(batches, seq_len, pad_id=1):
                for sh, _, flat, _ in runs:
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
