"""Output checks that read the program's files with pyarrow and the
Megatron byte layout directly — nothing here calls the package under
test. Each check returns a list of failure messages (empty = passed)
plus the counts it measured."""

from __future__ import annotations

import glob
import os
import re
import struct

import numpy as np
import pyarrow.parquet as pq

EMAIL_RE = re.compile(r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b")
IPV4_RE = re.compile(r"\b(?:(?:25[0-5]|2[0-4]\d|1?\d?\d)\.){3}(?:25[0-5]|2[0-4]\d|1?\d?\d)\b")
CARD_RE = re.compile(r"\b\d(?:[ -]?\d){12,18}\b")
MEGATRON_MAGIC = b"MMIDIDX\x00\x00"


def luhn_ok(number: str) -> bool:
    digits = [int(c) for c in number if c.isdigit()]
    total = 0
    for k, d in enumerate(reversed(digits)):
        d2 = d * 2 if k % 2 else d
        total += d2 - 9 if d2 > 9 else d2
    return total % 10 == 0


def _column(path: str, name: str) -> list:
    return pq.read_table(path, columns=[name]).column(name).to_pylist()


def crawl_curate(out_dir: str, truth: dict, good_floor: float
                 ) -> tuple[list[str], dict]:
    """Kept and removed rows partition the input pages; every planted
    low-quality page is removed; at least ``good_floor`` of the good pages
    are kept with at least 90% of their words; no kept text still holds
    an email, an IPv4 address or a Luhn-valid card."""
    kept = _column(os.path.join(out_dir, "kept"), "url")
    kept_text = dict(zip(kept, _column(os.path.join(out_dir, "kept"), "text")))
    removed = _column(os.path.join(out_dir, "removed"), "url")
    errors = []
    if len(kept) + len(removed) != len(truth["urls"]):
        errors.append(f"kept {len(kept)} + removed {len(removed)} != "
                      f"{len(truth['urls'])} input pages")
    if set(kept) & set(removed):
        errors.append("a page is both kept and removed")
    if set(kept) | set(removed) != set(truth["urls"]):
        errors.append("kept and removed do not cover the input pages")
    low_kept = len(set(truth["low_quality_urls"]) - set(removed))
    if low_kept:
        errors.append(f"{low_kept} planted low-quality pages were not removed")
    good = truth["good_words"]
    intact = sum(len((kept_text.get(url) or "").split()) >= 0.9 * n
                 for url, n in good.items())
    if intact < good_floor * len(good):
        errors.append(f"{intact} of {len(good)} good pages kept with their text "
                      f"(floor {good_floor})")
    leaks = 0
    for text in kept_text.values():
        text = text or ""
        # an email needs an "@": skip the slow pattern on text without one
        if ("@" in text and EMAIL_RE.search(text)) or IPV4_RE.search(text) or any(
                luhn_ok(m) for m in CARD_RE.findall(text)):
            leaks += 1
    if leaks:
        errors.append(f"{leaks} kept pages still contain PII")
    return errors, {"kept": len(kept), "removed": len(removed), "good_intact": intact}


def corpus_dedup(out_dir: str, truth: dict, near_recall_floor: float,
                 max_over_removal: float) -> tuple[list[str], dict]:
    """Every planted exact pair loses a member; planted near pairs lose a
    member at a recall of at least ``near_recall_floor``; documents
    removed without cause (an unplanted doc, or a pair's last member)
    stay within ``max_over_removal`` of the unplanted docs and pairs."""
    kept = set(_column(os.path.join(out_dir, "kept"), "doc_id"))
    errors = []
    exact, near = truth["exact_pairs"], truth["near_pairs"]
    exact_left = sum(a in kept and b in kept for a, b in exact)
    if exact_left:
        errors.append(f"{exact_left} exact twin pairs kept both docs")
    recall = sum(not (a in kept and b in kept) for a, b in near) / max(1, len(near))
    if recall < near_recall_floor:
        errors.append(f"near-twin recall {recall:.3f} < floor {near_recall_floor}")
    planted = {i for pair in exact + near for i in pair}
    unplanted = [i for i in truth["ids"] if i not in planted]
    over = (sum(i not in kept for i in unplanted)
            + sum(a not in kept and b not in kept for a, b in exact + near))
    share = over / max(1, len(unplanted) + len(exact) + len(near))
    if share > max_over_removal:
        errors.append(f"{over} docs removed without a planted twin "
                      f"({share:.4f} > {max_over_removal})")
    return errors, {"kept": len(kept), "near_recall": recall, "over_removed": over}


def read_megatron(idx_path: str, bin_path: str) -> tuple[np.ndarray, np.ndarray]:
    """(sequence lengths, token buffer) of one shard, validating that the
    .idx header, pointers and document index agree with the .bin size."""
    with open(idx_path, "rb") as f:
        blob = f.read()
    if blob[:9] != MEGATRON_MAGIC:
        raise ValueError(f"{idx_path}: bad magic")
    version, code, n, n_docs = struct.unpack_from("<QBQQ", blob, 9)
    dtype = {8: np.uint16, 4: np.int32}.get(code)
    if version != 1 or dtype is None or n_docs != n + 1:
        raise ValueError(f"{idx_path}: bad header {version} {code} {n} {n_docs}")
    at = 9 + 25
    lengths = np.frombuffer(blob, np.int32, n, at)
    pointers = np.frombuffer(blob, np.int64, n, at + 4 * n)
    doc_idx = np.frombuffer(blob, np.int64, n + 1, at + 12 * n)
    if len(blob) != at + 12 * n + 8 * (n + 1):
        raise ValueError(f"{idx_path}: trailing or missing bytes")
    item = np.dtype(dtype).itemsize
    expect_ptr = np.concatenate(([0], np.cumsum(lengths[:-1], dtype=np.int64) * item))
    if n and not np.array_equal(pointers, expect_ptr):
        raise ValueError(f"{idx_path}: pointers disagree with lengths")
    if not np.array_equal(doc_idx, np.arange(n + 1)):
        raise ValueError(f"{idx_path}: bad document index")
    tokens = np.fromfile(bin_path, dtype)
    if len(tokens) != int(lengths.sum()):
        raise ValueError(f"{bin_path}: {len(tokens)} tokens, idx says {int(lengths.sum())}")
    return lengths, tokens


def megatron_conserves(out_dir: str, kept_tokens: int, seq_len: int, pad_id: int
                       ) -> tuple[list[str], dict]:
    """Every .idx agrees with its .bin; every sequence is ``seq_len``
    long; written tokens minus padding equal ``kept_tokens``, with the
    padding found at the tail of each shard's last sequence."""
    errors, written, tail_pad, seqs = [], 0, 0, 0
    idx_files = sorted(glob.glob(os.path.join(out_dir, "*.idx")))
    if not idx_files:
        return ["no .idx files written"], {}
    for idx in idx_files:
        try:
            lengths, tokens = read_megatron(idx, idx[:-4] + ".bin")
        except (OSError, ValueError) as e:
            errors.append(str(e))
            continue
        if np.any(lengths != seq_len):
            errors.append(f"{idx}: a sequence is not {seq_len} tokens")
        written += len(tokens)
        seqs += len(lengths)
        if len(tokens):
            non_pad = np.nonzero(tokens[-seq_len:] != pad_id)[0]
            tail_pad += seq_len - 1 - int(non_pad[-1]) if len(non_pad) else seq_len
    # the tail padding is counted as the pad_id run ending each shard, so
    # a real token with that id at the very end of a shard (about 1 run
    # in 12,500 at 4 shards and a 50k vocabulary) reads as one token lost
    if written - tail_pad != kept_tokens:
        errors.append(f"tokens not conserved: wrote {written} minus tail padding "
                      f"{tail_pad} != {kept_tokens} whitespace tokens of the kept docs "
                      f"(a real token {pad_id} ending a shard also reads as a loss)")
    return errors, {"written": written, "pad": tail_pad, "sequences": seqs,
                    "pad_ratio": tail_pad / max(1, written)}


def dedup_pack(out_dir: str, truth: dict, near_recall_floor: float,
               max_over_removal: float, min_chars: int, seq_len: int, pad_id: int
               ) -> tuple[list[str], dict]:
    """The curated parquet passes :func:`corpus_dedup`, and the Megatron
    shards hold exactly the whitespace tokens of its docs of at least
    ``min_chars`` characters."""
    errors, counts = corpus_dedup(out_dir, truth, near_recall_floor, max_over_removal)
    texts = _column(os.path.join(out_dir, "kept"), "text")
    kept_tokens = sum(len(t.split()) for t in texts if t and len(t) >= min_chars)
    more_errors, more = megatron_conserves(os.path.join(out_dir, "megatron"), kept_tokens,
                                           seq_len, pad_id)
    return errors + more_errors, {**counts, **more}
