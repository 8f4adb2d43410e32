"""Seeded corpus generator for the benchmark workloads.

One process, stdlib ``gzip`` for WARC and ``pyarrow`` for parquet; the
Spark program under test only ever sees the files written here. Every
generator returns the planted ground truth the output checks need.

Text model: a Zipf-Mandelbrot vocabulary (rank 1..7 are the Gopher
stopwords) and lognormal web-like document lengths (median ~2 KB).
The same ``(seed, workload)`` always yields byte-identical inputs.
"""

from __future__ import annotations

import gzip
import html
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ("the", "a", "of", "to", "and", "in", "is")
VOCAB_SIZE = 30_000
ZIPF_S = 1.0
ZIPF_Q = 2.7
MEDIAN_CHARS = 2_000
SIGMA_CHARS = 0.6
MIN_CHARS, MAX_CHARS = 300, 16_000
MEAN_CHARS = MEDIAN_CHARS * np.exp(SIGMA_CHARS ** 2 / 2)

#: (clean UTF-8 word, its cp1252 mis-decoding) — generated, never typed
_MOJI_WORDS = ("café", "naïve", "über", "piñata", "it’s", "résumé", "Zürich")
MOJIBAKE_PAIRS = tuple((w, w.encode("utf-8").decode("cp1252")) for w in _MOJI_WORDS)


def rng_for(seed: int, workload: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(workload.encode())])


class TextModel:
    """Vocabulary + Zipf word sampler + lognormal length sampler."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        words = dict.fromkeys(STOPWORDS)
        while len(words) < VOCAB_SIZE:
            lens = np.clip(rng.lognormal(np.log(6.0), 0.35, VOCAB_SIZE), 3, 12).astype(int)
            chars = (rng.integers(0, 26, int(lens.sum()), dtype=np.uint8) + 97).tobytes().decode()
            ends = np.cumsum(lens)
            for lo, hi in zip(ends - lens, ends):
                words.setdefault(chars[lo:hi])
                if len(words) == VOCAB_SIZE:
                    break
        self.vocab = np.array(list(words), dtype=object)
        p = 1.0 / (np.arange(1, VOCAB_SIZE + 1) + ZIPF_Q) ** ZIPF_S
        self.cdf = np.cumsum(p / p.sum())

    def words(self, n: int) -> list[str]:
        idx = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        return list(self.vocab[np.minimum(idx, VOCAB_SIZE - 1)])

    def n_words(self, n: int) -> list[int]:
        """Word counts of ``n`` lognormal-length documents, rescaled so
        their total is the same at every seed: run time then tracks the
        program, not the luck of the draw."""
        chars = np.clip(self.rng.lognormal(np.log(MEDIAN_CHARS), SIGMA_CHARS, n),
                        MIN_CHARS, MAX_CHARS)
        chars *= n * MEAN_CHARS / chars.sum()
        return [max(1, int(c / 6.4)) for c in chars]

    def paragraphs(self, words: list[str]) -> list[str]:
        """Split words into paragraphs of sentences (capitalised, '.')."""
        out, i, n = [], 0, len(words)
        while i < n:
            plen = int(self.rng.integers(30, 90))
            para, j = [], i
            while j < min(n, i + plen):
                slen = int(self.rng.integers(6, 18))
                sent = words[j:min(n, i + plen, j + slen)]
                para.append(" ".join([sent[0].capitalize()] + sent[1:]) + ".")
                j += len(sent)
            out.append(" ".join(para))
            i = j
        return out


def exact_mask(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """A shuffled boolean mask with exactly ``round(n * share)`` set."""
    return rng.permutation(np.arange(n) < round(n * share))


def luhn_card(rng: np.random.Generator) -> str:
    """A Luhn-valid 16-digit card number, written grouped or plain."""
    digits = [4] + [int(d) for d in rng.integers(0, 10, 14)]
    total = 0
    for k, d in enumerate(reversed(digits)):
        d2 = d * 2 if k % 2 == 0 else d
        total += d2 - 9 if d2 > 9 else d2
    digits.append((10 - total % 10) % 10)
    s = "".join(map(str, digits))
    sep = ("", " ", "-")[int(rng.integers(0, 3))]
    return sep.join(s[k:k + 4] for k in range(0, 16, 4))


def _pii(rng: np.random.Generator, model: TextModel) -> tuple[str, str]:
    kind = ("email", "ip", "card")[int(rng.integers(0, 3))]
    if kind == "email":
        user, host = model.words(2)
        return kind, f"{user}{int(rng.integers(1, 999))}@{host}.example.com"
    if kind == "ip":
        return kind, ".".join(str(int(x)) for x in rng.integers(1, 255, 4))
    return kind, luhn_card(rng)


def _write_parquet_shards(table: pa.Table, out_dir: str, shards: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    for s in range(shards):
        lo, hi = n * s // shards, n * (s + 1) // shards
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(out_dir, f"part-{s:05d}.parquet"))


# ---------------------------------------------------------------- crawl_curate

def _page_text(rng: np.random.Generator, model: TextModel, kind: str, n: int
               ) -> tuple[list[str], list[str]]:
    """(paragraph lines, planted PII strings) of one page body of about
    ``n`` words."""
    if kind == "short":
        return [" ".join(model.words(int(rng.integers(5, 40)))) + "."], []
    if kind == "soup":
        toks = [f"{int(x)}%" if x % 3 else "|" for x in rng.integers(0, 999, n)]
        alpha = model.words(n // 6)
        return [" ".join(toks[:n // 2] + alpha + toks[n // 2:])], []
    if kind == "ellipsis":
        return [" ".join(model.words(int(rng.integers(8, 20)))) + "..."
                for _ in range(int(rng.integers(10, 30)))], []
    paras = model.paragraphs(model.words(n))
    planted = []
    for _ in range(int(rng.poisson(0.8))):
        _, value = _pii(rng, model)
        k = int(rng.integers(0, len(paras)))
        paras[k] = f"{paras[k]} Contact {value} today."
        planted.append(value)
    return paras, planted


def warc_response(url: str, date: str, body: bytes) -> bytes:
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n"
            + f"Content-Length: {len(body)}\r\n\r\n".encode() + body)
    hdr = ("WARC/1.0\r\nWARC-Type: response\r\n"
           f"WARC-Target-URI: {url}\r\nWARC-Date: {date}\r\n"
           "Content-Type: application/http; msgtype=response\r\n"
           f"Content-Length: {len(http)}\r\n\r\n").encode()
    return hdr + http + b"\r\n\r\n"


def crawl_curate(seed: int, out_dir: str, pages: int, files: int) -> dict:
    """gzip WARC response pages: mostly prose, with planted low-quality
    pages (short / symbol soup / ellipsis lists), PII (emails, IPv4,
    Luhn-valid cards) and cp1252 mojibake; no planted duplicates."""
    rng = rng_for(seed, "crawl_curate")
    model = TextModel(rng)
    kinds = rng.permutation(np.repeat(["good", "short", "soup", "ellipsis"],
                                      [pages - 3 * (pages // 12)] + 3 * [pages // 12]))
    moji = exact_mask(rng, pages, 0.10)
    lengths = model.n_words(pages)
    os.makedirs(out_dir, exist_ok=True)
    # mtime=0: the gzip header carries no clock, so a seed's files are
    # byte-identical on every run
    outs = [gzip.GzipFile(os.path.join(out_dir, f"crawl-{f:05d}.warc.gz"), "wb",
                          compresslevel=1, mtime=0) for f in range(files)]
    urls, html_bytes, planted_pii = [], 0, 0
    low_quality, good_words = [], {}
    try:
        for i in range(pages):
            url = f"https://site{i % 97}.example.org/page/{i}"
            paras, planted = _page_text(rng, model, str(kinds[i]), lengths[i])
            planted_pii += len(planted)
            if moji[i] and kinds[i] == "good":
                clean, broken = MOJIBAKE_PAIRS[int(rng.integers(0, len(MOJIBAKE_PAIRS)))]
                paras[0] = f"{broken} {paras[0]}"
            if kinds[i] == "good":
                good_words[url] = sum(len(p.split()) for p in paras)
            else:
                low_quality.append(url)
            body = "".join(f"<p>{html.escape(p, quote=False)}</p>\n" for p in paras)
            page = ("<!DOCTYPE html><html><head><title>page</title>"
                    "<style>p{margin:0}</style><script>var n=1;</script></head>"
                    "<body><nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav>"
                    f"<div class=\"main\">\n{body}</div><footer>Footer text"
                    "</footer></body></html>").encode("utf-8")
            html_bytes += len(page)
            urls.append(url)
            outs[i % files].write(warc_response(url, "2024-01-01T00:00:00Z", page))
    finally:
        for o in outs:
            o.close()
    return {"urls": urls, "input_bytes": html_bytes, "pages": pages,
            "planted_pii": planted_pii, "low_quality_urls": low_quality,
            "good_words": good_words, "low_quality": len(low_quality),
            "mojibake": int(np.sum(moji & (kinds == "good")))}


# ---------------------------------------------------------------- corpus_dedup

def near_twin(rng: np.random.Generator, model: TextModel, words: list[str],
              rate: float) -> list[str]:
    """Token-level edits (substitute / delete / insert) at ``rate``."""
    out = []
    fresh = iter(model.words(len(words)))
    for w, u in zip(words, rng.random(len(words))):
        if u < rate / 3:
            out.append(next(fresh))
        elif u < 2 * rate / 3:
            continue
        elif u < rate:
            out.extend((w, next(fresh)))
        else:
            out.append(w)
    return out


def corpus_dedup(seed: int, out_dir: str, docs: int, exact_share: float,
                 near_share: float, edit_rate: float, short_share: float,
                 min_chars: int, files: int) -> dict:
    """parquet (doc_id, text): originals plus planted exact twins
    (byte-identical text) and near twins (token edits at ``edit_rate``);
    each original has at most one twin. ``short_share`` of the docs are
    originals without a twin cut below ``min_chars``. Ids are a random
    permutation, so which member of a pair is kept is up to the program."""
    rng = rng_for(seed, "corpus_dedup")
    model = TextModel(rng)
    n_exact = int(docs * exact_share)
    n_near = int(docs * near_share)
    n_orig = docs - n_exact - n_near
    originals = [model.words(n) for n in model.n_words(n_orig)]
    texts = [" ".join(w) for w in originals]
    order = rng.permutation(n_orig)
    twin_of = order[:n_exact + n_near]
    groups = []
    for k, o in enumerate(twin_of):
        kind = "exact" if k < n_exact else "near"
        twin = texts[o] if kind == "exact" else " ".join(
            near_twin(rng, model, originals[o], edit_rate))
        groups.append((kind, int(o), len(texts)))
        texts.append(twin)
    # 8+ words, so every short doc still has word 3-shingles to MinHash
    for o in order[n_exact + n_near:][:int(docs * short_share)]:
        texts[o] = " ".join(model.words(int(rng.integers(8, 25))))[:min_chars - 1]
    ids = rng.permutation(len(texts)).astype(np.int64)
    order = np.argsort(ids)
    table = pa.table({"doc_id": ids[order],
                      "text": pa.array([texts[i] for i in order], pa.string())})
    _write_parquet_shards(table, out_dir, files)
    return {"ids": ids.tolist(),
            "exact_pairs": [(int(ids[a]), int(ids[b])) for k, a, b in groups if k == "exact"],
            "near_pairs": [(int(ids[a]), int(ids[b])) for k, a, b in groups if k == "near"],
            "input_bytes": sum(len(t.encode()) for t in texts), "docs": len(texts),
            "short_docs": sum(len(t) < min_chars for t in texts)}
