"""Formatters (SURVEY.md §2.4 A3/A9): PII scrubbing and template builders.

All pure string expressions — regexp_replace chains and concat — so they
stay inside whole-stage codegen. The reference implements these as per-row
Python (pii_formatter.py, template adapters); at 100 TB that difference is
the whole ballgame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metadata_enhanced_pretrain_datapipeline_spark.functions.text import _bind

# PII patterns (reference pii_formatter.py:63-70). The email pattern is a
# simplified RE2-compatible analogue of the reference's RFC-ish regex (the
# full form needs constructs DuckDB's RE2 rejects); the spaced IBAN pattern
# is the reference's iban_regex verbatim, and the compact IBAN form is an
# extension covering unspaced IBANs the reference misses.
EMAIL_REGEX = r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b"
IPV4_REGEX = (
    r"\b(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}"
    r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\b"
)
#: reference iban_regex, verbatim (pii_formatter.py:70): space-grouped
#: IBAN — CC00 0000 0000 0000 0000 XX
IBAN_SPACED_REGEX = r"[A-Z]{2}[0-9]{2}(?: [0-9]{4}){4} [A-Z0-9]{1,2}"
IBAN_COMPACT_REGEX = r"\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\b"

EMAIL_TAG = "<email-pii>"
IP_TAG = "<ip-pii>"
IBAN_TAG = "<iban-pii>"

#: (pattern, replacement) in the reference's pass order — email → ip → iban
#: (pii_formatter.py:93-114). Order matters: replacing an email substring can
#: alter later IP matches; we replicate the exact pass order. The two IBAN
#: forms stay SEPARATE passes (reference-parity spaced form first): a
#: single (spaced|compact) alternation is NOT equivalent — leftmost-match
#: lets an overlapping compact (extension) match that starts earlier
#: consume a reference-format spaced IBAN, whereas the two-pass order
#: gives the reference pattern global precedence. The extra traversal is
#: cheap; the shared rewritten-text chain in with_pii is where the real
#: savings live.
PII_PASSES = [
    (EMAIL_REGEX, EMAIL_TAG),
    (IPV4_REGEX, IP_TAG),
    (IBAN_SPACED_REGEX, IBAN_TAG),
    (IBAN_COMPACT_REGEX, IBAN_TAG),
]


def _pii_chain(text: Column) -> list[tuple[Column, Column]]:
    """THE shared per-pass chain all three A3 outputs derive from: for each
    pass, ``(items, rewritten)`` where ``items`` is the distinct matches of
    that family on the text **as seen by that pass** (i.e. after all prior
    rewrites — pii_formatter.py:93-114's sequential semantics) and
    ``rewritten`` is the text after the pass. Callers reference only what
    they need; unreferenced expressions never reach the physical plan."""
    passes, seen = [], text
    for pat, tag in PII_PASSES:
        items = F.array_distinct(F.regexp_extract_all(seen, F.lit(pat), F.lit(0)))
        seen = F.regexp_replace(seen, pat, tag)
        passes.append((items, seen))
    return passes


def pii_scrub(text: Column) -> Column:
    """A3 rewrite — replace ALL occurrences of each PII family, in pass
    order (pii_formatter.py:63-70,93-114)."""
    return _pii_chain(text)[-1][1]


def pii_count(text: Column) -> Column:
    """A3 counter — number of *unique* matched PII strings across families
    (pii_formatter.py:78,88-99,117: replacement hits all occurrences, the
    count is of distinct matched strings). Counted per family on the text
    as seen by that pass, mirroring the sequential passes."""
    counts = [F.size(items) for items, _ in _pii_chain(text)]
    total = counts[0]
    for c in counts[1:]:
        total = total + c
    return total


def pii_list(text: Column) -> Column:
    """A3 optional — the distinct matched PII strings (pii_formatter.py:118-119)."""
    return F.concat(*[items for items, _ in _pii_chain(text)])


def with_pii(df: DataFrame, text_col: str, scrub_col: str = "pii_scrubbed",
             count_col: str = "pii_count",
             list_col: str | None = None) -> DataFrame:
    """A3 combined form — scrub, count, AND (optionally) the match list
    from ONE rewritten-text chain.

    ``pii_scrub`` + ``pii_count`` + ``pii_list`` as independent
    expressions each rebuild the per-pass rewritten text, so a query
    selecting all three pays ~3× the regex traversals. Here each pass's
    rewrite is threaded through a real intermediate column: the pass's
    count AND list extract from it (one regexp_extract_all serves both)
    and the next pass rewrites it, so every regex runs exactly once per
    pass regardless of how many outputs are selected. (Catalyst's
    CollapseProject keeps the stacked projections separate because each
    intermediate is non-cheap and referenced twice — verified via the
    optimized plan in tests.)
    """
    out, prev, total, tmp, item_cols = df, text_col, None, [], []
    for i, (pat, tag) in enumerate(PII_PASSES):
        items_col = f"__pii_items_{i}"
        out = out.withColumn(
            items_col,
            F.array_distinct(F.regexp_extract_all(F.col(prev), F.lit(pat), F.lit(0))),
        )
        cnt = F.size(F.col(items_col))
        total = cnt if total is None else total + cnt
        nxt = f"__pii_pass_{i}"
        out = out.withColumn(nxt, F.regexp_replace(F.col(prev), pat, tag))
        tmp += [nxt, items_col]
        item_cols.append(items_col)
        prev = nxt
    out = out.withColumn(count_col, total).withColumn(scrub_col, F.col(prev))
    if list_col is not None:
        out = out.withColumn(list_col, F.concat(*[F.col(c) for c in item_cols]))
    return out.drop(*tmp)


def flan_template(inputs: Column, labels: Column) -> Column:
    """A9 — '"User:\\n{in}\\nAssistant:\\n{out}"'
    (reference provenance-flan/main.py:43-45)."""
    nl = F.lit("\n")
    return F.concat(F.lit("User:"), nl, inputs, nl, F.lit("Assistant:"), nl, labels)


def chat_flatten(conversations: Column) -> Column:
    """A9 — flatten array<struct<from,value>> chat logs to
    '"user: …\\nassistant: …"' (reference euroblocks/main.py:25-36)."""
    return F.array_join(
        F.transform(conversations, lambda m: F.concat(m["from"], F.lit(": "), m["value"])),
        "\n",
    )


def bidirectional_pairs(df: DataFrame, l1: Column, t1: Column, l2: Column, t2: Column,
                        out_col: str = "text") -> DataFrame:
    """A9 — emit BOTH directions '"{l1}: {t1}\\n{l2}: {t2}"' and the reverse,
    2 rows per input (reference europarl/main_bidirectional.py:43-48;
    paradocs.py:41-46). flatMap ≡ explode over a 2-element array."""
    nl = F.lit("\n")
    fwd = F.concat(l1, F.lit(": "), t1, nl, l2, F.lit(": "), t2)
    rev = F.concat(l2, F.lit(": "), t2, nl, l1, F.lit(": "), t1)
    return df.withColumn(out_col, F.explode(F.array(fwd, rev)))


def fasttext_line(label: Column, text: Column) -> Column:
    """K5 — fasttext training line '__label__<k> <text-escaped>'
    (reference code_processing.py:80-111, format at 85-86)."""
    esc = F.regexp_replace(F.regexp_replace(text, r"\\", r"\\\\"), "\n", r"\\n")
    return F.concat(F.lit("__label__"), label.cast("string"), F.lit(" "), esc)


def load_pii_regex_table(path: str) -> list[tuple[str, str]]:
    """S6 — EU-PII regex asset loader (reference pii_formatter.py:40-60
    loads ``eu_regex.xlsx`` of (Priority, Regex, Replacement) and sorts by
    categorical priority P0 < P1 < ...).

    Format divergence, stated plainly: an ``.xlsx`` path is read with
    pandas.read_excel IF an Excel engine (openpyxl) is importable — this
    container ships none, so the tested path is the documented CSV
    stand-in (FIXTURES.md §B12) with the same three columns. Either way
    it is a driver-side pandas load whose rows become literal regex
    passes, exactly like the reference's asset path."""
    import pandas as pd

    if path.endswith((".xlsx", ".xls")):
        try:
            table = pd.read_excel(path)
        except ImportError as e:
            raise ImportError(
                "reading the reference's xlsx asset needs openpyxl, which "
                "this environment lacks — convert to the CSV stand-in "
                "(columns: Priority, Regex, Replacement)"
            ) from e
    else:
        table = pd.read_csv(path)
    table = table.sort_values("Priority", key=lambda s: s.str.extract(r"P(\d+)", expand=False).astype(int))
    return [(r["Regex"], r["Replacement"]) for _, r in table.iterrows()]


def pii_scrub_with_table(text: Column, extra_passes: list[tuple[str, str]]) -> Column:
    """A3 full form — the priority-ordered EU regex passes run FIRST, each
    wrapped ``\\b … (\\.|$|\\,|\\s)`` exactly as the reference compiles
    them (pii_formatter.py:47-60), then the built-in email→ip→iban passes
    — matching PIIFormatter.format's pass order (:80-99: EU before
    email/ip/iban). As in the reference's re.sub, the trailing boundary
    char is part of the match and is consumed by the replacement."""
    out = text
    for pat, tag in extra_passes:
        out = F.regexp_replace(out, r"\b" + pat + r"(\.|$|\,|\s)", tag)
    return pii_scrub(out)


#: candidate payment-card numbers: 13-19 digits, optional single space/dash
#: between digits (the grouped forms cards are actually written in).
#: Identical in Java and RE2 — \b, \d, non-capturing groups only.
CC_CANDIDATE_REGEX = r"\b\d(?:[ -]?\d){12,18}\b"
CC_TAG = "<cc-pii>"


def _luhn_ok(cand: Column) -> Column:
    """Luhn checksum over a candidate's digits (ISO/IEC 7812): from the
    RIGHT, double every second digit, subtract 9 past 9, sum % 10 == 0.
    Pure array expressions — the digit array is lambda-bound once, the
    positional doubling uses transform's (element, index) form over the
    REVERSED array so index parity == right-distance parity."""
    digits = F.reverse(F.regexp_extract_all(cand, F.lit(r"\d"), F.lit(0)))

    def body(ds: Column) -> Column:
        vals = F.transform(
            ds,
            lambda d, i: F.when(
                i % 2 == 1,
                F.when(d.cast("int") * 2 > 9, d.cast("int") * 2 - 9)
                 .otherwise(d.cast("int") * 2),
            ).otherwise(d.cast("int")))
        return F.aggregate(vals, F.lit(0), lambda a, x: a + x) % 10 == 0

    return _bind(digits, body)


def cc_candidates(text: Column) -> Column:
    """All card-shaped digit runs in ``text`` (validation separate —
    :func:`_luhn_ok` — because a 16-digit order id is NOT PII and
    masking it destroys data; the validation gate is what makes a card
    pass deployable)."""
    return F.regexp_extract_all(text, F.lit(CC_CANDIDATE_REGEX), F.lit(0))


def cc_pii_scrub(text: Column) -> Column:
    """Mask Luhn-VALID card numbers only: extract candidates, keep those
    passing the checksum, replace each occurrence with ``CC_TAG``. The
    replacement is ``\\b``-anchored (``\\b\\Q<candidate>\\E\\b``), not a
    literal substring replace — a bare literal replace rewrites the
    candidate's digits wherever they appear, INCLUDING as a substring
    of a longer (20+ digit) run that was never a ``\\b``-bounded
    candidate, corrupting non-card identifiers (a valid 16-digit card
    string embedded in a 23-digit serial; ADVICE r10). ``\\Q..\\E``
    quotes the candidate verbatim (digits/spaces/hyphens only, but
    quoting costs nothing), and both anchors sit against the
    candidate's digit ends. ``\\b`` alone is NOT enough (ADVICE r11):
    inside a longer SEPARATOR-delimited run (``123 4539 1488 0343
    6467``) the space puts a word boundary at the group edge, yet the
    greedy extraction scan matched that whole 19-digit run as ONE
    (non-)candidate — so a valid card extracted elsewhere in the doc
    must not rewrite its lookalike inside the longer run. The
    lookarounds replay the scan's greediness: ``(?<!\\d[ -])`` forbids
    a preceding digit+separator (the scan would have absorbed the
    group leftward) and ``(?![ -]?\\d)`` forbids a trailing
    separator+digit (rightward) — the anchored pattern now matches
    exactly the positions the extraction scan matched. Runs entirely
    in codegen — regexp extract + array filter + a fold of anchored
    regexp_replaces; no shuffle, no Python. Order is immaterial:
    candidates are non-overlapping matches of the same scan, and
    replacing a digit run with the tag cannot create a new
    candidate."""
    valid = F.filter(cc_candidates(text), _luhn_ok)
    return F.aggregate(
        valid, text,
        lambda acc, c: F.regexp_replace(
            acc, F.concat(F.lit(r"(?<!\d[ -])\b\Q"), c,
                          F.lit(r"\E\b(?![ -]?\d)")),
            F.lit(CC_TAG)))
