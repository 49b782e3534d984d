"""Text-analysis primitives for training-data pipelines (north-star surface).

All JVM-side expressions (split/transform/aggregate — codegen, no
Python), designed so each has a DuckDB-expressible mirror for the oracle.
The token family is SQL text (``sql_helper``): one parse per call.

Scale: everything here is embarrassingly parallel row-wise work; the only
shuffles appear downstream (groupBy / self-join in the dedup plans). Shingle
explosion multiplies rows by ~tokens-per-doc — at 100 TB keep shingles as
hashes (bigint), never strings, to keep the shuffle narrow (see
``shingle_hashes``).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import sql_helper

#: tiny embedded stopword lists for the language-ID heuristic. Deliberately
#: minimal: real lang-id (fastText etc.) is a model dependency; the heuristic
#: IS the operator — swap the word lists for production.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"],
    "es": ["el", "la", "de", "y", "en", "es", "un", "una", "por", "con"],
    "de": ["der", "die", "das", "und", "ist", "ein", "mit", "von", "zu", "auf"],
}


#: the engine's token-separator class, EXPLICIT (r09 family #15 sweep):
#: the ASCII whitespace set [space, \t, \n, \v, \f, \r]. Spelled out
#: because the three regex dialects in play disagree about shorthand
#: \s — Java and Python-ASCII include \x0b (vertical tab), DuckDB's
#: RE2 does NOT — so a \v-separated document tokenized differently on
#: the two engines (28 token-count divergences from one codepoint).
#: Same rendered class everywhere: JVM split, Python kernels, and every
#: DuckDB oracle (WS_CLASS_SQL). Engine SQL text quotes it as a raw
#: literal (r'...'): a plain Spark literal would unescape \x0B to x0B.
WS_CLASS = r"[ \t\n\x0B\f\r]"
WS_CLASS_SQL = r"[ \t\n\x0b\f\r]"


@sql_helper
def tokens(expr: str, lowercase: bool = True) -> str:
    """Whitespace tokenization → array<string> (empties removed)."""
    text = f"lower({expr})" if lowercase else expr
    return f"filter(split({text}, r'{WS_CLASS}+'), t -> t != '')"


@sql_helper
def token_count(expr: str) -> str:
    return f"cast(size({tokens.sql(expr)}) as bigint)"


_BPE_RUNS = r"[a-z]+|[0-9]+|[^a-z0-9 \t\n\x0B\f\r]"


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word token estimate, the cheap proxy for a real BPE tokenizer:
    GPT-2-style pre-tokenizer runs (letter runs / digit runs / single
    punctuation chars), then letter runs split into ≤4-char pieces and
    digit runs into ≤3-digit pieces — ceil arithmetic, no lookbehind, so
    the formula replays identically on RE2 engines (DuckDB oracle).

    Stays JVM-side: regexp_extract_all + higher-order aggregate, no UDF.
    """
    c = F.col(col) if isinstance(col, str) else col
    runs = F.regexp_extract_all(F.lower(c), F.lit(_BPE_RUNS), 0)
    return F.aggregate(
        runs,
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.when(x.rlike("^[0-9]"), F.ceil(F.length(x) / 3))
        .when(x.rlike("^[a-z]"), F.ceil(F.length(x) / 4))
        .otherwise(F.lit(1))
        .cast("long"),
    )


#: DuckDB mirror of bpe_ish_token_count (same runs pattern, same ceil math).
#: COALESCE: DuckDB's list_sum over an empty list is NULL while Spark's
#: F.aggregate returns its 0 seed — empty/whitespace-only docs must count 0
#: tokens on BOTH engines. The outer CASE keeps NULL text NULL-in-NULL-out
#: (Spark's aggregate over a NULL runs array is NULL): without it, an
#: all-NULL-text group summed to 0 on the oracle but NULL on the engine
#: (r07 all-NULL-columns sweep find).
SQL_BPE_COUNT = (
    "CASE WHEN {col} IS NULL THEN NULL ELSE "
    "COALESCE(list_sum(list_transform("
    r"  regexp_extract_all(lower({col}), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\x0b\f\r]'),"
    "  x -> CASE WHEN regexp_matches(x, '^[0-9]') THEN CAST(CEIL(LENGTH(x)/3.0) AS BIGINT)"
    "            WHEN regexp_matches(x, '^[a-z]') THEN CAST(CEIL(LENGTH(x)/4.0) AS BIGINT)"
    "            ELSE 1 END)), 0) END"
)


@sql_helper
def stopword_hits(expr: str, lang: str = "en") -> str:
    """Count of tokens that are stopwords of ``lang``."""
    sw = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (f"cast(size(filter({tokens.sql(expr)}, "
            f"t -> array_contains(array({sw}), t))) as bigint)")


@sql_helper
def stopword_ratio(expr: str, lang: str = "en") -> str:
    n = token_count.sql(expr)
    return (f"CASE WHEN {n} > 0 THEN {stopword_hits.sql(expr, lang)} / {n} "
            f"ELSE 0D END")


@sql_helper
def lang_id(expr: str, min_ratio: float = 0.05) -> str:
    """Heuristic language ID: argmax stopword ratio across embedded lists,
    'und' (undetermined) when no language clears ``min_ratio``.

    Deterministic tie-break: language list order en > es > de (strictly-
    greater comparison keeps the earlier winner on ties).
    """
    n = token_count.sql(expr)
    best_lang, best_hits = "'und'", "0L"
    for code in STOPWORDS:  # insertion order: en, es, de
        h = stopword_hits.sql(expr, code)
        better = f"({h} > {best_hits} AND {h} >= {min_ratio!r}D * {n})"
        best_lang = f"CASE WHEN {better} THEN '{code}' ELSE {best_lang} END"
        best_hits = f"CASE WHEN {better} THEN {h} ELSE {best_hits} END"
    return best_lang


@sql_helper
def quality_criteria_met(expr: str) -> str:
    """Integer count (0-3) of quality criteria met: length band +
    mean-token-length band + stopword presence. The integer form is what
    downstream thresholds should compare against (``crit >= 2`` is exact;
    ``score >= 2/3.0`` drags float representation into a boundary test)."""
    n_tok = token_count.sql(expr)
    n_chars = f"cast(length({expr}) as bigint)"
    mean_tok = f"CASE WHEN {n_tok} > 0 THEN {n_chars} / {n_tok} ELSE 0D END"
    return (
        f"cast({n_chars} >= 100 AND {n_chars} <= 20000 as int)"
        f" + cast({mean_tok} >= 3D AND {mean_tok} <= 12D as int)"
        f" + cast({stopword_ratio.sql(expr)} >= 0.05D as int)"
    )


@sql_helper
def quality_score(expr: str) -> str:
    """Composite [0,1] quality heuristic (criteria/3). Mirrors the shape of
    production quality filters (C4/Gopher-style rules) with exactly
    reproducible arithmetic."""
    return f"cast({quality_criteria_met.sql(expr)} as double) / 3D"


#: PII patterns — RE2-safe (no lookbehind, DuckDB-compatible) so the same
#: pattern string runs verbatim on both engines. Email per the common
#: mailbox@domain.tld shape; phone per NANP-ish +CC NNN-NNNN.
PII_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PII_PHONE_RE = "\\+[0-9]{1,2} [0-9]{3}-[0-9]{4}"


def pii_counts(col: Column | str) -> tuple[Column, Column]:
    """(n_emails, n_phones) match counts — the audit side of the scrub."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), F.lit(0))).cast("long"),
        F.size(F.regexp_extract_all(c, F.lit(PII_PHONE_RE), F.lit(0))).cast("long"),
    )


def redact_pii(col: Column | str) -> Column:
    """Replace emails/phones with typed placeholder tags. Pure codegen'd
    regexp_replace — at 100 TB this is a scan-speed projection, the same
    cost class as quality_score, so it belongs in the first pass over raw
    text (before any shuffle ships unscrubbed bytes)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")


@sql_helper
def normalize_text(expr: str) -> str:
    """Dedup normalization: lowercase, collapse whitespace, trim."""
    return f"trim(regexp_replace(lower({expr}), r'{WS_CLASS}+', ' '))"


@sql_helper
def fingerprint(expr: str) -> str:
    """Deterministic 128-bit content fingerprint of normalized text (md5
    hex). Cross-engine stable (DuckDB md5() matches), unlike murmur3 whose
    seeds differ between engines."""
    return f"md5(cast({normalize_text.sql(expr)} as binary))"


def shingles(col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles → array<string>.

    Documents with fewer than ``n`` tokens yield an EMPTY array and null
    text stays null, matching the DuckDB oracle's ``GREATEST(len-2, 0)``
    range and ``shingle_hashes_np`` (an unguarded ``F.sequence(0, size-n)``
    formulation would step backwards for short docs and crash ``F.slice``
    — regression-tested in tests/test_advice_fixes.py).

    Construction is O(tokens): n whole-array slices zipped element-wise,
    ONE concat per gram — not a per-index ``F.slice`` inside ``transform``,
    which re-copies the token array per gram (O(tokens·n) allocations;
    measured 5× slower on the sf0.1 corpus: 2.3 s → 0.48 s for the
    distinct-count scan).
    """
    t = tokens(col)
    cnt = F.greatest(F.size(t) - (n - 1), F.lit(0))
    grams = F.slice(t, 1, cnt)
    for i in range(1, n):
        grams = F.zip_with(
            grams, F.slice(t, i + 1, cnt), lambda a, b: F.concat_ws(" ", a, b)
        )
    # cnt=0 → empty array for short docs; null text propagates to null —
    # both matching the DuckDB oracle's GREATEST(len-2,0) range and
    # shingle_hashes_np
    return F.array_distinct(grams)


def shingle_hashes(col: str, n: int = 3) -> Column:
    """Distinct n-gram shingles as 64-bit hashes (array<bigint>).

    The scale form: downstream minhash/LSH only needs hash identity, and a
    bigint shuffles ~5-10x narrower than the shingle string.
    """
    return F.transform(shingles(col, n), lambda s: F.xxhash64(s))


def shingle_hashes_np(n: int = 3):
    """Arrow-vectorized shingler: text → array<bigint> of distinct n-gram
    hashes, one pandas-UDF stage.

    The expression form pays interpreted higher-order-function evaluation
    per shingle (slice+concat+hash ~µs each); this kernel tokenizes and
    hashes a whole Arrow batch in Python at ~10x less overhead. Hash =
    first 8 bytes of md5 (process-stable, engine-neutral); downstream only
    needs identity, so the hash family is interchangeable with xxhash64.

    Tokenization MUST match the JVM split (and the DuckDB oracles')
    exactly — both now spell the shared WS_CLASS explicitly: Python's
    bare ``str.split()`` breaks on UNICODE whitespace (NBSP, ideographic
    space) where the class is ASCII-only (r06 find), and the shorthand
    ``\\s`` itself is dialect-split on \\x0b — Java/Python-ASCII include
    it, DuckDB's RE2 does not (r09 family #15 find).
    """
    import hashlib
    import re

    # the EXPLICIT shared separator class (WS_CLASS): python re.ASCII
    # \s happens to equal it, but spelling it out keeps the
    # three-dialect agreement self-evident (r09 family #15)
    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    @F.pandas_udf("array<long>")
    def _sh(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks = [w for w in ws.split(t.lower()) if w]
            hs = {
                int.from_bytes(
                    hashlib.md5(" ".join(toks[i:i + n]).encode()).digest()[:8],
                    "little",
                    signed=True,
                )
                for i in range(len(toks) - n + 1)
            }
            out.append(sorted(hs))
        return pd.Series(out)

    return _sh
