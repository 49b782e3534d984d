"""SQL-text expression helpers (``functions.sql_helper``) against plain
Python references.

The text and numeric helpers take a column name or Spark SQL expression
text and return one parsed ``F.expr``. Their separator class reaches
Java's regex engine through a raw SQL literal; an ordinary literal would
unescape ``\\x0B`` to ``x0B`` and stop splitting on vertical tab. The
references here are Python's ``re`` over the same explicit class.
"""

from __future__ import annotations

import hashlib
import math
import re
from decimal import Decimal

import pytest

from bytewax_iceberg_connector_spark.functions import numeric as N
from bytewax_iceberg_connector_spark.functions import text as X

_WS = re.compile(r"[ \t\n\x0b\f\r]+")

ADVERSARIAL = [
    None,
    "",
    "   ",
    "\t\n\x0b\x0c\r",
    "vtab\x0bsep and formfeed\x0csep",
    "nbsp\xa0is token-internal",
    "\tThe\tcat\tsat on the mat\t",
    "  Leading and trailing  ",
    "Ünïcødé puñctuation!!! ... 🙂 🙂",
    ("the quick brown fox jumps over the lazy dog\x0b" * 4).strip(),
    "a " * 60,
    "supercalifragilisticexpialidocious " * 4,
]


def _tokens(s):
    return None if s is None else [w for w in _WS.split(s.lower()) if w]


def _stopword_hits(s):
    t = _tokens(s)
    return None if t is None else sum(w in X.STOPWORDS["en"] for w in t)


def _fingerprint(s):
    if s is None:
        return None
    norm = _WS.sub(" ", s.lower()).strip(" ")
    return hashlib.md5(norm.encode()).hexdigest()


def _quality_score(s):
    if s is None:
        return None
    n_tok, n_chars = len(_tokens(s)), len(s)
    mean_tok = n_chars / n_tok if n_tok > 0 else 0.0
    ratio = _stopword_hits(s) / n_tok if n_tok > 0 else 0.0
    crit = ((100 <= n_chars <= 20_000) + (3.0 <= mean_tok <= 12.0)
            + (ratio >= 0.05))
    return crit / 3.0


@pytest.fixture(scope="module")
def rows(spark):
    df = spark.createDataFrame(list(enumerate(ADVERSARIAL)),
                               "id int, text string")
    return df.select(
        "id",
        X.tokens("text").alias("tokens"),
        X.token_count("text").alias("token_count"),
        X.stopword_hits("text").alias("stopword_hits"),
        X.fingerprint("text").alias("fingerprint"),
        X.quality_score("text").alias("quality_score"),
    ).orderBy("id").collect()


@pytest.mark.parametrize("helper, ref", [
    ("tokens", _tokens),
    ("token_count", lambda s: None if s is None else len(_tokens(s))),
    ("stopword_hits", _stopword_hits),
    ("fingerprint", _fingerprint),
    ("quality_score", _quality_score),
])
def test_text_helper_matches_python_re(rows, helper, ref):
    got = [r[helper] for r in rows]
    want = [ref(s) for s in ADVERSARIAL]
    assert got == want


def test_text_helpers_take_expression_text(spark):
    """A helper's argument is SQL text, not only a column name."""
    df = spark.createDataFrame([("A\x0bb",)], "t string")
    got = df.select(X.tokens("concat(t, ' the C')").alias("x"),
                    X.stopword_hits("concat(t, ' the C')").alias("h")).first()
    assert got.x == ["a", "b", "the", "c"] and got.h == 2  # "a", "the"


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
@pytest.mark.parametrize("helper", ["dec", "dsum", "davg"])
def test_decimal_helpers_abort_on_nonfinite(spark, helper, bad):
    df = spark.createDataFrame([(1.5,), (bad,), (None,)], "x double")
    fn = getattr(N, helper)
    q = df.select(fn("x")) if helper == "dec" else df.agg(fn("x"))
    with pytest.raises(Exception, match="non-finite"):
        q.collect()


def test_decimal_helpers_pass_null_through(spark):
    df = spark.createDataFrame([(1, 1.5), (1, None), (1, 2.25), (2, None)],
                               "k int, x double")
    assert [r.d for r in df.select(N.dec("x").alias("d")).collect()] == [
        Decimal("1.50"), None, Decimal("2.25"), None]
    got = {
        r.k: (r.s, r.a)
        for r in df.groupBy("k").agg(N.dsum("x").alias("s"),
                                     N.davg("x").alias("a")).collect()
    }
    assert got == {1: (3.75, 1.875), 2: (None, None)}


def test_decimal_helpers_take_expression_text_and_quoted_names(spark):
    df = spark.createDataFrame([(1.5, 2.0), (2.25, None)],
                               "`unit price` double, qty double")
    got = df.agg(N.dsum("`unit price` * qty", 4).alias("s"),
                 N.davg("`unit price`").alias("a")).first()
    assert (got.s, got.a) == (3.0, 1.875)
