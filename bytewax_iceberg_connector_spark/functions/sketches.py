"""Frequency-sketch helpers: Misra–Gries heavy-hitter candidates.

The scalable exact-top-k recipe for columns whose distinct-value universe
is too large to shuffle (n-grams at 100 TB): a Misra–Gries summary of
``s`` counters retains every item whose count exceeds N/s. The summary is
mergeable, so each task sketches its partition and the partial summaries
fold into one. The candidates (≤ s keys, tiny) then broadcast back for an
exact recount of only those keys — the word-count shuffle shrinks from
|distinct terms| to |candidates|.

Exactness guarantee: if the k-th largest global count f_k > N/s, the
top-k is provably inside the candidate set and the recount is exact —
choose s ≥ N/f_k (estimable from any sample); otherwise the result is
still a certified subset (every returned count is exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def misra_gries_candidates(df: DataFrame, col: str, s: int = 256) -> DataFrame:
    """Lazy one-column frame (``col``) of Misra–Gries candidates for
    ``df[col]``: every value with count > N/s is in it.

    Spark's ``freqItems`` is this summary as a JVM aggregate
    (``CollectFrequentItems``, partial per task, merged on one): it keeps
    ``int(1/support)`` counters, s or (where 1/(1/s) rounds down) s - 1,
    and every decrement takes the same amount from one more counter than
    that, so from at least s, and an item loses at most N/s. Spark takes s up to 10⁴ (support ≥ 1e-4).
    Nothing runs until the frame does.
    """
    summary = df.stat.freqItems([col], 1 / s)
    return summary.select(F.explode(f"{col}_freqItems").alias(col))
