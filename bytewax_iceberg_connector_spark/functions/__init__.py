"""Column-expression and kernel helpers shared by the query plans."""

from __future__ import annotations

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_helper(template):
    """Turn a Spark SQL text template into an expression helper.

    The helper takes a column name or Spark SQL expression text (names
    that are not plain identifiers must come backtick-quoted) plus the
    template's own options, and returns ONE ``F.expr`` of the rendered
    text: a single parse on the driver, where a node-by-node Column
    build pays one Py4J round trip per node (``quality_score`` built
    that way took ~80 ms, its one parse ~0.4 ms, on a 4-vCPU host). The
    template stays reachable as ``helper.sql``, so helpers compose as
    text and expr-string plans inline the same definition.
    """

    @functools.wraps(template)
    def helper(*args, **kwargs) -> Column:
        return F.expr(template(*args, **kwargs))

    helper.sql = template
    return helper
