"""Token n-grams as a column expression.

The token array must already be a projected column: higher-order
functions are interpreted, and Catalyst does not hoist a lambda-invariant
``split(text, ' ')`` out of a ``transform`` body, so a split inside the
lambda re-splits the document once per gram (O(tokens^2) per row). Taking
the column by *name* keeps the lambda from capturing any expression over
the raw text. ``plans/inspect.lambda_split_count`` checks the result.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ngrams(toks: str, n: int, max_grams: int | None = None) -> Column:
    """array<string> of the space-joined ``n``-token windows of the array
    column named ``toks``, in position order (at most ``max_grams`` of
    them). Arrays shorter than ``n`` give the empty array: F.sequence(1, 0)
    would default its step to -1 and the slice would throw, while DuckDB's
    generate_series(1, 0) is empty."""
    t = F.col(toks)
    count = F.size(t) - (n - 1)
    if max_grams is not None:
        count = F.least(count, F.lit(max_grams))
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
