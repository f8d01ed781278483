"""Vector column math over array<float>/array<double> embeddings.

All built from higher-order functions (zip_with/aggregate/transform) so the
arithmetic runs JVM-side in plan order — deterministic fold order, which is
what makes cosine scores exactly reproducible against the DuckDB oracle
(both engines fold the array left-to-right in double precision).

For 100 TB: these expressions vectorize per-row with no shuffle; top-k
similarity adds one aggregation. The Pandas-UDF path is deliberately absent
from the hot path — Arrow transfer would only pay off for matrix-blocked ANN,
which lives in operators/similarity.py behind the same API.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Left-to-right double-precision dot product."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))

