"""Vector math over ``array<float>``/``array<double>`` columns as pure
Catalyst expressions (``aggregate``/``zip_with``) — no Python UDFs, so
the hot path stays inside whole-stage codegen.

Reference parity: euclidean distance is the medoid metric
(reference ``word_wizard.py:733,744``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    """Cast array<float> → array<double> so accumulation happens in
    float64 (parity with the DuckDB oracle, which promotes to double)."""
    return vec.cast("array<double>")


def euclidean(a: Column, b: Column) -> Column:
    """Euclidean distance (reference medoid metric, word_wizard.py:733)."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(as_double(a), as_double(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
