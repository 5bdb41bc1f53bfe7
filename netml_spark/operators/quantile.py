"""Two-pass data-dependent scalars (reference parser.py:729, 785, 803).

The reference's plans are data-dependent: the split interval, the feature
dimension, and the SAMP sampling rate are all quantiles of pass-1 outputs.
In Spark this is an aggregate -> one scalar to the driver -> broadcast into
pass 2 (the only driver round-trip in the engine, SURVEY.md §3.1).

``F.percentile`` is Spark's exact percentile with linear interpolation —
identical to ``np.quantile``'s default (parity pinned in tests). At
10^12-row scale exact percentile of *per-flow* aggregates is itself a big
shuffle; ``approx=True`` switches to ``percentile_approx`` at
``QUANTILE_ACCURACY`` (documented tolerance, SURVEY.md §7.4.3: the
result's rank is off by at most n / QUANTILE_ACCURACY). Only
``jobs/extract_features.py --approx-quantiles`` sets it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

QUANTILE_ACCURACY = 10000  # percentile_approx accuracy (its default)


class EmptyInputError(ValueError):
    """Quantile over zero rows (ADVICE r4: a dedicated type so callers —
    FeaturePlan.extract — catch ONLY the empty-input case, never a future
    ValueError from a genuinely bad argument). Subclasses ValueError for
    backward compatibility with round-3 callers."""


def exact_quantile(df: DataFrame, col: str | Column, q: float, approx: bool = False) -> float:
    c = F.col(col) if isinstance(col, str) else col
    if approx:
        expr = F.percentile_approx(c, F.lit(float(q)), F.lit(QUANTILE_ACCURACY))
    else:
        expr = F.percentile(c, F.lit(float(q)))
    row = df.agg(expr.alias("q")).collect()[0]
    if row["q"] is None:
        raise EmptyInputError(
            "quantile over an empty input — no rows survived the upstream "
            "filters (check flow_pkts_thres / interval / timeout settings)"
        )
    return float(row["q"])


def dim_from_counts(df: DataFrame, count_col: str, q_interval: float,
                    approx: bool = False) -> int:
    """dim = int(floor(quantile(num_pkts, q_interval))) — parser.py:785."""
    import math

    return int(math.floor(exact_quantile(df, count_col, q_interval, approx=approx)))
