"""Query plans: (Spark callable, DuckDB oracle SQL) pairs.

Every module that owns registry rows exports ``QUERIES: name -> (query
fn, oracle SQL)``.  The relational surface is grouped by domain:
``tpch`` (TPC-H query and join shapes), ``timeseries`` (windows, events,
time series), ``setops`` (set operations, MERGE/SCD2, snapshots) and
``aggregates`` (aggregates, scalar functions, stats); ``flagship`` and
``transform`` are the reference pipeline, ``extensions`` and
``streaming_queries`` the operator and Structured Streaming rows.

Float determinism pattern: Spark and DuckDB may sum doubles in
different orders, so every SUM/AVG over a double column casts to
DECIMAL first (exact, order-independent) and casts the final value back
to double — both engines then emit the identical IEEE double.  Products
of doubles are computed double-side in the same association order on
both engines, which is deterministic, then cast to decimal for the sum.
Fractional literals in oracle SQL use the `e0` form (DuckDB reads bare
decimals as DECIMAL), and int32-ish Spark outputs are cast to long.

Every ORDER BY ... LIMIT query carries a unique tie-break key so the
selected row set is deterministic.
"""

from pyspark.sql import functions as F


def _dec_sum(col, scale: str):
    """Exact decimal sum of ``col`` at ``scale``, published as double."""
    return F.sum(col.cast(scale)).cast("double")
