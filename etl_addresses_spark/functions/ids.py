"""Dataset-qualified id helpers.

Parity with getFullId/getInternalId at /root/reference/addresses.js:20-34:
a bare id gets a `dataset/` prefix; an already-qualified id (contains
'/') passes through; the internal id is the part after the first '/'.
Pure string expressions — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def full_id(dataset: str, id_col: Column) -> Column:
    # F.concat (null-propagating) rather than concat_ws (null-skipping):
    # a NULL id must stay NULL, not collapse to the bare dataset name —
    # and it must match the oracle's `||` semantics.
    return F.when(id_col.contains("/"), id_col).otherwise(
        F.concat(F.lit(f"{dataset}/"), id_col)
    )


def internal_id(id_col: Column) -> Column:
    # addresses.js:31 takes split('/')[1] — the element AFTER the first
    # slash, not the last element.
    return F.when(id_col.contains("/"), F.split(id_col, "/").getItem(1)).otherwise(
        id_col
    )
