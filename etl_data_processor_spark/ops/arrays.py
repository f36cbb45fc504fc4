"""Array / map column operators.

The reference touches semi-structured data twice: the LLM's map-of-structs
reply (main.py:200, 210-211, flattened at 291-296) and JSON chunk parsing
(main.py:210). The engine generalizes to first-class ARRAY/MAP/JSON columns;
embedding math lives in ops.similarity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def map_lookup(keys_values: dict, key: Column) -> Column:
    """Literal-map lookup (B29) — the reference's month map (main.py:29-42)
    as a broadcastable ``create_map`` expression, indexed with ``m[key]``
    (``getItem`` with a Column key forwards to the same expression but
    is deprecated)."""
    m = F.create_map(*[F.lit(x) for kv in keys_values.items() for x in kv])
    return m[key]
