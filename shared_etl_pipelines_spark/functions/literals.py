"""Array literals that cost one JVM call however long the list."""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F


def literal_array(values: list, element_type: str) -> Column:
    """One array literal from one JSON string: a single JVM call however
    long the list (``F.lit(list)`` costs one py4j round trip per
    element). The optimizer folds it into a constant."""
    return F.from_json(F.lit(json.dumps(values)), f"array<{element_type}>")
