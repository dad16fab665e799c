"""Set operations / file combination.

Reference: combine_files.py — concatenate many same-schema CSVs into one
(pipelines/prism/county_daily_aggregate.yml:38-44): the reference's
UNION ALL. Natively a glob read IS the union (the ``combine_files``
plugin); for heterogenous frames we use unionByName with missing-column
fill.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame


def union_all(frames: list[DataFrame], by_name: bool = True) -> DataFrame:
    """UNION ALL of N frames; by_name tolerates column-order differences
    and fills missing columns with NULL."""
    if not frames:
        raise ValueError("union_all of zero frames")
    if by_name:
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )
    return reduce(DataFrame.union, frames)
