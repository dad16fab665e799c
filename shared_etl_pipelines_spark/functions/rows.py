"""One adapter for per-row Python kernels over Arrow batches."""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame


def map_rows(df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str) -> DataFrame:
    """Run ``fn`` once per row of ``df`` inside one ``mapInPandas``.

    ``fn`` gets the row's values in ``df``'s column order and returns
    zero, one or many tuples in ``schema``'s column order. Output columns
    are assigned by position, so their names need not match the input's.
    Nothing is caught here: a kernel's own try/except decides which
    inputs quarantine and which fail the task.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame.from_records(
                [out for row in pdf.itertuples(index=False, name=None) for out in fn(*row)]
            )

    return df.mapInPandas(batches, schema)
