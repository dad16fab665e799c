"""Reference computations made apart from the program, in numpy.

They take the seed's arrays and the county label grid directly (never
the program's files), so a fault in decoding, clipping, windowing or
aggregation shows as a mismatch. Percentiles interpolate linearly
between closest ranks, the definition Spark's ``percentile`` and
DuckDB's ``quantile_cont`` share.
"""

from __future__ import annotations

import numpy as np

AGGS = ("min", "p5", "q1", "med", "avg", "q3", "p95", "max")
_PCT = {"p5": 5.0, "q1": 25.0, "med": 50.0, "q3": 75.0, "p95": 95.0}


def trailing_sum(series: np.ndarray, window: int) -> np.ndarray:
    """Trailing ``window``-row sum along axis 0; the first rows sum what
    exists (a frame of ROWS BETWEEN window-1 PRECEDING AND CURRENT ROW)."""
    c = np.cumsum(series, axis=0, dtype=np.float64)
    out = c.copy()
    out[window:] = c[window:] - c[:-window]
    return out


def zscore(series: np.ndarray) -> np.ndarray:
    """(x - mean) / sample standard deviation along axis 0."""
    return (series - series.mean(axis=0)) / series.std(axis=0, ddof=1)


def zonal(values: np.ndarray) -> dict[str, float]:
    """The declared aggregate list over one zone's values."""
    out = {"min": float(values.min()), "max": float(values.max()), "avg": float(values.mean())}
    for name, q in _PCT.items():
        out[name] = float(np.percentile(values, q))
    return out


def zonal_by_day(vals: np.ndarray, label: np.ndarray, keep: np.ndarray,
                 geoids: list[str]) -> dict[tuple[str, int], dict[str, float]]:
    """{(geoid, day index): aggregates} over the cells where ``keep``."""
    out = {}
    for i, g in enumerate(geoids):
        cells = (label == i) & keep
        if not cells.any():
            continue
        per_day = vals[:, cells].astype(np.float64)
        for d in range(vals.shape[0]):
            out[(g, d)] = zonal(per_day[d])
    return out


def close(a, b, rtol: float = 1e-7, atol: float = 1e-9) -> bool:
    return bool(np.allclose(np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64),
                            rtol=rtol, atol=atol))
