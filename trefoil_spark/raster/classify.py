"""Value classification (SURVEY.md F2-F5).

Reference semantics:
- Classified: ``numpy.digitize(values, breaks)`` — the IMPLEMENTATION rule
  (render/renderers/classified.py:61-68), i.e. index = #{breaks <= v}
  for ascending breaks, NOT the docstring's "<= break" prose (SURVEY.md
  notes the discrepancy; we follow the code).
- Equal-interval break generation: ``linspace(min+step, max, n)``
  (cli/utilities.py:97-107).
- Quantile breaks: absent in the reference (TODO at render_netcdf.py:181);
  north_star requires them — Spark ``approxQuantile`` / exact via
  ``percentile`` for small grids.
- Stretched index: ``((v - min) * (n-1)/(max-min)).astype(int).clip(0, n-1)``
  (render/renderers/stretched.py:106-121). astype(int) truncates toward
  zero; after the clip to [0, n-1] this is indistinguishable from FLOOR,
  which is what the SQL twin uses (valid for the whole domain since
  negatives clip to 0 either way).

Each operator exists in two equivalent forms: numpy block fn (tile UDFs)
and SQL twin (DuckDB oracle).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame


# --- numpy block forms (bit-exact reference semantics) ---

def classify_block(values: np.ndarray, breaks) -> np.ndarray:
    """digitize; NaN (masked) stays NaN via masked index 255 convention."""
    out = np.digitize(values, np.asarray(breaks, dtype=np.float64)).astype(np.float64)
    out[np.isnan(values)] = np.nan
    return out


def stretch_block(values: np.ndarray, vmin: float, vmax: float, ncolors: int) -> np.ndarray:
    factor = 1.0 if vmax == vmin else float(ncolors - 1) / float(vmax - vmin)
    nan = np.isnan(values)
    safe = np.where(nan, vmin, values)
    idx = ((safe - vmin) * factor).astype(np.int64).clip(0, ncolors - 1).astype(np.float64)
    idx[nan] = np.nan
    return idx


def equal_interval_breaks(vmin: float, vmax: float, n: int) -> list[float]:
    """linspace(min+step, max, n) — reference cli/utilities.py:97-107."""
    step = (vmax - vmin) / float(n)
    return list(np.linspace(vmin + step, vmax, n))


# --- Spark DataFrame forms ---

def quantile_breaks(df: DataFrame, value_col: str, n: int, relative_error: float = 0.0):
    """Quantile classification breaks (north_star F4). relative_error=0 →
    exact (more memory); >0 uses Greenwald-Khanna sketch, the scale path."""
    qs = [i / n for i in range(1, n + 1)]
    return df.approxQuantile(value_col, qs, relative_error)


# --- SQL twins (DuckDB oracle; identical IEEE expression trees) ---

def classify_sql(value_col: str, breaks) -> str:
    terms = " + ".join(
        f"(CASE WHEN {value_col} >= CAST({float(b)!r} AS DOUBLE) THEN 1 ELSE 0 END)"
        for b in breaks
    )
    return f"(CASE WHEN {value_col} IS NOT NULL THEN ({terms}) END)"


def stretch_sql(value_col: str, vmin: float, vmax: float, ncolors: int) -> str:
    factor = 1.0 if vmax == vmin else float(ncolors - 1) / float(vmax - vmin)
    idx = (
        f"FLOOR(({value_col} - CAST({float(vmin)!r} AS DOUBLE)) * CAST({factor!r} AS DOUBLE))"
    )
    return (
        f"(CASE WHEN {value_col} IS NOT NULL THEN "
        f"CAST(LEAST(GREATEST({idx}, 0), {ncolors - 1}) AS BIGINT) END)"
    )
