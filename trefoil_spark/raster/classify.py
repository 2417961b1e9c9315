"""Value classification (SURVEY.md F2-F5).

Reference semantics:
- Classified: ``numpy.digitize(values, breaks)`` — the IMPLEMENTATION rule
  (render/renderers/classified.py:61-68), i.e. index = #{breaks <= v}
  for ascending breaks, NOT the docstring's "<= break" prose (SURVEY.md
  notes the discrepancy; we follow the code).
- Equal-interval break generation: ``linspace(min+step, max, n)``
  (cli/utilities.py:97-107).
- Quantile breaks: absent in the reference (TODO at render_netcdf.py:181);
  the declared ``quantile_classify`` query ranks with ``ntile``.
- Stretched index: raster/render.py ``StretchedRenderer._indices``.

Each operator exists in two equivalent forms: numpy block fn (tile UDFs)
and SQL twin (DuckDB oracle).
"""

from __future__ import annotations

import numpy as np


# --- numpy block forms (bit-exact reference semantics) ---

def classify_block(values: np.ndarray, breaks) -> np.ndarray:
    """digitize; NaN (masked) stays NaN via masked index 255 convention."""
    out = np.digitize(values, np.asarray(breaks, dtype=np.float64)).astype(np.float64)
    out[np.isnan(values)] = np.nan
    return out


def equal_interval_breaks(vmin: float, vmax: float, n: int) -> list[float]:
    """linspace(min+step, max, n) — reference cli/utilities.py:97-107."""
    step = (vmax - vmin) / float(n)
    return list(np.linspace(vmin + step, vmax, n))


# --- SQL twins (DuckDB oracle; identical IEEE expression trees) ---

def classify_sql(value_col: str, breaks) -> str:
    terms = " + ".join(
        f"(CASE WHEN {value_col} >= CAST({float(b)!r} AS DOUBLE) THEN 1 ELSE 0 END)"
        for b in breaks
    )
    return f"(CASE WHEN {value_col} IS NOT NULL THEN ({terms}) END)"
