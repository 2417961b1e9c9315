"""Seeded inputs for the benchmark workloads.

Everything the engine sees is generated here from ``--seed``; the same
seed gives byte-identical inputs, and :func:`digest` condenses them into
one hex string that every run record carries.

- ``documents``: a documents-shaped table (doc_id, text, lang, source,
  n_chars). The seed picks the doc_ids, and so the geotags the engine
  derives from them, and the texts. ``build_pages_scaled`` expands it by
  an integer factor.
- ``tile_origin``: the source tile grid's origin, picked by the seed on
  the grid's own pixel lattice so that pixel centres stay exact doubles.
- ``query_bboxes`` / ``query_points``: the interactive mix's inputs.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 5000
# page ids are doc_id * factor + rep and the geotag formula multiplies
# them by 2654435761; doc_id < 2**22 keeps that product inside a bigint
# for every factor used here (ANSI mode would raise on overflow)
DOC_ID_SPACE = 1 << 22
WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query key window row table stream merge data "
    "join vector big customer the a tile zone raster point polygon cell"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
N_SOURCES = 20

# the synthetic raster region of the engine's own fixtures: 12 x 6 degrees
REGION = (-125.0, 32.0, -113.0, 38.0)
# dyadic pixel size (12/4096 degrees): exact in float64; REGION is
# 4096 x 2048 such pixels
PIXEL_DEG = 12.0 / 4096.0


def documents(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 1])
    doc_ids = np.sort(rng.choice(DOC_ID_SPACE, N_DOCS, replace=False)).astype(np.int64)
    n_words = rng.integers(8, 80, N_DOCS)
    words = np.asarray(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), n)]) for n in n_words]
    return pd.DataFrame(
        {
            "doc_id": doc_ids,
            "text": texts,
            "lang": np.asarray(LANGS)[rng.integers(0, len(LANGS), N_DOCS)],
            "source": [f"src{i % N_SOURCES}" for i in range(N_DOCS)],
            "n_chars": np.fromiter((len(t) for t in texts), np.int64, N_DOCS),
        }
    )


def write_documents(docs: pd.DataFrame, sf_dir: str) -> str:
    """Write ``documents.parquet`` where ``build_pages_scaled`` reads it."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), path)
    return path


def tile_origin(seed: int, width: int, height: int) -> tuple[float, float]:
    """(x0, y0) of a ``width`` x ``height`` grid inside REGION, on the
    PIXEL_DEG lattice so every pixel centre is an exact double."""
    rng = np.random.default_rng([seed, 2])
    nx = int(round((REGION[2] - REGION[0]) / PIXEL_DEG)) - width
    ny = int(round((REGION[3] - REGION[1]) / PIXEL_DEG)) - height
    ox = int(rng.integers(0, max(nx, 0) + 1))
    oy = int(rng.integers(0, max(ny, 0) + 1))
    return REGION[0] + ox * PIXEL_DEG, REGION[3] - oy * PIXEL_DEG


def query_bboxes(
    seed: int, n: int, w: float, h: float, extent=REGION
) -> list[tuple[float, float, float, float]]:
    """``n`` seeded (xmin, ymin, xmax, ymax) boxes of size w x h inside ``extent``."""
    rng = np.random.default_rng([seed, 3, int(w * 1000), int(h * 1000)])
    x0 = extent[0] + rng.random(n) * (extent[2] - extent[0] - w)
    y0 = extent[1] + rng.random(n) * (extent[3] - extent[1] - h)
    return [(float(a), float(b), float(a + w), float(b + h)) for a, b in zip(x0, y0)]


def query_points(seed: int, n_sets: int, per_set: int) -> list[pd.DataFrame]:
    """Seeded kNN query point sets inside the pages' 12 x 6 degree extent;
    query ids are negative so they never collide with a page id."""
    rng = np.random.default_rng([seed, 4])
    out = []
    for s in range(n_sets):
        out.append(
            pd.DataFrame(
                {
                    "doc_id": -(np.arange(per_set, dtype=np.int64) + 1 + s * per_set),
                    "lon": -125.0 + 0.5 + rng.random(per_set) * 11.0,
                    "lat": 32.0 + 0.5 + rng.random(per_set) * 5.0,
                }
            )
        )
    return out


def digest(*parts) -> str:
    """sha256 over the inputs' canonical bytes (frames hashed by content)."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, pd.DataFrame):
            h.update(pd.util.hash_pandas_object(p, index=False).to_numpy().tobytes())
            h.update(",".join(p.columns).encode())
        else:
            h.update(repr(p).encode())
    return h.hexdigest()[:16]
