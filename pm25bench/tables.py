"""The catalog tables: a copy of the catalog's test data, permuted per seed.

``data/sf0.01`` and ``data/sf0.001`` hold the catalog's deterministic
test tables (the star schema plus events, documents and embeddings, one
parquet file each), copied byte for byte. They carry the structure the
queries look for, such as the planted near-duplicate documents behind
the ``dd`` and ``gr`` families. The seed sets the order of every table's
rows in each copy the benchmark reads.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data"


def source(sf: float) -> Path:
    return DATA / f"sf{sf}"


def write_copy(src: Path, out_dir: str, seed: int) -> str:
    """Write every table of ``src`` with its rows in a seeded permuted order."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)
    for path in sorted(src.glob("*.parquet")):
        table = pq.read_table(path)
        pq.write_table(table.take(rng.permutation(table.num_rows)), os.path.join(out_dir, path.name))
    return out_dir
