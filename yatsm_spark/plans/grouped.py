"""Key-sorted grouped map: the one runner every per-url kernel stage uses.

A pandas function runs on blocks of COMPLETE, contiguous key groups —
many groups per call, so the Python/Arrow cost is paid per Arrow batch,
not per group, and the Python task count follows the shuffled bytes (AQE
coalescing), not the input's clustering (``groupBy().applyInPandas``
inherits e.g. a bucketed table's bucket count; each task costs a fixed
Python worker set-up).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def group_bounds(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(start, end) index arrays of each run of equal keys in a
    key-contiguous array — one vectorized comparison, no pandas groupby."""
    cut = np.flatnonzero(keys[1:] != keys[:-1]) + 1
    return np.concatenate(([0], cut)), np.concatenate((cut, [keys.size]))


def run_sorted_blocks(
    batches: Iterable[pd.DataFrame],
    key: str,
    fn: Callable[[pd.DataFrame], pd.DataFrame | None],
) -> Iterator[pd.DataFrame]:
    """Apply ``fn`` to the key-contiguous batch stream of one partition,
    one block of complete groups at a time.  The last key of each batch
    may continue in the next, so its rows are held back and prepended to
    the next batch.  Empty or ``None`` results are dropped."""

    def blocks():
        pend: pd.DataFrame | None = None
        for pdf in batches:
            if pdf.empty:
                continue
            if pend is not None:
                pdf = pd.concat([pend, pdf], ignore_index=True)
            keys = pdf[key].to_numpy()
            cut = int(np.flatnonzero(keys == keys[-1])[0])
            pend = pdf.iloc[cut:]
            if cut:
                yield pdf.iloc[:cut]
        if pend is not None:
            yield pend

    for block in blocks():
        out = fn(block)
        if out is not None and not out.empty:
            yield out


def map_sorted_groups(
    df: DataFrame,
    key: str,
    order: str | Sequence[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame | None],
    schema,
    presorted: bool = False,
) -> DataFrame:
    """Run ``fn`` over pandas blocks of whole ``key`` groups, each block's
    rows sorted by ``(key, *order)`` (block index arbitrary); ``fn``
    returns rows of ``schema``, or ``None``.

    Physical plan: ``repartition(key)`` + ``sortWithinPartitions(key,
    *order)`` + ``mapInPandas``.  ``presorted=True`` is the caller's
    promise that partitions are already key-contiguous and so sorted —
    e.g. a url-bucketed, url-sorted table
    (sources/storage.py::write_bucketed_tier) — and scans with ZERO
    shuffle: scan -> mapInPandas.
    """
    order = [order] if isinstance(order, str) else list(order)
    if not presorted:
        df = df.repartition(key).sortWithinPartitions(key, *order)
    return df.mapInPandas(lambda batches: run_sorted_blocks(batches, key, fn), schema=schema)
