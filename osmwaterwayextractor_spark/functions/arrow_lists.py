"""The Arrow boundary of the graph kernels (``mapInArrow``).

Every kernel on the ``build_graph`` path reads and writes ``RecordBatch``es
and does its per-way math on flat NumPy arrays — the concatenated elements
of a list column plus its offsets, the layout Arrow already stores. Nothing
here builds per-row Python objects: converting data across the UDF boundary,
not the UDF body, is what dominated the pandas-shaped kernels.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def list_flat(col: pa.ListArray) -> tuple[np.ndarray, np.ndarray]:
    """List column → (values, offsets) as NumPy, list ``i`` being
    ``values[offsets[i]:offsets[i+1]]``. Offsets are rebased to 0, so a
    sliced array reads correctly, and a null list reads as empty."""
    offs = col.offsets.to_numpy().astype(np.int64)
    if col.null_count:
        lens = np.diff(offs)
        lens[col.is_null().to_numpy(zero_copy_only=False)] = 0
        offs = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(lens)])
    else:
        offs = offs - offs[0]
    # flatten() honours the slice and skips values behind null lists
    return col.flatten().to_numpy(zero_copy_only=False), offs


def list_array(values: np.ndarray, offsets: np.ndarray) -> pa.ListArray:
    """(values, offsets) → list column, the inverse of ``list_flat``."""
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()), pa.array(values)
    )


def _concat(parts: list[pa.RecordBatch]) -> pa.RecordBatch:
    if len(parts) == 1:
        return parts[0]
    return pa.RecordBatch.from_arrays(
        [pa.concat_arrays([p.column(i) for p in parts]) for i in range(parts[0].num_columns)],
        schema=parts[0].schema,
    )


def whole_runs(batches, key: str):
    """Re-cut a stream of batches whose rows are grouped by ``key`` so that
    no run of equal keys spans two output batches: the trailing — possibly
    incomplete — run of each batch is held back and prepended to the next.
    A run longer than many batches is concatenated once, when it closes."""
    pending: list[pa.RecordBatch] = []
    for batch in batches:
        if not batch.num_rows:
            continue
        keys = batch.column(key).to_numpy(zero_copy_only=False)
        other = np.flatnonzero(keys != keys[-1])
        cut = int(other[-1]) + 1 if other.size else 0
        if cut:
            yield _concat(pending + [batch.slice(0, cut)])
            pending = []
        pending.append(batch.slice(cut))
    if pending:
        yield _concat(pending)
