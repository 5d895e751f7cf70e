"""Numpy sketch kernels that run inside Python workers, behind the Arrow
UDF of ``operators/dedup.simhash``.

Kept apart from the plan-building code for the reason
``functions/cosine.py`` is: a worker imports the module a UDF's helpers
come from, so this one holds only numpy and pyarrow.
"""

from __future__ import annotations

import numpy as np


def simhash_vote(hashes, bits: int):
    """Per-row simhash of an Arrow ``list<int64>`` array of token hashes:
    bit ``b`` of a row is set iff more than half of its ``n`` hashes have
    bit ``b`` set (``2·ones > n``) — the strict majority of a ±1 vote
    summed ``> 0``. A null hash votes as zero bits; an empty or null list
    gives 0.

    Set bits are counted per row from the list offsets, one bit at a
    time, so memory stays O(tokens) and never becomes a tokens × ``bits``
    matrix. Returns an Arrow int64 array, one value per row."""
    import pyarrow as pa
    import pyarrow.compute as pc

    off = hashes.offsets.to_numpy()
    vals = hashes.values.slice(off[0], off[-1] - off[0])
    h = pc.fill_null(vals, 0).to_numpy()
    off = off - off[0]
    n = np.diff(off)
    sig = np.zeros(len(n), np.int64)
    ones = np.zeros(len(h) + 1, np.int64)
    for b in range(bits):
        np.cumsum((h >> b) & 1, out=ones[1:])
        sig |= (2 * (ones[off[1:]] - ones[off[:-1]]) > n).astype(np.int64) << b
    return pa.array(sig, pa.int64())
