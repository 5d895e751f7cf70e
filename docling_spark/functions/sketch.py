"""Numpy sketch kernels that run inside Python workers, behind the Arrow
UDFs of ``operators/dedup.simhash`` and the sign-LSH buckets of
``operators/similarity``.

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


def sign_bands(vecs, planes, planes_per_band: int):
    """Banded sign-LSH buckets of an Arrow ``list<double>`` array of
    vectors against the ``(n_planes, dim)`` plane matrix ``planes``: band
    ``b`` of a row packs bit ``i`` = sign of its dot with plane ``b·ppb +
    i`` (``ppb`` = ``planes_per_band``, of which ``n_planes`` is a
    multiple).

    Bit for bit what the JVM gives for ``aggregate(zip_with(v, plane,
    *), 0.0, +) > 0``: each dot is a left fold over the dimensions (not
    BLAS, which sums in another order), a row that is null, holds a null
    or is not ``dim`` long gets 0 in every band (its dot is null), and a
    NaN dot counts as positive (Spark orders NaN above every number).
    Returns an Arrow ``list<int64>`` array, one list of bands per row."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n_planes, dim = planes.shape
    n_bands = n_planes // planes_per_band
    off = vecs.offsets.to_numpy()
    vals = vecs.values.slice(off[0], off[-1] - off[0])
    x = pc.fill_null(vals, 0.0).to_numpy()
    off = off - off[0]
    nulls = np.zeros(len(x) + 1, np.int64)
    np.cumsum(vals.is_null().to_numpy(zero_copy_only=False), out=nulls[1:])
    ok = ((np.diff(off) == dim)
          & (nulls[off[1:]] == nulls[off[:-1]])
          & vecs.is_valid().to_numpy(zero_copy_only=False))
    rows = np.flatnonzero(ok)
    v = x[off[rows, None] + np.arange(dim)]
    acc = np.zeros((len(rows), n_planes))
    for i in range(dim):
        acc += v[:, i, None] * planes[:, i]
    bits = ((acc > 0) | np.isnan(acc)).reshape(
        len(rows), n_bands, planes_per_band)
    out = np.zeros((len(vecs), n_bands), np.int64)
    out[rows] = (bits.astype(np.int64)
                 << np.arange(planes_per_band)).sum(axis=-1)
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, (len(vecs) + 1) * n_bands, n_bands,
                           dtype=np.int32)),
        pa.array(out.ravel()))
