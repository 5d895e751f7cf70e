"""Numpy cosine kernels that run inside Python workers, behind the
Arrow UDFs of ``operators/similarity.py`` (``cosine_fast`` and the
per-bucket pair step ``_bucket_cosine_pairs``).

They live apart from the plan-building code on purpose: a worker imports
the module a UDF's helpers come from, so keeping it to numpy and pyarrow
keeps every worker from compiling and holding all of ``similarity``.
"""

from __future__ import annotations

import numpy as np


def cosine_rows(xa: np.ndarray, ya: np.ndarray) -> np.ndarray:
    """Row-wise cosine of two equal-shape float64 matrices — the one
    scoring arithmetic of ``cosine_fast`` and the per-bucket pair step, so
    a pair scores bit-identically on both. A zero norm gives NaN, which
    both callers turn into "no score", matching the JVM ``try_divide``
    NULL."""
    num = np.einsum("ij,ij->i", xa, ya)
    den = np.linalg.norm(xa, axis=1) * np.linalg.norm(ya, axis=1)
    # errstate silences the per-batch zero-norm warning
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den == 0.0, np.nan, num / den)


# pairs scored per numpy call: an uncapped bucket must not materialise
# all m²/2 pairs (two dim-wide rows each) at once
_PAIRS_PER_CHUNK = 1 << 16


def pair_chunks(m: int):
    """Position pairs (i, j), i < j, of an m-member bucket as index arrays,
    about ``_PAIRS_PER_CHUNK`` pairs per chunk."""
    step = max(1, _PAIRS_PER_CHUNK // m)
    for lo in range(0, m - 1, step):
        rows = np.arange(lo, min(lo + step, m - 1))
        cnt = m - 1 - rows
        i = np.repeat(rows, cnt)
        j = i + 1 + np.arange(len(i)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        yield i, j


def score_bucket(table, keys: tuple[str, ...], id_col: str, floor: float):
    """``(*keys, id_a, id_b, cos)`` for one bucket: every pair of rows of
    ``table`` (columns ``*keys``, ``id_col``, ``_v`` list<double>) with
    ``id_a < id_b`` and ``cos >= floor``.

    A pair scores iff both vectors are non-null and of equal length (the
    JVM ``zip_with`` rule); a zero-norm vector scores nothing. A null id
    pairs with nothing, and a duplicated id never pairs with itself."""
    import pyarrow as pa
    import pyarrow.compute as pc

    table = table.filter(pc.is_valid(table.column(id_col)))
    # dense id rank, not the id itself: works for any id type, and a
    # duplicated id shares one rank, so it never pairs with itself
    rank = pc.rank(table.column(id_col).combine_chunks(),
                   tiebreaker="dense").to_numpy()
    vecs = table.column("_v").combine_chunks()
    lens = pc.fill_null(pc.list_value_length(vecs), -1).to_numpy()
    flat = vecs.flatten().to_numpy(zero_copy_only=False)
    sizes = np.maximum(lens, 0)
    starts = np.cumsum(sizes) - sizes
    a, b, cos = [], [], []
    for n in np.unique(lens[lens >= 0]):
        members = np.flatnonzero(lens == n)
        members = members[np.argsort(rank[members], kind="stable")]
        if len(members) < 2:
            continue
        mat = flat[starts[members, None] + np.arange(n)]
        for i, j in pair_chunks(len(members)):
            keep = rank[members[i]] < rank[members[j]]
            i, j = i[keep], j[keep]
            sim = cosine_rows(mat[i], mat[j])
            ok = sim >= floor  # NaN (zero norm) compares False
            a.append(members[i[ok]])
            b.append(members[j[ok]])
            cos.append(sim[ok])
    a = np.concatenate(a) if a else np.empty(0, np.int64)
    b = np.concatenate(b) if b else np.empty(0, np.int64)
    ids = table.column(id_col)
    return pa.table(
        [table.column(k).take(a) for k in keys]
        + [ids.take(a), ids.take(b),
           pa.array(np.concatenate(cos) if cos else np.empty(0),
                    pa.float64())],
        names=[*keys, "id_a", "id_b", "cos"])
