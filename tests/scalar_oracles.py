"""Driver-side scalar twins of library Column operators.

Each function recomputes, one value at a time in plain Python, what a
library operator computes over a DataFrame; tests compare the two.
"""

import numpy as np

from rustac_spark.geo.cells import _RES_SHIFT, _Y_SHIFT
from rustac_spark.geo.s2cells import _FACE_SHIFT, _J_SHIFT, _LEVEL_SHIFT
from rustac_spark.textops.minhash import _shingle_hashes_np, _sig_from_hashes
from rustac_spark.textops.simhash import simhash_batch


def cell_encode_py(res: int, x: int, y: int) -> int:
    """``geo.cells.encode``."""
    return (res << _RES_SHIFT) | (y << _Y_SHIFT) | x


def cell_decode_py(cell: int) -> tuple[int, int, int]:
    """(res, x, y) of a ``geo.cells`` cell id."""
    res = cell >> _RES_SHIFT
    y = (cell >> _Y_SHIFT) & ((1 << _Y_SHIFT) - 1)
    x = cell & ((1 << _Y_SHIFT) - 1)
    return res, x, y


def s2_decode_py(cell: int) -> tuple[int, int, int, int]:
    """(level, face, i, j) of a ``geo.s2cells`` cell id."""
    level = cell >> _LEVEL_SHIFT
    face = (cell >> _FACE_SHIFT) & 0xF
    j = (cell >> _J_SHIFT) & ((1 << _J_SHIFT) - 1)
    i = cell & ((1 << _J_SHIFT) - 1)
    return level, face, i, j


def s2_parent_py(cell: int) -> int:
    """The level-1 parent of a ``geo.s2cells`` cell id."""
    level, face, i, j = s2_decode_py(cell)
    return ((level - 1) << _LEVEL_SHIFT) | (face << _FACE_SHIFT) \
        | ((j >> 1) << _J_SHIFT) | (i >> 1)


def zorder_key_py(xi: int, yi: int) -> int:
    """``pipeline.layout.zorder_key``: Morton interleave of two ≤16-bit
    grid indices."""
    def spread(v: int) -> int:
        v &= 0xFFFF
        for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F),
                            (2, 0x33333333), (1, 0x55555555)):
            v = (v | (v << shift)) & mask
        return v
    return spread(xi) | (spread(yi) << 1)


def pack_documents_py(rows: list[tuple], budget: int) -> list[tuple]:
    """``textops.packing.pack_documents``: rows are (group, id, tokens)
    tuples; returns (group, id, tokens, pack_id, pack_pos)."""
    out = []
    by_group: dict = {}
    for g, i, t in rows:
        by_group.setdefault(g, []).append((i, t))
    for g, docs in by_group.items():
        docs.sort()
        cur, run, pos = 0, 0, 0
        for i, t in docs:
            t = int(t)
            if pos > 0 and run + t > budget:
                cur, run, pos = cur + 1, 0, 0
            out.append((g, i, t, cur, pos))
            run += t
            pos += 1
    return out


def simhash64(text: str) -> int:
    """``textops.simhash.with_simhash`` of one text."""
    return int(simhash_batch([text])[0])


def shingles(text: str, n: int = 5, mode: str = "word") -> set[int]:
    """The shingle-hash set ``textops.minhash.with_signatures`` keeps."""
    return set(_shingle_hashes_np(text, n, mode).tolist())


def minhash_signature(text: str, k: int = 64, n: int = 5) -> np.ndarray:
    """``textops.minhash.with_signatures`` signature of one text."""
    sh = shingles(text, n)
    return _sig_from_hashes(
        np.fromiter(sh, dtype=np.uint64, count=len(sh)), k)
