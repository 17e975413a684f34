"""Z-order (Morton) layout key over the cell grid indices.

Morton interleave of the cell grid indices — the lakehouse Z-ORDER
clustering technique (public: Databricks OPTIMIZE ZORDER, Delta/
Iceberg sort orders). Row-major cell order (y·2^29 + x) keeps one
axis local and scatters the other; interleaving bits keeps BOTH axes
local, so square query regions touch far fewer files. Pure Column
bit math (shift/mask "binary magic numbers"), exactly expressible in
SQL for the oracle twin (the ``cell_covers`` gate query).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _spread_bits(v):
    """Insert a zero bit between each of the low 16 bits of v."""
    masks = ((8, 0x00FF00FF), (4, 0x0F0F0F0F),
             (2, 0x33333333), (1, 0x55555555))
    v = v.bitwiseAND(F.lit(0xFFFF))
    for shift, mask in masks:
        v = v.bitwiseOR(F.shiftleft(v, shift)).bitwiseAND(F.lit(mask))
    return v


def zorder_key(xi, yi):
    """Morton code: interleave the bits of two grid indices (≤16 bits
    each): z = spread(x) | spread(y)<<1."""
    return _spread_bits(xi).bitwiseOR(
        F.shiftleft(_spread_bits(yi), 1))
