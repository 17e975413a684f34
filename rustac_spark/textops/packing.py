"""Sequence packing for LLM training batches: greedy in-order
assignment of documents to fixed token-budget packs within each group.

The reference engine has no packing operator (it is a query engine);
this belongs to the training-data-pipeline surface the project brief
mandates alongside dedup/chunking/token counting. Semantics: within
each group (e.g. the source shard), documents are taken in ascending
id order and appended to the current pack while the running token
total stays within ``budget``; a document that would overflow closes
the pack and starts the next. A document larger than the budget that
lands at the start of a pack occupies it alone (truncation is a
separate concern). Deterministic: equal inputs produce equal pack ids
under any cluster layout or partitioning.

Physical shape: groups are independent, so the ONLY shuffle is the
groupBy; within a group the running total is inherently sequential —
the same stateful shape as sessionization — computed in one
Arrow-batched applyInPandas pass per group. At 100 TB the group key
is the shard/source: thousands of groups pack in parallel, no group
outgrows its shard by construction, and there is no cross-group
coordination or driver involvement. The equivalent ANSI-SQL is a
per-group recursive CTE (the DuckDB oracle in __spark_entry__.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType


def pack_documents(docs: DataFrame, budget: int,
                   group_cols: tuple[str, ...] | list[str] = ("source",),
                   id_col: str = "doc_id",
                   token_col: str = "n_tokens") -> DataFrame:
    """Assign each document a ``pack_id`` (0-based per group) and
    ``pack_pos`` (0-based position inside its pack) by greedy in-order
    token-budget packing. Returns the projected input columns
    (group_cols + id_col + token_col) plus the two pack columns.

    A group is one sequential applyInPandas task, so a caller-chosen
    group key with one dominant group caps parallelism at that group.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    group_cols = list(group_cols)
    slim = docs.select(*group_cols, id_col, token_col)
    out_schema = StructType(list(slim.schema.fields) + [
        StructField("pack_id", LongType(), False),
        StructField("pack_pos", LongType(), False),
    ])

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort",
                              ignore_index=True)
        pack_ids = []
        positions = []
        cur, run, pos = 0, 0, 0
        for t in pdf[token_col]:
            t = int(t)
            if pos > 0 and run + t > budget:
                cur, run, pos = cur + 1, 0, 0
            pack_ids.append(cur)
            positions.append(pos)
            run += t
            pos += 1
        pdf["pack_id"] = pd.Series(pack_ids, dtype="int64")
        pdf["pack_pos"] = pd.Series(positions, dtype="int64")
        return pdf

    return slim.groupBy(*group_cols).applyInPandas(pack, out_schema)
