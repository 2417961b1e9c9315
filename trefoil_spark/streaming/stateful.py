"""Custom stateful streaming operator: cross-batch exact dedup
(applyInPandasWithState — the pattern the graft brief names for custom
stateful operators; the reference has no streaming at all, SURVEY §2.9).

Semantics: the first record per md5(text) group ever seen passes through;
later records (same micro-batch or any later one) are dropped. State per
hash group = a single "seen" flag persisted in the state store, so
memory is O(distinct keys) and re-partitioning by key is handled by the
engine (groupBy before the stateful map).

At 10^12-doc scale this is the streaming twin of the batch exact dedup
(operators/dedup.exact_duplicate_groups, keep the min id): the state
store shards by the same hash key the batch job shuffles on.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_STATE_SCHEMA = StructType([StructField("seen", BooleanType())])
_OUT_SCHEMA = StructType(
    [
        StructField("text_hash", StringType()),
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)


def streaming_dedup(stream: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """readStream DataFrame → stream with exact duplicates dropped
    (first-seen wins; winner within a batch = min id, deterministic)."""
    keyed = stream.select(
        F.md5(F.col(text_col)).alias("text_hash"),
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
    )

    def dedup_fn(key, pdfs, state: GroupState):
        if state.exists:
            # group already emitted once — drop everything
            for _ in pdfs:
                pass
            return
        first = None
        for pdf in pdfs:
            cand = pdf.sort_values("doc_id").iloc[0]
            if first is None or cand["doc_id"] < first["doc_id"]:
                first = cand
        state.update((True,))
        yield pd.DataFrame(
            [(key[0], int(first["doc_id"]), first["text"])],
            columns=["text_hash", "doc_id", "text"],
        )

    return keyed.groupBy("text_hash").applyInPandasWithState(
        dedup_fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
