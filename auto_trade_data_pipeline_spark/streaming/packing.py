"""Streaming doc-atomic sequence packing — the stateful streaming twin
of the batch ``sequence_packing`` query (corpus/clean.py): the same
greedy first-fit-in-order packing of documents into fixed-capacity
context windows, per source, through the same function
(``operators/scans.py:greedy_pack``).

State per source is O(1) forever: the OPEN bin's id and fill. A
document's bin assignment is FINAL the moment it is packed (the greedy
fold never revisits a closed bin and never reorders), so every row is
emitted exactly once, in the micro-batch where the document arrives —
append mode, no watermark — and a drained replay equals the batch fold
row for row. That makes the corpus query's oracle the batch packing
SQL unchanged: a custom stateful streaming operator with a full
relational oracle (same pattern as the streaming volume bars / CMS /
KMV twins).

Ordering contract: documents must arrive per-source in doc_id order
ACROSS micro-batches (each batch is sorted internally); id-ordered
file replay satisfies this. Out-of-order arrival would need a
watermark + reorder buffer upstream, after which the assignment is the
same fold.

This is a training-data-pipeline operator beyond the reference's
scope (SURVEY.md §2 EXT: context-window prep for LLM pretraining);
the batch twin documents the 100 TB sharding recipe.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from auto_trade_data_pipeline_spark.operators.scans import greedy_pack

__all__ = ["streaming_sequence_packing"]

#: Native tuple state: (open bin id, its fill). bin_id 0 == no bin yet.
_STATE_SCHEMA = "bin_id long, fill long"

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("bin_id", T.LongType()),
    ]
)

_OUT_COLS = [f.name for f in _OUT_SCHEMA.fields]


def _make_fn(capacity: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (source,) = key
        bin_id, fill = state.get if state.exists else (0, 0)

        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch) == 0:
            yield pd.DataFrame(columns=_OUT_COLS)
            return
        batch = batch.sort_values("doc_id", kind="mergesort").reset_index(drop=True)

        bins, bin_id, fill = greedy_pack(batch["n_tokens"], capacity, bin_id, fill)
        out = batch[["doc_id", "n_tokens"]].astype("int64")
        out.insert(0, "source", source)
        out["bin_id"] = bins
        state.update((int(bin_id), int(fill)))
        yield out

    return fn


def streaming_sequence_packing(docs: DataFrame, capacity: int) -> DataFrame:
    """``docs``: streaming DataFrame with (source string, doc_id long,
    n_tokens long). Returns the per-document bin assignment stream
    (source, doc_id, n_tokens, bin_id), append-mode."""
    return docs.groupBy("source").applyInPandasWithState(
        _make_fn(capacity),
        _OUT_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
