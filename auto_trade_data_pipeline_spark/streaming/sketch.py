"""Streaming KMV (bottom-k) distinct sketch — a custom stateful
streaming operator whose state is the MERGEABLE sketch itself
(operators/sketch.py): per group, the keyed state store holds at most
k 60-bit hashes; every micro-batch hashes its values, merges into the
state, and keeps the k smallest. Because bottom-k merge is exact
(bottom-k of a union == bottom-k of merged bottom-k's), the replayed
streaming sketch is BIT-IDENTICAL to the batch sketch over the same
data — which is what lets the corpus query carry a full SQL oracle
for a stateful streaming operator.

State size is O(k longs) per group forever — no watermark needed; the
sketch never grows. This is the streaming shape of "count distinct
users per key over an unbounded stream in bounded memory".
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from auto_trade_data_pipeline_spark.operators.sketch import kmv_estimate_col

__all__ = [
    "streaming_kmv_sketch",
    "streaming_kmv_quantile",
    "kmv_estimate_cols",
    "streaming_cms_sketch",
]

_STATE_SCHEMA = "hvs string, updates int"

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("group_key", T.StringType()),
        T.StructField("sketch_n", T.IntegerType()),
        T.StructField("kth_hv", T.LongType(), True),
        T.StructField("updates", T.IntegerType()),
    ]
)


def _hash60(v: str) -> int:
    """Python twin of operators.text.hash64: first 15 hex chars of
    md5, parsed as an integer."""
    return int(hashlib.md5(v.encode()).hexdigest()[:15], 16)


def _make_fn(k: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (grp,) = key
        if state.exists:
            hvs_js, updates = state.get
            cur = set(json.loads(hvs_js))
        else:
            cur, updates = set(), 0
        for pdf in pdfs:
            for v in pdf["v"]:
                cur.add(_hash60(str(v)))
                if len(cur) > 4 * k:  # opportunistic trim, keeps merge exact
                    cur = set(sorted(cur)[:k])
        bottom = sorted(cur)[:k]
        updates += 1
        state.update((json.dumps(bottom), updates))
        yield pd.DataFrame(
            {
                "group_key": [grp],
                "sketch_n": [len(bottom)],
                "kth_hv": pd.array(
                    [bottom[k - 1] if len(bottom) == k else None], dtype="Int64"
                ),
                "updates": [updates],
            }
        )

    return fn


def streaming_kmv_sketch(values: DataFrame, group_col: str, k: int = 64) -> DataFrame:
    """Stateful streaming sketch over a stream with columns
    (`group_col`, v: string). Emits one row per group per micro-batch
    with the current sketch summary (group_key, sketch_n, kth_hv,
    updates); `updates` counts micro-batches so a consumer can select
    each group's latest row from an update-mode sink."""
    return (
        values.select(F.col(group_col).alias("group_key"), F.col("v"))
        .groupBy("group_key")
        .applyInPandasWithState(
            _make_fn(k),
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def kmv_estimate_cols(df: DataFrame, k: int) -> DataFrame:
    """Attach the KMV estimate (`operators.sketch.kmv_estimate_col`) to
    sketch-summary rows as ``est_distinct``, rounded to 4 places."""
    return df.withColumn("est_distinct", F.round(kmv_estimate_col(k), 4))


# ---------------------------------------------------------------------------
# Streaming KMV quantile sketch: keyed state = the bottom-k row sample
# ---------------------------------------------------------------------------

_KMVQ_STATE_SCHEMA = "pairs string, n_rows long, updates int"

def _kmvq_out_schema(qs: tuple[int, ...]) -> T.StructType:
    """Output schema follows the requested quantiles — one est_p{q}
    column per q, so a non-default ``qs`` stays correctly labeled."""
    return T.StructType(
        [
            T.StructField("group_key", T.StringType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("sample_n", T.LongType()),
            *[T.StructField(f"est_p{q}", T.LongType()) for q in qs],
            T.StructField("updates", T.IntegerType()),
        ]
    )


def _q_idx(m: int, q: int) -> int:
    """ceil(m*q/100) floored at 1 — the batch order-statistic rule
    (corpus/events_analytics.py:_kmvq_idx), 1-based."""
    return max(1, (m * q + 99) // 100)


def _make_quantile_fn(k: int, qs: tuple[int, ...]):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (grp,) = key
        if state.exists:
            pairs_js, n_rows, updates = state.get
            pairs = [tuple(p) for p in json.loads(pairs_js)]
        else:
            pairs, n_rows, updates = [], 0, 0
        for pdf in pdfs:
            n_rows += len(pdf)
            pairs.extend(
                (int(h), int(c)) for h, c in zip(pdf["hv"], pdf["cents"])
            )
            # Bottom-k trim is EXACT for row samples (every (hv, cents)
            # pair belongs to a distinct row id, so trimming to the k
            # smallest loses nothing a later merge could resurrect).
            pairs.sort()
            del pairs[k:]
        updates += 1
        state.update((json.dumps(pairs), n_rows, updates))
        sv = sorted(c for _, c in pairs)
        m = len(sv)
        ests = [sv[_q_idx(m, q) - 1] if m else None for q in qs]
        yield pd.DataFrame(
            {
                "group_key": [grp],
                "n_rows": [n_rows],
                "sample_n": [m],
                **{
                    f"est_p{q}": pd.array([e], dtype="Int64")
                    for q, e in zip(qs, ests)
                },
                "updates": [updates],
            }
        )

    return fn


def streaming_kmv_quantile(
    rows: DataFrame, k: int = 128, qs: tuple[int, ...] = (50, 90, 99)
) -> DataFrame:
    """Stateful streaming quantile sketch over a stream with columns
    (group_key, hv: long, cents: long) — hv is the salted 60-bit hash
    of the row's UNIQUE id, computed scan-side with the same pure
    expressions as the batch `kmv_quantile_sketch`. Keyed state is
    the bottom-k (hv, cents) sample itself: bounded k pairs per group
    forever, no watermark. Bottom-k merge is exact, so the replayed
    streaming sample — and therefore every quantile estimated from it
    by the batch order-statistic rule — is BIT-IDENTICAL to the batch
    sketch over the same data, which is what gives this stateful
    operator a full SQL oracle. Emits one summary row per group per
    micro-batch (update mode); `updates` selects the latest."""
    return rows.groupBy("group_key").applyInPandasWithState(
        _make_quantile_fn(k, qs),
        outputStructType=_kmvq_out_schema(qs),
        stateStructType=_KMVQ_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming Count-Min sketch: keyed state = one sketch ROW of counters
# ---------------------------------------------------------------------------

_CMS_STATE_SCHEMA = "cells string, updates int"

_CMS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("r", T.IntegerType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("c", T.LongType()),
        T.StructField("updates", T.IntegerType()),
    ]
)


def _make_cms_fn():
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (r,) = key
        if state.exists:
            cells_js, updates = state.get
            cells = {int(k): int(v) for k, v in json.loads(cells_js).items()}
        else:
            cells, updates = {}, 0
        for pdf in pdfs:
            for b, n in pdf["bucket"].value_counts().items():
                cells[int(b)] = cells.get(int(b), 0) + int(n)
        updates += 1
        state.update((json.dumps(cells), updates))
        buckets = sorted(cells)
        yield pd.DataFrame(
            {
                "r": [int(r)] * len(buckets),
                "bucket": buckets,
                "c": [cells[b] for b in buckets],
                "updates": [updates] * len(buckets),
            }
        )

    return fn


def streaming_cms_sketch(pairs: DataFrame) -> DataFrame:
    """Stateful streaming Count-Min sketch over a stream of
    pre-bucketed (r, bucket) rows (operators.sketch.cms_sketch's
    bucket derivation, applied stream-side): the keyed state for
    group r is that sketch ROW — at most `width` counters, bounded
    forever, no watermark. Because CMS merge is exact cellwise
    addition, the replayed streaming state is BIT-IDENTICAL to the
    batch sketch over the same data, which is what lets the corpus
    query carry the batch CMS SQL oracle.

    Emits every nonzero cell per group per micro-batch (update mode);
    `updates` counts micro-batches so a consumer selects the latest.
    Depth rows give depth-way parallelism — at production width,
    shard the state key to (r, bucket_range) for more."""
    return (
        pairs.groupBy("r")
        .applyInPandasWithState(
            _make_cms_fn(),
            outputStructType=_CMS_OUT_SCHEMA,
            stateStructType=_CMS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
