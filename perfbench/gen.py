"""Seeded input generator for the benchmark workloads.

The engine only ever sees the files written here, laid out like the
repo's testdata directories (``<dir>/events.parquet``,
``<dir>/documents.parquet``) so the repo's DuckDB oracles run on them
unchanged. The same seed always gives byte-identical tables.

- ``events`` is dense ticks from the 09:30 America/New_York open of a
  regular trading session: ``event_type`` is the symbol, ``value`` the
  price, so ``sources.ticks_from_events`` maps it onto the ticks schema.
  For a stream it is a directory of fixed event-time slices, one file
  each, whose modification times follow event time.
- ``documents`` is a token corpus drawn from the same 30-word
  vocabulary as the repo's testdata, with a stated share of exact
  copies (after lower/trim normalisation) and near-duplicate copies
  (a few tokens substituted).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Tuesday 2024-03-05 is in EST (UTC-5): 09:30 ET is 14:30 UTC.
SESSION_OPEN_US = int(np.datetime64("2024-03-05T14:30:00", "us").astype(np.int64))

SYMBOLS = ("AAPL", "AMZN", "MSFT", "NVDA", "TSLA", "META")

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def make_ticks(seed: int, n_symbols: int, ticks_per_s: float, session_seconds: int) -> pa.Table:
    """Poisson tick arrivals per symbol over the first ``session_seconds``
    of the session, a cent-rounded random-walk price, ``event_id``
    assigned in event-time order."""
    rng = np.random.default_rng(seed)
    parts_ts, parts_sym, parts_px = [], [], []
    for s in range(n_symbols):
        per_sec = rng.poisson(ticks_per_s, session_seconds)
        sec = np.repeat(np.arange(session_seconds, dtype=np.int64), per_sec)
        ts = SESSION_OPEN_US + sec * 1_000_000 + rng.integers(0, 1_000_000, sec.size)
        ts.sort()
        walk = np.cumsum(rng.normal(0.0, 0.02, ts.size))
        px = np.round(np.maximum(rng.uniform(20.0, 400.0) + walk, 0.01), 2)
        parts_ts.append(ts)
        parts_sym.append(np.full(ts.size, s, dtype=np.int64))
        parts_px.append(px)
    ts = np.concatenate(parts_ts)
    sym = np.concatenate(parts_sym)
    px = np.concatenate(parts_px)
    order = np.lexsort((sym, ts))
    ts, sym, px = ts[order], sym[order], px[order]
    n = ts.size
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 2000, n, dtype=np.int64)),
            "event_type": pa.array(np.array(SYMBOLS)[sym]),
            "value": pa.array(px),
            "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()]),
        },
        schema=EVENTS_SCHEMA,
    )


def write_events(out_dir: str, ticks: pa.Table) -> None:
    pq.write_table(ticks, os.path.join(out_dir, "events.parquet"))


def write_event_slices(out_dir: str, ticks: pa.Table, slice_s: int) -> int:
    """Write ``ticks`` as ``events.parquet/part-NNNNN.parquet``, one file
    per ``slice_s`` seconds of event time. Each file's modification time
    is set one second after the previous one's, so a file-source stream
    with ``maxFilesPerTrigger=1`` reads them in event-time order, one
    slice per micro-batch. Returns the number of files."""
    d = os.path.join(out_dir, "events.parquet")
    os.makedirs(d)
    sec = (ticks.column("ts").cast(pa.int64()).to_numpy() - SESSION_OPEN_US) // 1_000_000
    idx = sec // slice_s
    bounds = np.searchsorted(idx, np.arange(int(idx[-1]) + 2))
    for i in range(len(bounds) - 1):
        path = os.path.join(d, f"part-{i:05d}.parquet")
        pq.write_table(ticks.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return len(bounds) - 1


def make_documents(
    seed: int, n_docs: int, exact_share: float, near_share: float
) -> tuple[pa.Table, int, int]:
    """Random 10-100 token documents; ``exact_share`` of them re-use an
    earlier document's text up to case and surrounding spaces, and
    ``near_share`` copy an earlier document with ~5% of its tokens
    substituted. Returns the table and the exact / near copy counts."""
    rng = np.random.default_rng(seed)
    vocab = np.array(VOCAB)
    kind = rng.choice(3, n_docs, p=[1.0 - exact_share - near_share, exact_share, near_share])
    kind[0] = 0
    texts: list[str] = []
    for i in range(n_docs):
        if kind[i] == 0:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
            continue
        src = texts[int(rng.integers(0, i))].strip().lower()
        if kind[i] == 1:
            texts.append(f" {src.upper()}  " if rng.random() < 0.5 else src)
            continue
        toks = src.split()
        for j in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
            toks[j] = vocab[rng.integers(0, len(vocab))]
        texts.append(" ".join(toks))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(["en", "zh", "es", "fr", "de"], n_docs)),
            "source": pa.array([f"src{v}" for v in rng.integers(0, 20, n_docs).tolist()]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        },
        schema=DOCUMENTS_SCHEMA,
    )
    return table, int((kind == 1).sum()), int((kind == 2).sum())


def tick_manifest(ticks: pa.Table) -> dict:
    """What a tick input holds: ticks, symbols, 1-s candles, ticks per candle."""
    ts = ticks.column("ts").cast(pa.int64()).to_numpy() // 1_000_000
    sym = ticks.column("event_type").to_numpy(zero_copy_only=False)
    candles = len({(s, t) for s, t in zip(sym.tolist(), ts.tolist())})
    return {
        "ticks": ticks.num_rows,
        "symbols": len(set(sym.tolist())),
        "candles": candles,
        "ticks_per_candle": round(ticks.num_rows / candles, 3),
    }
