"""Multimodal column plumbing (EXT, SURVEY §2.11): opaque binary
payloads + typed metadata structs, processed by Arrow-batched
``mapInPandas`` kernels.

The image/audio codec libraries are not present in this environment,
so the *decode* step is a clearly-marked deterministic stand-in
(:func:`fake_decode_stats`) — byte-level arithmetic standing where
PIL/ffmpeg would run. Everything around it is the real production
shape: BinaryType column, metadata struct, mapInPandas with bounded
Arrow batches, output schema declared up front. Swapping the stand-in
for a real codec changes one pandas function and nothing else.

Scale notes: mapInPandas streams record batches (no whole-partition
materialization), the payload column stays off the shuffle until
after feature extraction, and feature rows are small — the classic
"extract early, drop the blob" pipeline.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "attach_payload",
    "decode_stats",
    "sample_frames",
    "byte_histogram_features",
]

#: Output schema of the pseudo-decoder — what a real image decoder
#: would emit (dims + byte stats) with deterministic fake values.
DECODE_SCHEMA = (
    "doc_id bigint, lang string, n_bytes int, width int, height int, channels int"
)


def attach_payload(docs: DataFrame) -> DataFrame:
    """Wrap a text table into the multimodal layout: opaque binary
    `payload` + `meta` struct. In production the payload would come
    from an object store; encoding the text keeps it deterministic."""
    return docs.select(
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.col("doc_id"), F.col("lang"), F.col("source"), F.col("n_chars")
        ).alias("meta"),
    )


def fake_decode_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """STUB decoder (no codec libs in this container): derives
    image-like dimensions from the byte length deterministically.
    A real implementation would `PIL.Image.open(io.BytesIO(payload))`
    here; the batch shape, schema, and streaming contract are what
    production code uses."""
    for pdf in batches:
        n_bytes = pdf["payload"].map(len)
        yield pd.DataFrame(
            {
                "doc_id": pdf["meta"].map(lambda m: m["doc_id"]),
                "lang": pdf["meta"].map(lambda m: m["lang"]),
                "n_bytes": n_bytes.astype("int32"),
                "width": (n_bytes % 64 + 1).astype("int32"),
                "height": (n_bytes // 64 % 64 + 1).astype("int32"),
                "channels": pd.Series([3] * len(pdf), index=pdf.index, dtype="int32"),
            }
        )


def decode_stats(docs: DataFrame) -> DataFrame:
    """Binary payload -> per-document decode features via mapInPandas
    (Arrow-batched; one Python worker per task, no driver collect),
    decoded by the deterministic stand-in the oracle reproduces."""
    return attach_payload(docs).mapInPandas(fake_decode_stats, schema=DECODE_SCHEMA)


FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_off int, frame_len int, frame_hash bigint"


def sample_frames(docs: DataFrame, n_frames: int = 4, frame_len: int = 64) -> DataFrame:
    """Video-style frame sampling over a binary payload: uniform
    offsets at i*n/n_frames, one OUTPUT ROW PER FRAME — the
    one-to-many decode shape (ffmpeg keyframe extraction would slot
    in where the byte slice is taken). Emits (doc_id, frame_idx,
    frame_off, frame_len, frame_hash) with the 60-bit md5 hash of the
    frame bytes, reproducible engine-side for the oracle.

    The blob never leaves the Python worker: only fixed-width frame
    descriptors are returned, so the shuffle after sampling carries
    ~40 bytes/frame regardless of payload size."""
    import hashlib

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in
                                    ("doc_id", "frame_idx", "frame_off", "frame_len",
                                     "frame_hash")}
            for doc_id, payload in zip(pdf["meta"].map(lambda m: m["doc_id"]),
                                       pdf["payload"]):
                n = len(payload)
                if n == 0:
                    continue
                for i in range(n_frames):
                    off = i * n // n_frames
                    flen = min(frame_len, n - off)
                    frame = bytes(payload)[off : off + flen]
                    h = int(hashlib.md5(frame).hexdigest()[:15], 16)
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_off"].append(off)
                    out["frame_len"].append(flen)
                    out["frame_hash"].append(h)
            yield pd.DataFrame(out).astype(
                {"doc_id": "int64", "frame_idx": "int32", "frame_off": "int32",
                 "frame_len": "int32", "frame_hash": "int64"}
            )

    return attach_payload(docs).mapInPandas(kernel, schema=FRAME_SCHEMA)


N_HIST_BINS = 16

HIST_SCHEMA = "doc_id bigint, " + ", ".join(
    f"h{i} int" for i in range(N_HIST_BINS)
) + ", dominant_bin int"


def byte_histogram_features(docs: DataFrame) -> DataFrame:
    """Image-style feature extraction: a 16-bin byte-value histogram
    per payload (the stand-in for a pixel-intensity histogram /
    pooled feature map), exact integer counts so the result is
    bit-reproducible on any engine. Dominant bin ties resolve to the
    lowest bin. numpy.bincount per row inside the Arrow batch — the
    vectorized-kernel shape a real resize/pool step uses."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["meta"].map(lambda m: m["doc_id"]),
                                       pdf["payload"]):
                b = np.frombuffer(bytes(payload), dtype=np.uint8)
                if len(b) == 0:
                    continue  # same empty-payload contract as sample_frames
                hist = np.bincount(b >> 4, minlength=N_HIST_BINS).astype("int64")
                rows.append((int(doc_id), *hist.tolist(), int(hist.argmax())))
            yield pd.DataFrame(
                rows, columns=["doc_id", *[f"h{i}" for i in range(N_HIST_BINS)],
                               "dominant_bin"]
            ).astype("int64")

    return attach_payload(docs).mapInPandas(kernel, schema=HIST_SCHEMA)


# ---------------------------------------------------------------------------
# REAL image codec path: pure-stdlib PNG encode -> decode -> features
# ---------------------------------------------------------------------------

PNG_W, PNG_H, PNG_C = 16, 16, 3

PNG_STATS_SCHEMA = (
    "doc_id bigint, width int, height int, channels int, "
    "n_px int, px_sum bigint, px_min int, px_max int"
)


def render_png_payload(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic rasterizer: each document becomes a 16x16 RGB
    PNG whose pixel bytes are the text's code points repeated
    (`pixel[i] = ord(text[i mod n]) % 256`, 0 for empty text) —
    a recipe an SQL oracle can restate, so the ENTIRE codec round
    trip (delta filter, zlib, header) is hash-checkable."""
    from auto_trade_data_pipeline_spark.functions.png import encode_png

    n_px = PNG_W * PNG_H * PNG_C
    for pdf in batches:
        payloads = []
        for text in pdf["text"]:
            s = str(text) if text is not None else ""
            if s:
                px = bytes(ord(s[i % len(s)]) % 256 for i in range(n_px))
            else:
                px = bytes(n_px)
            payloads.append(encode_png(px, PNG_W, PNG_H, PNG_C))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def png_decode_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL decode: parse IHDR, inflate IDAT, unfilter scanlines
    (functions/png.py — pure stdlib, runs in this container), emit
    per-image dimension + pixel-statistics features. Any codec bug
    corrupts px_sum/min/max and fails the oracle."""
    from auto_trade_data_pipeline_spark.functions.png import decode_png

    for pdf in batches:
        rows = {k: [] for k in ("doc_id", "width", "height", "channels",
                                "n_px", "px_sum", "px_min", "px_max")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, c, px = decode_png(bytes(payload))
            rows["doc_id"].append(int(doc_id))
            rows["width"].append(w)
            rows["height"].append(h)
            rows["channels"].append(c)
            rows["n_px"].append(len(px))
            rows["px_sum"].append(int(sum(px)))
            rows["px_min"].append(min(px) if px else 0)
            rows["px_max"].append(max(px) if px else 0)
        out = pd.DataFrame(rows)
        for col, dt in (("doc_id", "int64"), ("width", "int32"), ("height", "int32"),
                        ("channels", "int32"), ("n_px", "int32"), ("px_sum", "int64"),
                        ("px_min", "int32"), ("px_max", "int32")):
            out[col] = out[col].astype(dt)
        yield out


def png_roundtrip_stats(docs: DataFrame) -> DataFrame:
    """Two chained mapInPandas stages — rasterize (text -> PNG binary
    payload), then decode (PNG -> features). The blob exists only
    between the stages and never reaches a shuffle: the classic
    extract-early-drop-blob layout, now with a REAL codec."""
    payload = docs.select("doc_id", "text").mapInPandas(
        render_png_payload, schema="doc_id bigint, payload binary"
    )
    return payload.mapInPandas(png_decode_stats, schema=PNG_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# REAL audio codec path: pure-stdlib WAV (RIFF/PCM) encode -> decode
# ---------------------------------------------------------------------------

WAV_N_SAMPLES, WAV_RATE = 1024, 8000

WAV_STATS_SCHEMA = (
    "doc_id bigint, sample_rate int, channels int, n_samples int, "
    "s_sum bigint, s_min int, s_max int"
)


def render_wav_payload(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic synthesizer: each document becomes a 1024-sample
    mono 16-bit PCM WAV (`sample[i] = (ord(text[i mod n]) % 256 - 128)
    * 256`, 0 for empty text) — SQL-restatable, so the container
    round trip is hash-checkable."""
    from auto_trade_data_pipeline_spark.functions.wav import encode_wav

    for pdf in batches:
        payloads = []
        for text in pdf["text"]:
            s = str(text) if text is not None else ""
            if s:
                samples = [
                    (ord(s[i % len(s)]) % 256 - 128) * 256 for i in range(WAV_N_SAMPLES)
                ]
            else:
                samples = [0] * WAV_N_SAMPLES
            payloads.append(encode_wav(samples, WAV_RATE, 1))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def wav_decode_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL decode: parse the RIFF chunks, recover the PCM samples
    (functions/wav.py), emit per-clip sample statistics."""
    from auto_trade_data_pipeline_spark.functions.wav import decode_wav

    for pdf in batches:
        rows = {k: [] for k in ("doc_id", "sample_rate", "channels", "n_samples",
                                "s_sum", "s_min", "s_max")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            rate, ch, samples = decode_wav(bytes(payload))
            rows["doc_id"].append(int(doc_id))
            rows["sample_rate"].append(rate)
            rows["channels"].append(ch)
            rows["n_samples"].append(len(samples))
            rows["s_sum"].append(int(sum(samples)))
            rows["s_min"].append(min(samples) if samples else 0)
            rows["s_max"].append(max(samples) if samples else 0)
        out = pd.DataFrame(rows)
        for col, dt in (("doc_id", "int64"), ("sample_rate", "int32"), ("channels", "int32"),
                        ("n_samples", "int32"), ("s_sum", "int64"), ("s_min", "int32"),
                        ("s_max", "int32")):
            out[col] = out[col].astype(dt)
        yield out


def wav_roundtrip_stats(docs: DataFrame) -> DataFrame:
    """Synthesize (text -> WAV binary) then decode (WAV -> features),
    two chained Arrow-batched stages; the blob never reaches a
    shuffle."""
    payload = docs.select("doc_id", "text").mapInPandas(
        render_wav_payload, schema="doc_id bigint, payload binary"
    )
    return payload.mapInPandas(wav_decode_stats, schema=WAV_STATS_SCHEMA)
