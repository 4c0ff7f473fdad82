"""EXT operators — dedup/similarity/text-analysis invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from auto_trade_data_pipeline_spark.operators import text as TX
from auto_trade_data_pipeline_spark.operators import vectors as VX
from auto_trade_data_pipeline_spark.operators.multimodal import decode_stats


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups_duplicates(spark):
    df = _docs(
        spark,
        [(1, "Hello World"), (2, "  hello world  "), (3, "HELLO WORLD"), (4, "other")],
    )
    out = {r["keep_id"]: r["dup_count"] for r in TX.exact_dedup(df).collect()}
    assert out == {1: 3, 4: 1}


def test_word_shingles(spark):
    df = _docs(spark, [(1, "a b c d")])
    row = df.select(TX.word_shingles(TX.tokens(F.col("text")), 3).alias("s")).first()
    assert sorted(row["s"]) == ["a b c", "b c d"]


def test_minhash_lsh_finds_planted_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different content about spark shuffles and parquet files"
    df = _docs(spark, [(1, base), (2, near), (3, far)])
    rows = TX.shingle_rows(df, "text", "doc_id", 3)
    sig = TX.minhash_signature_rows(rows, "shingle", "doc_id", 20)
    pairs = TX.lsh_candidate_pairs(sig, "doc_id", 20, 2)
    verified = TX.jaccard_verify_rows(pairs, rows, "doc_id", "shingle", 0.3).collect()
    assert {(r["id_a"], r["id_b"]) for r in verified} == {(1, 2)}


def test_simhash_identical_docs_distance_zero(spark):
    df = _docs(spark, [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "x y z")])
    sim = TX.simhash32(df.select("doc_id", TX.tokens(F.col("text")).alias("t")), "t", "doc_id")
    pairs = TX.simhash_candidate_pairs(sim, "doc_id", max_hamming=0).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_cosine_topk_self_excluded_and_ordered(spark):
    rows = [(i, [float(i == j) for j in range(4)], 0) for i in range(4)]
    rows.append((9, [1.0, 0.1, 0.0, 0.0], 0))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = VX.cosine_topk(emb, emb.filter("vec_id = 0"), k=2).collect()
    assert [r["neighbor_id"] for r in out] == [9, 1]
    assert all(r["query_id"] == 0 for r in out)
    ranks = [r["rank"] for r in out]
    assert ranks == [1, 2]


def test_ivf_prunes_to_probed_cells(spark):
    # Two well-separated cells; queries in cell 0 must never see cell-1
    # vectors when nprobe=1.
    rows = [(i, [1.0, 0.0], 0) for i in range(3)] + [(10 + i, [0.0, 1.0], 1) for i in range(3)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    cents = VX.label_centroids(emb)
    out = VX.ivf_topk(emb, emb.filter("vec_id = 0"), cents, k=5, nprobe=1).collect()
    assert {r["neighbor_id"] for r in out} == {1, 2}


def test_multimodal_decode_is_deterministic(spark):
    docs = spark.createDataFrame(
        [(1, "abcd", "en", "s", 4)], "doc_id long, text string, lang string, source string, n_chars long"
    )
    row = decode_stats(docs).first()
    assert row["n_bytes"] == 4
    assert row["width"] == 4 % 64 + 1
    assert row["channels"] == 3


def test_split_oversized_blocks_bounds_pair_work(spark):
    """One pathological block must come out as ceil(n/max) deterministic
    sub-blocks whose quadratic pair work is a small fraction of the
    unguarded n^2/2; small blocks pass through untouched."""
    from auto_trade_data_pipeline_spark.operators.skew import split_oversized_blocks

    rows = [("big", i) for i in range(500)] + [("small", 1000 + i) for i in range(10)]
    df = spark.createDataFrame(rows, "blk string, id long")
    out = split_oversized_blocks(df, "blk", "id", max_rows=100)
    sizes = {
        r["blk"]: r["n"]
        for r in out.groupBy("blk").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    big = {k: n for k, n in sizes.items() if k.startswith("big#")}
    assert len(big) == 5 and sum(big.values()) == 500
    assert sizes["small#0"] == 10 and len(sizes) == 6
    # Hash sub-assignment is near-uniform; generous 2x headroom.
    assert max(big.values()) <= 200
    pair_work = sum(n * (n - 1) // 2 for n in big.values())
    assert pair_work < (500 * 499 // 2) / 3
    # Deterministic: same input -> same sub-keys.
    again = split_oversized_blocks(df, "blk", "id", max_rows=100)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_kmeans_quantizer_deterministic_and_recall_scales_with_nprobe(spark, sf_small):
    """The trained IVF path: (a) k-means is bit-deterministic run to
    run (hash seeds + integer-exact centroid means), (b) recall@5 vs
    the brute-force baseline improves monotonically with nprobe and
    reaches 1.0 when every cell is probed (probing all cells IS the
    exact search, same tiebreaks)."""
    from auto_trade_data_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    brute = {(r.query_id, r.neighbor_id) for r in VX.cosine_topk(emb, q, k=5).collect()}

    assigned, cents = VX.kmeans_cells(emb, k=8, iters=2)
    _, cents2 = VX.kmeans_cells(emb, k=8, iters=2)
    assert sorted(map(tuple, cents.collect())) == sorted(map(tuple, cents2.collect()))

    def recall(nprobe):
        ivf = {
            (r.query_id, r.neighbor_id)
            for r in VX.ivf_topk(assigned, q, cents, k=5, nprobe=nprobe, cell_col="cell").collect()
        }
        return len(brute & ivf) / len(brute)

    r2, r4, r8 = recall(2), recall(4), recall(8)
    assert r2 >= 0.4
    assert r2 <= r4 <= r8
    assert r8 == 1.0


def test_sample_frames_short_and_empty_payloads(spark):
    from auto_trade_data_pipeline_spark.operators.multimodal import sample_frames

    docs = spark.createDataFrame(
        [(1, "abcdefgh", "en", "s", 8), (2, "", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = sample_frames(docs, n_frames=4, frame_len=64).collect()
    # Empty payload -> no frames; short payload -> 4 overlapping frames
    # at offsets i*8//4, each clipped to the payload end.
    assert {r.doc_id for r in rows} == {1}
    got = {(r.frame_idx, r.frame_off, r.frame_len) for r in rows}
    assert got == {(0, 0, 8), (1, 2, 6), (2, 4, 4), (3, 6, 2)}


def test_byte_histogram_counts_exact(spark):
    from auto_trade_data_pipeline_spark.operators.multimodal import (
        byte_histogram_features,
    )

    # 'aaab' -> 'a'(0x61)x3 and 'b'(0x62)x1 all in bin 6; ' ' (0x20) bin 2.
    docs = spark.createDataFrame(
        [(1, "aaab ", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    r = byte_histogram_features(docs).first()
    assert r.h6 == 4 and r.h2 == 1 and r.dominant_bin == 6
    assert sum(r[f"h{i}"] for i in range(16)) == 5


def test_byte_histogram_skips_empty_payload(spark):
    from auto_trade_data_pipeline_spark.operators.multimodal import (
        byte_histogram_features,
    )

    docs = spark.createDataFrame(
        [(1, "", "en", "s", 0), (2, "xy", "en", "s", 2)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = byte_histogram_features(docs).collect()
    assert {r.doc_id for r in rows} == {2}


def test_srp_lsh_exact_precision_and_cross_cell_recall(spark, sf_small):
    """SRP cosine-LSH near-dup: every emitted pair must be a true
    >=threshold pair (precision 1.0 — candidates are exact-verified),
    the result must be deterministic (fixed md5-parity hyperplanes),
    and — the point of the metadata-free variant — it may surface
    pairs in DIFFERENT coarse cells, which label-blocked dedup
    structurally cannot."""
    from auto_trade_data_pipeline_spark.operators.vectors import cosine, srp_near_dup
    from auto_trade_data_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    got = srp_near_dup(emb, threshold=0.35, nbits=16, band_bits=4, dims=64)
    rows = {(r["id_a"], r["id_b"]): r["cos"] for r in got.collect()}

    # Ground truth: all pairs >= threshold by brute force.
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"))
    truth = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine(F.col("__va"), F.col("__vb")), 6))
        .filter(F.col("cos") >= 0.35)
        .collect()
    }
    # Precision 1.0: every emitted pair is a true pair with the exact score.
    for k, v in rows.items():
        assert k in truth and truth[k] == v
    # Non-vacuous recall on this corpus.
    assert rows
    # Deterministic: a second run emits the identical set.
    again = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in srp_near_dup(emb, threshold=0.35, nbits=16, band_bits=4, dims=64).collect()
    }
    assert again == rows


def test_winnow_sketch_density_and_substring_guarantee(spark):
    # Any shared substring of length >= k + w - 1 must contribute a
    # common fingerprint to both sketches (the winnowing guarantee).
    shared = "zqxjkvwpyhgfdcbnzqxjkvwpy"  # 25 chars >= 12 + 8 - 1
    df = _docs(
        spark,
        [
            (1, "left padding words " + shared + " alpha tail"),
            (2, "totally other prefix " + shared + " beta ending"),
            (3, "no common content here at all just filler text"),
        ],
    )
    sk = {r["doc_id"]: set(r["sketch"]) for r in
          TX.winnow_sketch(df, "text", "doc_id", k=12, w=8).collect()}
    assert sk[1] & sk[2], "shared 25-char substring must share a fingerprint"
    # Density: the sketch is much smaller than the gram count.
    n_grams = len("".join(c for c in "left padding words " + shared + " alpha tail"
                          if c.isalnum())) - 11
    assert len(sk[1]) < n_grams


def test_winnow_sketch_short_and_empty_docs(spark):
    df = _docs(spark, [(1, ""), (2, "ab"), (3, "exactlytwelve"), (4, "!!! ???")])
    rows = {r["doc_id"]: list(r["sketch"]) for r in
            TX.winnow_sketch(df, "text", "doc_id", k=12, w=8).collect()}
    # Docs empty after normalization (1, 4) or shorter than k (2)
    # contribute NO fingerprint rows at all — they simply don't appear.
    assert set(rows) == {3}
    assert len(rows[3]) == 1                    # 13 normalized chars -> 2 grams < w -> 1 min


def test_winnow_overlap_drops_boilerplate_fingerprints(spark):
    # A fingerprint present in MANY docs (boilerplate) must not create
    # pairs; the two docs sharing rare content must pair up.
    boiler = "standardfooterlicensetextrepeatedeverywhere"
    rare = "uniquesharedcontentbetweenjusttwodocuments"
    # Distinct per-doc letter runs (not numerals — ids sharing digits
    # would create genuinely-shared rare substrings like
    # "...r3standardfooter...", which the algorithm CORRECTLY pairs).
    rows = [(i, f"doc {chr(64 + i) * 5} {boiler}") for i in range(1, 20)]
    rows += [(100, f"{rare} plus some extra words"), (101, f"{rare} and other trailing")]
    df = _docs(spark, rows)
    fp = TX.winnow_fingerprints(df, "text", "doc_id", k=12, w=8)
    out = TX.winnow_overlap_pairs(fp, "doc_id", max_df=5, min_overlap=1,
                                  min_containment=0.2).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (100, 101) in pairs
    assert all(a >= 100 for a, _ in pairs), f"boilerplate-only pair leaked: {pairs}"


def test_duplicated_spans_planted_and_merged(spark):
    # Docs 1 and 2 share a 10-token run; doc 3 is clean. k=4 grams
    # over the run produce overlapping hits that must merge into ONE
    # maximal span per doc.
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = _docs(
        spark,
        [
            (1, "intro words " + shared + " outro"),
            (2, shared + " completely other ending here"),
            (3, "unrelated text with no duplicated runs at all whatsoever"),
        ],
    )
    out = {r["doc_id"]: (r["span_start"], r["span_end"], r["span_len"])
           for r in TX.duplicated_spans(df, "text", "doc_id", k=4).collect()}
    # doc 1: shared run occupies tokens 3..12; doc 2: tokens 1..10.
    assert out == {1: (3, 12, 10), 2: (1, 10, 10)}


def test_duplicated_spans_max_df_drops_boilerplate(spark):
    # A 4-gram present in EVERY doc is boilerplate; max_df=2 must
    # suppress it while keeping the rarer duplicated run.
    boiler = "all rights reserved footer"
    rare = "rare duplicated payload run"
    df = _docs(
        spark,
        [
            (1, f"{boiler} x {rare}"),
            (2, f"{boiler} y {rare}"),
            (3, f"{boiler} something else entirely different"),
        ],
    )
    capped = TX.duplicated_spans(df, "text", "doc_id", k=4, max_df=2)
    spans = {(r["doc_id"], r["span_start"]) for r in capped.collect()}
    assert spans == {(1, 6), (2, 6)}  # only the rare run survives the cut


def test_dsir_weights_prefer_target_like_docs(spark):
    target_like = "spark shuffle partition join broadcast spark shuffle partition"
    off_target = "banana orange apple grape melon banana orange apple"
    df = _docs(spark, [(1, target_like), (2, off_target), (3, target_like + " extra")])
    target = df.filter(F.col("doc_id") == 1)
    w = {r["doc_id"]: r["weight"] for r in
         TX.dsir_weights(df, target, "text", "doc_id", buckets=64).collect()}
    assert w[3] > w[2]  # target-like doc outranks the off-target one
    assert w[1] > w[2]


def test_semantic_dedup_drops_cellmates_above_threshold(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.999, 0.001, 0.0, 0.0], 0),   # near-dup of 0, same cell
        (2, [0.0, 1.0, 0.0, 0.0], 1),       # different cell
        (3, [-1.0, 0.0, 0.0, 0.0], 0),      # same cell, opposite -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, cell int")
    out = {r["vec_id"]: r["kept"] for r in VX.semantic_dedup(df, threshold=0.9).collect()}
    assert out == {0: 1, 1: 0, 2: 1, 3: 1}


def test_temperature_sampling_upsamples_small_sources(spark):
    from auto_trade_data_pipeline_spark.operators.clean import temperature_sampling_rates

    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_sampling_rates(df, "source", "doc_id", alpha=0.5, target_frac=0.5)
    rates = {r["source"]: r["rate_ppm"] for r in
             out.select("source", "rate_ppm").distinct().collect()}
    # alpha=0.5 with a 50% budget: the 10-doc source keeps everything
    # (rate capped at 1.0), the 90-doc source drops more than half.
    assert rates["small"] == 1_000_000
    assert rates["big"] < 500_000
    kept = out.filter("sampled").count()
    assert 0 < kept < 100


def test_lsh_between_finds_cross_set_dups(spark):
    """Delta-vs-corpus banding must surface a delta doc whose text
    near-duplicates a corpus doc — without any corpus x corpus pair."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = _docs(spark, [(1, base), (2, "totally unrelated corpus content here words")])
    delta = _docs(spark, [(10, base.replace("today", "tomorrow")), (11, "fresh new text")])

    def sig(df):
        rows = TX.shingle_rows(df, "text", "doc_id", 3)
        return TX.minhash_signature_rows(rows, "shingle", "doc_id", 20)

    pairs = {
        (r["id_a"], r["id_b"])
        for r in TX.lsh_candidate_pairs_between(sig(delta), sig(corpus), "doc_id", 20, 2).collect()
    }
    assert (10, 1) in pairs
    assert all(a >= 10 and b < 10 for a, b in pairs)  # strictly cross-set


def test_pq_codebooks_deterministic_and_adc_recall_scales_with_refine(spark, sf_small):
    """Product quantization: (a) per-subspace codebooks are
    bit-deterministic run to run; (b) every vector encodes to m codes
    in [0, ksub); (c) ADC recall@5 vs the brute-force baseline is
    non-decreasing in the refine factor (candidates grow, the exact
    rerank picks the best of a superset)."""
    from auto_trade_data_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    unit = emb.select("vec_id", VX.l2_normalize(F.col("embedding")).alias("embedding"))
    q = unit.filter(F.col("vec_id") < 10)
    brute = {(r.query_id, r.neighbor_id) for r in VX.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5).collect()}

    books = VX.pq_train(unit, m=4, ksub=8, iters=2)
    books2 = VX.pq_train(unit, m=4, ksub=8, iters=2)
    assert sorted(map(tuple, books.collect())) == sorted(map(tuple, books2.collect()))
    assert books.count() == 4 * 8

    enc = VX.pq_encode(unit, books, m=4)
    rows = enc.collect()
    assert len(rows) == emb.count()
    assert all(len(r.codes) == 4 and all(0 <= c < 8 for c in r.codes) for r in rows)

    def recall(refine):
        adc = {
            (r.query_id, r.neighbor_id)
            for r in VX.pq_adc_topk(enc, q, books, emb, k=5, refine=refine, m=4).collect()
        }
        return len(brute & adc) / len(brute)

    # The synthetic embeddings are near-random 64-dim noise — PQ can
    # only capture what low-dim structure exists (measured here:
    # ~18% of variance at m=4/ksub=8), so absolute recall at small
    # refine is data-limited. The operator contract is: recall is
    # non-decreasing in refine, and refine covering the whole corpus
    # IS the exact search (rerank of everything, same tiebreaks).
    r1, r10, r_all = recall(1), recall(10), recall(100)
    assert r1 <= r10 <= r_all
    assert r10 >= 0.3
    assert r_all == 1.0


# ---------------------------------------------------------------------------
# Pure-stdlib PNG codec (the real multimodal decode path)
# ---------------------------------------------------------------------------


def test_png_codec_roundtrip_all_channel_counts():
    from auto_trade_data_pipeline_spark.functions.png import decode_png, encode_png

    for ch in (1, 3, 4):
        px = bytes((i * 31 + 7) % 256 for i in range(6 * 4 * ch))
        w, h, c, out = decode_png(encode_png(px, 6, 4, ch))
        assert (w, h, c) == (6, 4, ch)
        assert out == px


def test_png_decoder_handles_every_filter_type():
    """Decode scanlines written with filters 0/2/3/4 (our encoder only
    emits 1/Sub) — the decoder must be a real spec decoder, not just
    our encoder's inverse."""
    import struct
    import zlib

    from auto_trade_data_pipeline_spark.functions.png import decode_png

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    w, h, ch = 3, 4, 3
    rows_px = [bytes((y * 50 + x) % 256 for x in range(w * ch)) for y in range(h)]
    # Reference-filter each row with a different filter type.
    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raw = bytearray()
    prev = bytes(w * ch)
    for y, ft in zip(range(h), (0, 2, 3, 4)):
        row = rows_px[y]
        raw.append(ft)
        for i in range(w * ch):
            left = row[i - ch] if i >= ch else 0
            ul = prev[i - ch] if i >= ch else 0
            if ft == 0:
                v = row[i]
            elif ft == 2:
                v = row[i] - prev[i]
            elif ft == 3:
                v = row[i] - (left + prev[i]) // 2
            else:
                v = row[i] - paeth(left, prev[i], ul)
            raw.append(v & 0xFF)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    got = decode_png(png)
    assert got[:3] == (w, h, ch)
    assert got[3] == b"".join(rows_px)


def test_png_decoder_rejects_garbage_loudly():
    import pytest as _pytest

    from auto_trade_data_pipeline_spark.functions.png import decode_png

    with _pytest.raises(ValueError, match="signature"):
        decode_png(b"JFIF not a png")
    from auto_trade_data_pipeline_spark.functions.png import encode_png

    good = encode_png(bytes(4), 2, 2, 1)
    with _pytest.raises(ValueError):
        decode_png(good[:20])  # truncated before IDAT


def test_png_roundtrip_stats_matches_recipe(spark):
    from auto_trade_data_pipeline_spark.operators.multimodal import png_roundtrip_stats

    docs = spark.createDataFrame(
        [(1, "abc", "en", "s", 3), (2, "", "en", "s", 0), (3, "Z", "de", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r.doc_id: r for r in png_roundtrip_stats(docs).collect()}
    n_px = 16 * 16 * 3
    # doc 1: bytes cycle ord('a'),ord('b'),ord('c')
    cyc = [ord("abc"[i % 3]) for i in range(n_px)]
    assert rows[1].px_sum == sum(cyc) and rows[1].px_min == 97 and rows[1].px_max == 99
    # doc 2: empty text -> all-zero image
    assert rows[2].px_sum == 0 and rows[2].px_max == 0
    # doc 3: constant 'Z' image
    assert rows[3].px_sum == 90 * n_px and rows[3].px_min == rows[3].px_max == 90
    assert all((r.width, r.height, r.channels, r.n_px) == (16, 16, 3, n_px) for r in rows.values())


def test_wav_codec_roundtrip_and_rejection():
    import pytest as _pytest

    from auto_trade_data_pipeline_spark.functions.wav import decode_wav, encode_wav

    samples = [(i * 773) % 65536 - 32768 for i in range(256)]
    rate, ch, out = decode_wav(encode_wav(samples, 44100, 2))
    assert (rate, ch) == (44100, 2)
    assert out == samples
    with _pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"OggS definitely not a wav")
    good = encode_wav([0, 1, 2, 3], 8000, 1)
    with _pytest.raises(ValueError):
        decode_wav(good[: len(good) - 3])  # truncated data chunk


def test_wav_roundtrip_stats_matches_recipe(spark):
    from auto_trade_data_pipeline_spark.operators.multimodal import wav_roundtrip_stats

    docs = spark.createDataFrame(
        [(1, "ab", "en", "s", 2), (2, "", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r.doc_id: r for r in wav_roundtrip_stats(docs).collect()}
    n = 1024
    vals = [(ord("ab"[i % 2]) - 128) * 256 for i in range(n)]
    assert rows[1].s_sum == sum(vals)
    assert rows[1].s_min == min(vals) and rows[1].s_max == max(vals)
    assert rows[2].s_sum == rows[2].s_min == rows[2].s_max == 0
    assert all(
        (r.sample_rate, r.channels, r.n_samples) == (8000, 1, n) for r in rows.values()
    )
