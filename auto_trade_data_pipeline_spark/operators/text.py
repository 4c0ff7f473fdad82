"""Text operators for LLM training-data pipelines (EXT, SURVEY §2.11):
tokenization, shingling, exact dedup, MinHash-LSH near-dup, SimHash,
n-gram Jaccard, language ID, quality scoring, fingerprinting.

Everything here is JVM-side built-in expressions — no Python UDFs in
any hot path. Hashes are md5-derived (`conv(substr(md5(x),1,15),16,10)`)
so the DuckDB oracles can reproduce them bit-for-bit
(`CAST('0x'||substr(md5(x),1,15) AS BIGINT)`).

Scale design:
- Dedup keys are 64-bit hashes / hex digests, never raw text — the
  shuffle carries 8-32 bytes per row instead of documents.
- Near-dup candidate generation is banded MinHash-LSH: shuffle on
  (band_idx, band_hash), candidate pairs only within buckets. The
  all-pairs crossJoin never appears.
- SimHash near-dup uses byte-chunk banding (Hamming LSH): a pair can
  only collide if some 8-bit chunk matches exactly, which bounds
  candidates without a cartesian product.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "tokens",
    "word_shingles",
    "char_shingles",
    "hash64",
    "exact_dedup",
    "shingle_rows",
    "minhash_signature_rows",
    "lsh_candidate_pairs",
    "lsh_candidate_pairs_between",
    "jaccard_verify_rows",
    "simhash32",
    "simhash_candidate_pairs",
    "winnow_fingerprints",
    "winnow_sketch",
    "winnow_overlap_pairs",
    "tfidf_topk",
    "hash_split",
    "pack_sequences",
    "positional_grams",
    "duplicated_spans",
    "dsir_weights",
]

#: Word tokens: lowercase alphanumeric runs. Identical regex on the
#: DuckDB side (`regexp_extract_all(lower(text), '\w+')`).
TOKEN_RE = r"\w+"


def tokens(text: Column) -> Column:
    """Lowercased word tokens (array<string>)."""
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), 0)


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token array — the unit of
    near-dup comparison. Space-joined so 'a b','c' != 'a','b c'.
    slice+array_join per position is ~10x faster than n element_at
    lookups (higher-order lambdas run interpreted; fewer calls win).
    Arrays shorter than n yield an EMPTY shingle set (the when-guard
    matters: without it `sequence(1, 0)` counts DOWN to [1, 0] and
    `slice(toks, 0, n)` aborts the job)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def char_shingles(text: Column, n: int = 5) -> Column:
    """Distinct character n-grams — the rolling-hash fingerprint unit.
    Text shorter than n yields an empty set (same descending-sequence
    guard as word_shingles; substring tolerates it but would emit
    duplicate work)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.length(text) - n + 1),
        lambda i: F.substring(text, i, n),
    )
    return F.when(
        F.length(text) >= n, F.array_distinct(F.filter(grams, lambda g: F.length(g) == n))
    ).otherwise(F.array().cast("array<string>"))


def hash64(col: Column, salt: str = "") -> Column:
    """Deterministic 60-bit hash reproducible in DuckDB: the first 15
    hex chars of md5, parsed as an integer. (Spark's native `xxhash64`
    is faster but not portable to the oracle; the md5 path keeps every
    dedup query hash-checkable. Swap in xxhash64 for production.)"""
    salted = F.concat(F.lit(salt), F.lit("|"), col) if salt else col
    return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate grouping on sha256 of normalized text. Returns
    one row per distinct content: (fingerprint, keep_id, dup_count).
    Grouping key is the 64-hex digest, not the document — at 100 TB
    the shuffle moves 64 bytes/doc."""
    fp = F.sha2(F.lower(F.trim(F.col(text_col))), 256)
    return (
        df.select(fp.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


#: Universal-hash family for MinHash permutations: h_p(x) =
#: (A(p)*x + B(p)) mod PRIME over a 32-bit md5-derived base hash.
#: PRIME > 2^32 keeps the family injective-ish; A(p) < 2^31 keeps
#: A*x < 2^63 (no bigint overflow — same arithmetic in DuckDB).
MINHASH_PRIME = 4_294_967_311


def minhash_coeffs(p: int) -> tuple[int, int]:
    return 1_000_003 + 7_919 * p, 666_013 * p + 12_345


def shingle_rows(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles as ROWS — (id, shingle) — via
    posexplode + `lead` windows instead of the array-building
    higher-order functions.

    Why rows, not arrays: Spark evaluates HOF lambdas interpreted
    (never whole-stage codegen), which measured ~8x slower than this
    fully-codegen'd explode + window + distinct on the same corpus —
    and per-doc shingle ARRAYS are the memory hazard at 100 TB (one
    multi-MB cell per large document), while rows stay uniformly
    small. Cost of this shape: one exchange keyed by the doc id for
    the window sort — the same key the signature aggregation needs
    anyway, so the planner reuses the partitioning."""
    toks = df.select(F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "__t"))
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("__t")] + [F.lead("__t", i).over(w) for i in range(1, n)]
    last = F.lead("__t", n - 1).over(w)
    return (
        toks.select(
            F.col(id_col),
            F.concat_ws(" ", *parts).alias("shingle"),
            last.isNotNull().alias("__full"),
        )
        .filter(F.col("__full"))
        .drop("__full")
        .distinct()
    )


def shingles_array(ts: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as a per-row ARRAY via
    higher-order functions — the STREAM path (shingle_rows' window
    needs a batch plan; HOF lambdas are interpreted and ~8x slower,
    the price of windowlessness — use shingle_rows wherever a batch
    plan is available). Matches the oracle's list builder exactly,
    including the empty result for docs shorter than ``n`` (Spark's
    sequence(1, 0) DESCENDS instead of being empty — the when-guard
    is load-bearing)."""
    if n != 3:
        raise ValueError("shingles_array mirrors the 3-gram oracle builder")
    idx = F.sequence(F.lit(1), F.size(ts) - F.lit(n - 1))
    built = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at(ts, i), F.element_at(ts, i + 1), F.element_at(ts, i + 2)
        ),
    )
    return F.when(F.size(ts) >= n, F.array_distinct(built)).otherwise(
        F.array().cast("array<string>")
    )


def minhash_cols_expr(shingles: Column, num_perms: int) -> list[Column]:
    """The ``num_perms`` minhash signature values as PURE per-row
    expressions (array_min over a transformed shingle array) — no
    aggregation, so the signature is computable on a streaming
    DataFrame. Identical arithmetic to `minhash_signature_rows` (same
    md5 base hash, same universal-hash family), hence identical
    signatures."""
    base = lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")  # noqa: E731
    out = []
    for p in range(num_perms):
        a, b = minhash_coeffs(p)
        out.append(
            F.array_min(
                F.transform(shingles, lambda s: (base(s) * a + b) % MINHASH_PRIME)
            ).alias(f"mh{p}")
        )
    return out


def minhash_signature_rows(
    rows: DataFrame, shingle_col: str, id_col: str, num_perms: int
) -> DataFrame:
    """MinHash signature from (id, shingle) ROWS (`shingle_rows`): hash
    each shingle ONCE (md5 -> 32-bit int), then derive all
    `num_perms` permutations with the universal-hash family — one
    groupBy, `num_perms` cheap arithmetic mins, a single shuffle
    keyed by doc id. (20 salted md5s per shingle would cost 20x the
    CPU for the same guarantee.)"""
    base = F.conv(F.substring(F.md5(F.col(shingle_col)), 1, 8), 16, 10).cast("long")
    mins = []
    for p in range(num_perms):
        a, b = minhash_coeffs(p)
        mins.append(F.min((base * a + b) % MINHASH_PRIME).alias(f"mh{p}"))
    return rows.groupBy(id_col).agg(*mins)


def _banded(sig: DataFrame, id_col: str, num_perms: int, rows_per_band: int) -> DataFrame:
    """(id, band_idx, band_hash) rows from ONE posexplode over an
    inline band-hash array — a single scan of the signature table
    inside one codegen stage. (An N-way union re-scans the signatures
    once per band and breaks the stage at every branch; measured ~3x
    slower on the same corpus.)"""
    num_bands = num_perms // rows_per_band
    return sig.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"mh{b * rows_per_band + r}").cast("string")
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str, num_perms: int, rows_per_band: int
) -> DataFrame:
    """Band the signature and self-join on (band_idx, band_hash):
    candidate pairs surface only inside buckets. Output: distinct
    (id_a < id_b) pairs. The shuffle key is the band hash — uniform by
    construction, no skew."""
    banded = _banded(sig, id_col, num_perms, rows_per_band)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def lsh_candidate_pairs_between(
    sig_a: DataFrame,
    sig_b: DataFrame,
    id_col: str,
    num_perms: int,
    rows_per_band: int,
) -> DataFrame:
    """Candidates BETWEEN two signature sets — the incremental-dedup
    shape: a delta batch's signatures band-join against the standing
    corpus's (pre-computed, stored) signatures, so each nightly run
    costs |delta| x collision-rate, never corpus x corpus again.
    Output: distinct (id_a from sig_a, id_b from sig_b) pairs; ids
    need not be disjoint-ordered (the two sides are different sets).
    """
    a = _banded(sig_a, id_col, num_perms, rows_per_band).withColumnRenamed(id_col, "id_a")
    b = _banded(sig_b, id_col, num_perms, rows_per_band).withColumnRenamed(id_col, "id_b")
    return (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str, k: int = 12, w: int = 8
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03 — the MOSS algorithm) as distinct (id, fingerprint)
    ROWS: hash every positional character k-gram of the normalized
    text, slide a window of ``w`` consecutive gram hashes, select
    each window's minimum. Guarantees: any shared substring of length
    >= k + w - 1 contributes at least one COMMON fingerprint to both
    documents, and density is ~2/(w+1) of the gram count.

    Execution shape: posexplode gram positions, substring + md5
    (whole-stage codegen — measured ~8x the throughput of the
    equivalent higher-order-function array build, which Spark
    evaluates interpreted), then ONE sliding-frame `min` window per
    doc. A text shorter than ``w + k - 1`` grams yields its single
    all-grams minimum (the window frame clips at the tail; only the
    full-frame positions — or position 1 when no full frame exists —
    are kept)."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\W+", "")
    staged = df.select(F.col(id_col), norm.alias("__norm")).filter(
        F.length("__norm") >= k
    )
    n_grams = F.length("__norm") - (k - 1)
    g = staged.select(
        F.col(id_col),
        n_grams.alias("__n"),
        F.posexplode(F.sequence(F.lit(1), n_grams)).alias("__j", "__i"),
        "__norm",
    ).select(
        F.col(id_col),
        "__n",
        "__i",
        F.conv(
            F.substring(F.md5(F.expr(f"substring(__norm, __i, {k})")), 1, 15), 16, 10
        ).cast("long").alias("__h"),
    )
    win = Window.partitionBy(id_col).orderBy("__i").rowsBetween(0, w - 1)
    mins = g.select(
        F.col(id_col),
        "__n",
        "__i",
        F.min("__h").over(win).alias("f"),
    )
    keep = (F.col("__i") <= F.col("__n") - (w - 1)) | (
        (F.col("__n") < w) & (F.col("__i") == 1)
    )
    return mins.filter(keep).select(F.col(id_col), "f").distinct()


def winnow_sketch(
    df: DataFrame, text_col: str, id_col: str, k: int = 12, w: int = 8
) -> DataFrame:
    """Winnowing sketch as one array per document — a collect_set over
    :func:`winnow_fingerprints` (single source of truth for the
    selection semantics). Prefer the rows form at scale; arrays are
    for compact per-doc storage and tests."""
    return (
        winnow_fingerprints(df, text_col, id_col, k, w)
        .groupBy(id_col)
        .agg(F.collect_set("f").alias("sketch"))
    )


def winnow_overlap_pairs(
    fingerprints: DataFrame,
    id_col: str,
    max_df: int = 10,
    min_overlap: int = 3,
    min_containment: float = 0.5,
) -> DataFrame:
    """Overlap detection over winnowing fingerprint ROWS
    (:func:`winnow_fingerprints`): drop boilerplate fingerprints
    shared by more than ``max_df`` documents (the standard MOSS noise
    cut — it also BOUNDS the self-join: each surviving fingerprint
    bucket emits at most max_df^2/2 candidate pairs, so no hot key
    can explode), then self-join on the fingerprint and score each
    candidate pair by overlap count and containment
    (overlap / smaller surviving-sketch size).

    Scale shape: the document-frequency cut is an aggregate + anti
    join — the flagged set (fingerprints in > max_df docs) is
    df-bounded to |rows|/(max_df+1) and usually tiny, so the planner
    broadcasts it and the fingerprint rows are NOT shuffled for the
    cut (a window by `f` would exchange+sort every row; if the
    flagged set ever outgrows the broadcast threshold the join
    degrades to the same single hash-keyed shuffle the window paid).
    The surviving rows are persisted at their fan-out point: both
    self-join sides read them, and unpersisted the per-doc-count
    window chain is duplicated into each side (measured 1.31s ->
    0.27s warm on the sf0.1 bench query). Documents never move —
    only 8-byte hashes.
    """
    from auto_trade_data_pipeline_spark import cache_scope

    fp = fingerprints.select(F.col(id_col).alias("doc"), F.col("f"))
    bad = (
        fp.groupBy("f")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("f")
    )
    # NULL-key note (r9 advice): the anti join KEEPS null-f rows where
    # the old count-window cut could drop them — safe because f is an
    # md5-derived hash, non-null by construction (winnow_fingerprints).
    ff = fp.join(bad, "f", "left_anti")
    ff = ff.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc")))
    if cache_scope._CURRENT is not None:
        # Persist ONLY under an active corpus scope (which owns the
        # release). A direct library caller has no handle to this
        # internal frame, so an unconditional persist would leak one
        # cache entry per call (r9 advice); such callers keep the
        # previous no-cache contract and pay the duplicated window
        # chain instead.
        ff = cache_scope.scoped_persist(ff)
    a = ff.select(F.col("doc").alias("id_a"), F.col("f"), F.col("n").alias("n_a"))
    b = ff.select(F.col("doc").alias("id_b"), F.col("f"), F.col("n").alias("n_b"))
    pairs = (
        a.join(b, ["f"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("overlap"),
            F.min("n_a").alias("__na"),
            F.min("n_b").alias("__nb"),
        )
        .withColumn(
            "containment",
            F.round(F.col("overlap") / F.least("__na", "__nb"), 4),
        )
    )
    return pairs.filter(
        (F.col("overlap") >= min_overlap) & (F.col("containment") >= min_containment)
    ).select("id_a", "id_b", "overlap", "containment")


def jaccard_verify_rows(
    pairs: DataFrame,
    rows: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard over candidate pairs from (id, shingle) ROWS —
    no arrays anywhere: intersection size is a pair-keyed count of
    matching shingle rows (two hash joins), set sizes come from a
    per-doc count. Emits (id_a, id_b, jaccard) for pairs >= threshold.

    100 TB shape: candidate pairs are LSH-bucket sized, and the
    shuffles carry (id, shingle-hash-sized) rows — a document's
    shingle set never materializes as one array cell."""
    r = rows.select(F.col(id_col).alias("__id"), F.col(shingle_col).alias("__sh"))
    sizes = r.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    ra = r.select(F.col("__id").alias("id_a"), F.col("__sh"))
    rb = r.select(F.col("__id").alias("id_b"), F.col("__sh"))
    inter = (
        pairs.join(ra, "id_a")
        .join(rb, ["id_b", "__sh"])  # equi-join on (doc, shingle): rows of
        # b matching a shingle of a — the intersection, counted per pair
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    na = sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb"))
    j = inter.join(na, "id_a").join(nb, "id_b")
    jac = F.col("__inter") / (F.col("__na") + F.col("__nb") - F.col("__inter"))
    return (
        j.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def tfidf_topk(
    df: DataFrame, tokens_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """Top-k TF-IDF terms per document: explode tokens -> per-(doc,
    term) counts (tf) -> per-term document frequency (df) -> score
    tf * ln(N/df) -> per-doc window rank. Emits
    (id, term, tf, df_count, tfidf, rank) with rank <= k.

    Scale shape: two shuffles (doc-term counts keyed by (id, term);
    document frequencies keyed by term — both uniform keys), then one
    broadcast of the 1-row corpus count and a per-doc window. Ranking
    orders by the ROUNDED score then term, so ranks are deterministic
    wherever the rounded scores are — at any parallelism and in the
    cross-engine oracle."""
    exploded = df.select(F.col(id_col), F.explode(tokens_col).alias("term"))
    tf = exploded.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_count"))
    n = df.select(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("__n") / F.col("df_count")), 6))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df_count", "tfidf", "rank")
    )


def hash_split(
    id_col: Column, train_pct: int = 80, val_pct: int = 10, salt: str = "split"
) -> tuple[Column, Column]:
    """Deterministic train/val/test assignment: bucket = salted
    60-bit hash of the id mod 100; split boundaries at train_pct and
    train_pct + val_pct. Returns (bucket, split) column expressions.

    This is how a 100 TB corpus is split: no sampling state, no
    shuffle, reproducible across runs and engines, and stable under
    corpus growth (a document's split never changes when others are
    added)."""
    bucket = hash64(id_col.cast("string"), salt=salt) % 100
    split = (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )
    return bucket, split


def pack_sequences(
    df: DataFrame,
    tokens_count_col: str,
    id_col: str,
    part_cols: list[str],
    budget: int = 2048,
) -> DataFrame:
    """Concat-and-chunk sequence packing (the LLM-pretraining layout:
    concatenate documents in a deterministic order, slice the token
    stream into fixed-length sequences): within each partition group,
    documents ordered by id get an exclusive prefix token sum; a
    document STARTS in sequence floor(prefix / budget) at offset
    prefix % budget. Adds (seq_id, seq_offset) — pure integer window
    math, bit-exact at any parallelism.

    Scale shape: one window per partition group (the shard unit —
    source, split, or both), no Python, no state. The prefix sum is
    the same primitive the anchored-VWAP fill uses; a 100 TB corpus
    packs shard-parallel."""
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum(tokens_count_col).over(w), F.lit(0).cast("long"))
    return df.withColumn("__prefix", prefix).select(
        "*",
        F.floor(F.col("__prefix") / budget).cast("long").alias("seq_id"),
        (F.col("__prefix") % budget).cast("long").alias("seq_offset"),
    ).drop("__prefix")


def simhash32(df: DataFrame, tokens_col: str, id_col: str) -> DataFrame:
    """32-bit SimHash over distinct tokens: per bit, majority vote of
    token-hash bits (+1/-1), bit set iff the vote is positive. One
    explode + one groupBy (32 sums in a single shuffle)."""
    exploded = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens_col)).alias("__t")
    ).withColumn("__h", hash64(F.col("__t")))
    votes = [
        F.sum(
            F.when(F.shiftright("__h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(32)
    ]
    per_doc = exploded.groupBy(id_col).agg(*votes)
    sim = reduce(
        add,
        [
            F.when(F.col(f"v{j}") > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
            for j in range(32)
        ],
    )
    return per_doc.select(F.col(id_col), sim.alias("simhash"))


def simhash_candidate_pairs(
    sim: DataFrame, id_col: str, max_hamming: int = 6, chunks: int = 4
) -> DataFrame:
    """Hamming-LSH: split the 32-bit simhash into byte chunks; a pair
    within Hamming distance `chunks - 1` must agree exactly on >= 1
    chunk (pigeonhole), so joining per-chunk finds all such pairs
    without a crossJoin. Verify with bit_count(xor) <= max_hamming.

    Note: with 4 chunks the pigeonhole bound guarantees recall only
    for distance <= 3; for larger `max_hamming` this is the standard
    probabilistic trade (documented, mirrored exactly in the oracle).
    """
    banded = sim.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", 8 * c).bitwiseAND(F.lit(255))
                    for c in range(chunks)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )  # one scan + one codegen stage (vs a chunks-way union re-scan)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def positional_grams(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """Every word k-gram of every document WITH its 1-based token
    position — the unit of exact-substring duplicate detection (unlike
    `word_shingles`, occurrences are NOT deduplicated: position
    matters). Emits (id, pos, gram_hash); the gram text itself never
    leaves the projection, so downstream shuffles carry 8-byte hashes.
    """
    toks = tokens(F.col(text_col))
    grams = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(F.col(id_col), F.posexplode(grams).alias("__p", "__g")).select(
        F.col(id_col),
        (F.col("__p") + 1).alias("pos"),
        hash64(F.col("__g")).alias("gram_hash"),
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    max_df: int | None = None,
) -> DataFrame:
    """Exact duplicated-substring spans, the span-level dedup of Lee et
    al., "Deduplicating Training Data Makes Language Models Better"
    (ACL'22), re-expressed relationally: a token position is DUPLICATED
    if some k-gram covering text elsewhere in the corpus starts there;
    overlapping/adjacent duplicated k-gram extents then merge into
    maximal spans (gaps-and-islands over a running interval maximum).
    Emits one row per maximal span: (id, span_start, span_end,
    span_len) in token coordinates.

    Scale shape: grams shuffle once on the 60-bit gram hash for the
    document-frequency cut, positions join back on the same key, and
    the island merge is one per-document window — integer arithmetic
    throughout, bit-exact at any parallelism. `max_df` drops grams
    shared by more than that many documents (stop-phrase fan-out
    guard, the same df-cut `winnow_overlap_pairs` applies): at 100 TB
    a boilerplate gram appearing in 1e8 documents would otherwise
    join back 1e8 positions; capped, the candidate volume is bounded
    by max_df x distinct-grams. The reference engine has no span
    dedup (EXT capability)."""
    g = positional_grams(df, text_col, id_col, k)
    freq = g.groupBy("gram_hash").agg(F.count_distinct(F.col(id_col)).alias("__df"))
    dup = freq.filter(
        (F.col("__df") >= 2) & ((F.col("__df") <= max_df) if max_df else F.lit(True))
    )
    hits = g.join(dup.select("gram_hash"), "gram_hash").select(
        F.col(id_col), F.col("pos"), (F.col("pos") + (k - 1)).alias("__end")
    )
    prev_max = Window.partitionBy(id_col).orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    run = Window.partitionBy(id_col).orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    flagged = hits.withColumn(
        "__new",
        F.when(F.col("pos") > F.coalesce(F.max("__end").over(prev_max), F.lit(0)), 1).otherwise(0),
    ).withColumn("__island", F.sum("__new").over(run))
    return (
        flagged.groupBy(id_col, "__island")
        .agg(F.min("pos").alias("span_start"), F.max("__end").alias("span_end"))
        .select(
            F.col(id_col),
            F.col("span_start").cast("long"),
            F.col("span_end").cast("long"),
            (F.col("span_end") - F.col("span_start") + 1).cast("long").alias("span_len"),
        )
    )


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al.,
    NeurIPS'23) weights: score every raw document by the hashed-n-gram
    log-likelihood ratio between a TARGET corpus distribution and the
    RAW corpus distribution. Features are unigrams + bigrams (every
    occurrence, not distinct) hashed into `buckets` buckets; bucket
    probabilities are Laplace-smoothed ((c+1)/(T+B)); a document's
    weight is the sum of per-occurrence log ratios. Emits
    (id, n_feats, weight) with weight rounded to 4 (absorbs double
    summation-order drift across engines/parallelism).

    Scale shape: two feature-count shuffles keyed by the bucket id
    (<= `buckets` distinct keys, uniform by hashing), then ONE
    broadcast of the bucket ratio table (B rows) back onto per-doc
    bucket counts — the raw corpus is scanned twice and never
    shuffled by document. At 100 TB the ratio table is KBs; the
    per-doc aggregation shuffles (doc, bucket) counts, bounded by
    doc count x distinct buckets touched."""

    def feats(frame: DataFrame) -> DataFrame:
        toks = tokens(F.col(text_col))
        uni = toks
        bi = F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.array_join(F.slice(toks, i, 2), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return frame.select(
            F.col(id_col), F.explode(F.concat(uni, bi)).alias("__f")
        ).select(F.col(id_col), F.pmod(hash64(F.col("__f")), F.lit(buckets)).alias("bucket"))

    raw_f = feats(df)
    tgt_counts = feats(target).groupBy("bucket").agg(F.count(F.lit(1)).alias("__ct"))
    raw_counts = raw_f.groupBy("bucket").agg(F.count(F.lit(1)).alias("__cr"))
    tgt_total = tgt_counts.agg(F.sum("__ct").alias("__tt"))
    raw_total = raw_counts.agg(F.sum("__cr").alias("__tr"))
    ratios = (
        raw_counts.join(tgt_counts, "bucket", "left")
        .join(F.broadcast(tgt_total))
        .join(F.broadcast(raw_total))
        .select(
            "bucket",
            (
                F.log((F.coalesce(F.col("__ct"), F.lit(0)) + 1) / (F.col("__tt") + buckets))
                - F.log((F.col("__cr") + 1) / (F.col("__tr") + buckets))
            ).alias("__ratio"),
        )
    )
    per_doc = raw_f.groupBy(id_col, "bucket").agg(F.count(F.lit(1)).alias("__n"))
    return (
        per_doc.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("__n").cast("long").alias("n_feats"),
            F.round(F.sum(F.col("__n") * F.col("__ratio")), 4).alias("weight"),
        )
    )
