"""Corpus-cleaning queries (EXT, SURVEY §2.11 extensions): PII
redaction, fixed-stride chunking, repetition profiling, benchmark
contamination, heavy-hitter n-grams, and policy-based canonical-doc
selection — the cleaning half of an LLM training-data pipeline, over
the driver's ``documents`` table.

Oracle parity notes:
- The synthetic corpus contains no digits/emails, so the PII query
  APPENDS deterministic PII spans derived from ``doc_id`` — computed
  by the same expression on both engines — before counting/redacting.
- Every regex is valid and identical under Java regex (Spark) and
  RE2 (DuckDB): character classes, bounded repetition, ASCII ``\\b``.
- Hashes are the md5-derived 60-bit family (`operators.text.hash64`
  == ``CAST('0x'||substr(md5(x),1,15) AS BIGINT)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from auto_trade_data_pipeline_spark.corpus import register, scoped_persist
from auto_trade_data_pipeline_spark.corpus.ext import _DOCS_CTE, _duck_hash
from auto_trade_data_pipeline_spark.operators import clean as CL
from auto_trade_data_pipeline_spark.operators import text as TX
from auto_trade_data_pipeline_spark.operators.scans import greedy_pack, scan_by_key
from auto_trade_data_pipeline_spark.sources import fan_out_scan, load_table

# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: Benchmark split for the contamination query: these sources play the
#: role of the held-out eval suite.
BENCH_SOURCES = ("src0", "src1")

CHUNK_SIZE = 32
CHUNK_STRIDE = 24

_PII_AUG_SQL = """text
  || CASE WHEN doc_id % 3 = 0 THEN ' contact agent' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END
  || CASE WHEN doc_id % 5 = 0 THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
  || CASE WHEN doc_id % 7 = 0 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
  || CASE WHEN doc_id % 11 = 0 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END"""


def _pii_aug_spark() -> F.Column:
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    return F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" contact agent"), s(did), F.lit("@mail.example.com")),
        ).otherwise(""),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" call 415-555-"), F.lpad(s(did % 10000), 4, "0")),
        ).otherwise(""),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" ssn 123-45-"), F.lpad(s(did % 10000), 4, "0")),
        ).otherwise(""),
        F.when(
            did % 11 == 0,
            F.concat(F.lit(" host 10."), s(did % 256), F.lit(".0."), s(did % 100)),
        ).otherwise(""),
    )


def _pii_oracle() -> str:
    count_cols = ",\n       ".join(
        f"len(regexp_extract_all(aug, '{pat}')) AS {name}_count"
        for name, pat, _ in CL.PII_PATTERNS
    )
    red = "aug"
    for _, pat, repl in CL.PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return f"""
WITH a AS (SELECT doc_id, {_PII_AUG_SQL} AS aug FROM documents)
SELECT doc_id,
       {count_cols},
       length({red}) AS redacted_len,
       {_duck_hash(red)} AS redacted_hash
FROM a
"""


@register("pii_redaction", _pii_oracle(), tags=("EXT3",))
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII span counting + redaction (operators/clean.py:redact_pii):
    email / phone / SSN / IPv4 patterns replaced in a fixed order by
    typed placeholders. Per-row regexp chain — zero shuffle, whole-
    stage codegen, embarrassingly parallel at any scale. The corpus
    has no organic PII, so deterministic spans derived from doc_id are
    appended first (same expression in the oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", _pii_aug_spark().alias("aug"))
    counts, redacted = CL.redact_pii(F.col("aug"))
    return aug.select(
        "doc_id",
        *counts.values(),
        F.length(redacted).alias("redacted_len"),
        TX.hash64(redacted).alias("redacted_hash"),
    )


# ---------------------------------------------------------------------------
# Fixed-stride token chunking
# ---------------------------------------------------------------------------

_CHUNKS_ORACLE = f"""
WITH {_DOCS_CTE},
nz AS (SELECT doc_id, ts, len(ts) AS n FROM toks WHERE len(ts) > 0),
ch AS (
  SELECT doc_id,
         CAST(unnest(range(0, ((n - 1) // {CHUNK_STRIDE}) + 1)) AS INT) AS chunk_id,
         ts, n
  FROM nz
)
SELECT doc_id, chunk_id,
       chunk_id * {CHUNK_STRIDE} + 1 AS start_token,
       len(list_slice(ts, chunk_id * {CHUNK_STRIDE} + 1,
                      least(chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE}, n))) AS chunk_len,
       {_duck_hash(f"array_to_string(list_slice(ts, chunk_id * {CHUNK_STRIDE} + 1, least(chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE}, n)), ' ')")} AS chunk_hash
FROM ch
"""


@register("doc_chunks", _CHUNKS_ORACLE, tags=("EXT3",))
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride token chunking with overlap (size 32 / stride 24
    — the RAG and context-window prep layout), via
    operators/clean.py:chunk_tokens: sequence -> slice -> posexplode,
    all JVM expressions; each chunk row carries a 64-bit hash of its
    space-joined tokens, not the text."""
    docs = load_table(spark, sf_dir, "documents")
    tokenized = docs.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
    ch = CL.chunk_tokens(tokenized, "toks", "doc_id", size=CHUNK_SIZE, stride=CHUNK_STRIDE)
    return ch.withColumn("start_token", F.col("start_token").cast("long"))


# ---------------------------------------------------------------------------
# Within-document repetition profile
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = f"""
WITH {_DOCS_CTE},
base AS (
  SELECT doc_id, len(ts) AS n, len(list_distinct(ts)) AS nd,
         greatest(len(ts) - 2, 0) AS g3,
         len(list_distinct(list_transform(range(1, greatest(len(ts) - 2, 0) + 1),
             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS g3d
  FROM toks
),
tf AS (
  SELECT doc_id, term, count(*) AS c
  FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
  GROUP BY doc_id, term
),
top AS (SELECT doc_id, max(c) AS top_token_count FROM tf GROUP BY doc_id)
SELECT b.doc_id,
       n AS n_tokens, nd AS n_distinct,
       CASE WHEN n > 0 THEN round(nd / (1.0 * n), 4) ELSE 1.0 END AS distinct_ratio,
       CASE WHEN g3 > 0 THEN round(1 - g3d / (1.0 * g3), 4) ELSE 0.0 END AS dup_gram_ratio,
       coalesce(top_token_count, 0) AS top_token_count,
       CASE WHEN n > 0 THEN round(coalesce(top_token_count, 0) / (1.0 * n), 4)
            ELSE 0.0 END AS top_token_ratio
FROM base b LEFT JOIN top USING (doc_id)
"""


@register("repetition_profile", _REPETITION_ORACLE, tags=("EXT3",))
def repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition profile
    (operators/clean.py:repetition_stats): distinct-token ratio,
    duplicate 3-gram ratio, modal-token share — the boilerplate /
    degenerate-text filter. Array-local expressions plus one explode
    and two uniform-key hash-aggs for the modal token."""
    docs = load_table(spark, sf_dir, "documents")
    tokenized = docs.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
    return CL.repetition_stats(tokenized, "toks", "doc_id", gram_n=3)


# ---------------------------------------------------------------------------
# Benchmark contamination
# ---------------------------------------------------------------------------


def _gram5_sql() -> str:
    return (
        "list_distinct(list_transform(range(1, greatest(len(ts) - 4, 0) + 1), "
        "i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4]))"
    )


def _contamination_oracle() -> str:
    bench_in = ", ".join(f"'{s}'" for s in BENCH_SOURCES)
    return f"""
WITH {_DOCS_CTE},
gr AS (SELECT doc_id, source, {_gram5_sql()} AS grams FROM toks),
bench AS (
  SELECT DISTINCT {_duck_hash('g')} AS gh
  FROM (SELECT unnest(grams) AS g FROM gr WHERE source IN ({bench_in}))
),
corp AS (SELECT doc_id, grams FROM gr WHERE source NOT IN ({bench_in})),
cg AS (
  SELECT doc_id, {_duck_hash('g')} AS gh
  FROM (SELECT doc_id, unnest(grams) AS g FROM corp)
),
hits AS (
  SELECT doc_id, count(*) AS hit_grams
  FROM cg WHERE gh IN (SELECT gh FROM bench) GROUP BY doc_id
)
SELECT c.doc_id, len(c.grams) AS n_grams,
       coalesce(h.hit_grams, 0) AS hit_grams,
       CASE WHEN len(c.grams) > 0
            THEN round(coalesce(h.hit_grams, 0) / (1.0 * len(c.grams)), 4)
            ELSE 0.0 END AS contamination_ratio,
       CASE WHEN len(c.grams) > 0
            THEN round(coalesce(h.hit_grams, 0) / (1.0 * len(c.grams)), 4)
            ELSE 0.0 END >= 0.2 AS contaminated
FROM corp c LEFT JOIN hits h USING (doc_id)
"""


@register("contamination_check", _contamination_oracle(), tags=("EXT1", "EXT3", "bench"))
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection
    (operators/clean.py:ngram_contamination): share of each corpus
    document's distinct 5-grams that appear anywhere in the held-out
    benchmark sources. The benchmark collapses to a distinct gram-HASH
    set (dimension-sized -> broadcast); the join moves 8-byte hashes,
    never text."""
    # fan_out: the 5-gram explode otherwise serializes on the single
    # testdata split; persist: the tokenized table feeds three
    # branches (corpus grams, corpus totals, benchmark grams) that
    # would each re-run tokenization.
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"))
    tokenized = scoped_persist(
        docs.select("doc_id", "source", TX.tokens(F.col("text")).alias("toks"))
    )
    bench = tokenized.filter(F.col("source").isin(*BENCH_SOURCES))
    corpus = tokenized.filter(~F.col("source").isin(*BENCH_SOURCES))
    return CL.ngram_contamination(corpus, bench, "toks", "doc_id", gram_n=5, flag_ratio=0.2)


# ---------------------------------------------------------------------------
# Heavy-hitter n-grams
# ---------------------------------------------------------------------------

_HEAVY_HITTERS_ORACLE = f"""
WITH {_DOCS_CTE},
bg AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(ts) - 1, 0) + 1),
         i -> ts[i] || ' ' || ts[i+1]))) AS bigram
  FROM toks
),
dfreq AS (SELECT bigram, count(*) AS doc_freq FROM bg GROUP BY bigram),
ranked AS (
  SELECT bigram, doc_freq,
         row_number() OVER (ORDER BY doc_freq DESC, bigram) AS rank
  FROM dfreq
)
SELECT rank, bigram, doc_freq FROM ranked WHERE rank <= 20
"""


@register("heavy_hitter_bigrams", _HEAVY_HITTERS_ORACLE, tags=("EXT3",))
def heavy_hitter_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 bigrams by document frequency — the corpus-level
    boilerplate detector. Per-doc distinct bigrams -> one uniform-key
    hash-agg -> TakeOrderedAndProject top-k (per-partition heads
    merged on the driver: the full frequency table never gathers on
    one node). Rank is attached AFTER the top-k, over 20 rows."""
    # fan_out: tokenization + shingle explosion is this query's one
    # corpus-sized map side — serialized on the single testdata split
    # without the spread (r10; the winnowing precedent).
    docs = fan_out_scan(load_table(spark, sf_dir, "documents"))
    bigrams = docs.select(
        "doc_id",
        F.explode(TX.word_shingles(TX.tokens(F.col("text")), 2)).alias("bigram"),
    )
    top = (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "bigram")
        .limit(20)
    )
    w = Window.orderBy(F.col("doc_freq").desc(), "bigram")
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "bigram", "doc_freq"
    )


# ---------------------------------------------------------------------------
# Policy-based canonical-document selection
# ---------------------------------------------------------------------------

_PRIORITY_KEEP_ORACLE = f"""
WITH {_DOCS_CTE},
fp AS (
  SELECT doc_id, source, n_chars,
         {_duck_hash("array_to_string(list_sort(list_distinct(ts)), ' ')")} AS bow_fp
  FROM toks
)
SELECT doc_id, source, bow_fp,
       first_value(doc_id) OVER (PARTITION BY bow_fp ORDER BY n_chars DESC, doc_id) AS keep_id,
       count(*) OVER (PARTITION BY bow_fp) AS group_size,
       doc_id = first_value(doc_id) OVER (PARTITION BY bow_fp ORDER BY n_chars DESC, doc_id)
         AS is_keeper
FROM fp
"""


@register("dedup_priority_keep", _PRIORITY_KEEP_ORACLE, tags=("EXT1",))
def dedup_priority_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection with a keep POLICY (not keep-first):
    group by bag-of-words fingerprint (order-insensitive dup class,
    hashed so the shuffle key is 8 bytes), keep the longest document,
    ties to the lowest doc_id. One window over the fingerprint — the
    policy-driven complement of `dedup_exact_text`'s keep-min."""
    docs = load_table(spark, sf_dir, "documents")
    bow = F.array_join(F.array_sort(F.array_distinct(TX.tokens(F.col("text")))), " ")
    fp = docs.select(
        "doc_id", "source", "n_chars", TX.hash64(bow).alias("bow_fp")
    )
    w = Window.partitionBy("bow_fp").orderBy(F.col("n_chars").desc(), "doc_id")
    keep = F.first("doc_id").over(w)
    return fp.select(
        "doc_id",
        "source",
        "bow_fp",
        keep.alias("keep_id"),
        F.count(F.lit(1)).over(Window.partitionBy("bow_fp")).alias("group_size"),
        (F.col("doc_id") == keep).alias("is_keeper"),
    )


# ---------------------------------------------------------------------------
# End-to-end corpus keep/drop decision (cleaning-pipeline composition)
# ---------------------------------------------------------------------------

from auto_trade_data_pipeline_spark.corpus.ext import (  # noqa: E402
    _TEXT_QUALITY_LANGID_ORACLE,
    text_quality_langid,
)


def _keep_decision_oracle() -> str:
    return f"""
WITH q AS (SELECT doc_id, quality_score FROM ({_TEXT_QUALITY_LANGID_ORACLE}) t),
r AS (SELECT doc_id, dup_gram_ratio, top_token_ratio FROM ({_REPETITION_ORACLE}) t),
c AS (SELECT doc_id, contamination_ratio FROM ({_contamination_oracle()}) t),
k AS (SELECT doc_id, group_size, is_keeper FROM ({_PRIORITY_KEEP_ORACLE}) t),
j AS (
  SELECT q.doc_id, q.quality_score, r.dup_gram_ratio, r.top_token_ratio,
         coalesce(c.contamination_ratio, 0.0) AS contamination_ratio,
         k.group_size, k.is_keeper
  FROM q JOIN r USING (doc_id) JOIN k USING (doc_id)
  LEFT JOIN c USING (doc_id)
)
SELECT *,
       (CASE WHEN quality_score < 2 THEN 1 ELSE 0 END
        + CASE WHEN dup_gram_ratio > 0.5 OR top_token_ratio > 0.3 THEN 2 ELSE 0 END
        + CASE WHEN contamination_ratio >= 0.2 THEN 4 ELSE 0 END
        + CASE WHEN NOT is_keeper THEN 8 ELSE 0 END) AS drop_reasons,
       (quality_score >= 2 AND NOT (dup_gram_ratio > 0.5 OR top_token_ratio > 0.3)
        AND contamination_ratio < 0.2 AND is_keeper) AS keep
FROM j
"""


@register("corpus_keep_decision", _keep_decision_oracle(), tags=("EXT1", "EXT3"))
def corpus_keep_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning pipeline COMPOSED: quality gate + repetition gate
    + contamination gate + canonical-dup gate joined into one
    keep/drop decision per document with a drop-reason bitmask (1 low
    quality, 2 repetitive, 4 contaminated, 8 non-canonical dup).
    Every signal reuses the oracled stage (the oracle nests those
    stages' SQL verbatim); every gate compares ROUNDED values so the
    decision can never diverge across engines. One doc_id-keyed join
    fan-in — at 100 TB each stage is its own shuffle-free or
    uniform-key job and the fan-in is a 4-way co-partitioned join."""
    q = text_quality_langid(spark, sf_dir).select("doc_id", "quality_score")
    r = repetition_profile(spark, sf_dir).select(
        "doc_id", "dup_gram_ratio", "top_token_ratio"
    )
    c = contamination_check(spark, sf_dir).select("doc_id", "contamination_ratio")
    k = dedup_priority_keep(spark, sf_dir).select("doc_id", "group_size", "is_keeper")
    j = (
        q.join(r, "doc_id")
        .join(k, "doc_id")
        .join(c, "doc_id", "left")
        .withColumn(
            "contamination_ratio", F.coalesce("contamination_ratio", F.lit(0.0))
        )
    )
    repetitive = (F.col("dup_gram_ratio") > 0.5) | (F.col("top_token_ratio") > 0.3)
    reasons = (
        F.when(F.col("quality_score") < 2, 1).otherwise(0)
        + F.when(repetitive, 2).otherwise(0)
        + F.when(F.col("contamination_ratio") >= 0.2, 4).otherwise(0)
        + F.when(~F.col("is_keeper"), 8).otherwise(0)
    )
    keep = (
        (F.col("quality_score") >= 2)
        & ~repetitive
        & (F.col("contamination_ratio") < 0.2)
        & F.col("is_keeper")
    )
    return j.select(
        "doc_id",
        "quality_score",
        "dup_gram_ratio",
        "top_token_ratio",
        "contamination_ratio",
        "group_size",
        "is_keeper",
        reasons.alias("drop_reasons"),
        keep.alias("keep"),
    )


# ---------------------------------------------------------------------------
# Relative quality gate + stratified source-mix sampling
# ---------------------------------------------------------------------------

_QUALITY_PERCENTILE_ORACLE = f"""
WITH q AS (SELECT doc_id, quality_score FROM ({_TEXT_QUALITY_LANGID_ORACLE}) t),
d AS (SELECT doc_id, source FROM documents),
r AS (
  SELECT q.doc_id, d.source, q.quality_score,
         round(percent_rank() OVER (PARTITION BY d.source
                                    ORDER BY q.quality_score, q.doc_id), 6) AS q_rank
  FROM q JOIN d USING (doc_id)
)
SELECT doc_id, source, quality_score, q_rank, q_rank >= 0.2 AS keep
FROM r
"""


@register("quality_percentile_gate", _QUALITY_PERCENTILE_ORACLE, tags=("EXT3",))
def quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELATIVE quality filtering — drop each source's bottom 20% by
    quality score rather than a global absolute cut (per-domain
    thresholds are how real corpora are gated: a fandom wiki and
    arXiv have different score distributions). percent_rank over
    (source) with a doc_id tiebreak is deterministic at any
    parallelism; the gate compares the ROUNDED rank on both engines.
    One exchange keyed by source."""
    q = text_quality_langid(spark, sf_dir).select("doc_id", "quality_score")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy("quality_score", "doc_id")
    r = (
        q.join(d, "doc_id")
        .withColumn("q_rank", F.round(F.percent_rank().over(w), 6))
    )
    return r.select(
        "doc_id", "source", "quality_score", "q_rank",
        (F.col("q_rank") >= 0.2).alias("keep"),
    )


_MIX_RATES_SQL = """CASE WHEN CAST(substr(source, 4) AS INT) % 3 = 0 THEN 100
     WHEN CAST(substr(source, 4) AS INT) % 3 = 1 THEN 50
     ELSE 20 END"""


def _mix_sample_oracle() -> str:
    return f"""
WITH d AS (
  SELECT doc_id, source,
         {_MIX_RATES_SQL} AS rate_pct,
         {_duck_hash("source || '|' || CAST(doc_id AS VARCHAR)", "mix")} % 100 AS bucket
  FROM documents
)
SELECT doc_id, source, rate_pct, bucket, bucket < rate_pct AS sampled
FROM d
"""


@register("source_mix_sample", _mix_sample_oracle(), tags=("EXT1", "EXT3"))
def source_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified source-mix sampling — the data-mixing-weights op of
    LLM corpus assembly: each source gets a target rate (here derived
    from the source id: 100% / 50% / 20%), and a document is kept iff
    its salted hash bucket falls under the rate. Deterministic, no
    sampling state, composable with the train/val/test hash split
    (independent salts -> independent strata), and stable under
    corpus growth. Zero shuffle — a per-row expression."""
    docs = load_table(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    rate = (
        F.when(src_num % 3 == 0, 100).when(src_num % 3 == 1, 50).otherwise(20)
    )
    bucket = TX.hash64(
        F.concat(F.col("source"), F.lit("|"), F.col("doc_id").cast("string")),
        salt="mix",
    ) % 100
    return docs.select(
        "doc_id",
        "source",
        rate.alias("rate_pct"),
        bucket.alias("bucket"),
        (bucket < rate).alias("sampled"),
    )


# ---------------------------------------------------------------------------
# Unigram LM quality proxy (CCNet-style perplexity stand-in)
# ---------------------------------------------------------------------------

_LM_SCORE_ORACLE = f"""
WITH {_DOCS_CTE},
tok AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
cnt AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
tot AS (SELECT sum(c) AS s FROM cnt)
SELECT t.doc_id,
       count(*) AS n_tokens,
       round(avg(-ln(cnt.c / (1.0 * tot.s))), 4) AS avg_neg_logprob
FROM tok t JOIN cnt ON t.tok = cnt.tok CROSS JOIN tot
GROUP BY t.doc_id
"""


@register("lm_quality_score", _LM_SCORE_ORACLE, tags=("EXT3",))
def lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model score per document — the CCNet-family
    quality proxy (perplexity under a corpus LM; here the LM is the
    corpus's own unigram distribution, the degenerate-but-real base
    case of the KenLM filter): avg over tokens of -ln p(token).
    Common-token prose scores low (fluent), rare-token noise scores
    high — rank and cut.

    Shape at 100 TB: token explode -> one uniform-key count shuffle
    (the vocabulary), corpus total as a 1-row broadcast, counts
    joined back to the token stream (vocab is dimension-sized ->
    broadcast), one groupBy(doc_id) average. No Python anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok"))
    cnt = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(F.sum("c").alias("s"))
    return (
        tok.join(F.broadcast(cnt), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("c") / F.col("s"))), 4).alias("avg_neg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-based source mixing (mT5 / XLM-R sampling rule)
# ---------------------------------------------------------------------------

TMIX_ALPHA = 0.5
TMIX_TARGET = 0.5

_TMIX_ORACLE = f"""
WITH c AS (SELECT source, count(*) AS n_group FROM documents GROUP BY source),
t AS (SELECT CAST(sum(n_group) AS BIGINT) AS n_total,
             sum(pow(n_group, {TMIX_ALPHA})) AS w FROM c),
r AS (
  SELECT source, n_group,
         CAST(round(least(1.0,
               (pow(n_group, {TMIX_ALPHA}) / t.w) * ({TMIX_TARGET} * t.n_total) / n_group
             ) * 1000000) AS BIGINT) AS rate_ppm
  FROM c, t
)
SELECT d.doc_id, d.source, r.n_group, r.rate_ppm,
       ({_duck_hash("d.source || '|' || CAST(d.doc_id AS VARCHAR)", "tmix")} % 1000000)
         < r.rate_ppm AS sampled
FROM documents d JOIN r USING (source)
"""


@register("temperature_mix_sample", _TMIX_ORACLE, tags=("EXT3",))
def temperature_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (mT5/XLM-R: keep source s with
    probability ∝ n_s^0.5, renormalized to a 50% total budget, capped
    at 1) as deterministic per-row keep decisions — the data-driven
    counterpart of source_mix_sample's fixed rates: dominant sources
    down-sample, small sources keep everything
    (operators/clean.py:temperature_sampling_rates). One broadcast
    rate table; the corpus never shuffles. The ppm integer threshold
    makes the keep decision exact cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    out = CL.temperature_sampling_rates(
        docs, "source", "doc_id", alpha=TMIX_ALPHA, target_frac=TMIX_TARGET
    )
    return out.select("doc_id", "source", "n_group", "rate_ppm", "sampled")


# ---------------------------------------------------------------------------
# In-engine trained quality classifier (hashed-feature GD)
# ---------------------------------------------------------------------------

CLS_BUCKETS = 16
CLS_ITERS = 3
CLS_LR = 5.0


def _cls_train_ctes() -> str:
    """CTE body of the GD training loop (ends with ``cls_w{iters}``,
    the trained weights) — shared by the batch classifier oracle and
    the streaming-scoring oracle."""
    h = _duck_hash("tok", "feat")
    nb, iters, lr = CLS_BUCKETS, CLS_ITERS, CLS_LR
    ctes = [
        "cls_base AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y, ts FROM toks)",
        "cls_tok AS (SELECT doc_id, len(ts) AS n, unnest(ts) AS tok FROM cls_base WHERE len(ts) > 0)",
        f"""cls_feat AS (
  SELECT doc_id, bucket, CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS val FROM (
    SELECT doc_id, CAST({h} % {nb} AS INTEGER) AS bucket, n, count(*) AS c
    FROM cls_tok GROUP BY doc_id, bucket, n
  )
  UNION ALL
  SELECT doc_id, {nb} AS bucket, 1.0 AS val FROM cls_base WHERE len(ts) > 0
)""",
        "cls_tot AS (SELECT count(*) AS N FROM docs)",
        f"cls_w0 AS (SELECT CAST(i AS INTEGER) AS bucket, 0.0 AS w FROM range(0, {nb + 1}) t(i))",
    ]
    for i in range(iters):
        ctes += [
            f"""cls_z{i} AS (
  SELECT f.doc_id,
         CAST(sum(CAST(round(f.val * w.w * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0 AS z
  FROM cls_feat f JOIN cls_w{i} w USING (bucket) GROUP BY f.doc_id
)""",
            f"""cls_r{i} AS (
  SELECT b.doc_id, (0.5 + (z.z / 2) / (1 + abs(z.z))) - b.y AS r
  FROM cls_z{i} z JOIN cls_base b USING (doc_id)
)""",
            f"""cls_g{i} AS (
  SELECT f.bucket,
         CAST(sum(CAST(round(r.r * f.val * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0 AS g
  FROM cls_feat f JOIN cls_r{i} r USING (doc_id) GROUP BY f.bucket
)""",
            f"""cls_w{i + 1} AS (
  SELECT w.bucket, w.w - {lr} * coalesce(g.g, 0.0) / (SELECT N FROM cls_tot) AS w
  FROM cls_w{i} w LEFT JOIN cls_g{i} g USING (bucket)
)""",
        ]
    return ",\n".join(ctes)


def _cls_oracle() -> str:
    """DuckDB twin of operators.classifier.train_logistic_gd: the
    SAME hashed features, rational sigmoid, integer-scaled margin and
    gradient sums, and iteration-for-iteration weight updates — the
    distributed training loop itself is hash-checked cross-engine."""
    body = ",\n".join(
        [
            _cls_train_ctes(),
            f"""cls_zf AS (
  SELECT f.doc_id,
         CAST(sum(CAST(round(f.val * w.w * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0 AS z
  FROM cls_feat f JOIN cls_w{CLS_ITERS} w USING (bucket) GROUP BY f.doc_id
)""",
        ]
    )
    zc = "coalesce(z.z, 0.0)"
    score = f"round(0.5 + ({zc} / 2) / (1 + abs({zc})), 6)"
    return f"""
WITH {_DOCS_CTE},
{body}
SELECT d.doc_id,
       CAST(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS INTEGER) AS label_en,
       round({zc}, 6) AS margin,
       {score} AS score,
       CAST(CASE WHEN {score} >= 0.5 THEN 1 ELSE 0 END AS INTEGER) AS predicted
FROM docs d LEFT JOIN cls_zf z USING (doc_id)
"""


@register("quality_classifier_gd", _cls_oracle(), tags=("EXT3",))
def quality_classifier_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality/language filter trained IN the engine: a
    fast-sigmoid linear classifier over hashed bag-of-words features
    (label: lang == 'en'), fit by 3 full-batch gradient-descent
    iterations of DataFrame ops (operators/classifier.py), then used
    to score every document. The oracle re-runs the whole training
    loop in SQL — weights, margins, and scores are bit-identical
    cross-engine (rational sigmoid + integer-scaled sums; no
    transcendental functions anywhere)."""
    from auto_trade_data_pipeline_spark.operators import classifier as CF

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", TX.tokens(F.col("text")).alias("__ts"))
    feats = scoped_persist(CF.hashed_features(base, "__ts", "doc_id", n_buckets=CLS_BUCKETS))
    labels = docs.select(
        "doc_id", F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y")
    )
    w = CF.train_logistic_gd(
        feats, labels, "doc_id", n_buckets=CLS_BUCKETS, iters=CLS_ITERS, lr=CLS_LR
    )
    scored = CF.predict_scores(feats, w, docs, "doc_id")
    return scored.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).cast("int").alias("label_en"),
        "margin",
        "score",
        F.when(F.col("score") >= 0.5, 1).otherwise(0).cast("int").alias("predicted"),
    )


# ---------------------------------------------------------------------------
# Per-source contribution cap (exact stratified sampling)
# ---------------------------------------------------------------------------

CAP_PER_SOURCE = 60

_CAP_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {_duck_hash("CAST(doc_id AS VARCHAR)", "cap")}, doc_id
         ) AS pick_order
  FROM documents
)
SELECT doc_id, source, CAST(pick_order AS BIGINT) AS pick_order,
       CAST(CASE WHEN pick_order <= {CAP_PER_SOURCE} THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM ranked
"""


@register("source_cap_sample", _CAP_ORACLE, tags=("EXT3",))
def source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contribution cap — the 'no domain dominates'
    dataset rule (FineWeb/C4-style): keep exactly min(cap, n_s)
    documents per source, selected by salted-hash order so the choice
    is uniform, reproducible, and STABLE under corpus growth (a new
    document displaces at most one pick; no reservoir state, no
    randomness). One window over the source key; emits every row with
    its pick_order and keep flag. At 100 TB: sources are the natural
    partition key, the hash order is computed scan-side, and the cap
    needs no global coordination."""
    from auto_trade_data_pipeline_spark.operators.text import hash64

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        hash64(F.col("doc_id").cast("string"), salt="cap"), "doc_id"
    )
    return docs.select(
        "doc_id",
        "source",
        F.row_number().over(w).cast("long").alias("pick_order"),
    ).withColumn(
        "kept",
        F.when(F.col("pick_order") <= CAP_PER_SOURCE, 1).otherwise(0).cast("int"),
    )


# ---------------------------------------------------------------------------
# In-engine BPE tokenizer training (distributed pair-merge loop)
# ---------------------------------------------------------------------------

BPE_ITERS = 8
BPE_PASSES = 3


def _bpe_ctes() -> str:
    """CTE chain of the BPE training loop (ends at ``bpe_s{BPE_ITERS}``,
    the final segmentation of every word) — shared by the training
    oracle and the encode-stats oracle."""
    ctes = [
        """bpe_w AS MATERIALIZED (
  SELECT tok AS word, CAST(count(*) AS BIGINT) AS wcount
  FROM (SELECT unnest(ts) AS tok FROM toks) GROUP BY tok
)""",
        """bpe_s0 AS MATERIALIZED (
  SELECT word, wcount, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq FROM bpe_w
)""",
    ]
    for i in range(BPE_ITERS):
        nested = "seq"
        for _ in range(BPE_PASSES):
            nested = (
                f"replace({nested}, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ')"
            )
        ctes += [
            f"""bpe_p{i} AS (
  SELECT a, b, CAST(sum(wcount) AS BIGINT) AS cnt FROM (
    SELECT wcount, t[j] AS a, t[j + 1] AS b FROM (
      SELECT wcount, t, unnest(range(1, len(t))) AS j
      FROM (SELECT wcount, str_split(trim(seq), ' ') AS t FROM bpe_s{i})
    )
  ) GROUP BY a, b
)""",
            f"bpe_b{i} AS MATERIALIZED (SELECT a, b, cnt FROM bpe_p{i} ORDER BY cnt DESC, a, b LIMIT 1)",
            f"""bpe_s{i + 1} AS MATERIALIZED (
  SELECT word, wcount, {nested} AS seq FROM bpe_s{i}, bpe_b{i}
)""",
        ]
    return ",\n".join(ctes)


def _bpe_oracle() -> str:
    """DuckDB twin of operators.bpe.bpe_train: the same word
    histogram, character-split seed segmentation, and
    iteration-for-iteration pair-count -> argmax -> literal-replace
    merge loop — the distributed tokenizer TRAINING itself is
    hash-checked cross-engine."""
    merge_rows = "\nUNION ALL\n".join(
        f"SELECT 'merge' AS row_type, CAST({i + 1} AS INTEGER) AS idx, a || b AS token, "
        f"a || '+' || b AS detail, cnt AS freq FROM bpe_b{i}"
        for i in range(BPE_ITERS)
    )
    return f"""
WITH {_DOCS_CTE},
{_bpe_ctes()}
{merge_rows}
UNION ALL
SELECT 'vocab' AS row_type, CAST(0 AS INTEGER) AS idx, tok AS token, '' AS detail,
       CAST(sum(wcount) AS BIGINT) AS freq
FROM (SELECT wcount, unnest(str_split(trim(seq), ' ')) AS tok FROM bpe_s{BPE_ITERS})
GROUP BY tok
UNION ALL
SELECT 'word' AS row_type, CAST(0 AS INTEGER) AS idx, word AS token, trim(seq) AS detail,
       wcount AS freq
FROM bpe_s{BPE_ITERS}
"""


@register("bpe_train_merges", _bpe_oracle(), tags=("EXT3", "bench"))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training IN the engine: learn 8 BPE merges over the
    corpus word histogram by the distributed pair-count -> argmax ->
    merge loop (operators/bpe.py — per iteration ONE job: a
    uniform-key shuffle over the histogram ending in a 1-row
    TakeOrdered whose collected argmax is inlined as literals into
    the merge projection; lineage bounded by a lazy checkpoint
    cadence). Emits the learned
    merge table, the final weighted sub-token vocabulary, AND every
    word's final segmentation — so the oracle (which replays the
    whole training loop in SQL) checks each iteration's argmax and
    every merge application, not just the end state."""
    from auto_trade_data_pipeline_spark.operators.bpe import bpe_train, word_histogram

    # NO fan_out_scan here (round-10 adjudication of the r9 change,
    # which the driver measured at -18%): the histogram build is ONE
    # of ~17 jobs in this query — 8 argmax iterations + the final
    # consumers dominate — so the round-robin exchange's fixed cost
    # exceeded the one serialized tokenize's saving. Interleaved A/B
    # (5 rounds, sf0.1): with fan-out 2.29-2.51 s, without
    # 1.90-2.26 s (every clean-ambient pair favoring removal) —
    # reverted.
    docs = load_table(spark, sf_dir, "documents")
    merges, segmented = bpe_train(
        word_histogram(docs), iters=BPE_ITERS, replace_passes=BPE_PASSES
    )
    m = merges.select(
        F.lit("merge").alias("row_type"),
        F.col("merge_idx").alias("idx"),
        F.concat("left", "right").alias("token"),
        F.concat(F.col("left"), F.lit("+"), F.col("right")).alias("detail"),
        F.col("pair_count").alias("freq"),
    )
    vocab = (
        segmented.select(F.explode(F.split(F.trim(F.col("seq")), " ")).alias("token"), "wcount")
        .groupBy("token")
        .agg(F.sum("wcount").alias("freq"))
        .select(
            F.lit("vocab").alias("row_type"),
            F.lit(0).alias("idx"),
            "token",
            F.lit("").alias("detail"),
            "freq",
        )
    )
    wrows = segmented.select(
        F.lit("word").alias("row_type"),
        F.lit(0).alias("idx"),
        F.col("word").alias("token"),
        F.trim(F.col("seq")).alias("detail"),
        F.col("wcount").alias("freq"),
    )
    return m.unionByName(vocab).unionByName(wrows)


_BPE_ENCODE_ORACLE = f"""
WITH {_DOCS_CTE},
{_bpe_ctes()}
, enc AS (
  SELECT doc_id, tok FROM (SELECT doc_id, unnest(ts) AS tok FROM toks)
),
seg AS (
  SELECT word, len(str_split(trim(seq), ' ')) AS n_sub FROM bpe_s{BPE_ITERS}
)
SELECT e.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(s.n_sub) AS BIGINT) AS n_subtokens,
       CAST(sum(len(e.tok)) AS BIGINT) AS n_chars,
       CAST((CAST(sum(len(e.tok)) AS BIGINT) * 1000000)
            // CAST(sum(s.n_sub) AS BIGINT) AS BIGINT) AS chars_per_subtoken_ppm
FROM enc e JOIN seg s ON s.word = e.tok
GROUP BY e.doc_id
"""


@register("bpe_encode_stats", _BPE_ENCODE_ORACLE, tags=("EXT3",))
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: encode every document with the
    just-trained BPE merges and report per-document subtoken counts
    and the chars-per-subtoken compression ratio (the fertility
    metric tokenizer work optimizes). The encode is a broadcast join
    of the corpus token stream against the dimension-sized trained
    segmentation table (word -> subtoken count) — the 100 TB shape:
    the model rides a broadcast, the corpus is scanned once, and the
    per-doc aggregation shuffles uniform doc keys. The ratio is
    integer floor-division in ppm, exact cross-engine; the oracle
    re-runs the whole training loop before encoding."""
    from auto_trade_data_pipeline_spark.operators.bpe import bpe_train, word_histogram

    docs = fan_out_scan(load_table(spark, sf_dir, "documents"))
    _, segmented = bpe_train(
        word_histogram(docs), iters=BPE_ITERS, replace_passes=BPE_PASSES
    )
    seg = segmented.select(
        "word", F.size(F.split(F.trim(F.col("seq")), " ")).alias("n_sub")
    )
    enc = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok")
    )
    agg = (
        enc.join(F.broadcast(seg), enc.tok == seg.word)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").alias("n_subtokens"),
            F.sum(F.length("tok")).alias("n_chars"),
        )
    )
    return agg.select(
        "doc_id",
        "n_words",
        "n_subtokens",
        "n_chars",
        F.expr("(n_chars * 1000000) div n_subtokens").alias("chars_per_subtoken_ppm"),
    )


# ---------------------------------------------------------------------------
# Sliced model evaluation (per-source confusion matrix off the GD model)
# ---------------------------------------------------------------------------


def _cls_eval_oracle() -> str:
    body = ",\n".join(
        [
            _cls_train_ctes(),
            f"""cls_zf AS (
  SELECT f.doc_id,
         CAST(sum(CAST(round(f.val * w.w * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0 AS z
  FROM cls_feat f JOIN cls_w{CLS_ITERS} w USING (bucket) GROUP BY f.doc_id
)""",
        ]
    )
    zc = "coalesce(z.z, 0.0)"
    score = f"round(0.5 + ({zc} / 2) / (1 + abs({zc})), 6)"
    return f"""
WITH {_DOCS_CTE},
{body},
pred AS (
  SELECT d.source,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
         CASE WHEN {score} >= 0.5 THEN 1 ELSE 0 END AS p
  FROM docs d LEFT JOIN cls_zf z USING (doc_id)
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(sum(CASE WHEN y = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(sum(CASE WHEN y = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       CAST(sum(CASE WHEN y = 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       CAST((sum(CASE WHEN y = p THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT)
         AS accuracy_ppm
FROM pred GROUP BY source
"""


@register("classifier_eval_slices", _cls_eval_oracle(), tags=("EXT3",))
def classifier_eval_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliced model evaluation — the per-cohort quality gate an MLOps
    pipeline runs before trusting a filter model on every data
    source: train the same in-engine GD classifier, score every
    document, and report the confusion matrix (tp/fp/fn/tn) and
    integer-ppm accuracy PER SOURCE. A model that looks fine globally
    but fails on one source shows up as a bad slice row. The oracle
    re-runs the training loop AND the slicing, so the whole
    train -> predict -> evaluate chain is hash-checked. One grouped
    aggregate over the scored table; slices are dimension-sized."""
    scored = quality_classifier_gd(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = scored.join(docs, "doc_id")
    y, p = F.col("label_en"), F.col("predicted")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when((y == 1) & (p == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((y == 0) & (p == 1), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((y == 1) & (p == 0), 1).otherwise(0)).alias("fn"),
        F.sum(F.when((y == 0) & (p == 0), 1).otherwise(0)).alias("tn"),
        F.expr(
            "(sum(CASE WHEN label_en = predicted THEN 1 ELSE 0 END) * 1000000)"
            " div count(*)"
        ).alias("accuracy_ppm"),
    )


# ---------------------------------------------------------------------------
# Calibration report (reliability bins off the GD model)
# ---------------------------------------------------------------------------


def _cls_calibration_oracle() -> str:
    body = ",\n".join(
        [
            _cls_train_ctes(),
            f"""cls_zf AS (
  SELECT f.doc_id,
         CAST(sum(CAST(round(f.val * w.w * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0 AS z
  FROM cls_feat f JOIN cls_w{CLS_ITERS} w USING (bucket) GROUP BY f.doc_id
)""",
        ]
    )
    zc = "coalesce(z.z, 0.0)"
    score_e6 = f"CAST(round((0.5 + ({zc} / 2) / (1 + abs({zc}))) * 1000000) AS BIGINT)"
    return f"""
WITH {_DOCS_CTE},
{body},
sc AS (
  SELECT {score_e6} // 1000 AS bin,
         {score_e6} AS s_e6,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM docs d LEFT JOIN cls_zf z USING (doc_id)
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(s_e6) // count(*) AS BIGINT) AS mean_score_e6,
       CAST((sum(y) * 1000000) // count(*) AS BIGINT) AS observed_rate_e6,
       CAST(abs(sum(s_e6) // count(*) - (sum(y) * 1000000) // count(*)) AS BIGINT)
         AS gap_e6
FROM sc GROUP BY bin
"""


@register("classifier_calibration", _cls_calibration_oracle(), tags=("EXT3",))
def classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability report for the in-engine classifier:
    scores bucketed into 0.001-wide bins (fine enough to resolve this
    model's tight score range), each with its mean predicted score
    and observed positive rate (both integer-e6) and the calibration
    gap — the does-0.8-mean-80% check run before using scores as
    sampling weights or thresholds. Every quantity is integer
    arithmetic off the deterministic score, so the full
    train -> score -> bin -> compare chain is hash-checked. One
    grouped aggregate; bins are dimension-sized."""
    scored = quality_classifier_gd(spark, sf_dir)
    s_e6 = F.round(F.col("score") * 1000000, 0).cast("long")
    sc = scored.select(
        F.expr("cast(round(score * 1000000, 0) as bigint) div 1000")
        .cast("long")
        .alias("bin"),
        s_e6.alias("s_e6"),
        F.col("label_en").cast("long").alias("y"),
    )
    return sc.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(s_e6) div count(*)").alias("mean_score_e6"),
        F.expr("(sum(y) * 1000000) div count(*)").alias("observed_rate_e6"),
        F.expr(
            "abs(sum(s_e6) div count(*) - (sum(y) * 1000000) div count(*))"
        ).alias("gap_e6"),
    )


# ---------------------------------------------------------------------------
# Systematic PPS sampling (probability proportional to size)
# ---------------------------------------------------------------------------

PPS_TARGET = 100

_PPS_ORACLE = f"""
WITH {_DOCS_CTE},
w AS (
  SELECT doc_id, source, CAST(greatest(n_chars, 1) AS BIGINT) AS wt,
         {_duck_hash("CAST(doc_id AS VARCHAR)", "pps")} AS hv
  FROM docs
),
c AS (
  SELECT doc_id, source, wt, hv,
         CAST(sum(wt) OVER (ORDER BY hv, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM w
),
t AS (SELECT CAST(sum(wt) AS BIGINT) AS total FROM w),
s AS (SELECT greatest(CAST(total // {PPS_TARGET} AS BIGINT), 1) AS step FROM t)
SELECT doc_id, source, wt, cum,
       CAST(CASE WHEN cum // (SELECT step FROM s)
                  > (cum - wt) // (SELECT step FROM s) THEN 1 ELSE 0 END AS INTEGER)
         AS sampled
FROM c
"""


@register("pps_sample_docs", _PPS_ORACLE, tags=("EXT3",))
def pps_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sampling (probability proportional to size —
    Madow's method): documents are laid on a line in salted-hash
    order with segment length = their weight (chars); every crossing
    of a step-sized gridline picks a document, so selection
    probability is proportional to weight, large documents are
    picked with certainty, and the draw is deterministic,
    reproducible, and exactly sized (±1) — the
    weight-aware counterpart of the hash-threshold samplers
    (`source_mix_sample`, `source_cap_sample`). All arithmetic is
    BIGINT cumulative sums + floor division, exact cross-engine.
    Execution: ONE running-sum window over the hash order — at 100 TB
    the same range-partitioned prefix-sum layout as sequence packing
    (`operators/text.py:pack_sequences`), no global gather."""
    from auto_trade_data_pipeline_spark.operators.ranking import global_running_sum
    from auto_trade_data_pipeline_spark.operators.text import hash64

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        "source",
        F.greatest(F.col("n_chars"), F.lit(1)).cast("long").alias("wt"),
        hash64(F.col("doc_id").cast("string"), salt="pps").alias("hv"),
    )
    # Distributed prefix sum — NOT a global sum() OVER (ORDER BY ...)
    # window, which would plan as Exchange SinglePartition.
    c = global_running_sum(w, ["hv", "doc_id"], "wt", out_col="cum")
    tot = w.agg(
        F.greatest(
            F.expr(f"sum(wt) div {PPS_TARGET}"), F.lit(1).cast("long")
        ).alias("step")
    )
    out = c.crossJoin(F.broadcast(tot))
    sampled = F.when(
        F.expr("cum div step") > F.expr("(cum - wt) div step"), 1
    ).otherwise(0)
    return out.select(
        "doc_id", "source", "wt", "cum", sampled.cast("int").alias("sampled")
    )


# ---------------------------------------------------------------------------
# Dataset card (per-source corpus documentation, generated in-engine)
# ---------------------------------------------------------------------------

_DATASET_CARD_ORACLE = f"""
WITH {_DOCS_CTE},
base AS (
  SELECT doc_id, source, lang, n_chars, len(ts) AS n_toks,
         {_duck_hash("lt")} AS th
  FROM toks
),
dup AS (
  SELECT source, th, count(*) AS c FROM base GROUP BY source, th
)
SELECT b.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(b.n_toks) AS BIGINT) AS total_tokens,
       CAST(sum(b.n_chars) AS BIGINT) AS total_chars,
       CAST(sum(b.n_toks) // count(*) AS BIGINT) AS mean_tokens,
       CAST((sum(CASE WHEN b.lang = 'en' THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT)
         AS en_ppm,
       CAST((sum(CASE WHEN d.c > 1 THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT)
         AS exact_dup_ppm
FROM base b JOIN dup d ON d.source = b.source AND d.th = b.th
GROUP BY b.source
"""


@register("dataset_card", _DATASET_CARD_ORACLE, tags=("EXT3",))
def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card generated IN the engine — the
    documentation table shipped alongside a training corpus: document
    and token volumes, mean length, language share, and the
    within-source exact-duplicate rate (docs whose normalized-text
    hash appears more than once), every rate an exact integer ppm.
    One scan + one hash-keyed dup count + one grouped rollup; at
    100 TB each aggregate is map-side combinable and the card is
    sources-sized."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.size(TX.tokens(F.col("text"))).alias("n_toks"),
        TX.hash64(F.lower(F.col("text"))).alias("th"),
    )
    dup = base.groupBy("source", "th").agg(F.count(F.lit(1)).alias("c"))
    j = base.join(dup, ["source", "th"])
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.expr("sum(n_toks) div count(*)").alias("mean_tokens"),
        F.expr(
            "(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1000000) div count(*)"
        ).alias("en_ppm"),
        F.expr(
            "(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) * 1000000) div count(*)"
        ).alias("exact_dup_ppm"),
    )


# ---------------------------------------------------------------------------
# Boilerplate span detection + removal (CCNet/RefinedWeb-style)
# ---------------------------------------------------------------------------

#: Boilerplate unit: non-overlapping 2-token spans (the corpus has no
#: line structure, so fixed spans stand in for lines); a span is
#: boilerplate within a source when it appears in >= this percent of
#: the source's documents. 12% actually fires on the synthetic
#: word-soup corpus (max span df is 24% of a source's docs; a real
#: line-structured crawl would run 50%+) — a threshold that never
#: flags would leave the removal path oracle-untested.
BOILER_SPAN = 2
BOILER_DF_PCT = 12


def boiler_spans(docs: DataFrame) -> DataFrame:
    """(source, doc_id, spans): each document's ordered fixed-stride
    BOILER_SPAN-token spans (empty array for empty docs). Shared by
    `boilerplate_span_report` and its strategy-equality test so the
    span construction has one source of truth."""
    toks = docs.select("source", "doc_id", TX.tokens(F.col("text")).alias("ts"))
    n = F.size("ts")
    spans_expr = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), ((n - 1) / BOILER_SPAN).cast("int")),
            lambda i: F.array_join(F.slice("ts", i * BOILER_SPAN + 1, BOILER_SPAN), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select("source", "doc_id", spans_expr.alias("spans"))


def boiler_flagged(sp: DataFrame) -> DataFrame:
    """(source, flagged): per source, the spans whose document
    frequency reaches BOILER_DF_PCT of the source's docs — one
    distinct-span explode + a (source, span) hash-agg."""
    dfreq = (
        sp.select("source", "doc_id", F.explode(F.array_distinct("spans")).alias("span"))
        .groupBy("source", "span")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    nd = sp.groupBy("source").agg(F.count(F.lit(1)).alias("ndocs"))
    return (
        dfreq.join(nd, "source")
        .where(F.col("df") * 100 >= F.col("ndocs") * BOILER_DF_PCT)
        .groupBy("source")
        .agg(F.collect_set("span").alias("flagged"))
    )


_BOILER_SPANS_DUCK = f"""
CASE WHEN len(ts) > 0 THEN
  list_transform(range(0, ((len(ts) - 1) // {BOILER_SPAN}) + 1),
    i -> array_to_string(
      list_slice(ts, i * {BOILER_SPAN} + 1,
                 least(i * {BOILER_SPAN} + {BOILER_SPAN}, len(ts))), ' '))
ELSE CAST([] AS VARCHAR[]) END"""

_BOILERPLATE_ORACLE = f"""
WITH {_DOCS_CTE},
sp AS (SELECT source, doc_id, {_BOILER_SPANS_DUCK} AS spans FROM toks),
dfreq AS (
  SELECT source, span, count(*) AS df
  FROM (SELECT source, doc_id, unnest(list_distinct(spans)) AS span FROM sp)
  GROUP BY source, span
),
nd AS (SELECT source, count(*) AS ndocs FROM docs GROUP BY source),
fl AS (
  SELECT source, list(span) AS flagged
  FROM dfreq JOIN nd USING (source)
  WHERE df * 100 >= ndocs * {BOILER_DF_PCT}
  GROUP BY source
),
k AS (
  SELECT s.source, s.doc_id, s.spans,
         list_filter(s.spans,
           x -> NOT list_contains(coalesce(f.flagged, CAST([] AS VARCHAR[])), x)
         ) AS kept
  FROM sp s LEFT JOIN fl f USING (source)
)
SELECT source, doc_id,
       len(spans) AS n_spans,
       len(spans) - len(kept) AS boiler_spans,
       CASE WHEN len(spans) > 0
            THEN ((len(spans) - len(kept)) * 10000) // len(spans)
            ELSE 0 END AS boiler_bp,
       length(array_to_string(kept, ' ')) AS kept_len,
       {_duck_hash("array_to_string(kept, ' ')")} AS kept_hash
FROM k
"""


@register("boilerplate_span_report", _BOILERPLATE_ORACLE, tags=("EXT3",))
def boilerplate_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate detection and removal, the CCNet /
    RefinedWeb cleaning stage re-expressed over fixed 2-token spans
    (the synthetic corpus has no line structure): a span whose
    document frequency within its source reaches ``BOILER_DF_PCT`` of
    the source's documents is boilerplate; every document reports its
    span count, boilerplate share (integer basis points — floor
    division, the round()-trap-free form), and the length + 60-bit
    hash of its text with boilerplate spans removed.

    Scale shape: document frequency is ONE explode of distinct spans
    per doc plus a (source, span)-keyed hash-agg (map-side
    combinable); the flagged sets come back as a SOURCES-sized
    dimension (collect_set per source), broadcast back onto documents
    — the corpus-sized side never shuffles twice and the blobs never
    carry span arrays through an exchange. At 100 TB the flagged set
    per source is bounded by the df threshold itself: every flagged
    span occupies >= BOILER_DF_PCT% of the source's docs, and a doc
    contributes each distinct span once, so a source with ndocs docs
    averaging k spans each can flag at most ndocs*k / (ndocs *
    BOILER_DF_PCT/100) = k*100/BOILER_DF_PCT distinct spans (~8.3k at
    the 12% threshold) — spans-per-doc-sized, not corpus-sized, so
    the broadcast stays small by construction (and grows tighter, not
    looser, if the threshold is raised toward a real crawl's 50%)."""
    docs = load_table(spark, sf_dir, "documents")
    sp = scoped_persist(boiler_spans(docs))
    flagged = boiler_flagged(sp)
    # Removal strategy: the broadcast array-filter (zero extra
    # shuffle) — right while flagged sets are tens of spans, as here.
    # On a real crawl with ~10^3-10^4 flagged spans per source, pass
    # strategy="exploded" (posexplode + broadcast anti-join + pos-
    # ordered re-agg: linear per doc, one extra narrow exchange) —
    # output-identical, equality pinned in
    # tests/test_boilerplate_strategies.py.
    k = CL.remove_flagged_spans(sp, flagged, strategy="filter")
    kept_text = F.array_join("kept", " ")
    n_spans = F.size("spans").cast("long")
    boiler = (F.size("spans") - F.size("kept")).cast("long")
    return k.select(
        "source",
        "doc_id",
        n_spans.alias("n_spans"),
        boiler.alias("boiler_spans"),
        # Floor division on non-negative operands — identical in both
        # engines (ORACLES.md: round() is the trap, div/`//` is not).
        F.when(n_spans > 0, F.expr(
            "(CAST(size(spans) - size(kept) AS BIGINT) * 10000) "
            "div CAST(size(spans) AS BIGINT)"
        )).otherwise(F.lit(0).cast("long")).alias("boiler_bp"),
        F.length(kept_text).cast("long").alias("kept_len"),
        TX.hash64(kept_text).alias("kept_hash"),
    )


# ---------------------------------------------------------------------------
# Sequence packing (context-window prep)
# ---------------------------------------------------------------------------

#: Context-window capacity (tokens) for the packing query — sized so
#: the synthetic 30-100-token documents pack several per bin.
PACK_CAPACITY = 256

#: The packing scan for ``scan_by_key``: each document's bin id.
_PACK_SCAN = ("bigint", lambda pdf: greedy_pack(pdf["n_tokens"], PACK_CAPACITY)[0])

_PACKING_ORACLE = f"""
WITH {_DOCS_CTE},
tc AS (
  SELECT source, doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM toks
),
tapes AS (
  SELECT source, list(n_tokens ORDER BY doc_id) AS tape FROM tc GROUP BY source
)
SELECT t.source, t.doc_id, t.n_tokens,
       list_reduce(
         list_transform(list_slice(p.tape, 1, t.rn),
                        v -> [CAST(1 AS BIGINT), CAST(v AS BIGINT)]),
         (acc, el) -> CASE WHEN acc[2] + el[2] > {PACK_CAPACITY}
                           THEN [acc[1] + 1, el[2]]
                           ELSE [acc[1], acc[2] + el[2]] END
       )[1] AS bin_id
FROM tc t JOIN tapes p USING (source)
"""


@register("sequence_packing", _PACKING_ORACLE, tags=("EXT3", "W3"))
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy DOC-ATOMIC sequence packing — assign documents (in
    doc_id order within source) to fixed-capacity context windows
    without splitting any document, the SFT/instruction-tuning
    layout. The complement of operators/text.py:pack_sequences
    (concat-and-chunk, where the token stream is sliced and documents
    straddle sequence boundaries — pure window math): keeping docs
    intact makes the fill level genuinely recursive, so this one is a
    scan. The recursion (a bin absorbs a doc while fill stays <=
    capacity, else a new bin opens) is operators/scans.py:greedy_pack,
    run per source by scan_by_key; the DuckDB oracle replays it per
    row as a prefix list_reduce with a LIST accumulator ([bin, fill] —
    ORACLES.md's coupled-recursion rule). Integer-exact on both sides,
    so the parity is bit-free of FP concerns.

    Scale shape: one pass per source — per-source serial by
    definition (packing order is the spec). At 100 TB you pack per
    (source, shard) with shard-local bin ids exactly like this scan,
    then offset bin ids by a per-shard prefix sum (the
    global_rank_orders recipe) if globally unique ids are needed."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "doc_id", F.size(TX.tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    out = scan_by_key(toks, ["source"], "doc_id", ["n_tokens"], {"bin_id": _PACK_SCAN})
    return out.select("source", "doc_id", "n_tokens", "bin_id")


#: Shards per source for the sharded packing query — the 100 TB form.
PACK_SHARDS = 4

_PACKING_SHARDED_ORACLE = f"""
WITH {_DOCS_CTE},
tc AS (
  SELECT source, doc_id % {PACK_SHARDS} AS shard, doc_id,
         CAST(len(ts) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY source, doc_id % {PACK_SHARDS}
                            ORDER BY doc_id) AS rn
  FROM toks
),
tapes AS (
  SELECT source, shard, list(n_tokens ORDER BY doc_id) AS tape
  FROM tc GROUP BY source, shard
),
local AS (
  SELECT t.source, t.shard, t.doc_id, t.n_tokens,
         list_reduce(
           list_transform(list_slice(p.tape, 1, t.rn),
                          v -> [CAST(1 AS BIGINT), CAST(v AS BIGINT)]),
           (acc, el) -> CASE WHEN acc[2] + el[2] > {PACK_CAPACITY}
                             THEN [acc[1] + 1, el[2]]
                             ELSE [acc[1], acc[2] + el[2]] END
         )[1] AS bin_local
  FROM tc t JOIN tapes p USING (source, shard)
),
nb AS (SELECT source, shard, max(bin_local) AS n_bins FROM local GROUP BY source, shard),
off AS (
  SELECT source, shard,
         coalesce(sum(n_bins) OVER (ORDER BY source, shard
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS bin_offset
  FROM nb
)
SELECT l.source, CAST(l.shard AS BIGINT) AS shard, l.doc_id, l.n_tokens,
       l.bin_local,
       -- the windowed sum is HUGEINT; pin the driver-visible dtype
       CAST(l.bin_local + o.bin_offset AS BIGINT) AS bin_global
FROM local l JOIN off o USING (source, shard)
"""


@register("sequence_packing_sharded", _PACKING_SHARDED_ORACLE, tags=("EXT3", "W3"))
def sequence_packing_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``sequence_packing``, materialized (its
    docstring's scale recipe as tested code instead of prose): the
    corpus packs per (source, shard) — shard-parallel, so the fold's
    serial recursion never exceeds a shard's tape — with shard-local
    bin ids made GLOBALLY unique by an exclusive prefix sum of
    per-shard bin counts over the (source, shard) dimension (the
    global_rank_orders recipe: the offsets frame is
    sources x shards-sized, so its ordering window is dimension-sized,
    never a corpus-wide SinglePartition funnel; offsets broadcast
    back). Shard = doc_id % PACK_SHARDS — deterministic and
    oracle-replayable; at real scale the shard is the ingest split.

    One packing exchange by (source, shard) + one dimension-sized
    window + one broadcast join: the corpus-sized side shuffles once,
    exactly like the unsharded scan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        "doc_id",
        F.size(TX.tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    local = scan_by_key(
        toks, ["source", "shard"], "doc_id", ["n_tokens"], {"bin_local": _PACK_SCAN}
    )
    nb = local.groupBy("source", "shard").agg(F.max("bin_local").alias("n_bins"))
    w = (
        Window.orderBy("source", "shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = nb.select(
        "source",
        "shard",
        F.coalesce(F.sum("n_bins").over(w), F.lit(0)).alias("bin_offset"),
    )
    return (
        local.join(F.broadcast(off), ["source", "shard"])
        .select(
            "source",
            F.col("shard").cast("long").alias("shard"),
            "doc_id",
            "n_tokens",
            "bin_local",
            (F.col("bin_local") + F.col("bin_offset")).alias("bin_global"),
        )
    )


_PACKING_EFFICIENCY_ORACLE = f"""
WITH packed AS ({_PACKING_ORACLE})
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(bin_id) AS BIGINT) AS n_bins,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(count(*) FILTER (n_tokens > {PACK_CAPACITY}) AS BIGINT) AS oversize_docs,
       (CAST(sum(n_tokens) AS BIGINT) * 10000)
         // (CAST(max(bin_id) AS BIGINT) * {PACK_CAPACITY}) AS util_bp
FROM packed GROUP BY source
"""


@register("packing_efficiency", _PACKING_EFFICIENCY_ORACLE, tags=("EXT3", "A4"))
def packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency QA readout over ``sequence_packing``'s bin
    assignment — the report a training-data pipeline watches to tune
    context capacity: per source, document/bin counts, total tokens,
    capacity utilization in integer basis points (floor division —
    round()-trap-free), and the count of oversize documents (>
    capacity, each occupying a bin alone — the padding-waste signal
    that says "split or drop these upstream").

    Scale shape: inherits the packing scan's one hash exchange, then
    one sources-sized map-side-combinable agg — the report adds no
    corpus-sized shuffle of its own."""
    packed = sequence_packing(spark, sf_dir)
    return packed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max("bin_id").cast("long").alias("n_bins"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum((F.col("n_tokens") > PACK_CAPACITY).cast("long"))
        .cast("long")
        .alias("oversize_docs"),
        F.expr(
            f"CAST(sum(n_tokens) AS BIGINT) * 10000 "
            f"div (CAST(max(bin_id) AS BIGINT) * {PACK_CAPACITY})"
        ).alias("util_bp"),
    )


# ---------------------------------------------------------------------------
# Neyman-allocation stratified sampling
# ---------------------------------------------------------------------------

#: Total sample budget for the Neyman query.
NEYMAN_BUDGET = 100

_NEYMAN_ORACLE = f"""
WITH st AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(n_chars) AS BIGINT) AS s1,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n,
         CAST(n AS DOUBLE) * sqrt(
           (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
         ) AS wgt
  FROM st
),
tw AS (
  -- Fixed-order left fold over the sources-sized strata list: sum(wgt)
  -- leaves the FP addition order to the engine, and a 1-ulp total can
  -- flip floor(BUDGET*wgt/tw) at a near-integer boundary cross-engine.
  SELECT list_reduce(list(wgt ORDER BY source), (a, b) -> a + b) AS tw FROM w
),
alloc AS (
  SELECT source, n, wgt,
         CAST(floor({NEYMAN_BUDGET} * wgt / tw.tw) AS BIGINT) AS n_alloc
  FROM w, tw
),
ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {_duck_hash("CAST(doc_id AS VARCHAR)", salt="neyman")}, doc_id
         ) AS rn
  FROM documents
)
SELECT r.source, r.doc_id, r.n_chars, a.n_alloc
FROM ranked r JOIN alloc a USING (source)
WHERE r.rn <= a.n_alloc
"""


@register("stratified_neyman_sample", _NEYMAN_ORACLE, tags=("EXT3", "A9"))
def stratified_neyman_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sampling: a fixed budget of
    documents is split across sources proportional to N_h * S_h
    (stratum size x stratum std of n_chars) — the variance-optimal
    allocation for estimating a corpus mean, and the principled
    alternative to the uniform source caps in source_cap_sample.
    Selection within a stratum is deterministic: rank by salted
    60-bit hash of doc_id (a pseudo-random but reproducible order),
    take the first n_h.

    Verified ANSI-clean at sf1 (92 sampled of 50k docs) alongside the
    sibling round-8 queries — the scale-edge rule in ORACLES.md.

    Cross-engine exactness: the stratum moments are exact BIGINT sums
    combined in FIXED-ORDER doubles (ORACLES.md co-moment rule), the
    TOTAL weight is likewise a fixed-order left fold over the strata
    sorted by source (never a parallel F.sum/sum(), whose FP addition
    order is engine-dependent and whose 1-ulp drift can flip a floor()
    at a near-integer boundary), the allocation uses floor (no round()
    trap), and sqrt is correctly-rounded IEEE in both engines —
    identical doubles in, identical allocation out.

    Scale shape: moments are one map-side-combinable agg; the
    allocation table is sources-sized and broadcast; the rank is one
    window exchange partitioned BY STRATUM (parallel across strata —
    no SinglePartition anywhere)."""
    docs = load_table(spark, sf_dir, "documents")
    st = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("s2"),
    )
    nd, s1d, s2d = (F.col(c).cast("double") for c in ("n", "s1", "s2"))
    w = st.select(
        "source",
        "n",
        (nd * F.sqrt((nd * s2d - s1d * s1d) / (nd * nd))).alias("wgt"),
    )
    # Fixed-order fold, NOT F.sum: a parallel sum's FP addition order is
    # engine- and run-dependent, and a 1-ulp difference in tw can flip
    # floor(BUDGET*wgt/tw) at a near-integer boundary. Left fold over
    # the strata sorted by source with init 0.0 (0.0+x == x exactly for
    # the non-negative wgt) matches the oracle's list_reduce bit for bit.
    total = w.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "wgt"))),
            F.lit(0.0),
            lambda acc, x: acc + x["wgt"],
        ).alias("tw")
    )
    alloc = w.crossJoin(F.broadcast(total)).select(
        "source",
        F.floor(F.lit(NEYMAN_BUDGET) * F.col("wgt") / F.col("tw"))
        .cast("long")
        .alias("n_alloc"),
    )
    ranked = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                TX.hash64(F.col("doc_id").cast("string"), salt="neyman"), "doc_id"
            )
        )
        .alias("rn"),
    )
    return (
        ranked.join(F.broadcast(alloc), "source")
        .where(F.col("rn") <= F.col("n_alloc"))
        .select("source", "doc_id", "n_chars", "n_alloc")
    )
