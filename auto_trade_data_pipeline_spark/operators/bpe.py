"""In-engine BPE tokenizer training (EXT, SURVEY §2.11 extension):
learn byte-pair-encoding merges over the corpus word histogram with
distributed DataFrame ops — the "train the tokenizer on the data you
are about to tokenize" stage of an LLM data pipeline (Sennrich et
al., ACL'16), expressed so the TRAINING LOOP itself runs where the
data lives and is cross-engine oracle-able.

Algorithm (word-level BPE, the standard formulation):
1. collapse the corpus to its word histogram (word, weight) — pair
   statistics over the histogram equal pair statistics over the raw
   token stream, at a fraction of the size;
2. represent each word as its character sequence, space-separated
   inside a sentinel-padded string (`" a b c "`);
3. per iteration: count adjacent token pairs weighted by word
   frequency (one explode + one uniform-key shuffle with map-side
   combine), pick the most frequent pair with a total tiebreak
   (count DESC, then lexicographic), and merge its occurrences in
   every word.

Merge semantics — the determinism contract: occurrences are merged
by LITERAL string replacement of ``" a b "`` with ``" ab "``,
applied ``replace_passes`` times. A single left-to-right scan cannot
merge two occurrences that share a boundary space (the trailing
space of one match is the leading space of the next), so each pass
picks up alternate occurrences; the pass count is part of the
operator definition and both engines (Spark `replace`, DuckDB
`replace`) scan identically — leftmost, non-overlapping, resuming
after the replacement — so the fixpoint is bit-identical
cross-engine. (For pathological same-char runs this differs from
HuggingFace's strictly-greedy merge ORDER, by design: greedy
left-to-right within a run is inherently sequential, while repeated
literal replacement is a pure engine expression.)

Scale shape: the histogram is built once (one shuffle on the word
key); each iteration is ONE job — an explode + pair-keyed shuffle
over the histogram (NOT the corpus) ending in a 1-row TakeOrdered
whose argmax row is collected (model-sized by construction) and
inlined as literals into the next iteration's replace projection.
At 100 TB the word histogram is millions of rows — cluster-trivial —
and the corpus itself is touched exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["bpe_train", "word_histogram"]

#: Segmentation-lineage checkpoint cadence in bpe_train: between
#: checkpoints each iteration re-runs at most
#: replace_passes*_CKPT_EVERY literal replaces from the last
#: materialization (linear in iters overall).
_CKPT_EVERY = 8


def word_histogram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus word histogram: (word, wcount) over lowercased word
    tokens — the compressed input BPE trains on."""
    from auto_trade_data_pipeline_spark.operators.text import tokens

    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcount"))
    )


#: The per-iteration pair stream of :func:`bpe_train`: adjacent token
#: pairs of each segmentation as ``p = struct<a, b>``, exploded, with
#: the size < 2 guard (sequence(1, 0) counts DOWN — the word_shingles
#: trap). ONE selectExpr string, parsed in a single py4j call: the loop
#: pays this build 8+ times per training run and the iteration tables
#: are histogram-sized, so driver latency is a real part of each
#: iteration (round-10 A/B: loop 1.40 -> 1.17 s at sf0.1).
_TOKS_SQL = "split(trim(seq), ' ')"
_PAIRS_SQL = f"""explode(
      CASE WHEN size({_TOKS_SQL}) >= 2 THEN
        transform(sequence(1, size({_TOKS_SQL}) - 1),
                  j -> named_struct('a', element_at({_TOKS_SQL}, j),
                                    'b', element_at({_TOKS_SQL}, j + 1)))
      ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>) END) AS p"""


def bpe_train(
    words: DataFrame,
    iters: int = 8,
    replace_passes: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Learn ``iters`` BPE merges over a (word, wcount) histogram.

    Returns ``(merges, segmented)``:
    - merges: (merge_idx, left, right, pair_count) — one row per
      learned merge, in learning order;
    - segmented: (word, wcount, seq) — the final space-padded
      segmentation of every word under the learned merges.

    The pair counting and merge application stay distributed; the ONLY
    thing that leaves the cluster per iteration is the 1-row argmax —
    which the TakeOrderedAndProject under ``limit(1)`` delivers to the
    driver anyway — collected and inlined as string LITERALS into the
    next iteration's replace expression. That removes the per-iteration
    crossJoin/broadcast, the eager seq checkpoint, and the separate
    isEmpty job the previous formulation paid (measured at sf0.1:
    ~0.45 s/iteration of fixed job overhead on a dimension-sized
    histogram → one job per iteration). The merge table is the
    collected model — a LocalRelation, like the GD trainer's
    per-iteration model (operators/classifier.py) — and the
    segmentation lineage is bounded by a lazy checkpoint every
    ``_CKPT_EVERY`` iterations (pure projections in between; one final
    eager checkpoint materializes the result once for the two
    downstream consumers).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.substring(F.col("word"), i, 1),
    )
    seqs = words.select(
        "word",
        F.col("wcount").cast("long").alias("wcount"),
        F.concat(F.lit(" "), F.array_join(chars, " "), F.lit(" ")).alias("seq"),
    ).localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    for i in range(iters):
        counts = (
            seqs.selectExpr(_PAIRS_SQL, "wcount")
            .groupBy("p.a", "p.b")
            .agg(F.sum("wcount").alias("cnt"))
        )
        rows = counts.orderBy(F.col("cnt").desc(), "a", "b").limit(1).collect()
        if not rows:  # degenerate corpus: nothing left to merge
            break
        a, b, cnt = rows[0]["a"], rows[0]["b"], rows[0]["cnt"]
        merges.append((i + 1, a, b, int(cnt)))
        # Literal-inline the learned pair (F.lit is injection-safe for
        # any token content); repeated replace passes per the module
        # docstring's determinism contract.
        pat = F.concat(F.lit(" "), F.lit(a), F.lit(" "), F.lit(b), F.lit(" "))
        rep = F.concat(F.lit(" "), F.lit(a), F.lit(b), F.lit(" "))
        s = F.col("seq")
        for _ in range(replace_passes):
            s = F.replace(s, pat, rep)
        seqs = seqs.select("word", "wcount", s.alias("seq"))
        # Lineage cadence: without any truncation, iteration i's
        # pair-count job re-executes all 3*(i-1) earlier replace
        # projections from the seed — quadratic in iters for callers
        # training hundreds of merges. A LAZY checkpoint every
        # _CKPT_EVERY iterations bounds both the re-executed work and
        # the analyzed expression depth at a constant, and costs no
        # extra job (the next iteration's collect materializes it).
        if (i + 1) % _CKPT_EVERY == 0 and i + 1 < iters:
            seqs = seqs.localCheckpoint(eager=False)
    spark = words.sparkSession
    if merges:
        # One materialization of the final segmentation (seed
        # checkpoint + 3*iters replaces) for the >=2 downstream reads.
        seqs = seqs.localCheckpoint(eager=True)
    merged = spark.createDataFrame(
        merges, "merge_idx int, left string, right string, pair_count long"
    )
    return merged, seqs
