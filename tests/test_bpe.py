"""BPE tokenizer-training invariants: the distributed pair-merge loop
vs a pure-Python reference of the same (documented) semantics."""

from __future__ import annotations

from auto_trade_data_pipeline_spark.operators.bpe import bpe_train, word_histogram


def _hist(spark, items):
    return spark.createDataFrame(items, "word string, wcount long")


def _ref_bpe(hist: dict[str, int], iters: int, passes: int = 3):
    """Reference: same word-histogram BPE with literal-replace merge
    applied `passes` times per iteration (the operator's contract)."""
    seqs = {w: " " + " ".join(w) + " " for w in hist}
    merges = []
    for i in range(iters):
        counts: dict[tuple[str, str], int] = {}
        for w, s in seqs.items():
            toks = s.split()
            for a, b in zip(toks, toks[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + hist[w]
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((i + 1, a, b, cnt))
        pat, rep = f" {a} {b} ", f" {a}{b} "
        for w in seqs:
            for _ in range(passes):
                seqs[w] = seqs[w].replace(pat, rep)
    return merges, {w: s.strip() for w, s in seqs.items()}


def _run(spark, items, iters):
    merges, segmented = bpe_train(_hist(spark, items), iters=iters)
    got_m = [
        (r.merge_idx, r.left, r.right, r.pair_count)
        for r in merges.orderBy("merge_idx").collect()
    ]
    got_s = {r.word: r.seq.strip() for r in segmented.collect()}
    return got_m, got_s


def test_bpe_matches_reference_and_merged_tokens_compose(spark):
    # 'abab' x10 dominates: merge1 = (a,b)->ab; merge2 = (ab,ab)->abab
    items = [("abab", 10), ("abc", 3), ("cab", 2)]
    got_m, got_s = _run(spark, items, iters=3)
    ref_m, ref_s = _ref_bpe(dict(items), iters=3)
    assert got_m == ref_m
    assert got_s == ref_s
    assert got_m[0][1:3] == ("a", "b")
    assert got_m[1][1:3] == ("ab", "ab")  # learned token feeds later merges
    assert got_s["abab"] == "abab"


def test_bpe_long_training_crosses_the_checkpoint_cadence(spark):
    """iters > _CKPT_EVERY exercises the lazy lineage checkpoint
    inside the loop (review finding: unbounded lineage was quadratic
    in iters); results must stay reference-exact across the cut."""
    items = [
        ("abababab", 9),
        ("abcabc", 7),
        ("bcbcbc", 5),
        ("cacaca", 4),
        ("aabbcc", 3),
        ("abcabcabc", 2),
    ]
    got_m, got_s = _run(spark, items, iters=12)
    ref_m, ref_s = _ref_bpe(dict(items), iters=12)
    assert got_m == ref_m
    assert got_s == ref_s
    assert len(got_m) > 8  # the cadence actually fired mid-training


def test_bpe_weights_drive_the_argmax(spark):
    # Unweighted, (x,y) and (y,z) tie at 1 each (lexicographic pick);
    # weighting 'wyz' makes (y,z) win outright.
    unweighted = [("xy", 1), ("yz", 1)]
    m_u, _ = _run(spark, unweighted, iters=1)
    assert m_u[0][1:3] == ("x", "y")  # tie -> lexicographic (a, b)
    weighted = [("xy", 1), ("yz", 5)]
    m_w, _ = _run(spark, weighted, iters=1)
    assert m_w[0][1:3] == ("y", "z")


def test_bpe_same_char_runs_follow_the_documented_pass_semantics(spark):
    # 'aaaa': replace-x3 merges greedily left-to-right -> 'aa aa'.
    items = [("aaaa", 4), ("ab", 1)]
    got_m, got_s = _run(spark, items, iters=1)
    ref_m, ref_s = _ref_bpe(dict(items), iters=1)
    assert got_m == ref_m and got_s == ref_s
    assert got_s["aaaa"] == "aa aa"


def test_bpe_single_char_words_are_inert(spark):
    got_m, got_s = _run(spark, [("a", 100), ("bc", 1)], iters=1)
    assert got_m == [(1, "b", "c", 1)]
    assert got_s["a"] == "a"


def test_word_histogram_counts_occurrences(spark):
    docs = spark.createDataFrame(
        [(1, "the cat the hat"), (2, "THE Cat")], "doc_id long, text string"
    )
    hist = {r.word: r.wcount for r in word_histogram(docs).collect()}
    assert hist == {"the": 3, "cat": 2, "hat": 1}


def test_bpe_degenerate_corpus_yields_empty_merges(spark):
    merges, seg = bpe_train(_hist(spark, [("a", 5), ("b", 2)]), iters=3)
    assert merges.count() == 0
    assert {r.word: r.seq.strip() for r in seg.collect()} == {"a": "a", "b": "b"}


def test_pairs_sql_on_adversarial_segmentations(spark):
    """The pair stream bpe_train runs (``_PAIRS_SQL``) on adversarial
    segmentations — empty, 1-token, repeated tokens, multi-char
    tokens — against literal expected (a, b, wcount) pairs."""
    from auto_trade_data_pipeline_spark.operators.bpe import _PAIRS_SQL

    df = spark.createDataFrame(
        [(" a b c ", 3), (" a ", 1), ("  ", 1), (" x x x x ", 2), (" ab cd ", 5)],
        "seq string, wcount long",
    )
    got = df.selectExpr(_PAIRS_SQL, "wcount")
    assert got.schema.simpleString() == "struct<p:struct<a:string,b:string>,wcount:bigint>"
    pairs = sorted((r.p.a, r.p.b, r.wcount) for r in got.collect())
    assert pairs == [
        ("a", "b", 3),
        ("ab", "cd", 5),
        ("b", "c", 3),
        ("x", "x", 2),
        ("x", "x", 2),
        ("x", "x", 2),
    ]
