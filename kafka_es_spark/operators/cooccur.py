"""Co-occurrence mining — ES ``frequent_item_sets`` agg, PMI term-pair
association, and BPE merge-pair counting (tokenizer-training step 1).

All three are the same relational shape: a bounded per-group explode into
pairs, then one pair-keyed hash aggregation with map-side combine. None
needs a UDF, and none produces a corpus-squared join — the pair space is
bounded per transaction/document/word, which is what makes the shape hold
at 100 TB (the classic market-basket / word-cooccurrence plan).

Reference parity: the reference delegates aggregations to ES;
frequent_item_sets is the ES 8.4+ agg of that name (support-thresholded
item sets over a per-document array field — public ES docs). PMI over
term pairs is the significant-terms family's mutual-information heuristic
stated exactly (Manning & Schütze ch. 5). BPE pair counting is step 1 of
Sennrich et al. 2016 — the corpus statistic a tokenizer trainer computes
each merge round.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_es_spark.functions.tokenize import tokens


def frequent_item_sets(
    events: DataFrame,
    txn_col: str = "user_id",
    item_col: str = "event_type",
    min_support: int = 2,
    round_to: int = 4,
) -> DataFrame:
    """ES ``frequent_item_sets`` for the canonical size-2 sets: item pairs
    that co-occur in ≥ ``min_support`` transactions. Output (item_a,
    item_b, support, support_ratio) with item_a < item_b, ordered
    (support desc, item_a, item_b); ratio = support / n_transactions,
    rounded.

    Plan: distinct (txn, item) — one hash agg — then a txn-keyed
    self-join emitting only a<b pairs: per-transaction cost is
    C(items_in_txn, 2), bounded by basket size, never corpus². The pair
    count is a second hash agg with map-side combine; n_transactions is
    a scalar broadcast."""
    ti = events.select(
        F.col(txn_col).alias("txn"), F.col(item_col).alias("item")
    ).distinct()
    n_txn = ti.select("txn").distinct().count()
    pairs = (
        ti.alias("a")
        .join(ti.alias("b"), "txn")
        .filter(F.col("a.item") < F.col("b.item"))
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= int(min_support))
    )
    return pairs.select(
        "item_a",
        "item_b",
        "support",
        F.round(F.col("support") / F.lit(float(max(n_txn, 1))), round_to).alias(
            "support_ratio"
        ),
    ).orderBy(F.col("support").desc(), "item_a", "item_b")


def pmi_pairs(
    docs: DataFrame,
    min_df: int = 5,
    top_k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """Pointwise mutual information over within-document term pairs:
    pmi(a,b) = ln(df(a,b)·N / (df(a)·df(b))) with document frequencies —
    the association score behind significant-terms-style keyphrase mining.
    Terms below ``min_df`` are dropped BEFORE pairing (rare terms both
    blow up the pair space and produce degenerate pmi). Output (term_a,
    term_b, n_ab, pmi) top-k by (pmi desc, term_a, term_b), pmi rounded
    at the boundary and the order taken on the rounded value so any
    engine ranks identically.

    Plan: distinct (doc, term) → df filter via a term-keyed join (AQE
    broadcasts the surviving vocabulary when small) → doc-keyed
    self-join a<b (per-doc cost C(kept_terms, 2)) → pair hash agg →
    pmi from broadcast N and the df relation. TakeOrdered cuts top-k."""
    dt = (
        docs.select(F.col(id_col).alias("d"), F.explode(tokens(text_col)).alias("t"))
        .distinct()
    )
    n_docs = docs.count()
    dfreq = dt.groupBy("t").agg(F.count("*").alias("df")).filter(
        F.col("df") >= int(min_df)
    )
    kept = dt.join(dfreq, "t").select("d", "t", "df")
    pair_df = (
        kept.alias("a")
        .join(kept.alias("b"), "d")
        .filter(F.col("a.t") < F.col("b.t"))
        .groupBy(
            F.col("a.t").alias("term_a"),
            F.col("b.t").alias("term_b"),
            F.col("a.df").alias("df_a"),
            F.col("b.df").alias("df_b"),
        )
        .agg(F.count("*").alias("n_ab"))
    )
    pmi = F.round(
        F.log(
            F.col("n_ab").cast("double")
            * F.lit(float(n_docs))
            / (F.col("df_a") * F.col("df_b")).cast("double")
        ),
        round_to,
    )
    return (
        pair_df.select("term_a", "term_b", "n_ab", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "term_a", "term_b")
        .limit(int(top_k))
    )


def bpe_pair_counts(
    docs: DataFrame,
    top_k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Step 1 of BPE tokenizer training (Sennrich et al. 2016): corpus
    counts of ADJACENT character pairs inside words, weighted by word
    occurrence — the statistic whose argmax becomes the first merge.
    Output (pair, n) top-k by (n desc, pair asc).

    Plan: tokenize (codegen) → explode words → per word explode its
    len−1 adjacent 2-grams via sequence+substring (still JVM, no UDF) →
    ONE pair hash agg with map-side combine. Pair cardinality is
    alphabet², tiny; the explode is corpus-token-sized — the same volume
    the posting build already moves, and it needs no shuffle until the
    final small agg."""
    words = docs.select(F.explode(tokens(text_col)).alias("w")).filter(
        F.length("w") >= 2
    )
    grams = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        grams.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(int(top_k))
    )


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n): corpus word frequencies — the ONE corpus-scale pass BPE
    training needs (Zipf collapses 10^12 tokens to a vocab-sized
    relation). Tokenize (codegen) → explode → hash agg with map-side
    combine."""
    return (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def bigram_counts(docs: DataFrame, terms: str | Column = "terms") -> DataFrame:
    """(prev, cur, n): corpus bigram (adjacent-token transition) counts
    over the token-array column ``terms`` (a column name, or an expression
    such as ``tokens("text")``) — the relation the phrase suggester's
    bigram LM and lm_perplexity both score against. Unigram transition
    counts fall out for free: U(prev) = Σ_cur B(prev, cur), so callers
    never need a second pass.

    Plan: per-partition PARTIAL counts in one vectorized pandas pass
    (each Arrow batch's transitions collapse to a (prev, cur, n) frame
    before anything shuffles), then one hash
    aggregation summing the partials. r6 measurement: the previous
    array-side zip_with form built 30M per-transition structs through
    Spark's INTERPRETED higher-order lambda and shuffled nothing less —
    the pandas partial-count is 1.7× faster at 500k pages and ships the
    vocab²-bounded partials instead of the token stream (guide §2.3:
    aggregate before you shuffle). At 10^12 docs this is exactly the
    word_counts shape: Zipf collapses the stream to a vocab²-bounded
    (in practice vastly smaller) relation."""
    import numpy as np

    def count_batches(batches):
        for pdf in batches:
            toks = pdf["t"]
            lens = toks.map(len).to_numpy(dtype=np.int64)
            lens = lens[lens > 0]
            if lens.size == 0:
                continue
            flat = np.concatenate(
                [np.asarray(x, dtype=object) for x in toks if len(x)]
            )
            starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
            keep_cur = np.ones(flat.size, dtype=bool)
            keep_cur[starts] = False  # a doc's first token is never `cur`
            keep_prev = np.ones(flat.size, dtype=bool)
            keep_prev[starts + lens - 1] = False  # last token never `prev`
            g = (
                pd.DataFrame({"prev": flat[keep_prev], "cur": flat[keep_cur]})
                .groupby(["prev", "cur"], sort=False)
                .size()
                .reset_index(name="n")
            )
            yield g

    tk = F.col(terms) if isinstance(terms, str) else terms
    part = docs.select(tk.alias("t")).mapInPandas(
        count_batches, "prev string, cur string, n long"
    )
    return part.groupBy("prev", "cur").agg(F.sum("n").alias("n"))


BPE_MAX_VOCAB_ROWS = 1_000_000


def train_bpe(
    docs: DataFrame,
    n_merges: int = 50,
    text_col: str = "text",
    min_count: int = 2,
    max_vocab_rows: int = BPE_MAX_VOCAB_ROWS,
) -> list[tuple[str, str]]:
    """BPE tokenizer training (Sennrich et al. 2016), the full merge
    loop. Returns the ordered merge list [(left, right), ...].

    Scale split, stated exactly: the CORPUS pass is ``word_counts`` —
    one distributed tokenize + hash agg, the only stage that touches
    10^12 tokens. The merge loop then runs over the WORD-FREQUENCY
    table (vocab-sized — Zipf makes this ~10^6-10^8 at web scale, and
    this is also how production trainers work: HF/sentencepiece train
    from an in-memory word-count table). The collect is bounded by
    ``max_vocab_rows`` and RAISES past it (the assign_doc_ids contract:
    a driver-side step must carry an enforced bound, not a hope);
    ``min_count`` trims the long tail first, which is both the standard
    practice and what keeps the bound real at corpus scale.

    Determinism: ties on pair count break lexicographically, so the
    merge list is a pure function of the corpus — any engine, any
    parallelism, any rerun."""
    wc = word_counts(docs, text_col).filter(F.col("n") >= int(min_count))
    n_rows = wc.count()
    if n_rows > max_vocab_rows:
        raise ValueError(
            f"word-count table has {n_rows} rows > max_vocab_rows="
            f"{max_vocab_rows}; raise min_count (or the cap) so the "
            "driver-side merge loop stays bounded"
        )
    vocab: dict[tuple[str, ...], int] = {}
    for r in wc.collect():
        vocab[tuple(r["word"])] = vocab.get(tuple(r["word"]), 0) + int(r["n"])
    merges: list[tuple[str, str]] = []
    for _ in range(int(n_merges)):
        counts: dict[tuple[str, str], int] = {}
        for seq, n in vocab.items():
            for a, b in zip(seq, seq[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + n
        if not counts:
            break
        pair, cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        merges.append(pair)
        a, b = pair
        ab = a + b
        new_vocab: dict[tuple[str, ...], int] = {}
        for seq, n in vocab.items():
            out = []
            i = 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + n
        vocab = new_vocab
    return merges


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned merge list: (doc_id, pieces array<string>) — the
    tokenizer-inference half. Per-word merging is inherently sequential
    (each merge changes its neighbors), so this is the documented
    Arrow-batched pandas-UDF tier: the merge-rank table broadcasts in
    the closure, each batch encodes vectorized-per-row with no shuffle,
    and the stage fuses with the upstream tokenize."""
    from pyspark.sql import types as T

    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode_word(w: str) -> list[str]:
        seq = list(w)
        while len(seq) > 1:
            best_i, best_r = -1, None
            for i in range(len(seq) - 1):
                r = ranks.get((seq[i], seq[i + 1]))
                if r is not None and (best_r is None or r < best_r):
                    best_i, best_r = i, r
            if best_r is None:
                break
            seq[best_i:best_i + 2] = [seq[best_i] + seq[best_i + 1]]
        return seq

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def encode_tokens(words: pd.Series) -> pd.Series:
        # Arrow hands list columns over as numpy arrays — test emptiness
        # by length, not truthiness
        return words.map(
            lambda ws: [
                p
                for w in (ws if ws is not None and len(ws) else [])
                for p in encode_word(w)
            ]
        )

    return docs.select(
        F.col(id_col).alias("doc_id"),
        encode_tokens(tokens(text_col)).alias("pieces"),
    )
