"""Distributed byte-pair-encoding (BPE) merge training over a document
corpus — the tokenizer-training step of an LLM data pipeline, expressed so
the corpus is touched exactly once regardless of how many merge rounds run.

Classic BPE (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units") trains on word TYPES weighted by frequency, not
on the raw token stream. That observation is what makes the operator scale:

  1. ONE corpus-sized aggregation produces the (word, freq) vocabulary —
     the only shuffle whose input is proportional to the data. At 100 TB
     the output is the natural-language vocabulary (millions of rows, not
     billions): partial aggregation combines map-side, so the exchange
     carries distinct words per partition, not the token stream.
  2. Every merge round thereafter runs on the cached vocabulary relation.
     Pair counting explodes each word into |w|-1 adjacent symbol pairs
     (vocab-bounded, corpus-independent), aggregates with map-side
     combine, and takes the argmax with TakeOrderedAndProject (top-1 —
     no global sort materialized). Driver traffic is ONE row per round.
  3. Applying the winning merge is a narrow per-row string replace — no
     shuffle, no UDF: `F.replace` is JVM-side whole-stage codegen.

Symbol representation: each symbol is wrapped in sentinels, `hash` →
`<h><a><s><h>`. A merge of (l, r) is the literal replace `<l><r>` →
`<lr>`. The wrapping makes the replace exact: a match must align on `<`,
which occurs only at symbol starts, so a pattern `<a><b>` can never match
the tail of a longer symbol (`<xa><b>` does not contain `<a><b>`).
Left-to-right non-overlapping replace — the semantics of both JVM
`StringReplace` and ANSI `replace()` — is exactly BPE's greedy
left-to-right merge application, including runs: `<a><a><a>` under merge
(a,a) becomes `<aa><a>`.

Ties in the pair argmax break on (count DESC, left ASC, right ASC) so the
merge table is deterministic and cross-engine reproducible; the DuckDB
oracle (SQL_BPE_MERGES in tests/offpath_queries/contract_ext3.py) unrolls
the same rounds as chained CTEs and must agree exactly.

Reference anchor: the reference engine has no tokenizer, but its
vocabulary-style reductions (gridmet_etl/etl.py:428 serial aggregation)
are the single-node shape this replaces with a partial-agg shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["bpe_word_freqs", "bpe_train", "bpe_encode"]


def bpe_word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) vocabulary from a document corpus — the one
    corpus-sized aggregation of BPE training. Words are lowercased and
    restricted to ``[a-z]+`` (the training alphabet); everything else is
    treated as a boundary, mirroring pre-tokenization in standard BPE
    trainers."""
    return (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w")
        )
        .where(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )


def _wrap_symbols(word: F.Column) -> F.Column:
    """`hash` -> `<h><a><s><h>`: every char becomes a sentinel-wrapped
    symbol. Merges concatenate the inner text; sentinels keep replaces
    aligned to symbol boundaries."""
    return F.regexp_replace(word, "(.)", "<$1>")


def _pair_counts(syms: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency. The explode
    is vocab-bounded (Σ(|w|-1) over word TYPES); partial aggregation
    combines before the exchange, so the shuffle is |distinct pairs|."""
    a = F.split(F.expr("substring(s, 2, length(s) - 2)"), "><")
    pairs = (
        syms.select(F.col("freq"), a.alias("a"))
        .where(F.size("a") >= 2)
        .select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.slice("a", 1, F.size("a") - 1).alias("l"),
                    F.slice("a", 2, F.size("a") - 1).alias("r"),
                )
            ).alias("p"),
        )
        .select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "freq")
    )
    return pairs.groupBy("l", "r").agg(F.sum("freq").alias("c"))


def bpe_train(docs: DataFrame, k: int = 6, text_col: str = "text") -> DataFrame:
    """Learn the first ``k`` BPE merges; returns the merge table
    ``(merge_rank, left_sym, right_sym, pair_count)`` as a DataFrame.

    The per-round argmax is a deliberate 1-row ``collect`` (top-1 via
    TakeOrderedAndProject) — driver traffic is k rows total, the same
    boundedness argument as the catalog lookup. The vocabulary relation is
    cached once; each round's replace is a narrow codegen map on it, so
    round i's lineage is i string replaces over the cached base — no
    corpus re-scan ever happens after round 0."""
    spark = docs.sparkSession
    vocab = bpe_word_freqs(docs, text_col)
    syms = vocab.select(_wrap_symbols(F.col("w")).alias("s"), "freq")
    syms.cache()
    try:
        merges: list[tuple[int, str, str, int]] = []
        for rank in range(1, k + 1):
            top = (
                _pair_counts(syms)
                .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
                .limit(1)
                .collect()  # 1 row/round by construction — driver-bounded
            )
            if not top:
                break
            l, r, c = top[0]["l"], top[0]["r"], int(top[0]["c"])
            merges.append((rank, l, r, c))
            syms = syms.withColumn(
                "s", F.replace("s", F.lit(f"<{l}><{r}>"), F.lit(f"<{l}{r}>"))
            )
        return spark.createDataFrame(
            merges, "merge_rank int, left_sym string, right_sym string, pair_count bigint"
        )
    finally:
        pass  # cache released by GC/unpersist in caller contexts


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize the corpus with a learned merge list: every word is wrapped
    to sentinel symbols, the merges are applied IN TRAINING ORDER as k
    sequential literal replaces (narrow, codegen, zero shuffle), and the
    result splits back to an array of subword tokens per document.

    This is the scan-local "apply tokenizer" pass of a training-data
    pipeline: cost is O(k × bytes) per partition, no exchange at any k."""
    wrapped = F.regexp_replace(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z ]", ""),
        "([a-z])",
        "<$1>",
    )
    col = wrapped
    for l, r in merges:
        col = F.replace(col, F.lit(f"<{l}><{r}>"), F.lit(f"<{l}{r}>"))
    toks = F.expr("filter(split(_bpe_tmp, '[<>]+'), x -> x != '' AND x != ' ')")
    return (
        docs.withColumn("_bpe_tmp", col)
        .withColumn(out_col, toks)
        .drop("_bpe_tmp")
    )
