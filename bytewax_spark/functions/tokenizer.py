"""Byte-pair-encoding tokenizer induction and application.

BPE (Sennrich et al. 2016, public; the subword scheme behind GPT-2 /
Llama-family tokenizers) learns a merge table from corpus statistics:
start from characters, repeatedly merge the most frequent adjacent
symbol pair. Training a tokenizer IS a training-data-pipeline job —
you induce it on the corpus you are about to tokenize.

Spark-first decomposition:

- The corpus collapses to a WORD-FREQUENCY table first (one
  wordcount-class shuffle) — classic BPE trains on ``(word, count)``,
  so 100 TB of text becomes a distinct-words table and the iteration
  never touches raw text again.
- Each merge round is ONE aggregation over that table (explode
  adjacent symbol pairs weighted by word count, argmax) plus one
  map-side array fold applying the merge. Driver state per round is a
  single row (the winning pair); the word table is checkpointed each
  round so the plan stays flat across rounds (same pattern as the
  Pregel loops in ``functions/graph.py``).
- Encoding applies the learned merge list inside an Arrow-batched
  ``mapInPandas`` — the merge loop is genuinely sequential per word
  (rank order matters), the documented slow-path exception; the batch
  shape, schema, and partitioning stay real.

Determinism: argmax ties break (count desc, left asc, right asc), and
merges apply left-to-right non-overlapping — the standard greedy rule
— so the merge table is a pure function of the corpus.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._materialize import materialize
from .text import tokenize

__all__ = ["bpe_pair_counts", "bpe_train", "bpe_encode"]


def _word_table(df: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt, syms): distinct words with occurrence counts and
    their character-symbol arrays."""
    return (
        df.select(F.explode(tokenize(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("syms", F.split(F.col("word"), ""))
    )


def _adjacent_pairs(syms: Column) -> Column:
    """array<struct<l,r>> of adjacent symbol pairs."""
    return F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.struct(
                F.element_at(syms, i).alias("l"),
                F.element_at(syms, i + 1).alias("r"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))


def _apply_merge(syms: Column, left: str, right: str) -> Column:
    """Replace adjacent (left, right) with left+right, greedy
    left-to-right non-overlapping — one array fold, no shuffle."""
    merged = left + right
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit("").alias("carry"),
        F.lit(False).alias("has"),
    )

    def step(acc, s):
        hit = acc.getField("has") & (acc.getField("carry") == F.lit(left)) & (
            s == F.lit(right)
        )
        return F.struct(
            F.when(hit, F.concat(acc.getField("out"), F.array(F.lit(merged))))
            .otherwise(
                F.when(
                    acc.getField("has"),
                    F.concat(acc.getField("out"), F.array(acc.getField("carry"))),
                ).otherwise(acc.getField("out"))
            )
            .alias("out"),
            F.when(hit, F.lit("")).otherwise(s).alias("carry"),
            (~hit).alias("has"),
        )

    return F.aggregate(
        syms,
        init,
        step,
        lambda acc: F.when(
            acc.getField("has"),
            F.concat(acc.getField("out"), F.array(acc.getField("carry"))),
        ).otherwise(acc.getField("out")),
    )


def bpe_pair_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Round-0 BPE statistics: adjacent CHARACTER pair counts weighted
    by word frequency → ``(left, right, pair_count)``. This is the
    aggregation each training round re-runs on the evolving symbol
    arrays; exposed separately because it is exactly SQL-expressible
    (the oracle anchor for the iterative trainer)."""
    words = _word_table(df, text_col)
    return (
        words.select(
            "cnt", F.explode(_adjacent_pairs(F.col("syms"))).alias("p")
        )
        .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum("cnt").alias("pair_count"))
    )


def bpe_train(df: DataFrame, text_col: str, n_merges: int = 32) -> DataFrame:
    """Learn ``n_merges`` BPE merges → ``(rank, left, right,
    pair_count)``, rank 1 = first merge. Stops early when no adjacent
    pair remains. Driver materialization per round: ONE row (the
    argmax pair). Each round is one aggregation over the word table +
    one array fold; rounds are sequential by nature (each merge
    changes the next round's pair statistics)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    spark = df.sparkSession
    words = materialize(
        _word_table(df, text_col), "word-frequency table, round 0", eager=True
    )
    out: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = (
            words.select(
                "cnt", F.explode(_adjacent_pairs(F.col("syms"))).alias("p")
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.desc("pc"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, pc = top[0]["l"], top[0]["r"], int(top[0]["pc"])
        out.append((rank, l, r, pc))
        words = materialize(
            words.withColumn("syms", _apply_merge(F.col("syms"), l, r)),
            "per-round word table: cut lineage so the plan stays flat",
            eager=True,
        )
    return spark.createDataFrame(
        out, "rank int, left string, right string, pair_count bigint"
    )


def bpe_encode(
    df: DataFrame, text_col: str, merges: list[tuple[str, str]], out_col: str = "bpe_tokens"
) -> DataFrame:
    """Tokenize ``text_col`` with a learned merge list (rank order) →
    input columns + ``out_col: array<string>``. The per-word merge
    loop is sequential in rank, so it runs as an Arrow-batched
    ``mapInPandas`` (the documented slow-path exception); the merge
    list ships as a closure constant, never a shuffle."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    ranks = {pair: i for i, pair in enumerate(merges)}
    # copy: StructType.add mutates in place, and df.schema is live
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(out_col, ArrayType(StringType()))]
    )
    names = [f.name for f in df.schema.fields]

    def enc_word(word: str) -> list[str]:
        syms = list(word)
        while len(syms) >= 2:
            best, best_rank = None, None
            for i in range(len(syms) - 1):
                rk = ranks.get((syms[i], syms[i + 1]))
                if rk is not None and (best_rank is None or rk < best_rank):
                    best, best_rank = i, rk
            if best is None:
                break
            pair = (syms[best], syms[best + 1])
            # apply this rank's merge left-to-right non-overlapping
            o, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and (syms[i], syms[i + 1]) == pair
                ):
                    o.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    o.append(syms[i])
                    i += 1
            syms = o
        return syms

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks = [
                [t for w in str(x).lower().split() if w for t in enc_word(w)]
                if x is not None
                else []
                for x in pdf[text_col]
            ]
            pdf = pdf.copy()
            pdf[out_col] = toks
            yield pdf[names + [out_col]]

    return df.mapInPandas(run, schema=out_schema)
