"""Pretraining-objective preparation: T5-style span corruption at corpus
scale.

The last hop of a training-data pipeline: turn curated text into
(corrupted input, target) pairs for masked-span denoising (Raffel et al.
2020). Real pipelines do this in the dataloader; doing it in the engine
makes the objective REPRODUCIBLE (a deterministic per-token hash decides
every mask) and shardable with the rest of the corpus.

Determinism contract: token ``pos`` of document ``id`` is masked iff

    h64(id || '|' || salt || '|' || pos) % 1_000_000 < mask_ratio * 1e6

— pure integer arithmetic on the md5-derived hash family
(llm_ops/hashing.py), so Spark and the DuckDB oracle agree bit-for-bit
with no floating point anywhere in the decision. Adjacent masked tokens
merge into spans (the pos − running-count run detection the BPE
oracle also uses); span k of a document is replaced by the sentinel
``<extra_id_k>`` in the corrupted text, and the target is the
sentinel-delimited concatenation of the masked spans — exactly the T5
serialization.

Plan shape (holds at 100 TB): ONE posexplode of the corpus, windows
partitioned per document (state bounded by document length), one
groupBy(doc) reassembly each for the corrupted and target sequences. No
driver-side randomness, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from synthea2omop_etl_spark.llm_ops.hashing import h64
from synthea2omop_etl_spark.llm_ops.text import tokens

#: mask-decision granularity: the hash is reduced mod this and compared
#: to round(mask_ratio * GRAIN) — integer-exact in both engines.
GRAIN = 1_000_000


def span_corruption(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mask_ratio: float = 0.15,
    salt: str = "mask0",
) -> DataFrame:
    """(id_col, n_tokens, n_masked, n_spans, corrupted, targets).

    ``corrupted`` is the document with each masked span replaced by its
    ``<extra_id_k>`` sentinel; ``targets`` is ``<extra_id_0> span0 tokens
    <extra_id_1> span1 tokens ...``. Documents with no tokens carry
    zeros and NULL texts.
    """
    threshold = round(mask_ratio * GRAIN)
    from synthea2omop_etl_spark.operators.skew import spread_if_narrow

    toks = spread_if_narrow(df, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    masked = (
        h64(
            F.concat_ws(
                "|", F.col("id").cast("string"), F.lit(salt), F.col("pos")
            )
        )
        % GRAIN
        < threshold
    )
    w = Window.partitionBy("id").orderBy("pos")
    t = toks.withColumn("m", masked).withColumn(
        "head", F.col("m") & ~F.coalesce(F.lag("m").over(w), F.lit(False))
    )
    # span index k: 0-based rank of the run head among this doc's heads;
    # every masked token inherits its run's k via the running head count
    t = t.withColumn(
        "k", F.sum(F.col("head").cast("int")).over(w) - 1
    )
    sentinel = F.concat(F.lit("<extra_id_"), F.col("k"), F.lit(">"))
    # corrupted sequence: kept tokens + ONE sentinel per span at its head
    corrupted_rows = t.where(~F.col("m")).select(
        "id", "pos", F.col("tok").alias("piece")
    ).unionByName(
        t.where(F.col("head")).select("id", "pos", sentinel.alias("piece"))
    )
    # target sequence: per span the sentinel then its tokens, spans in
    # order — sentinel sorts before its first token via the flag field
    target_rows = t.where(F.col("head")).select(
        "id", "pos", F.lit(0).alias("flag"), sentinel.alias("piece")
    ).unionByName(
        t.where(F.col("m")).select(
            "id", "pos", F.lit(1).alias("flag"), F.col("tok").alias("piece")
        )
    )

    def _joined(*keys: str) -> F.Column:
        return F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(*keys, "piece"))),
                lambda s: s["piece"],
            ),
            " ",
        )

    corrupted = corrupted_rows.groupBy("id").agg(
        _joined("pos").alias("corrupted")
    )
    targets = target_rows.groupBy("id").agg(
        _joined("pos", "flag").alias("targets")
    )
    stats = t.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("m").cast("long")).alias("n_masked"),
        F.sum(F.col("head").cast("long")).alias("n_spans"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(stats, "id", "left")
        .join(corrupted, "id", "left")
        .join(targets, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_masked", F.lit(0)).alias("n_masked"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            "corrupted",
            "targets",
        )
    )
