"""Layer probes for the traced pass: each times a call into one layer's
public functions from outside, under its own job group.

Spark probes write to the `noop` sink, so they evaluate every column and
write nothing.
"""

from __future__ import annotations

import time
from pathlib import Path

BATCH_ROWS = 4096  # the Arrow batch size `get_spark` configures
SCORE_UDF = "_score"  # the function `score_udf` wraps; it names the plan node


def core_kernels(texts: list[str]) -> dict[str, float]:
    """`core` single-process over `texts` in Arrow-sized batches: the NB
    scorer (DFA walk + einsum) and the per-language perplexity."""
    from langid_py_spark import config as C
    from langid_py_spark.core.lm import MultiTrigramLM
    from langid_py_spark.core.model import NBModel

    model, lm = NBModel.load(), MultiTrigramLM.load()
    warm = texts[:64]
    lm.perplexity_batch_by_lang(warm, list(model.classify_batch(warm, max_bytes=C.SCORE_MAX_BYTES)[0]))
    classify_s = ppl_s = 0.0
    nbytes = 0
    for i in range(0, len(texts), BATCH_ROWS):
        batch = texts[i : i + BATCH_ROWS]
        t0 = time.perf_counter()
        langs, _raw, _norm, nb = model.classify_batch(batch, max_bytes=C.SCORE_MAX_BYTES)
        t1 = time.perf_counter()
        lm.perplexity_batch_by_lang(batch, list(langs), max_bytes=C.SCORE_MAX_BYTES)
        ppl_s += time.perf_counter() - t1
        classify_s += t1 - t0
        nbytes += int(nb.sum())
    return {
        "core.model.classify_batch_s": classify_s,
        "core.lm.perplexity_s": ppl_s,
        "core.bytes_per_s": nbytes / (classify_s + ppl_s),
    }


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def in_group(spark, group: str):
    spark.sparkContext.setJobGroup(group, group)


def scorer(spark, in_dir: Path) -> float:
    """`spark.scorer.score_udf` over the input's text column."""
    from pyspark.sql import functions as F

    from langid_py_spark.spark.scorer import score_udf

    in_group(spark, "spark.scorer")
    df = spark.read.parquet(str(in_dir))
    return _noop(df.select(score_udf()(F.col("text")).alias("score")))


def rules_scrub(spark, in_dir: Path) -> float:
    """`spark.rules.with_rules` plus `spark.scrub.scrub_expr`, no UDF."""
    from pyspark.sql import functions as F

    from langid_py_spark.spark.rules import with_rules
    from langid_py_spark.spark.scrub import scrub_expr

    in_group(spark, "spark.rules_scrub")
    df = spark.read.parquet(str(in_dir))
    return _noop(with_rules(df, "text").withColumn("scrubbed_text", scrub_expr(F.col("text"))))


def vote(spark, in_dir: Path) -> float:
    """`spark.vote.conversation_vote` over a persisted scored frame; the
    scoring and the persist run first, under their own group."""
    from pyspark import StorageLevel

    from langid_py_spark.spark.pipeline import score_turns
    from langid_py_spark.spark.vote import conversation_vote

    in_group(spark, "prep")
    scored = (
        score_turns(spark.read.parquet(str(in_dir)))
        .drop("text")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        scored.count()
        in_group(spark, "spark.vote")
        return _noop(conversation_vote(scored))
    finally:
        scored.unpersist()


def stream(spark, in_dir: Path, out: Path, checkpoint: Path):
    """`streaming.run_stream_to_parquet` with availableNow and a fresh
    checkpoint; returns (seconds, finished query)."""
    from langid_py_spark.streaming.stream_pipeline import run_stream_to_parquet

    t0 = time.perf_counter()
    query = run_stream_to_parquet(spark, str(in_dir), str(out), str(checkpoint))
    query.awaitTermination()
    return time.perf_counter() - t0, query
