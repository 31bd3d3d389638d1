"""The flagship quality-filter pipeline (BASELINE.json::north_rule).

One job, ONE semantic shuffle (plus the adaptive rebalance that sizes
the write tasks — see run_pipeline):

  scan(transcripts)                         # column-pruned parquet/Iceberg
   └─ classify_batch (Arrow UDF)            # shuffle-free map
   └─ perplexity (Arrow UDF)                # same stage
   └─ heuristic rule columns + keep         # Catalyst exprs, codegen'd
   └─ scrub chain (regexp_replace)          # Catalyst exprs
   └─ two-stage SALTED conv-language vote   # THE shuffle (skew-safe)
   └─ backjoin conv_lang to turns           # AQE picks broadcast at small
                                            # conv counts, sort-merge at scale
   └─ rebalance(lang_bucket)                # AQE sizes the write tasks
   └─ write partitioned by lang_bucket, sortWithinPartitions(lang_bucket,
      conv_id, turn_idx), dynamic partition overwrite + completion
      manifest (resumable: completed buckets are never rewritten)

Reference parity: the per-turn (lang, conf) reproduces
langid/langid.py::classify exactly (scorer.py); everything else is the
quality-filter shell the north rule mandates.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from langid_py_spark import config as C
from langid_py_spark.core.model import DEFAULT_MODEL_PATH
from langid_py_spark.spark.rules import with_rules
from langid_py_spark.spark.scrub import scrub_expr
from langid_py_spark.spark.vote import conversation_vote

OUTPUT_COLUMNS = [
    "conv_id",
    "turn_idx",
    "role",
    "tool",
    "ts",
    "lang",
    "conf_raw",
    "conf_norm",
    "nbytes",
    "ppl",
    *[r for r in C.RULE_NAMES],
    "keep_heuristic",
    "r_low_conf",
    "r_high_ppl",
    "keep",
    "scrubbed_text",
    "conv_lang",
    "lang_bucket",
]


def score_turns(
    turns: DataFrame,
    model_path: str = DEFAULT_MODEL_PATH,
    langs: list[str] | None = None,
) -> DataFrame:
    """Shuffle-free scoring stage: classify + ppl + rules + scrub + keep.

    classify and perplexity run FUSED in one Arrow UDF (one transfer of
    the text column per batch — scorer.score_udf)."""
    from langid_py_spark.spark.scorer import score_udf

    sc = score_udf(model_path=model_path, langs=langs, max_bytes=C.SCORE_MAX_BYTES)
    df = turns.withColumn("_sc", sc(F.col("text"))).select(
        "*", "_sc.lang", "_sc.conf_raw", "_sc.conf_norm", "_sc.nbytes", "_sc.ppl"
    ).drop("_sc")
    df = with_rules(df, "text")
    df = (
        df.withColumn("r_low_conf", F.col("conf_norm") < C.MIN_LANG_CONF)
        .withColumn("r_high_ppl", F.col("ppl") > C.MAX_PERPLEXITY)
        .withColumn(
            "keep",
            F.col("keep_heuristic") & ~F.col("r_low_conf") & ~F.col("r_high_ppl"),
        )
        .withColumn("scrubbed_text", scrub_expr(F.col("text")))
    )
    return df


def full_pipeline(
    turns: DataFrame,
    model_path: str = DEFAULT_MODEL_PATH,
    langs: list[str] | None = None,
    persist_scored: bool = False,
) -> DataFrame:
    """score → salted vote → backjoin → final projection (unwritten).

    `persist_scored=True` materializes the scored stage once instead of
    evaluating the UDF subtree twice (vote branch + join branch). At
    bench/production scale run_pipeline always does this; at 10^12 turns
    the same role is played by the scored checkpoint parquet (the resume
    point), so the UDFs still run exactly once per turn.
    """
    scored = score_turns(turns, model_path=model_path, langs=langs)
    if persist_scored:
        from pyspark import StorageLevel

        scored = scored.persist(StorageLevel.MEMORY_AND_DISK)
    conv = conversation_vote(scored).select("conv_id", "conv_lang")
    joined = scored.join(conv, "conv_id", "left")
    return joined.withColumn(
        "lang_bucket", F.pmod(F.hash(F.col("lang")), F.lit(C.LANG_BUCKETS))
    ).select(*OUTPUT_COLUMNS)


# one row per lang_bucket in the _metrics table (and manifest["metrics"])
_METRICS_SCHEMA = pa.schema(
    [("lang_bucket", pa.int32())]
    + [(k, pa.int64()) for k in ("n_turns", "n_kept", "n_convs", "total_bytes")]
)


# ------------------------------------------------------------ resumable IO
def _manifest_path(out_path: str) -> Path:
    return Path(out_path) / "_manifest.json"


def read_manifest(out_path: str) -> dict:
    p = _manifest_path(out_path)
    if p.exists():
        return json.loads(p.read_text())
    return {"completed_buckets": [], "metrics": {}}


def run_pipeline(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    model_path: str = DEFAULT_MODEL_PATH,
    langs: list[str] | None = None,
    resume: bool = True,
    sink_format: str = "parquet",
    sink_options: dict | None = None,
    sink_table: str | None = None,
) -> dict:
    """Execute + write, resumable per language bucket.

    The final rows pass through a rebalance on lang_bucket, so AQE sizes
    the write tasks from the measured shuffle size: one file per
    non-empty bucket while a bucket fits in
    `spark.sql.adaptive.advisoryPartitionSizeInBytes` (Spark's own
    setting), and a big bucket split into files of about that size.
    Within each file rows are sorted by (conv_id, turn_idx).

    On resume, already-completed buckets are excluded from the write
    (their files are never touched — FIXTURES.md invariant 3); dynamic
    partition overwrite means a re-run of a failed bucket replaces only
    that bucket's directory.

    Sink selection (north_rule: Iceberg tables at production scale):
    * sink_format="parquet" (default) / "orc" / any path-based source —
      DataFrameWriter.format(sink_format).save(out_path).
    * sink_format="iceberg" — DataFrameWriterV2: first run bootstraps the
      lang_bucket-partitioned table (writeTo(...).using("iceberg")
      .partitionedBy(lang_bucket).create()); subsequent runs, including
      resumes, overwritePartitions() — dynamic overwrite of exactly the
      buckets present in this run. Requires the iceberg-spark-runtime
      jar + a configured catalog, which this sandbox doesn't ship; the
      branch is unit-tested up to the analysis error the missing catalog
      raises. `sink_options` passes through to the writer either way
      (compression, or iceberg table properties).
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # Sink compression default (r07): snappy for the parquet hot path.
    # The session default stays zstd (best size at similar READ speed —
    # guide choice for tables read many times), but the flagship write
    # is producer-CPU-bound and snappy cut the cold sf1 end-to-end run
    # ~2 s for +40% file size. Overridable per call: pass
    # sink_options={"compression": "zstd"} to favor storage instead —
    # the right call when the output is long-lived and read often.
    if sink_format == "parquet":
        sink_options = {"compression": "snappy", **(sink_options or {})}
    manifest = read_manifest(out_path) if resume else {"completed_buckets": [], "metrics": {}}
    if resume and manifest.get("input") not in (None, in_path):
        raise ValueError(
            f"resume manifest at {out_path} was written for input "
            f"{manifest['input']!r}, not {in_path!r}; pass resume=False to "
            "overwrite"
        )
    done = set(manifest["completed_buckets"])
    todo = [b for b in range(C.LANG_BUCKETS) if b not in done]
    if not todo:
        return manifest

    from pyspark import StorageLevel

    turns = spark.read.parquet(in_path)
    # drop the raw text BEFORE the persist (r07): every downstream
    # consumer (vote, backjoin, write) reads OUTPUT_COLUMNS, which carry
    # scrubbed_text but never the original text — caching it doubled the
    # string payload held in memory/disk for nothing (measured sf1:
    # ~1 s off the cold pipeline run; at 10^12 turns it halves the
    # scored-checkpoint footprint).
    scored = (
        score_turns(turns, model_path=model_path, langs=langs)
        .drop("text")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        return _run_pipeline_writes(
            spark, scored, in_path, out_path, manifest, done, todo,
            sink_format, sink_options, sink_table,
        )
    finally:
        # release the cache entry even on the raising paths (missing
        # sink_table, absent iceberg catalog) — a long-lived driver must
        # not accumulate dead cached plans across retries
        scored.unpersist()


def _run_pipeline_writes(
    spark: SparkSession,
    scored: DataFrame,
    in_path: str,
    out_path: str,
    manifest: dict,
    done: set,
    todo: list,
    sink_format: str,
    sink_options: dict | None,
    sink_table: str | None,
) -> dict:
    conv = conversation_vote(scored).select("conv_id", "conv_lang")
    result = (
        scored.join(conv, "conv_id", "left")
        .withColumn("lang_bucket", F.pmod(F.hash(F.col("lang")), F.lit(C.LANG_BUCKETS)))
        .select(*OUTPUT_COLUMNS)
    )
    if done:
        result = result.filter(F.col("lang_bucket").isin(todo))

    # Output-shaping rebalance: without it each upstream task emits up
    # to LANG_BUCKETS small files and file-commit overhead dominates.
    # AQE picks the task count from the shuffle statistics, so the file
    # count follows the data instead of a fixed knob. The vote agg
    # remains the job's only SEMANTIC shuffle.
    result = result.hint("rebalance", "lang_bucket")

    # observe() rides the write job for free (A7 pipeline metrics).
    from pyspark.sql import Observation

    # ALL metrics (global + per-bucket lineage) ride the write job as
    # observe() aggregates — no second pass over the scored data. Per
    # bucket: n_turns / n_kept (conditional sums), n_convs
    # (approx_count_distinct over a bucket-masked key, HLL merges fine
    # inside observe), total_bytes. LANG_BUCKETS x 4 + 2 columns of
    # cheap conditional aggregation vs an entire extra job + shuffle.
    obs = Observation("pipeline_metrics")
    aggs = [
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
    ]
    for b in range(C.LANG_BUCKETS):
        cond = F.col("lang_bucket") == b
        aggs += [
            F.sum(cond.cast("long")).alias(f"b{b}_n_turns"),
            F.sum((cond & F.col("keep")).cast("long")).alias(f"b{b}_n_kept"),
            F.approx_count_distinct(F.when(cond, F.col("conv_id"))).alias(
                f"b{b}_n_convs"
            ),
            F.sum(F.when(cond, F.col("nbytes")).otherwise(F.lit(0))).alias(
                f"b{b}_total_bytes"
            ),
        ]
    # lang_bucket leads the sort: the planned write requires that order
    # for partitionBy, and would otherwise replace this sort with its own
    to_write = result.observe(obs, *aggs).sortWithinPartitions(
        "lang_bucket", "conv_id", "turn_idx"
    )
    if sink_format == "iceberg":
        if not sink_table:
            raise ValueError("sink_format='iceberg' requires sink_table")
        w2 = to_write.writeTo(sink_table).using("iceberg")
        for k, v in (sink_options or {}).items():
            w2 = w2.tableProperty(k, str(v))
        if not spark.catalog.tableExists(sink_table):
            # bootstrap: first run creates the partitioned table; every
            # later run (incl. resume) dynamic-overwrites exactly the
            # lang_buckets present in `result`
            w2.partitionedBy(F.col("lang_bucket")).create()
        else:
            w2.overwritePartitions()
    else:
        (
            to_write.write.mode("overwrite")
            .partitionBy("lang_bucket")
            .format(sink_format)
            .options(**(sink_options or {}))
            .save(out_path)
        )
    observed = dict(obs.get)

    # per-partition lineage/metrics rows from the observed aggregates —
    # only `todo` buckets are updated (done buckets kept from the prior
    # manifest; rewriting them from this run's filtered plan would zero
    # them out)
    mrows = {
        str(b): {k: int(observed[f"b{b}_{k}"] or 0) for k in _METRICS_SCHEMA.names[1:]}
        for b in todo
    }
    manifest["metrics"].update(mrows)
    # the _metrics table mirrors the FULL manifest map (all completed
    # buckets, incl. prior runs) — a tiny driver-built Arrow table, which
    # plans as a LocalTableScan: no pass over the data, no Python workers
    metrics = spark.createDataFrame(
        pa.Table.from_pylist(
            [{"lang_bucket": int(b), **m} for b, m in manifest["metrics"].items()],
            schema=_METRICS_SCHEMA,
        ).sort_by("lang_bucket")
    )
    if sink_format == "iceberg":
        metrics.writeTo(f"{sink_table}_metrics").using("iceberg").createOrReplace()
    else:
        metrics.write.mode("overwrite").format(sink_format).save(
            os.path.join(out_path, "_metrics")
        )
    # the write job covered every `todo` bucket — a bucket that produced no
    # rows is still complete (nothing to resume)
    manifest["completed_buckets"] = sorted(done | set(todo))
    manifest["input"] = in_path
    # observe() sums are NULL on an empty relation; per-bucket entries
    # already live in manifest["metrics"], keep only the globals here
    manifest["observed"] = {
        k: int(observed[k] or 0) for k in ("n_turns", "n_kept")
    }
    _write_manifest(out_path, manifest)
    return manifest


def _write_manifest(out_path: str, manifest: dict) -> None:
    """Atomic manifest update: temp file + os.replace so a crash mid-write
    can never leave truncated JSON that breaks the next resume."""
    target = _manifest_path(out_path)
    tmp = target.with_name(target.name + ".tmp")
    tmp.write_text(json.dumps(manifest, indent=1, sort_keys=True))
    os.replace(tmp, target)
