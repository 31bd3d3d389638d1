"""The benchmark's workloads: the call each timed run makes, and the
checks each run's output must pass.

Both are closed loops: one run at a time from one process, with Spark
using at most `local[nproc]` task threads. `check` reads the output from
disk with pyarrow, outside the timed region, and returns the problems it
found (empty when the output is correct).
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from perfbench import inputs

SAMPLE_TURNS = 256  # turns checked against the single-process oracles


def read_parquet_dir(path: Path, hive: bool = False) -> pd.DataFrame:
    """All data files under `path`; '_' and '.' files are skipped."""
    return (
        ds.dataset(path, format="parquet", partitioning="hive" if hive else None)
        .to_table()
        .to_pandas()
    )


def frame_diff(got: pd.DataFrame, want: pd.DataFrame, keys: list[str], rtol: float = 0.0) -> list[str]:
    """Row-set comparison on the columns of `want`: same rows by `keys`,
    and per column equal values, floats within `rtol`."""
    if len(got) != len(want):
        return [f"{len(got)} rows, want {len(want)}"]
    g = got.sort_values(keys).reset_index(drop=True)
    w = want.sort_values(keys).reset_index(drop=True)
    problems = []
    for c in want.columns:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        if w[c].dtype.kind == "f":
            bad = ~(np.isclose(a.astype(float), b, rtol=rtol, atol=0) | (pd.isna(a) & pd.isna(b)))
        else:
            bad = ~(pd.Series(a).fillna("\0NULL") == pd.Series(b).fillna("\0NULL")).to_numpy()
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            problems.append(f"{c} differs in {int(bad.sum())} rows, first {a[i]!r} vs {b[i]!r}")
    return problems


def digest(df: pd.DataFrame, keys: list[str]) -> str:
    """Order-insensitive digest of a frame's rows and columns."""
    d = df.sort_values(keys).reset_index(drop=True)
    d = d[sorted(d.columns)]
    return hashlib.sha256(pd.util.hash_pandas_object(d, index=False).values.tobytes()).hexdigest()


class TranscriptsBatch:
    """`spark.pipeline.run_pipeline(resume=False)` over seeded transcripts
    into a fresh output directory."""

    name = "transcripts_batch"
    keys = ["conv_id", "turn_idx"]

    def __init__(self, work: Path, seed: int, nproc: int):
        self.in_dir = work / "in"
        self.seed = seed
        self.rows = inputs.transcripts(seed, self.in_dir, max(16, nproc))
        self.first_digest: str | None = None
        self.expected = self._oracle_sample()

    def _oracle_sample(self) -> pd.DataFrame:
        """lang, scores, rule columns and scrubbed text of a seeded turn
        sample, from the single-process oracles."""
        from langid_py_spark import config as C
        from langid_py_spark.core.lm import MultiTrigramLM
        from langid_py_spark.core.model import NBModel
        from langid_py_spark.spark.rules import python_rule_oracle
        from langid_py_spark.spark.scrub import python_scrub_oracle

        src = read_parquet_dir(self.in_dir)
        rng = np.random.default_rng(self.seed)
        s = src.iloc[np.sort(rng.choice(len(src), SAMPLE_TURNS, replace=False))]
        texts = s["text"].fillna("").tolist()
        langs, raw, norm, nbytes = NBModel.load().classify_batch(texts, max_bytes=C.SCORE_MAX_BYTES)
        ppl = MultiTrigramLM.load().perplexity_batch_by_lang(
            texts, list(langs), max_bytes=C.SCORE_MAX_BYTES
        )
        rules = pd.DataFrame([python_rule_oracle(t) for t in texts])
        return pd.DataFrame(
            {
                "conv_id": s["conv_id"].to_numpy(),
                "turn_idx": s["turn_idx"].to_numpy(),
                "lang": langs.astype(str),
                "conf_raw": raw,
                "conf_norm": norm,
                "nbytes": nbytes,
                "ppl": ppl,
                **{c: rules[c].to_numpy() for c in rules.columns},
                "scrubbed_text": [python_scrub_oracle(t) for t in texts],
            }
        )

    def run(self, spark, out: Path) -> None:
        from langid_py_spark.spark.pipeline import run_pipeline

        run_pipeline(spark, str(self.in_dir), str(out), resume=False)

    def output(self, out: Path) -> pd.DataFrame:
        return read_parquet_dir(out, hive=True)

    def check(self, out: Path) -> list[str]:
        from langid_py_spark import config as C

        df = self.output(out)
        problems = []
        if len(df) != self.rows:
            problems.append(f"{len(df)} output rows, want {self.rows}")
        if df.duplicated(self.keys).any():
            problems.append("repeated (conv_id, turn_idx) rows")
        manifest = json.loads((out / "_manifest.json").read_text())
        if manifest["completed_buckets"] != list(range(C.LANG_BUCKETS)):
            problems.append(f"manifest buckets {manifest['completed_buckets']}")
        for b, n in df.groupby("lang_bucket").size().items():
            if manifest["metrics"].get(str(b), {}).get("n_turns") != n:
                problems.append(f"bucket {b}: {n} rows, manifest disagrees")
        sample = df.merge(self.expected[self.keys], on=self.keys)
        problems += frame_diff(sample, self.expected, self.keys, rtol=1e-12)
        d = digest(df, self.keys)
        if self.first_digest is None:
            self.first_digest = d
        elif d != self.first_digest:
            problems.append("output digest differs from the first run's")
        return problems

    # ---------------------------------------------------- traced pass
    def probe(self, spark, work: Path, traced_out: Path) -> dict:
        """Vote and streaming probes. The stream reads the same input
        files, and its per-turn columns must equal the traced batch
        output's."""
        from perfbench import layers, sparktrace

        tracker = spark.sparkContext.statusTracker()
        jobs = len(tracker.getJobIdsForGroup("workload"))
        vote_s = layers.vote(spark, self.in_dir)
        stream_out = work / "stream-out"
        stream_s, query = layers.stream(spark, self.in_dir, stream_out, work / "stream-ckpt")
        group = str(query.runId)
        try:
            problems = check_stream(stream_out, self.output(traced_out))
        except Exception as e:  # a failed check is counted, not fatal
            problems = [f"stream check raised {type(e).__name__}: {e}"]
        return {
            "attempted": 1,
            "problems": problems,
            "jobs": jobs,
            "stream_group": group,
            "metrics": {
                "spark.vote.vote_s": vote_s,
                "streaming.run_s": stream_s,
                "streaming.jobs": len(tracker.getJobIdsForGroup(group)),
                **sparktrace.stream_progress(query),
            },
        }

    def layer_metrics(self, out: Path, started: float, groups: dict, state: dict) -> dict[str, float]:
        """`spark.vote`, `spark.pipeline` and streaming numbers from the
        traced run's files and the folded event log."""
        from perfbench import layers

        files = [p for p in out.rglob("*") if p.is_file() and not p.name.startswith(".")]
        # dynamic partition overwrite leaves no _SUCCESS at the root: the
        # commit tail runs from the last data file to the manifest
        last_data = max(p.stat().st_mtime for p in files if p.parent.name.startswith("lang_bucket="))
        return {
            **state["metrics"],
            "spark.vote.shuffle_write_bytes": groups["spark.vote"].shuffle_write_bytes,
            "spark.pipeline.commit_s": (out / "_manifest.json").stat().st_mtime - last_data,
            "spark.pipeline.files_written": len(files),
            "spark.pipeline.bytes_written": sum(p.stat().st_size for p in files),
            "spark.pipeline.jobs": state["jobs"],
            "spark.pipeline.spill_bytes": groups["workload"].spill_bytes,
            "streaming.rows_scored_per_input_row": groups[state["stream_group"]].python_metric(
                layers.SCORE_UDF, "number of output rows"
            )
            / self.rows,
        }


# the stream's per-turn columns that do not depend on micro-batch boundaries
def stateless_columns() -> list[str]:
    from langid_py_spark import config as C

    return [
        "conv_id", "turn_idx", "role", "tool", "ts", "lang", "conf_raw",
        "conf_norm", "nbytes", "ppl", *C.RULE_NAMES, "keep_heuristic",
        "r_low_conf", "r_high_ppl", "keep", "scrubbed_text",
    ]


def check_stream(stream_out: Path, batch: pd.DataFrame) -> list[str]:
    """The stream's stateless per-turn columns equal the batch output's."""
    cols = stateless_columns()
    return frame_diff(read_parquet_dir(stream_out)[cols], batch[cols], ["conv_id", "turn_idx"], rtol=1e-12)


TIERS = [
    "t1_exact", "t2_linededup", "t3_spancut", "t4_decontam",
    "t5_rules", "t6_clfsample", "t7_pack",
]


class CorpusTiers:
    """`operators.corpus_pipeline.run_corpus_pipeline(resume=False)` over a
    seeded line corpus, with the settings `q_corpus_pipeline` uses."""

    name = "corpus_tiers"
    k_span = 40
    floor = 0.3

    def __init__(self, work: Path, seed: int, nproc: int):
        self.in_dir = work / "in"
        self.rows, self.needles = inputs.corpus(seed, self.in_dir, max(8, nproc))
        self.expected = self._oracle()

    def _oracle(self) -> pd.DataFrame:
        """The DuckDB chained-CTE twin over the same files, normalized."""
        import duckdb

        from langid_py_spark.operators.corpus_pipeline import corpus_pipeline_oracle_sql

        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW corpus_in AS SELECT * FROM read_parquet('{self.in_dir}/*.parquet')"
            )
            sql = corpus_pipeline_oracle_sql(
                self.needles, table="corpus_in", k_span=self.k_span, floor=self.floor
            )
            return con.execute(sql).df()
        finally:
            con.close()

    def run(self, spark, out: Path) -> None:
        from langid_py_spark.operators.corpus_pipeline import run_corpus_pipeline

        run_corpus_pipeline(
            spark,
            spark.read.parquet(str(self.in_dir)),
            str(out),
            self.needles,
            k_span=self.k_span,
            floor=self.floor,
            resume=False,
        )

    def check(self, out: Path) -> list[str]:
        """`scripts/check_oracles.py`'s rule: after sorting columns and
        rows, equal row count, columns, dtype kinds and exact values."""
        from scripts.check_oracles import dtype_sig, normalize

        got = normalize(read_parquet_dir(out / TIERS[-1]))
        want = normalize(self.expected)
        if list(got.columns) != list(want.columns):
            return [f"columns {list(got.columns)}, want {list(want.columns)}"]
        if dtype_sig(got) != dtype_sig(want):
            return [f"dtypes {dtype_sig(got)}, want {dtype_sig(want)}"]
        return frame_diff(got, want, list(want.columns))

    # ---------------------------------------------------- traced pass
    def probe(self, spark, work: Path, traced_out: Path) -> dict:
        tracker = spark.sparkContext.statusTracker()
        return {"jobs": len(tracker.getJobIdsForGroup("workload"))}

    def layer_metrics(self, out: Path, started: float, groups: dict, state: dict) -> dict[str, float]:
        """Tier self time between the `_SUCCESS` marks of consecutive tier
        tables, so nothing is re-composed; exact row counts per tier."""
        m: dict[str, float] = {}
        prev = started
        for i, tier in enumerate(TIERS, 1):
            done = (out / tier / "_SUCCESS").stat().st_mtime
            m[f"corpus_pipeline.{tier}_s"] = done - prev
            m[f"corpus_pipeline.t{i}_rows"] = ds.dataset(out / tier, format="parquet").count_rows()
            prev = done
        workload = groups["workload"]
        m["corpus_pipeline.jobs"] = state["jobs"]
        m["corpus_pipeline.shuffle_write_bytes"] = workload.shuffle_write_bytes
        m["corpus_pipeline.task_skew"] = workload.task_skew()
        return m


WORKLOADS = {w.name: w for w in (TranscriptsBatch, CorpusTiers)}
