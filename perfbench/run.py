#!/usr/bin/env python3
"""Seeded benchmark of the langid + quality-filter engine.

Run from the repository root:

    python3 perfbench/run.py --workload transcripts_batch --seed 1 \\
        --seconds 10 --trace 0

One run: generate the seed's inputs and oracles (untimed), set up once
(a Spark session, which launches the JVM, plus the workload's first,
cold run), then repeat the workload for `--seconds` of measured time,
checking every run's output outside the timed region.
With `--trace 1` the measured window is replaced by one warm-up run and
one untraced reference run; a second, traced session follows: one
warm-up run, one run under Spark's event log, and the layer probes
(layers.py).

The last line of stdout is the result: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics of BENCHMARK.json, or with
`--trace 1` its per-layer metrics), each metric with its unit. The line
before it records the pinned environment, the noise channel (host steal
and a calibration probe), and every run. Everything is written under
`.perfbench/` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "2g"  # SparkSession's 16g default exceeds a 15 GB host


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def program_present() -> bool:
    return all(
        (ROOT / p).exists()
        for p in ("langid_py_spark/spark/pipeline.py", "__spark_entry__.py", "scripts/check_oracles.py")
    )


def pin_environment(work: Path, nproc: int) -> dict[str, str]:
    """Everything the numbers depend on that the program reads from its
    environment. SPARK_LOCAL_DIRS wins over `spark.local.dir`, so the
    shuffle directory is the benchmark's, whatever the session's default."""
    local, tmp = work / "spark-local", work / "tmp"
    local.mkdir(parents=True)
    tmp.mkdir()
    env = {
        "SPARK_LOCAL_DIRS": str(local),
        "SPARK_GRAFT_LOCAL_DIR": str(local),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(nproc),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
    }
    os.environ.update(env)
    return env


class Bench:
    def __init__(self, args: argparse.Namespace, work: Path, nproc: int):
        from perfbench.workloads import WORKLOADS

        self.args, self.work, self.nproc = args, work, nproc
        self.wl = WORKLOADS[args.workload](work, args.seed, nproc)
        self.spark = None
        self.attempted = self.failed = 0
        self.runs: list[dict] = []

    # ---------------------------------------------------------- session
    def start(self, extra_conf: dict[str, str] | None = None) -> None:
        from langid_py_spark.spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            # a pre-sized, pre-touched heap keeps the JVM's resident memory
            # from following GC timing, so peak_rss_mb moves with the
            # program's Python and off-heap memory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'} "
            f"-XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            **(extra_conf or {}),
        }
        self.spark = get_spark(
            cores=self.nproc,
            app_name="perfbench",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf=conf,
        )

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to end."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None

    # ------------------------------------------------------------- runs
    def run(self, kind: str, out: Path) -> float | None:
        """One workload run into a fresh `out`, then its output check.
        Returns the run's seconds, None when it raised or its output is
        wrong; the record also gets the process tree's CPU seconds."""
        from perfbench import proc

        shutil.rmtree(out, ignore_errors=True)
        # every run starts from an empty cache, as a fresh job would: the
        # workloads persist frames over paths the next run rewrites
        self.spark.catalog.clearCache()
        self.attempted += 1
        rec: dict = {"kind": kind}
        me = os.getpid()
        try:
            c0 = proc.tree_cpu_s(me)
            t0 = time.perf_counter()
            self.wl.run(self.spark, out)
            rec["s"] = time.perf_counter() - t0
            rec["cpu_s"] = proc.tree_cpu_s(me) - c0
            problems = self.wl.check(out)
        except Exception as e:  # a failed run is counted, not fatal
            problems = [f"raised {type(e).__name__}: {e}"]
            traceback.print_exc()
        self.runs.append(rec)
        if problems:
            rec["problems"] = problems
            self.failed += 1
            return None
        return rec["s"]

    def setup(self) -> float | None:
        """Session creation, which launches the JVM, plus the workload's
        first, cold run; None when that run failed."""
        t0 = time.perf_counter()
        self.start()
        session_s = time.perf_counter() - t0
        s = self.run("setup", self.work / "out")
        return None if s is None else session_s + s

    def timed(self) -> dict:
        """Warm runs until `--seconds` of run time is measured. The JIT
        still warms over the first warm runs; rather than spend a run on
        warming alone, the figures are medians over the whole window."""
        from perfbench import proc

        steal0, calib0 = proc.cpu_jiffies(), proc.calib_gflops(self.nproc)
        walls, cpus, spent = [], [], 0.0
        with proc.PeakPss(os.getpid()) as pss:
            while spent < self.args.seconds:
                t0 = time.perf_counter()
                s = self.run("timed", self.work / "out")
                spent += time.perf_counter() - t0 if s is None else s
                if s is not None:
                    walls.append(s)
                    cpus.append(self.runs[-1]["cpu_s"])
        steal1, calib1 = proc.cpu_jiffies(), proc.calib_gflops(self.nproc)
        return {
            "walls": walls,
            "cpus": cpus,
            "peak_pss": pss.peak,
            "noise": {
                "steal_pct": proc.steal_pct(steal0, steal1),
                "calib_gflops": min(calib0, calib1),
                "calib_threads": self.nproc,
            },
        }

    def reference(self) -> float | None:
        """The untraced run trace_overhead_s is taken against: one warm-up
        run, then one run, as far into the JIT's warming as the traced
        run that follows it in the second session."""
        self.run("warmup", self.work / "out")
        return self.run("untraced", self.work / "out")

    def traced(self, untraced_wall_s: float, per_layer: list[str]) -> dict[str, float]:
        """A second session with the event log on: a warm-up run, a run
        under the `workload` job group, then the layer probes."""
        from perfbench import layers, sparktrace
        from perfbench.layers import SCORE_UDF
        from perfbench.workloads import read_parquet_dir

        self.stop()
        log_dir = self.work / "eventlog"
        log_dir.mkdir()
        self.start(sparktrace.eventlog_conf(log_dir))
        layers.in_group(self.spark, "warmup")
        self.run("trace-warmup", self.work / "out")
        layers.in_group(self.spark, "workload")
        out = self.work / "traced"
        started = time.time()
        traced_s = self.run("traced", out)

        m = dict.fromkeys(per_layer, 0.0)
        m["trace_overhead_s"] = (traced_s or 0.0) - untraced_wall_s
        m.update(layers.core_kernels(read_parquet_dir(self.wl.in_dir)["text"].fillna("").tolist()))
        m["spark.scorer.score_s"] = layers.scorer(self.spark, self.wl.in_dir)
        m["spark.rules_scrub_s"] = layers.rules_scrub(self.spark, self.wl.in_dir)
        state = self.wl.probe(self.spark, self.work, out)
        self.attempted += state.get("attempted", 0)
        if state.get("problems"):
            self.failed += 1
            self.runs.append({"kind": "probe", "problems": state["problems"]})
        self.stop()

        groups = sparktrace.fold(log_dir)
        sc = groups["spark.scorer"]
        run_s = sc.python_metric(SCORE_UDF, "time to run Python workers")
        m["spark.scorer.python_run_s"] = run_s
        m["spark.scorer.python_start_s"] = sc.python_metric(
            SCORE_UDF, "time to start Python workers"
        ) + sc.python_metric(SCORE_UDF, "time to initialize Python workers")
        m["spark.scorer.arrow_bytes_sent"] = sc.python_metric(SCORE_UDF, "data sent to Python workers")
        m["spark.scorer.arrow_bytes_returned"] = sc.python_metric(
            SCORE_UDF, "data returned from Python workers"
        )
        m["spark.scorer.udf_over_kernel"] = run_s / (
            m["core.model.classify_batch_s"] + m["core.lm.perplexity_s"]
        )
        m["spark.scorer.rows_scored_per_input_row"] = (
            groups["workload"].python_metric(SCORE_UDF, "number of output rows") / self.wl.rows
        )
        m.update(self.wl.layer_metrics(out, started, groups, state))
        unknown = set(m) - set(per_layer)
        if unknown:
            raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
        return m


def end_to_end(rows: int, setup_s: float, t: dict) -> dict[str, float]:
    wall = statistics.median(t["walls"])
    return {
        "wall_s": wall,
        "rows_per_s": rows / wall,
        "cpu_s": statistics.median(t["cpus"]),
        "setup_s": setup_s,
        "peak_rss_mb": t["peak_pss"] / 2**20,
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not program_present():
        print(f"perfbench: the program under test is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}"
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work, nproc)

    bench = Bench(args, work, nproc)
    noise: dict = {}
    try:
        setup_s = bench.setup()
        if args.trace:
            untraced_s = bench.reference()
            if setup_s is None or untraced_s is None:
                print("perfbench: no run succeeded", file=sys.stderr)
                return 1
            names = [m["name"] for m in spec["per_layer"]]
            values = bench.traced(untraced_s, names)
        else:
            t = bench.timed()
            if setup_s is None or not t["walls"]:
                print("perfbench: no run succeeded", file=sys.stderr)
                return 1
            values = end_to_end(bench.wl.rows, setup_s, t)
            names = [m["name"] for m in spec["end_to_end"]]
            noise = t["noise"]
    finally:
        bench.shutdown()

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "input_rows": bench.wl.rows,
        "env": {
            **env,
            "master": f"local[{nproc}]",
            "spark.sql.shuffle.partitions": SHUFFLE_PARTITIONS,
            "spark.ui.showConsoleProgress": "false",
        },
        "noise": noise,
        "setup_s": setup_s,
        "runs": bench.runs,
    }
    (ROOT / ".perfbench" / f"{args.workload}-{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1)
    )
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {n: {"value": values[n], "unit": units[n]} for n in names},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
