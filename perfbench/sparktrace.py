"""Per-layer numbers read from Spark's own instruments.

The traced pass labels every call into a layer with a job group, turns
on Spark's JSON event log (uncompressed, one file, since Spark 4.1
defaults to zstd rolling logs), and folds the log, once the context has
stopped, into one `Group` per job group: stage and task metrics, and the
SQL metrics of the plan nodes that run Python workers.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path


def eventlog_conf(log_dir: Path) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


# SQL metric type -> factor to seconds (timings) or 1 (sizes, counts)
_UNIT = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1, "sum": 1, "average": 1}


@dataclass
class Group:
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_s: dict[int, list[float]] = field(default_factory=lambda: defaultdict(list))
    # (UDF name, SQL metric name) -> total over tasks, in seconds for timings
    python: dict[tuple[str, str], float] = field(default_factory=lambda: defaultdict(float))

    def python_metric(self, udf: str, name: str) -> float:
        return self.python.get((udf, name), 0.0)

    def task_skew(self) -> float:
        """Per stage max over median task time, averaged over stages
        weighted by their task time; 0 when no stage has two tasks."""
        num = den = 0.0
        for times in self.task_s.values():
            med = statistics.median(times)
            if len(times) > 1 and med > 0:
                num += max(times) / med * sum(times)
                den += sum(times)
        return num / den if den else 0.0


def _python_udf(simple: str) -> str:
    """'ArrowEvalPython [_score(text#3)#6], ...' -> '_score'."""
    inner = simple[simple.find("[") + 1 :]
    return inner[: inner.find("(")]


def _walk(plan: dict, out: dict[int, tuple[str, str, str]]) -> None:
    names = {m["name"] for m in plan.get("metrics", ())}
    if "time to run Python workers" in names:
        udf = _python_udf(plan.get("simpleString", ""))
        for m in plan["metrics"]:
            out[m["accumulatorId"]] = (udf, m["name"], m["metricType"])
    for child in plan.get("children", ()):
        _walk(child, out)


def fold(log_dir: Path) -> dict[str, Group]:
    """Job group id -> Group, over the single event log in `log_dir`."""
    (path,) = [p for p in log_dir.iterdir() if p.is_file()]
    groups: dict[str, Group] = defaultdict(Group)
    stage_group: dict[int, str] = {}
    python_accs: dict[int, tuple[str, str, str]] = {}
    with path.open() as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                for s in e["Stage IDs"]:
                    stage_group.setdefault(s, g)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _walk(e["sparkPlanInfo"], python_accs)
            elif kind == "SparkListenerTaskEnd":
                grp = groups[stage_group.get(e["Stage ID"], "")]
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                grp.task_s[e["Stage ID"]].append(
                    (info["Finish Time"] - info["Launch Time"]) / 1e3
                )
                grp.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                grp.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                for acc in info.get("Accumulables", ()):
                    meta = python_accs.get(acc["ID"])
                    if meta is not None and "Update" in acc:
                        udf, name, mtype = meta
                        grp.python[(udf, name)] += float(acc["Update"]) * _UNIT.get(mtype, 1)
    return groups


def stream_progress(query) -> dict[str, float]:
    """Fold a finished query's `StreamingQueryProgress` list."""
    prog = [p for p in query.recentProgress if p["numInputRows"] > 0]
    trig = sorted(p["durationMs"]["triggerExecution"] / 1e3 for p in prog)

    def total(*keys: str) -> float:
        return sum(p["durationMs"].get(k, 0) for p in prog for k in keys) / 1e3

    return {
        "streaming.batches": len(prog),
        "streaming.batch_p50_s": statistics.median(trig),
        "streaming.batch_p90_s": statistics.quantiles(trig, n=10, method="inclusive")[-1]
        if len(trig) > 1
        else trig[0],
        "streaming.add_batch_s": total("addBatch"),
        "streaming.query_planning_s": total("queryPlanning"),
        "streaming.commit_s": total("walCommit", "commitOffsets"),
    }
