"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own code around calls into the
engine: each span sets the Spark job group, so the event log that the
traced session writes attributes every stage to the span that caused
it. ``read_event_log`` parses that log (uncompressed, non-rolling JSON
lines) with the standard library into per-stage rows.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

# Spark 4.1 writes a rolling zstd directory unless both are turned off;
# the parser below reads one plain JSON-lines file.
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class Tracer:
    """Spans with Spark job groups. Disabled, it records nothing and
    leaves the job group alone, so an untraced run pays nothing."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Spans do not nest: each one is a job group of its own."""
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(name, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append({"name": name, "start": start, "end": end})

    def walls(self, prefix: str) -> list[float]:
        """Wall seconds of every span whose name starts with ``prefix``."""
        return [s["end"] - s["start"] for s in self.spans if s["name"].startswith(prefix)]


def _number(v) -> float | None:
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def read_event_log(log_dir: str) -> dict[str, list[dict]]:
    """{job group: [stage row]} from the single application log in
    ``log_dir``. A stage row holds its id, SQL execution id, submit and
    completion times (epoch seconds) and its accumulables summed by name
    (task metrics as ``internal.metrics.*`` plus SQL metrics such as
    "data sent to Python workers")."""
    names = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    stage_job: dict[int, tuple[str | None, int | None]] = {}
    rows: dict[str, list[dict]] = {}
    with open(os.path.join(log_dir, names[0])) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                exec_id = props.get("spark.sql.execution.id")
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = (group, None if exec_id is None else int(exec_id))
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if "Submission Time" not in info or "Completion Time" not in info:
                    continue  # skipped stage: nothing ran
                group, exec_id = stage_job.get(info["Stage ID"], (None, None))
                metrics: dict[str, float] = {}
                for a in info.get("Accumulables", []):
                    v = _number(a.get("Value"))
                    if v is not None:
                        metrics[a["Name"]] = metrics.get(a["Name"], 0.0) + v
                rows.setdefault(group or "", []).append(
                    {
                        "stage_id": info["Stage ID"],
                        "exec_id": exec_id,
                        "submit": info["Submission Time"] / 1000.0,
                        "complete": info["Completion Time"] / 1000.0,
                        "metrics": metrics,
                    }
                )
    return rows


def metric_sum(stages: list[dict], name: str) -> float:
    return sum(s["metrics"].get(name, 0.0) for s in stages)


def busy_s(stages: list[dict]) -> float:
    """Length of the union of the stages' [submit, complete] intervals."""
    total, end = 0.0, None
    for a, b in sorted((s["submit"], s["complete"]) for s in stages):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def spark_layer(groups: dict[str, list[dict]], spans: list[dict]) -> dict[str, float]:
    """Per-span Spark totals, median over the given spans: executor run
    and CPU time, GC, shuffle fetch wait, the time some stage was
    running, and the driver gap (span wall time during which no stage
    was running)."""
    per: dict[str, list[float]] = {
        k: [] for k in ("run", "cpu", "gc", "fetch", "busy", "gap")
    }
    for sp in spans:
        st = groups.get(sp["name"], [])
        per["run"].append(metric_sum(st, "internal.metrics.executorRunTime") / 1e3)
        per["cpu"].append(metric_sum(st, "internal.metrics.executorCpuTime") / 1e9)
        per["gc"].append(metric_sum(st, "internal.metrics.jvmGCTime") / 1e3)
        per["fetch"].append(
            metric_sum(st, "internal.metrics.shuffle.read.fetchWaitTime") / 1e3
        )
        per["busy"].append(busy_s(st))
        per["gap"].append(max(0.0, (sp["end"] - sp["start"]) - per["busy"][-1]))
    med = {k: statistics.median(v) if v else 0.0 for k, v in per.items()}
    return {
        "spark.executor_run_s": med["run"],
        "spark.executor_cpu_s": med["cpu"],
        "spark.gc_s": med["gc"],
        "spark.shuffle_fetch_wait_s": med["fetch"],
        "spark.stage_busy_s": med["busy"],
        "spark.driver_gap_s": med["gap"],
    }
