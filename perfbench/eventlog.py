"""Fold a Spark event log into per-layer cost.

Jobs are attributed through their description ``"<workload>:<layer>"``
(set by the span wrappers in ``spans.py``) and through the
``perfbench.op`` local property, which names the op that submitted them;
only ops listed in ``ops`` are folded. Task metrics (tasks, failed tasks,
shuffle bytes written, disk spill) go to the layer of the task's stage.
"time to run Python workers" goes to the layer the UDF was built under
(its plan node reads ``<layer>__<name>(...)``) and, for an untagged UDF,
to the stage's layer.

Spark 4.1 writes a log directory ``eventlog_v2_<app>/events_<n>_<app>``;
a ``.zstd`` part (the default codec) is read through the ``zstd`` CLI,
an uncompressed one (``spark.eventLog.compress=false``) directly.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess

OP_PROPERTY = "perfbench.op"
PY_TIME = "time to run Python workers"
COUNTERS = ("jobs", "tasks", "python_s", "shuffle_bytes", "spill_bytes",
            "failed_tasks")
_UDF_TAG = re.compile(r"\b([a-z]+)__\w+\(")


def read_events(log_dir):
    """Yield the events of every log part under ``log_dir``, in order."""
    parts = sorted(
        glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    for p in parts:
        if p.endswith(".zstd"):
            text = subprocess.run(
                ["zstd", "-dcq", p], check=True, capture_output=True
            ).stdout.decode()
        else:
            with open(p) as fh:
                text = fh.read()
        for line in text.splitlines():
            if line.strip():
                yield json.loads(line)


def _walk(plan):
    yield plan
    for child in plan.get("children", ()):
        yield from _walk(child)


def _layer_of(props):
    desc = (props or {}).get("spark.job.description") or ""
    return desc.split(":", 1)[1] if ":" in desc else "driver"


class Fold:
    """Per-layer totals over the folded ops, plus each op's job intervals
    (for the op time no Spark job covers)."""

    def __init__(self, layers, ops):
        self.ops = set(ops)
        self.layers = {name: dict.fromkeys(COUNTERS, 0) for name in layers}
        self.job_spans: dict[str, list] = {op: [] for op in self.ops}
        self._acc: dict[int, tuple] = {}  # accumulator -> (metric, udf tag)
        self._stage: dict[int, tuple] = {}  # stage -> (layer, op)
        self._job: dict[int, tuple] = {}  # job -> (layer, op, submitted ms)

    def _bucket(self, layer):
        return self.layers.setdefault(layer, dict.fromkeys(COUNTERS, 0))

    def add(self, e):
        kind = e.get("Event", "")
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            for node in _walk(e["sparkPlanInfo"]):
                m = _UDF_TAG.search(node.get("simpleString", ""))
                tag = m.group(1) if m and m.group(1) in self.layers else None
                for met in node.get("metrics", ()):
                    self._acc[met["accumulatorId"]] = (met["name"], tag)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            op = props.get(OP_PROPERTY)
            self._job[e["Job ID"]] = (_layer_of(props), op, e["Submission Time"])
            for sid in e.get("Stage IDs", ()):
                self._stage.setdefault(sid, (_layer_of(props), op))
            if op in self.ops:
                self._bucket(_layer_of(props))["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            _, op, t0 = self._job.get(e["Job ID"], (None, None, 0))
            if op in self.ops:
                self.job_spans[op].append((t0, e["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            sid = e["Stage Info"]["Stage ID"]
            self._stage[sid] = (_layer_of(props), props.get(OP_PROPERTY))
        elif kind == "SparkListenerTaskEnd":
            self._task(e)

    def _task(self, e):
        layer, op = self._stage.get(e["Stage ID"], ("driver", None))
        if op not in self.ops:
            return
        b = self._bucket(layer)
        b["tasks"] += 1
        if (e.get("Task End Reason") or {}).get("Reason") != "Success":
            b["failed_tasks"] += 1
        tm = e.get("Task Metrics") or {}
        b["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        b["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
            name, tag = self._acc.get(acc.get("ID"), (None, None))
            if name == PY_TIME:
                self._bucket(tag or layer)["python_s"] += (
                    int(acc.get("Update") or 0) / 1000.0
                )

    def no_job_s(self, op, t0_ms, t1_ms):
        """Op time (ms epoch bounds) during which no Spark job ran."""
        covered, end = 0.0, t0_ms
        for a, b in sorted(self.job_spans.get(op, ())):
            a, b = max(a, end), min(b, t1_ms)
            if b > a:
                covered += b - a
                end = b
        return max(t1_ms - t0_ms - covered, 0.0) / 1000.0


def fold(log_dir, layers, ops):
    f = Fold(layers, ops)
    for e in read_events(log_dir):
        f.add(e)
    return f
