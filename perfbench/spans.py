"""Tracing for the traced benchmark run: spans recorded from outside the
program, and per-layer task metrics read back from Spark's event log.

Spans wrap the public ``Checkpointer.stage`` (one span per pipeline stage,
named after the module that does the stage's work), the checkpointer's
lineage-metrics write (``checkpoint``) and ``pipeline.train_pair_matcher``
(``scoring.train``). Entering a span sets the Spark job group to the span's
name and leaving it restores the parent's, so every Spark job — and through
the event log every task — is attributed to the innermost open span.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

# checkpointed stage name -> layer (module) that computes it
STAGE_LAYER = {
    "paragraphs": "extract",
    "anchor_counts": "count",
    "candidates": "clean",
    "name_clusters": "cluster.names",
    "mentions": "mentions",
    "records": "pipeline.records",
    "pairs": "blocking",
    "pair_features": "pairs",
    "scored_pairs": "scoring.score",
    "er_clusters": "cluster.cc",
}
LAYERS = [
    "extract", "count", "clean", "cluster.names", "mentions", "pipeline.records",
    "blocking", "pairs", "scoring.train", "scoring.score", "cluster.cc", "checkpoint",
]
ROOT = "pipeline"
_GROUP = "spark.jobGroup.id"
# per job group totals read from the event log
EMPTY_GROUP = {
    "jobs": 0, "task_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
    "input_bytes": 0, "output_bytes": 0, "rows_out": 0, "failed_tasks": 0,
}


class Tracer:
    """Records spans (name, start, end, parent) in memory; ``install`` patches
    the program's layer boundaries and returns an undo callable."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[int] = []
        self.train_inputs: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        self.sc.setLocalProperty(_GROUP, name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            parent = self.spans[self._open[-1]]["name"] if self._open else None
            self.sc.setLocalProperty(_GROUP, parent)

    def install(self):
        from minimel_spark import pipeline
        from minimel_spark.sources.checkpoint import Checkpointer

        tracer = self
        orig_stage = Checkpointer.stage
        orig_metrics = getattr(Checkpointer, "_write_metrics", None)
        orig_train = pipeline.train_pair_matcher

        def stage(ckpt, name, build):
            with tracer.span(STAGE_LAYER.get(name, f"stage.{name}")):
                return orig_stage(ckpt, name, build)

        def write_metrics(ckpt, *args, **kwargs):
            with tracer.span("checkpoint"):
                return orig_metrics(ckpt, *args, **kwargs)

        def train(df, *args, **kwargs):
            tracer.train_inputs.append(df)
            with tracer.span("scoring.train"):
                return orig_train(df, *args, **kwargs)

        Checkpointer.stage = stage
        if orig_metrics is not None:
            Checkpointer._write_metrics = write_metrics
        pipeline.train_pair_matcher = train

        def undo():
            Checkpointer.stage = orig_stage
            if orig_metrics is not None:
                Checkpointer._write_metrics = orig_metrics
            pipeline.train_pair_matcher = orig_train

        return undo

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its direct children
        cover (children of one span never overlap: the driver is single
        threaded between them)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def event_log_metrics(event_dir: str) -> dict[str, dict]:
    """Per job group: jobs, task seconds, shuffle/spill/input/output bytes,
    records written and failed tasks, from the event log(s) in ``event_dir``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def g(name):
        return groups.setdefault(name, dict(EMPTY_GROUP))

    # Spark 4 writes a rolling event log: a directory of ``events_*`` files
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(event_dir)
                   for f in fs if f.startswith("events_") or f.startswith("local-"))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    name = (ev.get("Properties") or {}).get(_GROUP) or "(none)"
                    g(name)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, name)
                elif kind == "SparkListenerTaskEnd":
                    m = g(stage_group.get(ev["Stage ID"], "(none)"))
                    info = ev.get("Task Info", {})
                    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                    if info.get("Failed") or reason != "Success":
                        m["failed_tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    m["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    m["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    out = tm.get("Output Metrics") or {}
                    m["output_bytes"] += out.get("Bytes Written", 0)
                    m["rows_out"] += out.get("Records Written", 0)
    return groups
