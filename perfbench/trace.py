"""Per-layer tracing for the benchmark: spans, job tags, event-log fold.

A span is recorded around each call into a layer.  While a span is open,
every Spark job the call submits carries the job description
``kgbench:<layer>:pass=<n>``; pipeline stages are spanned by wrapping
``CheckpointManager.get_or_run`` for the duration of a pass, so no program
source is touched.  Spans stay in memory until the run ends.

After the traced session stops, ``fold_event_log`` reads Spark's own event
log (``spark.eventLog.compress=false``: plain JSON lines) and sums the task
metrics of every stage by the description its stage was submitted under.
Jobs tagged ``kgbench:probe`` (counters the benchmark computes from a
pass's outputs after the pass) are kept apart from every layer.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict

PREFIX = "kgbench:"

#: pipeline checkpoint stage -> layer (module) name
STAGE_LAYER = {
    "mentions": "mentions",
    "entity_embeddings": "embed",
    "candidate_links": "link",
    "entities": "canonical",
    "triples": "triples",
    "metrics": "lineage",
}


class Tracer:
    """Spans and job tags for one process.  Disabled, it records nothing
    and sets no job description, so untraced runs do no extra work."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_no = 0
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        self._stack.append(layer)
        self.sc.setJobDescription(f"{PREFIX}{layer}:pass={self.pass_no}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append(
                {
                    "layer": layer,
                    "pass": self.pass_no,
                    "start": t0,
                    "end": t1,
                    "parent": self._stack[-1] if self._stack else None,
                }
            )
            outer = self._stack[-1] if self._stack else None
            self.sc.setJobDescription(f"{PREFIX}{outer}:pass={self.pass_no}" if outer else None)

    @contextlib.contextmanager
    def stage_spans(self):
        """Span every ``CheckpointManager.get_or_run`` call made inside the
        block, as its stage's layer."""
        from kgforge.checkpoint import CheckpointManager

        if not self.enabled:
            yield
            return
        orig = CheckpointManager.get_or_run
        tracer = self

        def get_or_run(self_, stage, fn, *args, **kwargs):
            with tracer.span(STAGE_LAYER.get(stage, stage)):
                return orig(self_, stage, fn, *args, **kwargs)

        CheckpointManager.get_or_run = get_or_run
        try:
            yield
        finally:
            CheckpointManager.get_or_run = orig

    def walls(self) -> tuple[dict[tuple[str, int], float], dict[tuple[str, int], int]]:
        """(layer, pass) -> summed span seconds, and -> number of spans."""
        walls: dict[tuple[str, int], float] = defaultdict(float)
        calls: dict[tuple[str, int], int] = defaultdict(int)
        for s in self.spans:
            walls[(s["layer"], s["pass"])] += s["end"] - s["start"]
            calls[(s["layer"], s["pass"])] += 1
        return walls, calls


def _parse_desc(desc: str | None) -> tuple[str, int] | None:
    if not desc or not desc.startswith(PREFIX):
        return None
    layer, _, p = desc[len(PREFIX):].rpartition(":pass=")
    return (layer, int(p)) if layer else None


def fold_event_log(log_dir: str, app_id: str) -> dict[tuple[str, int], dict]:
    """(layer, pass) -> {jobs, stages, tasks, run_s, cpu_s, gc_s,
    shuffle_bytes, spill_bytes, bytes_written, task_skew} from application
    ``app_id``'s log under ``log_dir`` (Spark 4 writes it rolled, as
    ``eventlog_v2_<app>/events_<n>_<app>``)."""
    files = sorted(glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*")))
    if not files:
        raise FileNotFoundError(f"no Spark event log for {app_id} under {log_dir}")
    acc: dict[tuple[str, int], dict] = defaultdict(
        lambda: {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "run_s": 0.0,
            "cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_bytes": 0,
            "spill_bytes": 0,
            "bytes_written": 0,
            "_task_ms": [],
        }
    )
    stage_key: dict[int, tuple[str, int]] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = _parse_desc(ev.get("Properties", {}).get("spark.job.description"))
                    if key:
                        acc[key]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    key = _parse_desc(ev.get("Properties", {}).get("spark.job.description"))
                    if key:
                        stage_key[ev["Stage Info"]["Stage ID"]] = key
                        acc[key]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    key = stage_key.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if key is None or not m:
                        continue
                    a = acc[key]
                    a["tasks"] += 1
                    a["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    a["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    a["bytes_written"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                    a["_task_ms"].append(m.get("Executor Run Time", 0))
    out = {}
    for key, a in acc.items():
        t = a.pop("_task_ms")
        med = statistics.median(t) if t else 0
        a["task_skew"] = (max(t) / med) if med else (1.0 if t else 0.0)
        out[key] = a
    return out
