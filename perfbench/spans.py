"""Tracing for the benchmark's traced runs.

Spans are recorded from outside the program: ``Tracer.instrument``
wraps the public functions of each layer module (``stages``, ``sinks``,
``pipeline``) for the duration of a run and restores them afterwards.
The one fused Spark action (``SinkSet.write_classified``) is split with
Spark's own SQL metrics, read from the status store after the action,
and with a prefix ladder of ``noop`` writes.
"""

from __future__ import annotations

import contextlib
import functools
import re
import time

from logparse_spark import pipeline, stages
from logparse_spark.sinks import SinkSet

# (owner, attribute, span name, result summary) — the public calls each
# operation makes into the layer modules
INSTRUMENTED = (
    (pipeline, "load_rules", "rules.load_rules", None),
    (stages, "tune_scan_splits", "stages.tune_scan_splits", None),
    (stages, "read_transcripts", "stages.read_transcripts", None),
    (stages, "auto_bucket_count", "stages.auto_bucket_count", None),
    (stages, "input_row_count", "stages.input_row_count", None),
    (stages, "detect_hot_convs", "stages.detect_hot_convs", list),
    (pipeline, "committed_buckets", "sinks.committed_buckets", None),
    (pipeline, "classify", "pipeline.classify", None),
    (stages, "parse_match_slim", "stages.parse_match_slim", None),
    (stages, "bucket_and_salt", "stages.bucket_and_salt", None),
    (stages, "attach_rule_metadata", "stages.attach_rule_metadata", None),
    (stages, "enrich", "stages.enrich", None),
    (SinkSet, "write_classified", "sinks.write_classified", None),
    (SinkSet, "commit", "sinks.commit", None),
    (SinkSet, "merge_classified", "sinks.merge_classified", None),
    (SinkSet, "read_conversations", "sinks.read_conversations", None),
    (SinkSet, "read_time_range", "sinks.read_time_range", None),
    (pipeline, "render_report", "pipeline.render_report", None),
)


class Tracer:
    """In-memory spans: name, start, end, parent span, run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.enabled = True
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def paused(self):
        """No spans inside (warm-up calls, output checks)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def _wrap(self, fn, name: str, summary):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if summary is not None:
                    rec["result"] = summary(out)
                return out

        return traced

    def instrument(self) -> None:
        for owner, attr, name, summary in INSTRUMENTED:
            fn = getattr(owner, attr)
            self._patches.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name, summary))

    def restore(self) -> None:
        while self._patches:
            owner, attr, fn = self._patches.pop()
            setattr(owner, attr, fn)

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_times(self) -> dict[str, dict]:
        """Per span name: calls, total and self seconds (duration minus
        the part its child spans cover)."""
        out: dict[str, dict] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            child = sum(c["end"] - c["start"] for c in self.children(s["id"]))
            row = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += dur
            row["self_s"] += dur - child
        return out


# -- Spark SQL metrics, read from the status store after an action ------

_UNIT = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
         "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
         "TiB": 2.0 ** 40, "": 1.0}
_NUM = r"(\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]*)"


def _num(num: str, unit: str) -> float:
    return float(num.replace(",", "")) * _UNIT[unit]


def parse_metric(text: str) -> tuple[float, tuple | None]:
    """A status-store metric string -> (total, (min, med, max) or None).

    Per-task metrics read ``total (min, med, max (stageId: taskId))``
    on the first line and ``12.3 MiB (1.0 MiB, 2.0 MiB, 4.1 MiB (...))``
    on the second; the rest are a bare ``1,234`` or ``8 ms``."""
    body = text.strip().split("\n")[-1]
    nums = re.findall(_NUM, body)
    total = _num(*nums[0])
    dist = tuple(_num(*n) for n in nums[1:4]) if "(" in body and len(nums) >= 4 else None
    return total, dist


class SqlMetrics:
    """New SQL executions since the last call, as plan nodes with their
    parsed metrics (``spark._jsparkSession.sharedState().statusStore()``,
    via ``executionMetrics`` and ``planGraph``)."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.seen = int(self.store.executionsCount())

    def new_executions(self) -> list[dict]:
        n = int(self.store.executionsCount())
        if n == self.seen:  # executionsList rejects an empty page
            return []
        execs = self.store.executionsList(self.seen, n - self.seen)
        self.seen = n
        out = []
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            values = self.store.executionMetrics(eid)
            graph = self.store.planGraph(eid).allNodes()
            nodes = []
            for j in range(graph.size()):
                node = graph.apply(j)
                ms = node.metrics()
                metrics = {}
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = v.get()
                nodes.append((node.name(), metrics))
            out.append({"id": int(eid), "nodes": nodes})
        return out


def _nodes(ex: dict, prefix: str) -> list[dict]:
    return [m for name, m in ex["nodes"] if name.startswith(prefix)]


def _total(metrics: dict, key: str) -> float:
    return parse_metric(metrics[key])[0] if key in metrics else 0.0


def write_layers(ex: dict) -> dict[str, float] | None:
    """Per-layer split of one fan-out write execution, or None when
    ``ex`` is not one (no file-writer node)."""
    writer = _nodes(ex, "Execute InsertIntoHadoopFsRelationCommand")
    if not writer:
        return None
    w = writer[0]
    out = {
        "sinks.files_written": _total(w, "number of written files"),
        "sinks.bytes_written": _total(w, "written output"),
        "sinks.job_commit_s": _total(w, "job commit time"),
        "sinks.task_commit_s": _total(w, "task commit time"),
        "stages.broadcast_joins": float(len(_nodes(ex, "BroadcastHashJoin"))),
    }
    scans = _nodes(ex, "Scan parquet")
    if scans:
        scan = max(scans, key=lambda m: _total(m, "size of files read"))
        out["stages.scan_bytes"] = _total(scan, "size of files read")
        out["stages.scan_task_s"] = _total(scan, "scan time")
    py = _nodes(ex, "ArrowEvalPython")
    if py:
        p = py[0]
        # Spark times a task's Python worker from the task's start to
        # the worker's entry into ``worker.main``. A reused worker enters
        # ``main`` as soon as its previous task ends and then waits for
        # the next one, so its value is negative and Spark drops it: the
        # sum counts only workers the pool had to fork. The "initialize"
        # timer is left out: on a reused worker it runs from that entry,
        # so it holds the worker's idle wait between tasks.
        out["udf.python_boot_s"] = _total(p, "time to start Python workers")
        out["udf.python_run_s"] = _total(p, "time to run Python workers")
        out["udf.arrow_bytes_sent"] = _total(p, "data sent to Python workers")
        out["udf.arrow_bytes_returned"] = _total(p, "data returned from Python workers")
    ex_nodes = [m for m in _nodes(ex, "Exchange") if "shuffle bytes written" in m]
    if ex_nodes:
        x = max(ex_nodes, key=lambda m: _total(m, "shuffle bytes written"))
        out["stages.exchange_bytes"] = _total(x, "shuffle bytes written")
        out["stages.exchange_records"] = _total(x, "shuffle records written")
        # per reduce task bytes read: (min, med, max)
        dist = parse_metric(x.get("local bytes read", "0"))[1]
        out["stages.exchange_skew"] = dist[2] / dist[1] if dist and dist[1] else 1.0
    sort = _nodes(ex, "Sort")
    if sort:
        out["sinks.sort_s"] = _total(sort[0], "sort time")
        out["sinks.sort_spill_bytes"] = _total(sort[0], "spill size")
    return out


# -- prefix ladder -------------------------------------------------------

def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def prefix_ladder(spark, src: str, compiled, role_dict, tool_dict,
                  buckets: int, hot: list[str]) -> dict[str, float]:
    """Self time of each layer of the fused ingest plan, as the
    difference between ``noop`` writes of successive plan prefixes:
    scan -> +parse -> +bucket/salt exchange -> +rule metadata/enrich."""
    df = stages.read_transcripts(spark, src)
    parsed = stages.parse_match_slim(df, compiled)
    bucketed = stages.bucket_and_salt(parsed.drop("text"), buckets, hot_convs=hot)
    full = pipeline.classify(df, compiled, role_dict, tool_dict, buckets=buckets,
                             hot_convs=hot)
    t = [_noop(d) for d in (df, parsed, bucketed, full)]
    return {
        "ladder.scan_s": t[0],
        "ladder.parse_s": t[1] - t[0],
        "ladder.exchange_s": t[2] - t[1],
        "ladder.enrich_s": t[3] - t[2],
        "ladder.full_s": t[3],
    }
