"""Benchmark runner: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload ingest_short_skewed --seed 1 \
        --seconds 20 --trace 0

Runs the named workload against the package's public functions on
``local[4]`` from a single process, checks every operation against an
independent DuckDB reference, and prints as its LAST stdout line one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones (tracing off); with
``--trace 1`` they are the per-layer ones, and the span table is also
written to ``perfbench/out/``. Must run from the repository root (the
package is imported from there); all files it writes stay under
``perfbench/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time
import traceback
from datetime import timedelta
from statistics import fmean, median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:  # run as a script: import the package from the checkout
    sys.path.insert(0, ROOT)

from perfbench.inputs import Shape  # noqa: E402

CORES = 4
WINDOW = timedelta(hours=24)
CONV_READ_IDS = 20
RANGE_ORDER = (0, 1)  # head and tail of the time span
UPSERT_CONVS = 2

E2E_UNITS = {
    "setup_s": "s",
    "turns_per_s": "1/s",
    "sink_bytes_per_turn": "B",
    "read_conv_p50_s": "s",
    "read_range_mean_s": "s",
    "upsert_p50_s": "s",
    "report_s": "s",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "fixtures.gen_s": "s",
    "stages.scan_s": "s",
    "stages.scan_bytes": "B",
    "stages.scan_task_s": "s",
    "stages.hot_probe_s": "s",
    "stages.hot_convs": "count",
    "stages.salted_rows": "count",
    "kernel.parse_s": "s",
    "kernel.match_ratio": "ratio",
    "udf.parse_self_s": "s",
    "udf.python_boot_s": "s",
    "udf.python_run_s": "s",
    "udf.arrow_bytes_sent": "B",
    "udf.arrow_bytes_returned": "B",
    "stages.exchange_s": "s",
    "stages.exchange_bytes": "B",
    "stages.exchange_records": "count",
    "stages.exchange_skew": "ratio",
    "stages.enrich_s": "s",
    "stages.broadcast_joins": "count",
    "sinks.write_classified_s": "s",
    "sinks.write_s": "s",
    "sinks.sort_s": "s",
    "sinks.sort_spill_bytes": "B",
    "sinks.files_written": "count",
    "sinks.bytes_written": "B",
    "sinks.task_commit_s": "s",
    "sinks.job_commit_s": "s",
    "sinks.commit_s": "s",
    "sinks.manifest_bytes": "B",
    "sinks.read_conv_plan_s": "s",
    "sinks.read_conv_exec_s": "s",
    "sinks.read_conv_files_ratio": "ratio",
    "sinks.read_range_plan_s": "s",
    "sinks.read_range_exec_s": "s",
    "sinks.read_range_files_ratio": "ratio",
    "sinks.merge_s": "s",
    "sinks.merge_buckets_rewritten": "count",
    "sinks.merge_bytes_per_updated_row": "B",
    "pipeline.report_s": "s",
    "pipeline.report_jobs": "count",
    "spark.jobs_ingest": "count",
    "spark.jobs_read_conv": "count",
    "spark.jobs_read_range": "count",
    "spark.jobs_upsert": "count",
    "spark.jobs_report": "count",
    "trace.ingest_uncovered_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
    "ops.failed_ratio": "ratio",
}

OPS = ("ingest", "read_conv", "read_range", "upsert", "report")
# The window runs whole cycles of this closed loop (each call waits for
# the previous one) until ``--seconds`` have passed, and at least
# MIN_CYCLES of them: a fresh ingest, then reads, an upsert and a report
# over the table it committed, with writes between reads so that a merge
# leaving more or smaller files shows as slower reads. A cycle reads each
# range window once. Three cycles give every latency a median that sets
# aside the first call, which is still getting faster (JIT).
CYCLE = ("ingest", "read_conv", "read_range", "upsert", "read_range",
         "read_conv", "report")
MIN_CYCLES = 3
# untimed warm-up: takes the one-off cost of the first ingest (Python
# worker pool, JIT, plan caches), and of the first upsert and report,
# whose next two calls were still 10-35% slower than the third without it
WARM_UP = ("ingest", "upsert", "report")


# Both workloads run the same operation mix; they differ in input shape.
# - ingest_short_skewed: short fixture turns whose 1% head (3 convs of
#   ~25k turns) exceeds the per-bucket hot threshold, so salting runs;
#   per-row costs dominate (UDF boundary, exchange, enrich joins, sort
#   and fan-out write, commit).
# - ingest_long_text: assistant turns carry a ~2 KB prose prefix and no
#   conversation is hot, so the ingest is scan- and regex-bound and
#   salting is skipped; text is dropped before the exchange, so the
#   committed table (and every read on it) is as small as a short one.
WORKLOADS = {
    "ingest_short_skewed": Shape(turns=150_000, convs=375),
    "ingest_long_text": Shape(turns=75_000, convs=7_500, prose_bytes=2048),
}


def parquet_files(root: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(root)
            for f in fs if f.endswith(".parquet")]


class Run:
    """State of one benchmark run: inputs, reference, Spark, samples."""

    def __init__(self, args, work: str):
        from logparse_spark.rules import load_rules

        self.args = args
        self.shape = WORKLOADS[args.workload]
        self.work = work
        self.rules_path = os.path.join(ROOT, "rules", "bench.rules")
        self.compiled = load_rules(self.rules_path)
        self.spark = None
        self.tracer = None
        self.sql = None
        self.samples: dict[str, list[float]] = {op: [] for op in OPS}
        self.sink_bytes: list[float] = []
        self.layer: dict[str, list[float]] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.table = None
        self.revised: set[str] = set()
        self.n_tables = 0
        self.n_reads = 0
        self.range_by_window: dict[int, list[float]] = {}
        import numpy as np

        self.rng = np.random.default_rng(args.seed)

    # -- bookkeeping ---------------------------------------------------

    def note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(float(value))

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext({})

    def _jobs_begin(self, op: str) -> str | None:
        if not (self.tracer and self.tracer.enabled):
            return None
        gid = f"perfbench-{op}-{self.attempted}"
        self.spark.sparkContext.setJobGroup(gid, gid)
        return gid

    def _jobs_end(self, op: str, gid: str | None, timed: bool) -> None:
        if gid is None:
            return
        sc = self.spark.sparkContext
        jobs = len(sc.statusTracker().getJobIdsForGroup(gid))
        sc._jsc.clearJobGroup()
        if timed:
            self.note(f"spark.jobs_{op}", jobs)
            if op == "report":
                self.note("pipeline.report_jobs", jobs)

    def run_op(self, op: str, timed: bool = True) -> None:
        """Run one operation, time it, and check its output; an
        exception or a mismatch counts as a failed operation."""
        self.attempted += 1
        gid = self._jobs_begin(op)
        wall = None
        try:
            with self.span(f"op.{op}") as rec:
                wall, check = getattr(self, f"_op_{op}")()
            self._jobs_end(op, gid, timed)
            if self.tracer:
                execs = self.sql.new_executions()
                if timed and op == "ingest":
                    self.ingest_walls[bool(rec)].append(wall)
                if rec and timed:
                    self._after_traced(op, rec, wall, execs)
            with self.tracer.paused() if self.tracer else contextlib.nullcontext():
                problem = check()
        except Exception:  # the run keeps going; the failure is counted
            problem = traceback.format_exc()
            if self.spark is not None:
                self.spark.sparkContext._jsc.clearJobGroup()
        if problem:
            self.failures.append(f"{op}: {problem}")
            print(f"perfbench: {op} failed: {problem}", file=sys.stderr)
        if timed and wall is not None:  # a wrong answer still took this long
            self.samples[op].append(wall)

    # -- operations ----------------------------------------------------

    def _op_ingest(self):
        from logparse_spark import pipeline
        from logparse_spark.sinks import load_manifest

        out = os.path.join(self.work, "tables", f"t{self.n_tables}")
        self.n_tables += 1
        t0 = time.perf_counter()
        res = pipeline.run(self.spark, self.inp.src, out, rules_path=self.rules_path,
                           dict_dir=self.inp.dict_dir, buckets="auto",
                           hot_threshold="auto")
        wall = time.perf_counter() - t0
        if self.table is not None:
            shutil.rmtree(self.table, ignore_errors=True)
        self.table, self.revised = out, set()
        self.sink_bytes.append(
            sum(os.path.getsize(f) for f in parquet_files(os.path.join(out, "runs")))
            / self.ref.turns)

        def check():
            from perfbench import reference

            ref = self.ref
            got = self._manifest_sinks(load_manifest(out))
            if got != ref.sink_counts:
                return f"per-sink counts {got} != reference {ref.sink_counts}"
            if res.total_rows_processed != ref.turns:
                return f"lineage total {res.total_rows_processed} != {ref.turns} input turns"
            n, checksum = reference.table_checksum(self._committed_paths(out))
            if (n, checksum) != (ref.turns, ref.checksum):
                return (f"committed rows/checksum ({n}, {checksum}) != reference "
                        f"({ref.turns}, {ref.checksum})")
            return None

        return wall, check

    def _op_read_conv(self):
        from logparse_spark.sinks import SinkSet

        ids = sorted(self.rng.choice(self.inp.cold_ids, size=CONV_READ_IDS,
                                     replace=False).tolist())
        expect = sum(self.ref.conv_turns[c] for c in ids)
        t0 = time.perf_counter()
        df = SinkSet(out_dir=self.table).read_conversations(self.spark, ids)
        with self.span("read.exec"):
            n = df.count()
        wall = time.perf_counter() - t0
        self._last_df = df
        return wall, lambda: None if n == expect else f"{n} rows for {ids}, expected {expect}"

    def _op_read_range(self):
        from logparse_spark.sinks import SinkSet

        k = self.n_reads % len(self.ref.window_lo)
        self.n_reads += 1
        lo = self.ref.window_lo[k]
        expect = self.ref.window_counts[k]
        t0 = time.perf_counter()
        df = SinkSet(out_dir=self.table).read_time_range(self.spark, lo, lo + WINDOW)
        with self.span("read.exec"):
            n = df.count()
        wall = time.perf_counter() - t0
        self._last_df = df
        self.range_by_window.setdefault(k, []).append(wall)
        return wall, lambda: None if n == expect else f"{n} rows in [{lo}, +24h), expected {expect}"

    def _op_upsert(self):
        from logparse_spark import pipeline
        from logparse_spark.sinks import load_manifest

        from perfbench.inputs import write_update

        convs = sorted(self.rng.choice(self.pool, size=UPSERT_CONVS,
                                       replace=False).tolist())
        path = os.path.join(self.work, "update.parquet")
        write_update(path, self.inp, convs, self.revised)
        t0 = time.perf_counter()
        res = pipeline.upsert(self.spark, path, self.table, rules_path=self.rules_path,
                              dict_dir=self.inp.dict_dir)
        wall = time.perf_counter() - t0
        self.revised ^= set(convs)
        self._last_merge = res

        def check():
            got = self._manifest_sinks(load_manifest(self.table))
            want = self.ref.sinks_now(self.revised)
            return None if got == want else f"per-sink after merge {got} != {want}"

        return wall, check

    def _op_report(self):
        from logparse_spark import pipeline

        t0 = time.perf_counter()
        text = pipeline.render_report(self.spark, self.table, self.compiled)
        wall = time.perf_counter() - t0
        want = self.ref.sinks_now(self.revised)

        def check():
            lines = text.splitlines()
            for r in self.compiled.rules:
                head = f"rule {r.spec.name} ({r.spec.action}): {want.get(r.sink_id, 0)} matches"
                if head not in lines:
                    return f"report lacks {head!r}"
            for s in ("unmatched", "ignored"):
                if f"{s}: {want.get(s, 0)}" not in lines:
                    return f"report lacks '{s}: {want.get(s, 0)}'"
            return None

        return wall, check

    # -- checks --------------------------------------------------------

    @staticmethod
    def _manifest_sinks(manifest: dict) -> dict[str, int]:
        out: dict[str, int] = {}
        for meta in manifest["buckets"].values():
            for s, n in meta["sinks"].items():
                out[s] = out.get(s, 0) + int(n)
        return {s: n for s, n in out.items() if n}

    # -- tracing -------------------------------------------------------

    def _after_traced(self, op: str, rec: dict, wall: float, execs: list) -> None:
        """Fold one traced operation's spans and SQL metrics into the
        per-layer samples (outside the operation's timed region)."""
        t = self.tracer
        kids = t.children(rec["id"])

        def dur(name):
            return sum(s["end"] - s["start"] for s in t.spans
                       if s["name"] == name and s["start"] >= rec["start"]
                       and s["end"] <= rec["end"])

        if op == "ingest":
            from perfbench.spans import write_layers

            covered = sum(c["end"] - c["start"] for c in kids)
            self.note("trace.ingest_uncovered_ratio", 1.0 - covered / wall)
            hot = [s.get("result", []) for s in t.spans
                   if s["name"] == "stages.detect_hot_convs" and s["start"] >= rec["start"]]
            hot = hot[-1] if hot else []
            self.note("stages.hot_probe_s", dur("stages.detect_hot_convs"))
            self.note("stages.hot_convs", len(hot))
            self.note("stages.salted_rows", sum(self.ref.conv_turns.get(c, 0) for c in hot))
            self.note("sinks.write_classified_s", dur("sinks.write_classified"))
            self.note("sinks.commit_s", dur("sinks.commit"))
            for ex in execs:
                layers = write_layers(ex)
                if layers:
                    for k, v in layers.items():
                        self.note(k, v)
        elif op in ("read_conv", "read_range"):
            plan = "conversations" if op == "read_conv" else "time_range"
            self.note(f"sinks.{op}_plan_s", dur(f"sinks.read_{plan}"))
            self.note(f"sinks.{op}_exec_s", dur("read.exec"))
            planned = len(self._last_df.inputFiles())
            self.note(f"sinks.{op}_files_ratio", planned / max(1, len(self._committed_paths(self.table))))
        elif op == "upsert":
            self.note("sinks.merge_s", dur("sinks.merge_classified"))
            res = self._last_merge
            self.note("sinks.merge_buckets_rewritten", len(res["rewritten_buckets"]))
            runs = os.path.join(self.table, "runs")
            newest = max((os.path.join(runs, d) for d in os.listdir(runs)),
                         key=os.path.getmtime)
            new_bytes = sum(os.path.getsize(f) for f in parquet_files(newest))
            self.note("sinks.merge_bytes_per_updated_row",
                      new_bytes / max(1, res["rows_inserted"]))
        elif op == "report":
            self.note("pipeline.report_s", dur("pipeline.render_report"))

    @staticmethod
    def _committed_paths(table: str) -> list[str]:
        """Parquet files of the table's committed snapshot: each
        bucket's files in the run the manifest names for it."""
        from logparse_spark.sinks import load_manifest

        return [f for b, meta in load_manifest(table)["buckets"].items()
                for f in parquet_files(os.path.join(table, "runs", meta["run_id"],
                                                    f"bucket={b}"))]

    # -- phases --------------------------------------------------------

    def setup(self) -> dict:
        from perfbench import reference
        from perfbench.inputs import make_inputs, time_bounds

        t0 = time.perf_counter()
        with self.span("fixtures.gen_transcripts"):
            self.inp = make_inputs(self.work, self.shape, self.args.seed)
        gen_s = time.perf_counter() - t0
        lo, hi = time_bounds(self.inp.stats["turns"])
        # fixed positions from the head to the tail of the table's time
        # span: turns are laid out conversation by conversation, so the
        # early hours hold the few hot conversations and the late ones
        # thousands of cold ones, and a window's cost depends on which it
        # lands on; seeded positions made that mix, not the program, set
        # a run's median
        span = max(timedelta(0), hi - lo - WINDOW)
        windows = [lo + span * k / (len(RANGE_ORDER) - 1) for k in RANGE_ORDER]
        t1 = time.perf_counter()
        self.ref = reference.compute(self.inp.src, self.inp.revised_path, self.compiled,
                                     windows, WINDOW, threads=CORES)
        ref_s = time.perf_counter() - t1
        return {"gen_s": gen_s, "reference_s": ref_s}

    def start_spark(self) -> float:
        from logparse_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        t0 = time.perf_counter()
        with self.span("session.get_spark"):
            self.spark = get_spark(
                app_name="perfbench", master=f"local[{CORES}]",
                extra_conf={
                    "spark.driver.memory": "2g",
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                    "spark.ui.showConsoleProgress": "false",
                })
        return time.perf_counter() - t0

    def _upsert_pool(self) -> list[str]:
        """Cold conversations of the bucket whose row count is nearest the
        mean, read by DuckDB from the table the warm-up committed, so
        every upsert rewrites one bucket of the same size class."""
        import duckdb

        con = duckdb.connect()
        try:
            rows = con.execute(
                "SELECT conv_id, CAST(bucket AS INTEGER), count(*) FROM read_parquet(?, "
                "hive_partitioning = true) GROUP BY ALL",
                [self._committed_paths(self.table)]).fetchall()
        finally:
            con.close()
        bucket, size = {}, {}
        for c, b, n in rows:
            bucket[c] = b
            size[b] = size.get(b, 0) + n
        target = min(size, key=lambda b: (abs(size[b] - self.ref.turns / len(size)), b))
        return [c for c in self.inp.cold_ids if bucket[c] == target]

    def warm_up(self) -> float:
        """The WARM_UP calls, untimed: fill the Python worker pool, JIT
        and plan caches. After the ingest, find the hot conversations and
        the upsert pool in the table it committed. Counted in setup_s,
        checked like any operation."""
        t0 = time.perf_counter()
        # spans and layer samples cover measured calls only
        with self.tracer.paused() if self.tracer else contextlib.nullcontext():
            for op in WARM_UP:
                self.run_op(op, timed=False)
                if op == "ingest":
                    self._plan_serve()
        return time.perf_counter() - t0

    def _plan_serve(self) -> None:
        from logparse_spark import stages

        # the conversations pipeline.run(hot_threshold="auto") salts
        self.buckets = stages.auto_bucket_count(self.spark, self.inp.src)
        threshold = stages.hot_conv_threshold(self.ref.turns, self.buckets)
        self.hot = sorted(c for c, n in self.ref.conv_turns.items() if n > threshold)
        self.inp.stats["hot_conversations"] = len(self.hot)
        self.pool = self._upsert_pool()

    def measure(self, seconds: float) -> None:
        if self.tracer:
            self._trace_extras()
        deadline = time.perf_counter() + seconds
        cycles = 0
        while cycles < MIN_CYCLES or time.perf_counter() < deadline:
            for op in CYCLE:
                if self.tracer:  # every other ingest untraced: tracing overhead
                    self.tracer.enabled = not (op == "ingest" and cycles % 2)
                self.run_op(op)
            cycles += 1
        if self.tracer:
            self.tracer.enabled = True
        from logparse_spark.sinks import MANIFEST_DIR, MANIFEST_FILE

        self.manifest_bytes = os.path.getsize(
            os.path.join(self.table, MANIFEST_DIR, MANIFEST_FILE))
        self.inp.stats["committed_files"] = len(self._committed_paths(self.table))

    def _trace_extras(self) -> None:
        """Traced runs only: the kernel on its own, and the prefix
        ladder over the fused ingest plan."""
        import pyarrow.parquet as pq

        from logparse_spark import kernel
        from perfbench.spans import prefix_ladder

        tb = pq.read_table(self.inp.src, columns=["text", "tool"])
        matched = 0
        t0 = time.perf_counter()
        with self.span("kernel.parse_and_match_arrow"):
            for b in tb.to_batches(max_chunksize=100_000):
                rid, _ = kernel.parse_and_match_arrow(b.column(0), b.column(1), self.compiled)
                matched += len(rid) - rid.null_count
        self.note("kernel.parse_s", time.perf_counter() - t0)
        self.note("kernel.match_ratio", matched / max(1, tb.num_rows))
        role, tool = (self.spark.read.parquet(os.path.join(self.inp.dict_dir, f"{d}.parquet"))
                      for d in ("role_dict", "tool_dict"))
        with self.span("ladder"):
            lad = prefix_ladder(self.spark, self.inp.src, self.compiled, role, tool,
                                self.buckets, self.hot)
        self.sql.new_executions()
        self.note("stages.scan_s", lad["ladder.scan_s"])
        self.note("udf.parse_self_s", lad["ladder.parse_s"])
        self.note("stages.exchange_s", lad["ladder.exchange_s"])
        self.note("stages.enrich_s", lad["ladder.enrich_s"])
        self.ladder_full = lad["ladder.full_s"]

    # -- results -------------------------------------------------------

    def e2e_metrics(self, setup_s: float, peak_mem: int) -> dict:
        s = self.samples
        return {
            "setup_s": setup_s,
            "turns_per_s": median([self.ref.turns / w for w in s["ingest"]]),
            "sink_bytes_per_turn": median(self.sink_bytes),
            "read_conv_p50_s": median(s["read_conv"]),
            # the same fixed windows every run: the mean of each window's
            # median, not the median of a mix whose middle value depends
            # on which windows it holds
            "read_range_mean_s": fmean(median(v) for v in self.range_by_window.values()),
            "upsert_p50_s": median(s["upsert"]),
            "report_s": median(s["report"]),
            "peak_rss_mb": peak_mem / 1e6,
        }

    def layer_metrics(self) -> dict:
        vals = {k: median(v) for k, v in self.layer.items()}
        if "sinks.write_classified_s" in vals:
            vals["sinks.write_s"] = vals["sinks.write_classified_s"] - self.ladder_full
        untraced, traced = self.ingest_walls[False], self.ingest_walls[True]
        vals["trace.overhead_ratio"] = (median(traced) / median(untraced) - 1.0
                                        if traced and untraced else 0.0)
        vals["ops.failed_ratio"] = len(self.failures) / max(1, self.attempted)
        return vals


@contextlib.contextmanager
def _confined(work: str):
    """Point this process's temporary files and Spark's scratch into
    ``work`` and make SIGTERM unwind (so a terminated run still stops
    Spark and removes ``work``); put everything back on exit."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "TMPDIR": tmp,  # py-files zip and Python temp files stay inside
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),  # wins over spark.local.dir
        # every JVM spark-submit starts (its launcher too) skips the
        # hsperfdata file it would otherwise write under /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    }
    saved_env = {k: os.environ.get(k) for k in env}
    saved_tempdir = tempfile.tempdir
    saved_sigterm = signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.environ.update(env)
    tempfile.tempdir = tmp
    try:
        yield
    finally:
        signal.signal(signal.SIGTERM, saved_sigterm)
        tempfile.tempdir = saved_tempdir
        for k, v in saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "logparse_spark", "__init__.py")):
        print(f"perfbench: no logparse_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        # get_spark would hand back that session and the shutdown would
        # end its JVM: a run owns its Spark from start to stop
        print("perfbench: a SparkContext is already active in this process",
              file=sys.stderr)
        return 2
    from perfbench.host import MemSampler, cpu_probe, cpu_ticks, steal_share, stop_spark

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    run = Run(args, work)
    if args.trace:
        from perfbench.spans import SqlMetrics, Tracer

        run.tracer = Tracer(run_id=f"{args.workload}-{args.seed}")
        run.ingest_walls = {True: [], False: []}
    with _confined(work):
        if run.tracer:
            run.tracer.instrument()
        try:
            ctx = run.setup()
            # before the JVM starts: the probe measures the host alone
            ctx["cpu_probe_s"] = cpu_probe(CORES)
            ticks = cpu_ticks()
            with MemSampler() as mem:
                session_s = run.start_spark()
                if args.trace:
                    run.sql = SqlMetrics(run.spark)
                warm_s = run.warm_up()
                setup_s = ctx["gen_s"] + session_s + warm_s
                run.measure(args.seconds)
                stop_spark(run.spark)
                run.spark = None
            ctx["steal_share"] = steal_share(ticks, cpu_ticks())
        finally:
            try:
                if run.tracer:
                    run.tracer.restore()
            finally:
                if run.spark is not None:
                    stop_spark(run.spark)

    ctx.update(workload=args.workload, seed=args.seed,
               nproc=len(os.sched_getaffinity(0)), inputs=run.inp.stats,
               session_s=session_s, warm_s=warm_s,
               samples=run.samples,
               failures=run.failures[:5])
    if args.trace:
        run.note("session.start_s", session_s)
        run.note("fixtures.gen_s", ctx["gen_s"])
        run.note("sinks.manifest_bytes", run.manifest_bytes)
        metrics = run.layer_metrics()
        units = LAYER_UNITS
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
                  "w", encoding="utf-8") as f:
            json.dump({"context": ctx, "layers": metrics,
                       "self_times": run.tracer.self_times(),
                       "spans": run.tracer.spans}, f, indent=1)
    else:
        metrics = run.e2e_metrics(setup_s, mem.peak)
        units = E2E_UNITS
    missing = sorted(set(units) - set(metrics))
    if missing:
        print(f"perfbench: no samples for {missing}", file=sys.stderr)
        return 1
    print(json.dumps({"context": ctx}))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
