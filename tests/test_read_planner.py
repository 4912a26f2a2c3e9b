"""The sink read planner (``SinkSet._plan_scan``) and the run schemas
recorded at commit.

Properties locked in:
  - every writer (write_classified, delete, merge, compact, rebucket)
    records its run's schema exactly as a parquet reader infers it, so
    committed runs are read without a schema-inference job;
  - the driver-side bucket helper reproduces the write path's
    ``bucket`` column id for id (non-ASCII, empty, duplicate ids);
  - planning a 20-id lookup or a time-range read on a multi-run table
    launches at most one Spark job, and never a shuffle, a Python
    worker or a schema inference;
  - a run whose sidecar is gone still answers lookups correctly;
  - the report's totals, now summed straight from the manifest, render
    byte-identically to the pre-change report after a merge.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from logparse_spark import pipeline, stages
from logparse_spark.rules import load_rules
from logparse_spark.sinks import SinkSet, _bucket_ids, load_manifest

RULES = os.path.join(os.path.dirname(__file__), "..", "rules", "default.rules")
ROW_KEY = ["bucket", "sink_id", "conv_id", "turn_idx", "rendered"]


@pytest.fixture(scope="module")
def committed_run(spark, fixture_sf_small, tmp_path_factory):
    """A committed pipeline run (8 buckets, 2 commit groups = 2 runs).
    READ-ONLY: tests copy it, never mutate."""
    out = str(tmp_path_factory.mktemp("planner_run"))
    pipeline.run(
        spark,
        source_path=f"{fixture_sf_small}/transcripts.parquet",
        out_dir=out, rules_path=RULES, dict_dir=fixture_sf_small,
        buckets=8, salt_buckets=4, groups=2,
    )
    return out


@pytest.fixture()
def table(committed_run, tmp_path):
    out = str(tmp_path / "sinkset")
    shutil.copytree(committed_run, out)
    return out


def _rows(df):
    return sorted(map(tuple, df.select(*ROW_KEY).collect()))


def _updates(spark, table, tmp_path, fixture_sf_small):
    """An update batch: the first conversation re-delivered with 3
    revised turns, plus one brand-new conversation."""
    conv = (SinkSet(out_dir=table)._read_committed(spark)
            .select("conv_id").orderBy("conv_id").first()["conv_id"])
    src = (spark.read.parquet(f"{fixture_sf_small}/transcripts.parquet")
           .filter(F.col("conv_id") == conv).orderBy("turn_idx").limit(3)
           .collect())
    ts = dt.datetime(2026, 3, 1)
    rows = [(conv, i, r["role"], "login failed for user upsert_probe",
             r["tool"], ts) for i, r in enumerate(src)] + [
        ("convUPSERT01", 0, "user", "please run the report", None, ts),
        ("convUPSERT01", 1, "assistant",
         "err 7 step 1: checksum verification failed", None, ts),
    ]
    path = str(tmp_path / "updates.parquet")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp",
    ).coalesce(1).write.parquet(path)
    return path


def _assert_schema_recorded(spark, out):
    """The newest commit's run recorded its schema, and it equals what
    parquet inference returns for the run's files."""
    run_id = load_manifest(out)["history"][-1]["run_id"]
    run = os.path.join(out, "runs", run_id)
    recorded = SinkSet(out_dir=out)._file_stats(run_id)["_schema"]
    recorded = StructType.fromJson(recorded)
    inferred = spark.read.option("basePath", run).parquet(run).schema
    assert recorded == inferred, (recorded, inferred)
    assert recorded.fieldNames()[-2:] == ["bucket", "sink_id"]
    assert all(f.nullable for f in recorded.fields)
    return recorded


def test_every_writer_records_the_reader_schema(spark, table, tmp_path,
                                                fixture_sf_small):
    ss = SinkSet(out_dir=table)
    base = _assert_schema_recorded(spark, table)  # write_classified
    assert {"role_class", "weight", "is_privileged"} <= set(base.fieldNames())

    pipeline.upsert(spark, _updates(spark, table, tmp_path, fixture_sf_small),
                    table, rules_path=RULES, dict_dir=fixture_sf_small)
    assert "merge_of" in load_manifest(table)["history"][-1]
    _assert_schema_recorded(spark, table)

    # a conversation sharing its bucket with others: the rewrite keeps files
    full = ss._read_committed(spark)
    per_bucket = full.groupBy("bucket").agg(
        F.countDistinct("conv_id").alias("n")).filter("n > 1").first()
    conv = full.filter(F.col("bucket") == per_bucket["bucket"]) \
        .select("conv_id").first()["conv_id"]
    assert ss.delete_conversations(spark, [conv])["rows_deleted"] > 0
    _assert_schema_recorded(spark, table)

    assert ss.compact(spark, min_files_per_partition=1)["rewritten_buckets"]
    _assert_schema_recorded(spark, table)

    ss.rebucket(spark, 16)
    _assert_schema_recorded(spark, table)


def test_bucket_ids_match_write_path(spark):
    ids = [f"conv{i:05d}" for i in range(9_990)]
    ids += ["", "", "é", "会话-7", "💬 chat", "conv00001", "conv00001",
            "tab\there", 'quote"s', "back\\slash"]
    assert len(ids) == 10_000
    src = spark.createDataFrame([(c, 0) for c in dict.fromkeys(ids)],
                                "conv_id string, turn_idx int")
    for n in (4, 64):
        want = {r["conv_id"]: r["bucket"] for r in
                stages.bucket_and_salt(src, buckets=n).collect()}
        got = _bucket_ids(spark, ids, n)
        assert got == [want[c] for c in ids]
        assert len(set(got)) == n  # 10k ids reach every bucket


def _planning_jobs(spark, group, plan):
    """Run ``plan`` (which builds but does not execute a read) under a
    job group; return one (n_stages, description) per job."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    sc.setJobGroup(group, "read planning")
    try:
        plan()
    finally:
        sc.setJobGroup(None, None)
    out = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        desc = job.description()
        out.append((job.stageIds().size(),
                    desc.get() if desc.isDefined() else ""))
    return out


def test_planning_runs_no_inference_shuffle_or_python(
        spark, table, tmp_path, fixture_sf_small):
    pipeline.upsert(spark, _updates(spark, table, tmp_path, fixture_sf_small),
                    table, rules_path=RULES, dict_dir=fixture_sf_small)
    ss = SinkSet(out_dir=table)
    assert len(ss._committed_by_run()) >= 2
    full = ss._read_committed(spark).select(*ROW_KEY, "ts").collect()
    ids = sorted({r["conv_id"] for r in full})[:20]
    ts = sorted(r["ts"] for r in full)
    lo, hi = ts[len(ts) // 4], ts[len(ts) // 2]
    assert lo < hi

    got = {}
    for name, plan in (
            ("conv", lambda: got.setdefault(
                "conv", ss.read_conversations(spark, ids))),
            ("range", lambda: got.setdefault(
                "range", ss.read_time_range(spark, lo, hi)))):
        jobs = _planning_jobs(spark, f"planner_{name}", plan)
        assert len(jobs) <= 1, jobs
        # the only job planning may launch is Spark's parallel file
        # listing: one stage (no shuffle), never the per-run parquet
        # schema inference or a Python-worker createDataFrame
        for n_stages, desc in jobs:
            assert n_stages == 1 and desc.startswith("Listing leaf files"), jobs

    key = lambda rows: sorted(tuple(r[c] for c in ROW_KEY) for r in rows)
    assert _rows(got["conv"]) == key(r for r in full if r["conv_id"] in ids)
    assert _rows(got["range"]) == key(r for r in full if lo <= r["ts"] < hi)


def test_lookup_without_sidecar(spark, table):
    """A run whose ``_filestats.json`` is gone (written before the
    sidecar existed) falls back to schema inference and a
    directory-granularity plan, and still returns exactly the rows."""
    ss = SinkSet(out_dir=table)
    full = ss._read_committed(spark)
    convs = [r["conv_id"] for r in
             full.select("conv_id").distinct().orderBy("conv_id").limit(5)
             .collect()]
    want = _rows(full.filter(F.col("conv_id").isin(convs)))
    assert want
    manifest = load_manifest(table)
    nb = int(manifest["n_buckets"])
    for conv, b in zip(convs, _bucket_ids(spark, convs, nb)):
        run_id = manifest["buckets"][str(b)]["run_id"]
        side = os.path.join(table, "runs", run_id, "_filestats.json")
        if os.path.exists(side):
            os.remove(side)
    assert _rows(ss.read_conversations(spark, convs)) == want
    assert _rows(ss.read_conversation(spark, convs[0])) == _rows(
        full.filter(F.col("conv_id") == convs[0]))


# sha256 of render_report's output on this fixture after the merge of
# _updates(), rendered by the code that took its totals from
# lineage_df(spark).collect() (the pre-change path)
REPORT_AFTER_MERGE_SHA256 = \
    "5ca2c0de02f435339f4ff84892d1b484273fee24ed92130859aedcb23ba64365"


def test_report_totals_from_manifest(spark, table, tmp_path,
                                     fixture_sf_small, monkeypatch):
    pipeline.upsert(spark, _updates(spark, table, tmp_path, fixture_sf_small),
                    table, rules_path=RULES, dict_dir=fixture_sf_small)

    def no_lineage_df(*a, **k):
        raise AssertionError("render_report must not build lineage_df")

    monkeypatch.setattr(SinkSet, "lineage_df", no_lineage_df)
    text = pipeline.render_report(spark, table, load_rules(RULES))
    assert hashlib.sha256(text.encode()).hexdigest() == \
        REPORT_AFTER_MERGE_SHA256, text
