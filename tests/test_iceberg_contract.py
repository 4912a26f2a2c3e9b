"""Iceberg-branch contract guard (SURVEY.md M4 / round-3 verdict #5).

No Iceberg jar exists in this sandbox, so the fmt="iceberg" branches
of SinkSet can never be executed here. This module pins their CONTRACT
instead, so the unexercised code can't drift:

1. STRUCTURE (AST): every `fmt == "iceberg"` / `iceberg_available`
   branch in sinks.py is enumerated, and each must be one of exactly
   three shapes — a `raise` with native-procedure guidance (the row
   ops the table format owns), a delegate call into an `*iceberg*`
   helper (write / lineage), or a parquet-only skip (inverted test
   with no iceberg-side body). A new branch with silent alternative
   logic fails the pinned census until it is added here deliberately.
2. BEHAVIOR (no jar): every guarded entry point raises its documented
   error immediately — before any filesystem or py4j side effect —
   and the error names the native Iceberg operation to use instead.
3. SHAPE PARITY: both lineage sources (parquet footers vs Iceberg
   snapshot metadata) feed the same conservation check in
   write_classified, so their return shape is structurally coupled.
"""

from __future__ import annotations

import ast
import inspect
import os

import pytest

from logparse_spark import sinks
from logparse_spark.sinks import SinkSet, iceberg_available

# function -> branch kinds expected there (the pinned census)
PINNED_BRANCHES = {
    "_write_iceberg": {"guard"},        # jar-availability check raises
    "write_classified": {"delegate"},   # lineage delegate
    "_write_run": {"delegate"},         # write delegate (one run writer)
    "commit": {"skip"},                 # stats sidecar is parquet-only
    "delete_conversations": {"guard"},  # native DELETE FROM owns this
    "merge_classified": {"guard"},      # native MERGE INTO owns this
    "compact": {"guard"},               # rewrite_data_files owns layout
    "rebucket": {"guard"},              # REPLACE PARTITION FIELD
}


def _iceberg_branches():
    """(enclosing_function, kind) for every iceberg-conditional If in
    sinks.py. kind: 'guard' (body raises), 'delegate' (body calls an
    *iceberg* helper), 'skip' (inverted test, no iceberg-side code),
    'UNCLASSIFIED' (anything else — always a failure)."""
    src = inspect.getsource(sinks)
    tree = ast.parse(src)
    out = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(fn):
            if not isinstance(node, ast.If):
                continue
            test_src = ast.get_source_segment(src, node.test) or ""
            if "iceberg" not in test_src:
                continue
            if "!=" in test_src:
                # parquet-only work; the iceberg side is the absent else
                kind = "skip" if not node.orelse else "UNCLASSIFIED"
            elif all(isinstance(s, ast.Raise) for s in node.body):
                kind = "guard"
            else:
                body_src = "\n".join(
                    ast.get_source_segment(src, s) or "" for s in node.body)
                kind = ("delegate" if "iceberg" in body_src.lower()
                        else "UNCLASSIFIED")
            out.append((fn.name, kind))
    return out


def test_branch_census_is_pinned():
    got: dict[str, set] = {}
    for fname, kind in _iceberg_branches():
        got.setdefault(fname, set()).add(kind)
    assert got == PINNED_BRANCHES, (
        "iceberg branch census drifted — classify the new/changed "
        f"branch deliberately: {got} != {PINNED_BRANCHES}")
    assert not any("UNCLASSIFIED" in k for k in got.values())


def test_no_jar_in_sandbox(spark):
    """The premise of the guards: this environment has no runtime."""
    assert iceberg_available(spark) is False


def test_write_guard_raises_before_any_side_effect(spark, tmp_path):
    out = str(tmp_path / "it")
    ss = SinkSet(out_dir=out, fmt="iceberg", table="cat.db.routed")
    df = spark.createDataFrame(
        [(0, "s", "c", 0, "user", None, 0, "r", "count", "x", None)],
        "bucket int, sink_id string, conv_id string, turn_idx int, "
        "role string, ts timestamp, rule_id int, rule_name string, "
        "action string, rendered string, count_key string")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        ss.write_classified(df)
    assert not os.path.exists(out)  # nothing staged, nothing committed


def test_write_guard_requires_table_id(spark, monkeypatch, tmp_path):
    """With a jar PRESENT (simulated), the next contract line is the
    table identifier requirement."""
    monkeypatch.setattr(sinks, "iceberg_available", lambda s: True)
    ss = SinkSet(out_dir=str(tmp_path / "it2"), fmt="iceberg", table=None)
    df = spark.range(1).selectExpr("'c' AS conv_id")
    with pytest.raises(ValueError, match="cat.db.name"):
        ss._write_iceberg(df)


@pytest.mark.parametrize("method,args,native", [
    ("delete_conversations", (["c1"],), "DELETE FROM"),
    ("compact", (), "rewrite_data_files"),
    ("rebucket", (64,), "REPLACE PARTITION FIELD"),
])
def test_row_op_guards_name_native_procedure(spark, tmp_path, method,
                                             args, native):
    out = str(tmp_path / f"it_{method}")
    ss = SinkSet(out_dir=out, fmt="iceberg", table="cat.db.routed")
    with pytest.raises((RuntimeError, NotImplementedError), match=native):
        getattr(ss, method)(spark, *args)
    assert not os.path.exists(out)


def test_merge_guard_names_native_procedure(spark, tmp_path):
    out = str(tmp_path / "it_merge")
    ss = SinkSet(out_dir=out, fmt="iceberg", table="cat.db.routed")
    with pytest.raises(RuntimeError, match="MERGE INTO"):
        ss.merge_classified(spark, spark.range(1))
    assert not os.path.exists(out)


def test_lineage_sources_feed_same_conservation_check():
    """Shape parity: both lineage branches assign into the SAME
    variable that the conservation check consumes, so the Iceberg
    lineage cannot drift to a different return shape without breaking
    write_classified for parquet too."""
    src = inspect.getsource(sinks.SinkSet.write_classified)
    assert "self._lineage_from_iceberg_snapshot" in src
    assert "self._lineage_from_footers" in src
    # both land in `lineage`, consumed by the conservation total
    assert src.count("lineage = self._lineage_from_") == 2
    assert 'sum(e["rows"] for e in lineage.values())' in src
    # and the iceberg lineage helper documents the metadata-only read
    doc = inspect.getdoc(sinks.SinkSet._lineage_from_iceberg_snapshot)
    assert "metadata" in doc.lower() and "record_count" in doc
