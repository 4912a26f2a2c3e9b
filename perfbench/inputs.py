"""Seeded benchmark inputs, written under the benchmark's work directory.

Every input is derived from ``--seed`` through the package's own
fixture generator (``fixtures.gen_transcripts``); the program only ever
sees the parquet files written here, never the repository's ``data/``
tree (``ensure_fixture`` pins seed 42 and writes there).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# the fixture spaces turns 7 s apart (gen_transcripts); the range-read
# windows are placed in this unit
TURN_SPACING_US = 7_000_000

# prose vocabulary for the long-text prefix: no digits and none of the
# substrings the bench rules key on ("rror", "ail", ...), so the prefix
# adds bytes for the regex scan without changing which rules can match
PROSE_WORDS = (
    "the of and to in a is that for it as was with be by on not this are "
    "or from at which but have an they you were there been one all we their "
    "has would when if so no will more out up into do any your what some can "
    "only other new time could these two may then its over such our how like "
    "also way even back just see now much where most through long here very "
    "make still own same us good under might between never each another "
    "while off again around however both great did down report summary note "
    "draft plan review team quarter market budget customer product design"
).split()

# re-delivered conversations carry these lines instead of their original
# text, so a merge moves rows between sinks the fixture rarely fills
REVISED_LINES = (
    "FATAL 9: replica lost quorum",
    "GC pause 120ms in generation old",
    "rate limit exceeded for carol",
    "could not resolve host api.internal",
    "memory usage 93% exceeds threshold",
    "retrying upload attempt 2 of 5",
    "timed out after 30s waiting for lock",
    "Failed password for invalid user admin from 10.0.0.7 port 2201",
    "all good here",
)


@dataclass(frozen=True)
class Shape:
    """Input shape of one workload."""

    turns: int
    convs: int
    prose_bytes: int = 0  # mean prose prefix on assistant turns; 0 = none


@dataclass
class Inputs:
    src: str  # transcripts parquet the ingest reads
    dict_dir: str  # role_dict / tool_dict parquet
    conv_ids: list[str]  # every conversation id
    cold_ids: list[str]  # conversations outside the fixture's 1% head
    original: pa.Table  # cold conversations as first delivered
    revised: pa.Table  # cold conversations as re-delivered
    revised_path: str  # ``revised`` as parquet, for the reference
    stats: dict


def _prose(rng: np.random.Generator, n: int, mean_bytes: int) -> list[str]:
    """``n`` seeded prose strings of ~``mean_bytes`` each: windows into
    one seeded word stream, so rows share vocabulary but not bytes."""
    corpus = " ".join(
        np.array(PROSE_WORDS, dtype=object)[
            rng.integers(0, len(PROSE_WORDS), size=mean_bytes * 128 // 4)
        ]
    )
    lens = rng.integers(mean_bytes * 3 // 4, mean_bytes * 5 // 4 + 1, size=n)
    offs = rng.integers(0, len(corpus) - int(lens.max()), size=n)
    return [corpus[o : o + k] for o, k in zip(offs, lens)]


def make_inputs(work: str, shape: Shape, seed: int) -> Inputs:
    """Generate and write every input of one run; deterministic in
    ``seed``."""
    from logparse_spark.fixtures.gen_transcripts import (
        gen_role_dict,
        gen_tool_dict,
        gen_transcripts,
    )

    rng = np.random.default_rng(seed + 1_000_003)
    tb = gen_transcripts(shape.turns, shape.convs, seed=seed)
    # number conversations in generation order, head first: which ids are
    # hot then no longer depends on the seed, so neither does the bucket
    # placement of the salted conversations, which sets the table's file
    # count (at 4 buckets a seed-drawn placement moved read and ingest
    # latency by 1.5x between seeds); the seed still draws everything else
    conv = tb.column("conv_id")
    order = pc.index_in(conv, pc.unique(conv)).to_numpy()
    ids = np.array([f"conv{i:06d}" for i in range(shape.convs)], dtype=object)
    tb = tb.set_column(tb.schema.get_field_index("conv_id"), "conv_id",
                       pa.array(ids[order], type=pa.string()))
    if shape.prose_bytes:
        text = tb.column("text").to_numpy(zero_copy_only=False).astype(object)
        asst = np.flatnonzero(tb.column("role").to_numpy(zero_copy_only=False) == "assistant")
        pre = _prose(rng, len(asst), shape.prose_bytes)
        text[asst] = [p + " " + t for p, t in zip(pre, text[asst])]
        tb = tb.set_column(tb.schema.get_field_index("text"), "text",
                           pa.array(text, type=pa.string()))
    src_dir = os.path.join(work, "input")
    os.makedirs(src_dir, exist_ok=True)
    src = os.path.join(src_dir, "transcripts.parquet")
    # small row groups keep the scan splittable across cores (as the
    # repository's own fixture writer does)
    pq.write_table(tb, src, row_group_size=20_000)
    pq.write_table(gen_role_dict(), os.path.join(src_dir, "role_dict.parquet"))
    pq.write_table(gen_tool_dict(), os.path.join(src_dir, "tool_dict.parquet"))

    counts = pc.value_counts(tb.column("conv_id")).to_pylist()
    sizes = {c["values"]: c["counts"] for c in counts}
    conv_ids = sorted(sizes)
    n_head = max(1, shape.convs // 100)
    head = set(sorted(conv_ids, key=lambda c: -sizes[c])[:n_head])
    cold_ids = [c for c in conv_ids if c not in head]

    original = tb.filter(pc.is_in(tb.column("conv_id"), pa.array(cold_ids)))
    idx = original.column("turn_idx").to_numpy()
    shift = rng.integers(0, len(REVISED_LINES))
    revised = original.set_column(
        original.schema.get_field_index("text"), "text",
        pa.array([REVISED_LINES[(int(i) + shift) % len(REVISED_LINES)] for i in idx],
                 type=pa.string()))
    revised_path = os.path.join(work, "revised.parquet")
    pq.write_table(revised, revised_path)

    text_len = pc.binary_length(tb.column("text"))
    stats = {
        "turns": tb.num_rows,
        "conversations": len(conv_ids),
        "head_conversations": n_head,
        "mean_text_bytes": float(pc.mean(text_len).as_py()),
        "input_bytes": os.path.getsize(src),
    }
    return Inputs(src=src, dict_dir=src_dir, conv_ids=conv_ids,
                  cold_ids=cold_ids, original=original, revised=revised,
                  revised_path=revised_path, stats=stats)


def time_bounds(turns: int) -> tuple:
    """[lo, hi) covering every generated turn's ``ts`` (naive UTC)."""
    from datetime import timedelta

    from logparse_spark.fixtures.gen_transcripts import BASE_TS

    lo = BASE_TS.replace(tzinfo=None)
    return lo, lo + timedelta(microseconds=turns * TURN_SPACING_US)


def write_update(path: str, inp: Inputs, convs: list[str],
                 revised: set[str]) -> None:
    """One re-delivery batch: each named conversation in the version it
    is NOT in now (``revised`` holds the ones currently revised)."""
    back = [c for c in convs if c in revised]
    new = [c for c in convs if c not in revised]
    pq.write_table(pa.concat_tables([
        inp.original.filter(pc.is_in(inp.original.column("conv_id"), pa.array(back, pa.string()))),
        inp.revised.filter(pc.is_in(inp.revised.column("conv_id"), pa.array(new, pa.string()))),
    ]), path)
