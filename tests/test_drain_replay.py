"""Forced replay through the drain kernel, for every ingest family.

Two waves are drained, then the checkpoint's last commit is deleted,
so the next drain re-runs that batch over the same files — the crash
window between a state write and the commit. Every state dir must hold
exactly the rows it held before (an overwrite of the batch's own
partition, never an append) and the family readout must not move.
While the batch is uncommitted, ``compact`` must refuse to run."""

from __future__ import annotations

import collections
import json
import math
import os
import random
from typing import Callable, NamedTuple

import pytest

from music_streaming_data_pipeline_v2_spark.streaming import (
    cap_ingest,
    decontam_ingest,
    dedup_ingest,
    dsir_ingest,
    hist_ingest,
    hll_ingest,
    index_ingest,
    line_ingest,
    overlap_ingest,
    psi_ingest,
    semantic_ingest,
    sketch_ingest,
    value_ingest,
    vocab_ingest,
    winnow_ingest,
)
from music_streaming_data_pipeline_v2_spark.streaming.drain import (
    compact,
    read_state,
)
from music_streaming_data_pipeline_v2_spark.streaming.state import (
    read_resolved_labels,
)

_rng = random.Random(11)
_WORDS = [f"w{i}" for i in range(30)]
_BASE = [" ".join(_rng.choice(_WORDS) for _ in range(12)) for _ in range(6)]


def _doc_rows(wave: int) -> list[dict]:
    # wave 1 repeats wave 0's texts with one word changed: near-dups
    # across the batch boundary, shared grams and shared lines
    out = []
    for i, text in enumerate(_BASE):
        if wave:
            text = text.replace(text.split()[0], "zz", 1)
        out.append(
            {"doc_id": wave * 100 + i, "text": text, "source": f"s{i % 3}"}
        )
    return out


def _jsonl(rows_fn: Callable[[int], list[dict]]):
    def write(inp: str, wave: int) -> None:
        with open(os.path.join(inp, f"w{wave}.jsonl"), "w") as fh:
            for r in rows_fn(wave):
                fh.write(json.dumps(r) + "\n")

    return write


def _dedup_csv(inp: str, wave: int) -> None:
    with open(os.path.join(inp, f"w{wave}.csv"), "w") as fh:
        fh.write("doc_id,lang,text\n")
        for r in _doc_rows(wave):
            fh.write(f"{r['doc_id']},en,{r['text']}\n")


def _angle(deg: float) -> list[float]:
    return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]


def _init_decontam(spark, wd: str) -> None:
    test = spark.createDataFrame(
        [(900, _BASE[0]), (901, _BASE[3])], "doc_id long, text string"
    )
    decontam_ingest.init_decontam_state(spark, wd, test, n=3)


class Family(NamedTuple):
    name: str
    spec: tuple
    write_wave: Callable
    run: Callable  # (spark, input_path, work_dir) -> None
    readout: Callable  # (spark, work_dir) -> DataFrame
    setup: Callable | None = None  # (spark, work_dir), before drain 1


_DOCS = _jsonl(_doc_rows)
_CB = [[1.0, 0.0], [0.0, 1.0]]

FAMILIES = [
    Family(
        "value",
        value_ingest.SPEC,
        _jsonl(
            lambda w: [
                {"id": w * 100 + i, "grp": f"g{i % 2}", "value": i * 1.25 + w}
                for i in range(8)
            ]
        ),
        value_ingest.run_incremental_values,
        value_ingest.query_mad_stats,
    ),
    Family(
        "hist",
        hist_ingest.SPEC,
        _DOCS,
        hist_ingest.run_incremental_hist,
        lambda spark, wd: hist_ingest.query_quantiles(spark, wd, [500, 900]),
    ),
    Family(
        "psi",
        psi_ingest.SPEC,
        _DOCS,
        psi_ingest.run_incremental_psi,
        psi_ingest.query_psi,
    ),
    Family(
        "vocab",
        vocab_ingest.SPEC,
        _DOCS,
        vocab_ingest.run_incremental_vocab,
        vocab_ingest.query_vocabulary,
    ),
    Family(
        "sketch",
        sketch_ingest.SPEC,
        _DOCS,
        sketch_ingest.run_incremental_sketch,
        lambda spark, wd: sketch_ingest.query_estimates(
            spark,
            wd,
            spark.createDataFrame([(w,) for w in _WORDS[:5]], "token string"),
        ),
    ),
    Family(
        "hll",
        hll_ingest.SPEC,
        _jsonl(
            lambda w: [
                {"group": f"g{i % 2}", "key": f"k{w * 7 + i}"} for i in range(10)
            ]
        ),
        hll_ingest.run_incremental_hll,
        hll_ingest.query_cardinality,
    ),
    Family(
        "dsir",
        dsir_ingest.SPEC,
        _DOCS,
        dsir_ingest.run_incremental_dsir,
        lambda spark, wd: dsir_ingest.query_dsir_scores(
            spark,
            wd,
            spark.createDataFrame([(900, _BASE[1])], "doc_id long, text string"),
        ),
    ),
    Family(
        "overlap",
        overlap_ingest.SPEC,
        _DOCS,
        overlap_ingest.run_incremental_overlap,
        overlap_ingest.query_overlap,
    ),
    Family(
        "index",
        index_ingest.SPEC,
        _DOCS,
        index_ingest.run_incremental_index,
        lambda spark, wd: index_ingest.query_index(
            spark,
            wd,
            spark.createDataFrame(
                [(0, f"{_WORDS[0]} {_WORDS[1]}"), (1, "zz")],
                "query_id int, text string",
            ),
            k=3,
        ),
    ),
    Family(
        "cap",
        cap_ingest.SPEC,
        _DOCS,
        lambda spark, inp, wd: cap_ingest.run_incremental_cap(
            spark, inp, wd, cap=2
        ),
        lambda spark, wd: cap_ingest.query_capped(spark, wd, cap=2),
    ),
    Family(
        "winnow",
        winnow_ingest.SPEC,
        _DOCS,
        winnow_ingest.run_incremental_winnow,
        lambda spark, wd: winnow_ingest.query_overlap_pairs(
            spark, wd, min_shared=1
        ),
    ),
    Family(
        "line",
        line_ingest.SPEC,
        _jsonl(
            lambda w: [
                {"doc_id": w * 100 + i, "text": f"head\nline {i % 3}\nw{w}"}
                for i in range(5)
            ]
        ),
        line_ingest.run_incremental_line_dedup,
        line_ingest.read_deduped_docs,
    ),
    Family(
        "decontam",
        decontam_ingest.SPEC,
        _DOCS,
        lambda spark, inp, wd: decontam_ingest.run_incremental_decontam(
            spark, inp, wd, emit_cleaned=True
        ),
        decontam_ingest.query_contamination,
        _init_decontam,
    ),
    Family(
        "semantic",
        semantic_ingest.SPEC,
        _jsonl(
            lambda w: [
                {"vec_id": w * 100 + i, "embedding": _angle(w * 3 + i * 25)}
                for i in range(4)
            ]
        ),
        lambda spark, inp, wd: semantic_ingest.run_incremental_semantic_dedup(
            spark, inp, wd, _CB, 0.98
        ),
        lambda spark, wd: read_state(spark, wd, semantic_ingest.DECISIONS),
    ),
    Family(
        "dedup",
        dedup_ingest.SPEC,
        _dedup_csv,
        lambda spark, inp, wd: dedup_ingest.run_incremental_dedup(
            spark, inp, wd, jaccard_threshold=0.5, num_hashes=16, bands=16
        ),
        lambda spark, wd: read_resolved_labels(
            spark, os.path.join(wd, "comps"), dedup_ingest.COMPS.schema
        )[0],
    ),
]


def _rows(df) -> collections.Counter:
    return collections.Counter(
        repr(tuple(tuple(v) if isinstance(v, list) else v for v in r))
        for r in df.collect()
    )


def _state_rows(spark, wd: str, spec) -> dict[str, collections.Counter]:
    """Every row of every state dir, batch_id included — a replay that
    appended or moved rows between partitions shows up here."""
    out = {}
    for s in spec:
        path = os.path.join(wd, s.name)
        out[s.name] = (
            _rows(spark.read.schema(f"{s.schema}, batch_id int").parquet(path))
            if os.path.exists(path)
            else collections.Counter()
        )
    return out


@pytest.mark.parametrize("fam", FAMILIES, ids=[f.name for f in FAMILIES])
def test_forced_replay_is_exact(spark, tmp_path, fam):
    inp, wd = str(tmp_path / "in"), str(tmp_path / "work")
    os.makedirs(inp)
    if fam.setup is not None:
        fam.setup(spark, wd)
    for wave in range(2):
        fam.write_wave(inp, wave)
        fam.run(spark, inp, wd)
    state = _state_rows(spark, wd, fam.spec)
    readout = _rows(fam.readout(spark, wd))
    assert sum(map(len, state.values())) > 0 and readout

    commits = os.path.join(wd, "ckpt", "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    assert last == 1
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    # offsets/1 has no commit: maintenance must refuse
    with pytest.raises(ValueError, match="in flight"):
        compact(spark, wd, fam.spec)

    fam.run(spark, inp, wd)  # replays batch 1 over the same files
    assert os.path.exists(os.path.join(commits, str(last)))
    assert _state_rows(spark, wd, fam.spec) == state
    assert _rows(fam.readout(spark, wd)) == readout
