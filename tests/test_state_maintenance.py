"""State-maintenance hardening (VERDICT r8 #2/#6, ADVICE r8):
additive-cell chain compaction serves bit-identical readouts from a
single folded partition; maintenance refuses an in-flight checkpoint;
a torn compaction (crash between delete and rename) heals."""

from __future__ import annotations

import json
import os
import random

import pytest

from music_streaming_data_pipeline_v2_spark.streaming.drain import compact
from music_streaming_data_pipeline_v2_spark.streaming.state import (
    assert_quiesced,
    compact_additive_cells,
    compact_label_deltas,
    latest_batch_id,
    read_state_or_empty,
)
from music_streaming_data_pipeline_v2_spark.streaming.value_ingest import (
    SPEC as VALUE_SPEC,
    query_mad_stats,
    query_value_quantiles,
    run_incremental_values,
)


def _write_wave(path, rows):
    with open(path, "w") as fh:
        for rid, grp, value in rows:
            fh.write(
                json.dumps({"id": rid, "grp": grp, "value": value}) + "\n"
            )


def _mk_rows(rng, start, n):
    return [
        (
            start + i,
            f"g{rng.randrange(3)}",
            None if rng.random() < 0.05 else round(rng.uniform(0, 60), 2),
        )
        for i in range(n)
    ]


def _vals(df):
    return sorted(tuple(r) for r in df.collect())


def _partitions(state_dir):
    return sorted(
        n for n in os.listdir(state_dir) if n.startswith("batch_id=")
    )


def test_compact_additive_cells_identical_readout(spark, tmp_path):
    rng = random.Random(9)
    inp = tmp_path / "in"
    inp.mkdir()
    work = str(tmp_path / "work")
    for w in range(3):
        _write_wave(inp / f"w{w}.jsonl", _mk_rows(rng, 1000 * w, 60))
        run_incremental_values(spark, str(inp), work)
    cells_dir = os.path.join(work, "cells")
    assert len(_partitions(cells_dir)) == 3
    before_mad = _vals(query_mad_stats(spark, work))
    before_q = _vals(query_value_quantiles(spark, work, [250, 500, 750]))

    doomed = compact_additive_cells(
        spark,
        cells_dir,
        "grp string, v long, cnt long",
        key_cols=["grp", "v"],
        sum_cols=["cnt"],
        ckpt_dir=os.path.join(work, "ckpt"),
    )
    assert doomed == [0, 1]
    assert _partitions(cells_dir) == ["batch_id=2"]
    # folded state serves BIT-identical readouts (integer cell sums)
    assert _vals(query_mad_stats(spark, work)) == before_mad
    assert (
        _vals(query_value_quantiles(spark, work, [250, 500, 750]))
        == before_q
    )
    # maintenance is idempotent and further drains keep working
    assert compact_additive_cells(
        spark,
        cells_dir,
        "grp string, v long, cnt long",
        key_cols=["grp", "v"],
        sum_cols=["cnt"],
        ckpt_dir=os.path.join(work, "ckpt"),
    ) == []
    _write_wave(inp / "w3.jsonl", _mk_rows(rng, 5000, 40))
    run_incremental_values(spark, str(inp), work)
    compact(spark, work, VALUE_SPEC)
    assert _partitions(cells_dir) == ["batch_id=3"]


def test_compact_additive_cells_empty_state(spark, tmp_path):
    assert (
        compact_additive_cells(
            spark,
            str(tmp_path / "nowhere"),
            "grp string, v long, cnt long",
            key_cols=["grp", "v"],
            sum_cols=["cnt"],
            ckpt_dir=str(tmp_path / "no_ckpt"),
        )
        == []
    )


def test_hist_and_psi_compaction(spark, tmp_path):
    from music_streaming_data_pipeline_v2_spark.streaming.hist_ingest import (
        query_quantiles,
        run_incremental_hist,
    )
    from music_streaming_data_pipeline_v2_spark.streaming.psi_ingest import (
        query_psi,
        run_incremental_psi,
    )

    rng = random.Random(17)
    for fam, runner, query in (
        ("hist", run_incremental_hist, None),
        ("psi", run_incremental_psi, None),
    ):
        inp = tmp_path / f"{fam}_in"
        inp.mkdir()
        work = str(tmp_path / f"{fam}_work")
        for w in range(2):
            with open(inp / f"w{w}.jsonl", "w") as fh:
                for i in range(40):
                    fh.write(
                        json.dumps(
                            {
                                "doc_id": w * 1000 + i,
                                "text": " ".join(
                                    "tok%d" % rng.randrange(50)
                                    for _ in range(rng.randrange(3, 30))
                                ),
                                "source": f"s{rng.randrange(3)}",
                            }
                        )
                        + "\n"
                    )
            runner(spark, str(inp), work)
        if fam == "hist":
            before = _vals(query_quantiles(spark, work, [500, 900]))
        else:
            before = _vals(query_psi(spark, work))
        cells_dir = os.path.join(work, "cells")
        assert len(_partitions(cells_dir)) == 2
        if fam == "hist":
            compact_additive_cells(
                spark,
                cells_dir,
                "value long, _cnt long",
                key_cols=["value"],
                sum_cols=["_cnt"],
                ckpt_dir=os.path.join(work, "ckpt"),
            )
            after = _vals(query_quantiles(spark, work, [500, 900]))
        else:
            compact_additive_cells(
                spark,
                cells_dir,
                "grp string, bin string, cnt long",
                key_cols=["grp", "bin"],
                sum_cols=["cnt"],
                ckpt_dir=os.path.join(work, "ckpt"),
            )
            after = _vals(query_psi(spark, work))
        assert len(_partitions(cells_dir)) == 1
        assert after == before


def _fake_ckpt(tmp_path, started, committed):
    ckpt = tmp_path / "fake_ckpt"
    (ckpt / "offsets").mkdir(parents=True)
    (ckpt / "commits").mkdir(parents=True)
    for b in range(started + 1):
        (ckpt / "offsets" / str(b)).write_text("{}")
    for b in range(committed + 1):
        (ckpt / "commits" / str(b)).write_text("{}")
    return str(ckpt)


def test_assert_quiesced_refuses_inflight(spark, tmp_path):
    ckpt = _fake_ckpt(tmp_path, started=2, committed=1)
    with pytest.raises(ValueError, match="in flight"):
        assert_quiesced(spark, ckpt)
    # commit lands -> quiesced
    with open(os.path.join(ckpt, "commits", "2"), "w") as fh:
        fh.write("{}")
    assert_quiesced(spark, ckpt)
    # absent checkpoint (no stream ever ran) passes
    assert_quiesced(spark, str(tmp_path / "no_ckpt"))


def test_compaction_guard_refuses_inflight(spark, tmp_path):
    rng = random.Random(3)
    inp = tmp_path / "in"
    inp.mkdir()
    work = str(tmp_path / "work")
    _write_wave(inp / "w0.jsonl", _mk_rows(rng, 0, 30))
    run_incremental_values(spark, str(inp), work)
    bad_ckpt = _fake_ckpt(tmp_path, started=1, committed=0)
    cells_dir = os.path.join(work, "cells")
    with pytest.raises(ValueError, match="in flight"):
        compact_additive_cells(
            spark,
            cells_dir,
            "grp string, v long, cnt long",
            key_cols=["grp", "v"],
            sum_cols=["cnt"],
            ckpt_dir=bad_ckpt,
        )
    with pytest.raises(ValueError, match="in flight"):
        compact_label_deltas(
            spark,
            cells_dir,
            "grp string, v long, cnt long",
            key_col="grp",
            ckpt_dir=bad_ckpt,
        )
    # state untouched by the refused calls
    assert len(_partitions(cells_dir)) == 1


def test_torn_compaction_heals(spark, tmp_path):
    """Crash window between delete(batch_id=latest) and rename: the
    complete tmp partition (with _SUCCESS) is renamed in on the next
    maintenance call; a stale tmp whose target survived is discarded."""
    rng = random.Random(5)
    inp = tmp_path / "in"
    inp.mkdir()
    work = str(tmp_path / "work")
    for w in range(2):
        _write_wave(inp / f"w{w}.jsonl", _mk_rows(rng, 1000 * w, 50))
        run_incremental_values(spark, str(inp), work)
    cells_dir = os.path.join(work, "cells")
    want = _vals(query_mad_stats(spark, work))

    # simulate the torn window by hand: fold into tmp, delete target,
    # "crash" before rename
    state = read_state_or_empty(
        spark, cells_dir, "grp string, v long, cnt long"
    )
    from pyspark.sql import functions as F

    folded = state.groupBy("grp", "v").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    latest = latest_batch_id(spark, cells_dir)
    tmp_part = os.path.join(cells_dir, ".compact_tmp", f"batch_id={latest}")
    folded.write.mode("overwrite").parquet(tmp_part)
    import shutil

    shutil.rmtree(os.path.join(cells_dir, f"batch_id={latest}"))

    # next maintenance call heals, then compacts as normal
    compact_additive_cells(
        spark,
        cells_dir,
        "grp string, v long, cnt long",
        key_cols=["grp", "v"],
        sum_cols=["cnt"],
        ckpt_dir=os.path.join(work, "ckpt"),
    )
    assert _partitions(cells_dir) == [f"batch_id={latest}"]
    assert not os.path.exists(os.path.join(cells_dir, ".compact_tmp"))
    assert _vals(query_mad_stats(spark, work)) == want

    # stale tmp (target present) is discarded, not renamed in
    bogus = os.path.join(cells_dir, ".compact_tmp", f"batch_id={latest}")
    spark.createDataFrame(
        [("zzz", 1, 99)], "grp string, v long, cnt long"
    ).write.mode("overwrite").parquet(bogus)
    compact_additive_cells(
        spark,
        cells_dir,
        "grp string, v long, cnt long",
        key_cols=["grp", "v"],
        sum_cols=["cnt"],
        ckpt_dir=os.path.join(work, "ckpt"),
    )
    assert _vals(query_mad_stats(spark, work)) == want


def test_fold_modes_max_min_distinct(spark, tmp_path):
    """compact_additive_cells' per-column fold algebra: MAX (HLL
    registers), MIN (MinHash slots), and the empty-sum_cols DISTINCT
    fold — each over a hand-built 3-partition chain, checked against
    the readout-merge over the un-compacted chain."""
    from pyspark.sql import functions as F

    # MAX fold
    d = str(tmp_path / "hll")
    for b, rows in enumerate(
        [[("g", 1, 3), ("g", 2, 5)], [("g", 1, 7)], [("g", 2, 2), ("h", 1, 4)]]
    ):
        spark.createDataFrame(
            rows, "grp string, bucket int, rho_max int"
        ).write.parquet(f"{d}/batch_id={b}")
    compact_additive_cells(
        spark,
        d,
        "grp string, bucket int, rho_max int",
        key_cols=["grp", "bucket"],
        sum_cols={"rho_max": "max"},
        ckpt_dir=str(tmp_path / "no_ckpt"),
    )
    assert _partitions(d) == ["batch_id=2"]
    got = sorted(
        tuple(r)
        for r in read_state_or_empty(
            spark, d, "grp string, bucket int, rho_max int"
        ).collect()
    )
    assert got == [("g", 1, 7), ("g", 2, 5), ("h", 1, 4)]

    # MIN fold
    d = str(tmp_path / "minhash")
    for b, rows in enumerate([[("g", 9, 4)], [("g", 3, 8)]]):
        spark.createDataFrame(
            rows, "g string, _h0 long, _h1 long"
        ).write.parquet(f"{d}/batch_id={b}")
    compact_additive_cells(
        spark,
        d,
        "g string, _h0 long, _h1 long",
        key_cols=["g"],
        sum_cols={"_h0": "min", "_h1": "min"},
        ckpt_dir=str(tmp_path / "no_ckpt"),
    )
    got = [
        tuple(r)
        for r in read_state_or_empty(
            spark, d, "g string, _h0 long, _h1 long"
        ).collect()
    ]
    assert got == [("g", 3, 4)]

    # DISTINCT fold (append-only set state)
    d = str(tmp_path / "pairs")
    for b, rows in enumerate([[(1, 2), (3, 4)], [(1, 2), (5, 6)]]):
        spark.createDataFrame(rows, "a long, b long").write.parquet(
            f"{d}/batch_id={b}"
        )
    compact_additive_cells(
        spark,
        d,
        "a long, b long",
        key_cols=["a", "b"],
        sum_cols=[],
        ckpt_dir=str(tmp_path / "no_ckpt"),
    )
    got = sorted(
        tuple(r)
        for r in read_state_or_empty(spark, d, "a long, b long").collect()
    )
    assert got == [(1, 2), (3, 4), (5, 6)]


def test_hll_and_overlap_compaction_end_to_end(spark, tmp_path):
    """The register/signature families fold through ``compact`` after
    their drains with readouts unchanged."""
    import random

    from music_streaming_data_pipeline_v2_spark.streaming.hll_ingest import (
        query_cardinality,
        run_incremental_hll,
    )
    from music_streaming_data_pipeline_v2_spark.streaming.overlap_ingest import (
        SPEC as OVERLAP_SPEC,
        query_overlap,
        run_incremental_overlap,
    )

    rng = random.Random(23)
    # HLL: two waves of (group, key) rows
    inp = tmp_path / "hll_in"
    inp.mkdir()
    work = str(tmp_path / "hll_work")
    for w in range(2):
        with open(inp / f"w{w}.jsonl", "w") as fh:
            for i in range(200):
                fh.write(
                    json.dumps(
                        {
                            "group": f"g{rng.randrange(2)}",
                            "key": f"k{rng.randrange(300)}",
                        }
                    )
                    + "\n"
                )
        run_incremental_hll(spark, str(inp), work)
    before = _vals(query_cardinality(spark, work))
    run_incremental_hll(spark, str(inp), work)  # no new files: no-op drain
    from music_streaming_data_pipeline_v2_spark.streaming.state import (
        compact_additive_cells as _cac,
    )

    _cac(
        spark,
        os.path.join(work, "registers"),
        "group string, bucket int, rho_max int",
        key_cols=["group", "bucket"],
        sum_cols={"rho_max": "max"},
        ckpt_dir=os.path.join(work, "ckpt"),
    )
    assert len(_partitions(os.path.join(work, "registers"))) == 1
    assert _vals(query_cardinality(spark, work)) == before

    # overlap: signature state folds by MIN through compact
    inp2 = tmp_path / "ov_in"
    inp2.mkdir()
    work2 = str(tmp_path / "ov_work")
    for w in range(2):
        with open(inp2 / f"w{w}.jsonl", "w") as fh:
            for i in range(30):
                fh.write(
                    json.dumps(
                        {
                            "doc_id": w * 100 + i,
                            "text": " ".join(
                                f"t{rng.randrange(40)}" for _ in range(12)
                            ),
                            "source": f"s{rng.randrange(2)}",
                        }
                    )
                    + "\n"
                )
        run_incremental_overlap(spark, str(inp2), work2)
    before2 = _vals(query_overlap(spark, work2))
    with open(inp2 / "w2.jsonl", "w") as fh:
        fh.write(
            json.dumps({"doc_id": 999, "text": "t1 t2 t3 t4", "source": "s0"})
            + "\n"
        )
    run_incremental_overlap(spark, str(inp2), work2)
    compact(spark, work2, OVERLAP_SPEC)
    assert len(_partitions(os.path.join(work2, "cells"))) == 1
    after_full = _vals(query_overlap(spark, work2))
    # fold then drain again: readout still equals the re-derived one
    run_incremental_overlap(spark, str(inp2), work2)
    assert _vals(query_overlap(spark, work2)) == after_full


def test_dsir_and_index_compaction(spark, tmp_path):
    """The disjoint-arrival families (DSIR doc-bucket cells, BM25
    postings/doclens) fold through ``compact`` with readouts
    unchanged — the sum fold is content-identity there (no key repeats
    across batches), it only collapses the partition chain."""
    from music_streaming_data_pipeline_v2_spark.streaming import (
        dsir_ingest,
        index_ingest,
    )
    from music_streaming_data_pipeline_v2_spark.streaming.dsir_ingest import (
        query_dsir_scores,
        run_incremental_dsir,
    )
    from music_streaming_data_pipeline_v2_spark.streaming.index_ingest import (
        query_index,
        run_incremental_index,
    )

    docs = [
        [(0, "the quick brown fox"), (1, "lorem ipsum dolor")],
        [(10, "the lazy dog sleeps"), (11, "quick brown quick")],
    ]
    target = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    queries = spark.createDataFrame(
        [(0, "quick brown"), (1, "lazy dog")], "query_id int, text string"
    )

    for fam in ("dsir", "index"):
        inp = tmp_path / f"{fam}_in"
        inp.mkdir()
        work = str(tmp_path / f"{fam}_work")
        runner = run_incremental_dsir if fam == "dsir" else run_incremental_index
        for w, rows in enumerate(docs):
            with open(inp / f"w{w}.jsonl", "w") as fh:
                for did, text in rows:
                    fh.write(
                        json.dumps({"doc_id": did, "text": text}) + "\n"
                    )
            runner(spark, str(inp), work)
        if fam == "dsir":
            before = _vals(query_dsir_scores(spark, work, target))
        else:
            before = _vals(query_index(spark, work, queries, k=5))
        # one more (empty) drain, then compaction folds the chain
        runner(spark, str(inp), work)
        spec = (dsir_ingest if fam == "dsir" else index_ingest).SPEC
        compact(spark, work, spec)
        state_dirs = (
            ["docbuckets"] if fam == "dsir" else ["postings", "doclens"]
        )
        for sd in state_dirs:
            assert len(_partitions(os.path.join(work, sd))) == 1, (fam, sd)
        if fam == "dsir":
            after = _vals(query_dsir_scores(spark, work, target))
        else:
            after = _vals(query_index(spark, work, queries, k=5))
        assert after == before, fam


# --- property: the fold is exactly the readout-merge, any chain shape


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_cell = st.tuples(
    st.sampled_from(["a", "b", "c"]),        # key
    st.integers(min_value=-5, max_value=5),  # s (sum-folded)
    st.integers(min_value=0, max_value=31),  # m (max-folded)
)
_chain = st.lists(
    st.lists(_cell, min_size=0, max_size=6), min_size=1, max_size=5
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(chain=_chain)
def test_fold_equals_readout_merge_property(spark, tmp_path_factory, chain):
    """For ANY partition chain, folding then merging ≡ merging the
    raw chain — per fold function (sum and max here; min is max by
    negation). The invariant every compacted family's correctness
    rests on."""
    import collections

    d = str(tmp_path_factory.mktemp("fold") / "state")
    for b, cells in enumerate(chain):
        spark.createDataFrame(
            cells or [], "k string, s long, m long"
        ).write.mode("overwrite").parquet(f"{d}/batch_id={b}")
    # reference merge over the raw chain
    want_s = collections.defaultdict(int)
    want_m = {}
    for cells in chain:
        for k, s, m in cells:
            want_s[k] += s
            want_m[k] = max(want_m.get(k, m), m)
    compact_additive_cells(
        spark,
        d,
        "k string, s long, m long",
        key_cols=["k"],
        sum_cols={"s": "sum", "m": "max"},
        ckpt_dir=d + "_no_ckpt",
    )
    got = {
        r["k"]: (r["s"], r["m"])
        for r in read_state_or_empty(
            spark, d, "k string, s long, m long"
        ).collect()
    }
    assert got == {k: (want_s[k], want_m[k]) for k in want_s}
