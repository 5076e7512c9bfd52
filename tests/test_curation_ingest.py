"""Curation served from incremental near-dup state ≡ the batch recipe
tail over the concatenated corpus with the same (MinHash) miner."""

from __future__ import annotations

from pyspark.sql import functions as F

from music_streaming_data_pipeline_v2_spark.operators.clustering import (
    connected_components,
)
from music_streaming_data_pipeline_v2_spark.operators.curation import (
    curation_from_components,
)
from music_streaming_data_pipeline_v2_spark.operators.dedup import (
    minhash_lsh_pairs,
)
from music_streaming_data_pipeline_v2_spark.streaming.curation_ingest import (
    query_curation,
)
from music_streaming_data_pipeline_v2_spark.streaming.dedup_ingest import (
    run_incremental_dedup,
)

MINER = dict(jaccard_threshold=0.5, num_hashes=16, bands=8, shingle_k=2)
BUDGET, EPOCHS = 500, 2
GATE = dict(min_tokens=4, min_uniq_permille=100)

WAVE1 = [
    (1, "en", "the quick brown fox jumps over the lazy dog"),
    (2, "en", "the quick brown fox jumps over the lazy cat"),
    (3, "en", "completely different content about spark engines"),
    (4, "en", "short"),
]
WAVE2 = [
    (10, "en", "the quick brown fox jumps over the lazy dog today"),
    (11, "de", "unrelated text about distributed query planning"),
    (12, "de", "ein anderes dokument mit eigenem inhalt und worten"),
]


def _write_wave(path, rows):
    with open(path, "w") as fh:
        fh.write("doc_id,lang,text\n")
        for did, lang, text in rows:
            fh.write(f"{did},{lang},{text}\n")


def _batch_twin(spark, rows):
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    )
    pairs = minhash_lsh_pairs(docs, **MINER)
    comp = connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("id").alias("doc_id"), "component"
    )
    return curation_from_components(docs, comp, BUDGET, EPOCHS, **GATE)


def _vals(df):
    return sorted(tuple(r) for r in df.collect())


def test_incremental_curation_matches_batch(spark, tmp_path):
    inp = tmp_path / "in"
    work = str(tmp_path / "work")
    inp.mkdir()

    _write_wave(inp / "w1.csv", WAVE1)
    run_incremental_dedup(spark, str(inp), work, **MINER)
    assert _vals(
        query_curation(spark, work, BUDGET, EPOCHS, **GATE)
    ) == _vals(_batch_twin(spark, WAVE1))

    _write_wave(inp / "w2.csv", WAVE2)
    run_incremental_dedup(spark, str(inp), work, **MINER)
    both = _batch_twin(spark, WAVE1 + WAVE2)
    got = query_curation(spark, work, BUDGET, EPOCHS, **GATE)
    assert _vals(got) == _vals(both)

    # semantic spot checks on the served result: the near-dup triple
    # {1,2,10} keeps exactly one representative; the too-short doc 4
    # fails the gate; held-out splits are never epoched
    rows = {r.doc_id: r for r in got.collect()}
    assert len({1, 2, 10} & set(rows)) == 1
    assert 4 not in rows
    for r in rows.values():
        if r.split != "train":
            assert r.repeat_count == 0


def test_incremental_curation_replay_noop(spark, tmp_path):
    inp = tmp_path / "in"
    work = str(tmp_path / "work")
    inp.mkdir()
    _write_wave(inp / "w1.csv", WAVE1)
    run_incremental_dedup(spark, str(inp), work, **MINER)
    before = _vals(query_curation(spark, work, BUDGET, EPOCHS, **GATE))
    run_incremental_dedup(spark, str(inp), work, **MINER)
    assert _vals(query_curation(spark, work, BUDGET, EPOCHS, **GATE)) == before


def test_incremental_components_merge_across_waves(spark, tmp_path):
    """The labeling survives the hard case: a later wave's pair
    BRIDGES two components built in earlier waves, so both old labels
    must remap (CC over the contracted delta graph, never the full
    pair list — dedup_ingest's VERDICT r6 #5 maintenance) — and the
    later wave's comps/ partition must contain ONLY the rows it
    changed (the r7 #3 delta-write contract), with the resolved
    last-writer-wins read equal to batch CC."""
    from music_streaming_data_pipeline_v2_spark.streaming.state import (
        read_resolved_labels,
        read_state_or_empty,
    )

    # single-row bands: candidate recall 1-(1-J)^16 ≈ 1 at J≥0.3,
    # so the bridge pair is mined deterministically
    miner = dict(
        jaccard_threshold=0.25, num_hashes=16, bands=16, shingle_k=2
    )
    t_a = "alpha beta gamma delta epsilon zeta"
    t_b = "one two three four five six seven"
    wave1 = [
        (1, "en", t_a),
        (2, "en", t_a + " eta"),
        (5, "en", t_b),
        (6, "en", t_b + " eight"),
    ]
    # half-and-half text: near-dup of BOTH groups at the 0.3 threshold
    wave2 = [(20, "en", "alpha beta gamma delta one two three four")]

    inp = tmp_path / "in"
    work = str(tmp_path / "work")
    inp.mkdir()
    _write_wave(inp / "w1.csv", wave1)
    run_incremental_dedup(spark, str(inp), work, **miner)
    snap1, bid1 = read_resolved_labels(
        spark, f"{work}/comps", "id long, component long"
    )
    lab1 = dict(_vals(snap1))
    assert lab1[1] == lab1[2] == 1 and lab1[5] == lab1[6] == 5

    _write_wave(inp / "w2.csv", wave2)
    run_incremental_dedup(spark, str(inp), work, **miner)
    snap2, bid2 = read_resolved_labels(
        spark, f"{work}/comps", "id long, component long"
    )
    lab2 = dict(_vals(snap2))
    # the bridge collapses everything to the global min id — and the
    # resolved labeling must equal full CC over the accumulated pairs
    assert lab2[1] == lab2[2] == lab2[5] == lab2[6] == lab2[20] == 1
    pairs = read_state_or_empty(
        spark, f"{work}/pairs", "id_a long, id_b long, jaccard double"
    )
    full = connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("id").alias("id"), "component"
    )
    assert sorted(lab2.items()) == _vals(full)
    # delta-write contract: the bridge wave's partition holds ONLY the
    # rows it changed — component-5 members remapped to 1 plus the new
    # bridge doc; the untouched component-1 members (ids 1, 2) keep
    # their wave-1 rows and are NOT rewritten
    delta_rows = dict(
        _vals(
            spark.read.schema("id long, component long").parquet(
                f"{work}/comps/batch_id={bid2}"
            )
        )
    )
    assert delta_rows == {5: 1, 6: 1, 20: 1}


def test_compact_label_deltas_keeps_serving_intact(spark, tmp_path):
    """Compaction folds the delta chain into the newest partition and
    deletes the rest: the resolved labeling, serving answers, and
    subsequent drains are all unchanged."""
    from music_streaming_data_pipeline_v2_spark.streaming.state import (
        compact_label_deltas,
        read_resolved_labels,
    )

    inp = tmp_path / "in"
    work = str(tmp_path / "work")
    inp.mkdir()
    _write_wave(inp / "w1.csv", WAVE1)
    run_incremental_dedup(spark, str(inp), work, **MINER)
    _write_wave(inp / "w2.csv", WAVE2)
    run_incremental_dedup(spark, str(inp), work, **MINER)

    before = _vals(query_curation(spark, work, BUDGET, EPOCHS, **GATE))
    snap_before, bid = read_resolved_labels(
        spark, f"{work}/comps", "id long, component long"
    )
    labels_before = _vals(snap_before)
    deleted = compact_label_deltas(
        spark,
        f"{work}/comps",
        "id long, component long",
        ckpt_dir=f"{work}/ckpt",
    )
    assert deleted and all(b < bid for b in deleted)
    snap_after, bid2 = read_resolved_labels(
        spark, f"{work}/comps", "id long, component long"
    )
    assert bid2 == bid and _vals(snap_after) == labels_before
    # the folded partition is now the FULL labeling, self-contained
    folded = _vals(
        spark.read.schema("id long, component long").parquet(
            f"{work}/comps/batch_id={bid}"
        )
    )
    assert folded == labels_before
    assert _vals(query_curation(spark, work, BUDGET, EPOCHS, **GATE)) == before
    # compacting again deletes nothing (single partition left)
    assert compact_label_deltas(
        spark,
        f"{work}/comps",
        "id long, component long",
        ckpt_dir=f"{work}/ckpt",
    ) == []
    # a further drain keeps maintaining on top of the compacted chain
    _write_wave(
        inp / "w3.csv",
        [(70 + i, "en", f"post compaction unique doc {i}") for i in range(2)],
    )
    run_incremental_dedup(spark, str(inp), work, **MINER)
    assert _vals(
        query_curation(spark, work, BUDGET, EPOCHS, **GATE)
    ) == _vals(
        _batch_twin(
            spark,
            WAVE1
            + WAVE2
            + [(70 + i, "en", f"post compaction unique doc {i}") for i in range(2)],
        )
    )


def test_compact_after_drain_folds_comps(spark, tmp_path):
    """`compact` after a drain leaves a single self-contained comps/
    partition, and serving still answers from it."""
    import os

    from music_streaming_data_pipeline_v2_spark.streaming import dedup_ingest
    from music_streaming_data_pipeline_v2_spark.streaming.drain import compact

    inp = tmp_path / "in"
    work = str(tmp_path / "work")
    inp.mkdir()
    _write_wave(inp / "w1.csv", WAVE1)
    run_incremental_dedup(spark, str(inp), work, **MINER)
    _write_wave(inp / "w2.csv", WAVE2)
    run_incremental_dedup(spark, str(inp), work, **MINER)
    compact(spark, work, dedup_ingest.SPEC)
    parts = [
        d
        for d in os.listdir(os.path.join(work, "comps"))
        if d.startswith("batch_id=")
    ]
    assert len(parts) == 1
    assert _vals(
        query_curation(spark, work, BUDGET, EPOCHS, **GATE)
    ) == _vals(_batch_twin(spark, WAVE1 + WAVE2))


def test_maintain_components_false_falls_back(spark, tmp_path):
    """Without label maintenance no comps/ state exists, and serving
    falls back to full CC over the pair list — same answers."""
    import os

    inp = tmp_path / "in"
    work = str(tmp_path / "work")
    inp.mkdir()
    _write_wave(inp / "w1.csv", WAVE1 + WAVE2)
    run_incremental_dedup(
        spark, str(inp), work, maintain_components=False, **MINER
    )
    assert not os.path.isdir(os.path.join(work, "comps"))
    assert _vals(
        query_curation(spark, work, BUDGET, EPOCHS, **GATE)
    ) == _vals(_batch_twin(spark, WAVE1 + WAVE2))


def test_stale_snapshot_from_mixed_maintenance_falls_back(spark, tmp_path):
    """A maintenance-DISABLED drain between maintained ones leaves the
    comps/ snapshot lagging the pair state; serving must detect the
    lag (batch-id freshness) and fall back to full CC instead of
    silently dropping the later drain's merges."""
    from music_streaming_data_pipeline_v2_spark.streaming.state import (
        latest_batch_id,
    )

    inp = tmp_path / "in"
    work = str(tmp_path / "work")
    inp.mkdir()
    _write_wave(inp / "w1.csv", WAVE1)
    run_incremental_dedup(spark, str(inp), work, **MINER)  # maintained
    _write_wave(inp / "w2.csv", WAVE2)
    run_incremental_dedup(
        spark, str(inp), work, maintain_components=False, **MINER
    )
    assert latest_batch_id(spark, f"{work}/comps") < latest_batch_id(
        spark, f"{work}/pairs"
    )
    got = _vals(query_curation(spark, work, BUDGET, EPOCHS, **GATE))
    assert got == _vals(_batch_twin(spark, WAVE1 + WAVE2))


def test_empty_delta_commits_empty_marker(spark, tmp_path):
    """A maintained drain with NO new pairs commits an EMPTY comps/
    partition — the freshness invariant (comps latest == pairs latest)
    holds, the resolved labeling is unchanged, and the write cost is a
    marker, not a labeling copy (the r7 copy-forward was ∝ labeling
    size — the cost the delta layout exists to remove)."""
    from music_streaming_data_pipeline_v2_spark.streaming.state import (
        latest_batch_id,
        read_resolved_labels,
    )

    inp = tmp_path / "in"
    work = str(tmp_path / "work")
    inp.mkdir()
    _write_wave(inp / "w1.csv", WAVE1)
    run_incremental_dedup(spark, str(inp), work, **MINER)
    labels1 = _vals(
        read_resolved_labels(
            spark, f"{work}/comps", "id long, component long"
        )[0]
    )
    # wave of all-unique docs: verified pairs empty
    _write_wave(
        inp / "w2.csv",
        [(50 + i, "en", f"totally unique text number {i} here") for i in range(3)],
    )
    run_incremental_dedup(spark, str(inp), work, **MINER)
    comps_latest = latest_batch_id(spark, f"{work}/comps")
    assert comps_latest == latest_batch_id(spark, f"{work}/pairs")
    snap, _ = read_resolved_labels(
        spark, f"{work}/comps", "id long, component long"
    )
    assert _vals(snap) == labels1
    # the marker partition itself holds zero rows
    marker = spark.read.schema("id long, component long").parquet(
        f"{work}/comps/batch_id={comps_latest}"
    )
    assert marker.count() == 0


def test_mixed_maintenance_self_heals_on_next_maintained_drain(
    spark, tmp_path
):
    """ADVICE r7 (high): maintained → UNmaintained (with real merges)
    → maintained. The final drain must detect that the labeling lags
    the pair state and bootstrap a full clustering — folding only its
    own delta would drop the middle drain's merges forever while
    restoring the freshness invariant, so serving would trust a
    labeling with a permanent hole."""
    from music_streaming_data_pipeline_v2_spark.streaming.state import (
        latest_batch_id,
        read_resolved_labels,
        read_state_or_empty,
    )

    miner = dict(
        jaccard_threshold=0.25, num_hashes=16, bands=16, shingle_k=2
    )
    t_a = "alpha beta gamma delta epsilon zeta"
    t_b = "one two three four five six seven"
    inp = tmp_path / "in"
    work = str(tmp_path / "work")
    inp.mkdir()
    # wave 1 (maintained): two separate components
    _write_wave(
        inp / "w1.csv",
        [(1, "en", t_a), (2, "en", t_a + " eta"),
         (5, "en", t_b), (6, "en", t_b + " eight")],
    )
    run_incremental_dedup(spark, str(inp), work, **miner)
    # wave 2 (UNmaintained): the bridge doc merges both components —
    # these merges exist only in pairs/, not in comps/
    _write_wave(
        inp / "w2.csv",
        [(20, "en", "alpha beta gamma delta one two three four")],
    )
    run_incremental_dedup(
        spark, str(inp), work, maintain_components=False, **miner
    )
    # wave 3 (maintained): new pairs of its own, PLUS the obligation
    # to heal the wave-2 gap
    _write_wave(
        inp / "w3.csv", [(30, "en", t_a + " theta iota")]
    )
    run_incremental_dedup(spark, str(inp), work, **miner)

    assert latest_batch_id(spark, f"{work}/comps") == latest_batch_id(
        spark, f"{work}/pairs"
    )
    resolved, _ = read_resolved_labels(
        spark, f"{work}/comps", "id long, component long"
    )
    pairs = read_state_or_empty(
        spark, f"{work}/pairs", "id_a long, id_b long, jaccard double"
    )
    full = connected_components(pairs, src="id_a", dst="id_b").select(
        "id", "component"
    )
    got = dict(_vals(resolved))
    assert _vals(resolved) == _vals(full)
    # and the wave-2 bridge really is reflected: everything collapsed
    assert got[1] == got[2] == got[5] == got[6] == got[20] == 1
    # serving agrees with the batch twin (snapshot path, now healed)
    rows = [
        (1, "en", t_a), (2, "en", t_a + " eta"),
        (5, "en", t_b), (6, "en", t_b + " eight"),
        (20, "en", "alpha beta gamma delta one two three four"),
        (30, "en", t_a + " theta iota"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    lsh_pairs = minhash_lsh_pairs(docs, **miner)
    comp = connected_components(lsh_pairs, src="id_a", dst="id_b").select(
        F.col("id").alias("doc_id"), "component"
    )
    want = curation_from_components(docs, comp, BUDGET, EPOCHS, **GATE)
    assert _vals(
        query_curation(spark, work, BUDGET, EPOCHS, **GATE)
    ) == _vals(want)


def test_first_wave_without_pairs_then_merges(spark, tmp_path):
    """Bootstrap on a pair-less first wave commits an EMPTY labeling
    partition; the next drain must resolve over it (empty relation,
    NOT None) and take the delta path — the all-empty-partition read
    edge of read_resolved_labels."""
    from music_streaming_data_pipeline_v2_spark.streaming.state import (
        read_resolved_labels,
    )

    inp = tmp_path / "in"
    work = str(tmp_path / "work")
    inp.mkdir()
    # wave 1: all unique — zero verified pairs, comps gets an empty
    # bootstrap partition
    _write_wave(
        inp / "w1.csv",
        [(i, "en", f"wholly unique document number {i} body") for i in range(3)],
    )
    run_incremental_dedup(spark, str(inp), work, **MINER)
    res = read_resolved_labels(
        spark, f"{work}/comps", "id long, component long"
    )
    assert res is not None and res[0].count() == 0
    # wave 2: a near-dup pair — the delta path labels it on top of the
    # empty labeling
    _write_wave(inp / "w2.csv", WAVE1)
    run_incremental_dedup(spark, str(inp), work, **MINER)
    assert _vals(
        query_curation(spark, work, BUDGET, EPOCHS, **GATE)
    ) == _vals(
        _batch_twin(
            spark,
            [(i, "en", f"wholly unique document number {i} body") for i in range(3)]
            + WAVE1,
        )
    )
