"""Incremental ANN index maintenance (plans/similarity4.py): N daily
appends + tombstones ≡ one-shot rebuild with the same frozen
artifacts (the tests/test_incremental_agg.py discipline applied to
vector serving), O(new) append cost, tombstone semantics, and the
staleness dial's bounds."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from spotify_podcasts_airflow_batch_spark.plans.similarity2 import (
    _ivfpq_encoded,
)
from spotify_podcasts_airflow_batch_spark.plans.similarity4 import (
    _INC_TOMB_MOD,
    _INC_WAVES,
    _load_artifacts,
    ann_index_segments,
    ann_staleness_recall,
    incremental_live_index,
    ivfpq_incremental_served,
    ivfpq_incremental_store,
)
from spotify_podcasts_airflow_batch_spark.sources.readers import table


@pytest.fixture(scope="module")
def store(spark, sf_dir):
    return ivfpq_incremental_store(spark, sf_dir)


def _live_rows(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb.where(
        ~(
            (F.col("vec_id") % _INC_WAVES == 0)
            & (F.col("vec_id") % _INC_TOMB_MOD == 0)
        )
    )


def test_appends_equal_one_shot_rebuild(spark, sf_dir, store):
    """The core invariant: the union of epoch segments minus
    tombstones must row-for-row equal ONE encode of the live corpus
    with the same frozen artifacts."""
    cents, cells = _load_artifacts(store)
    inc = {
        (r.vec_id, tuple(r.codes), r.cell_id)
        for r in incremental_live_index(spark, store).collect()
    }
    oneshot = {
        (r.vec_id, tuple(r.codes), r.cell_id)
        for r in _ivfpq_encoded(
            spark,
            sf_dir,
            cents=cents,
            cells=cells,
            emb=_live_rows(spark, sf_dir),
        ).collect()
    }
    assert inc == oneshot and inc


def test_segments_cover_waves_exactly(spark, sf_dir, store):
    """Each epoch segment holds EXACTLY its wave's rows — the append
    encoded O(new), never rescanning earlier epochs."""
    seg = spark.read.parquet(os.path.join(store, "segments"))
    got = {
        r.epoch: r.n
        for r in seg.groupBy("epoch").agg(F.count("*").alias("n")).collect()
    }
    emb = table(spark, sf_dir, "embeddings")
    want = {
        w: emb.where(F.col("vec_id") % _INC_WAVES == w).count()
        for w in range(_INC_WAVES)
    }
    assert got == want
    # and no vec_id appears in two segments (append ≠ rewrite)
    assert seg.count() == seg.select("vec_id").distinct().count()


def test_one_file_per_cell_per_epoch(spark, sf_dir, store):
    """The append write co-locates by cell before the partitioned
    write: each epoch=N/cell_id=M dir holds exactly one data file —
    an unshuffled write would fan (encode tasks × cells) small files
    per append, a files-explosion at √n cells."""
    import glob

    cell_dirs = glob.glob(
        os.path.join(store, "segments", "epoch=*", "cell_id=*")
    )
    assert cell_dirs
    for d in cell_dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d


def test_tombstones_mask_serving(spark, sf_dir, store):
    tombs = {
        r.vec_id
        for r in spark.read.parquet(
            os.path.join(store, "tombstones")
        ).collect()
    }
    assert tombs  # fixture corpus always has base rows to delete
    live_ids = {
        r.vec_id for r in incremental_live_index(spark, store).collect()
    }
    assert not (tombs & live_ids)
    served = ivfpq_incremental_served(spark, sf_dir)
    hit_ids = {r.vec_id for r in served.collect()}
    assert not (tombs & hit_ids)


def test_frozen_artifacts_are_loaded_not_retrained(spark, sf_dir, store):
    """Serving must use the persisted day-0 artifacts: corrupting the
    on-disk codebook changes nothing until the memo key changes, and
    the loaded artifacts equal the training output exactly (JSON
    roundtrip is lossless for the integer-grid values)."""
    import json

    with open(os.path.join(store, "artifacts.json")) as fh:
        art = json.load(fh)
    cents, cells = _load_artifacts(store)
    assert art["cents"] == cents and art["cells"] == cells
    assert all(
        isinstance(v, int) for cell in cells for v in cell
    )  # BIGINT micro-units, exact through JSON


def test_staleness_recall_bounds(spark, sf_dir):
    rows = ann_staleness_recall(spark, sf_dir).collect()
    assert rows
    assert all(0 <= r.recall_bp <= 10000 for r in rows)


def test_segment_audit_bookkeeping(spark, sf_dir):
    rows = {r.epoch: r for r in ann_index_segments(spark, sf_dir).collect()}
    assert set(rows) == set(range(_INC_WAVES))
    for ep, r in rows.items():
        assert r.n_live == r.n_rows - r.n_tombstoned
        if ep != 0:
            assert r.n_tombstoned == 0  # only base rows were deleted


def test_compaction_preserves_content_and_fixes_layout(spark, sf_dir):
    """D41: compaction must change layout, not content — served rows
    identical, tombstoned rows physically gone, one file per cell."""
    import glob

    from spotify_podcasts_airflow_batch_spark.plans.similarity4 import (
        ivfpq_compacted_served,
        ivfpq_compacted_store,
    )

    want = sorted(
        tuple(r) for r in ivfpq_incremental_served(spark, sf_dir).collect()
    )
    got = sorted(
        tuple(r) for r in ivfpq_compacted_served(spark, sf_dir).collect()
    )
    assert got == want and got
    croot = ivfpq_compacted_store(spark, sf_dir)
    # tombstones applied: none left, and no dead vec_id in segments
    assert (
        spark.read.parquet(os.path.join(croot, "tombstones")).count() == 0
    )
    seg_ids = {
        r.vec_id
        for r in spark.read.parquet(
            os.path.join(croot, "segments")
        ).collect()
    }
    dead = {
        r.vec_id
        for r in spark.read.parquet(
            os.path.join(
                ivfpq_incremental_store(spark, sf_dir), "tombstones"
            )
        ).collect()
    }
    assert dead and not (dead & seg_ids)
    # OPTIMIZE layout: one data file per cell partition
    for cell_dir in glob.glob(
        os.path.join(croot, "segments", "epoch=0", "cell_id=*")
    ):
        files = glob.glob(os.path.join(cell_dir, "*.parquet"))
        assert len(files) == 1, cell_dir


def test_incremental_serve_prunes_partitions(spark, sf_dir):
    """The by-cell layout must keep its 100 TB property under
    appends: the serving scan's PartitionFilters carry a
    dynamicpruning subquery, so unprobed cells are never read."""
    spark.catalog.clearCache()
    plan = (
        ivfpq_incremental_served(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower()
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_removed_segments_trigger_rebuild(spark, sf_dir):
    """An externally-removed segments dir must rebuild, not serve a
    dangling read (the materialized_index_path / ADVICE r6 lesson
    applied to the incremental store)."""
    import shutil

    root = ivfpq_incremental_store(spark, sf_dir)
    before = sorted(
        tuple(r) for r in ivfpq_incremental_served(spark, sf_dir).collect()
    )
    shutil.rmtree(os.path.join(root, "segments"))
    root2 = ivfpq_incremental_store(spark, sf_dir)
    assert os.path.isfile(os.path.join(root2, "segments", "_SUCCESS"))
    after = sorted(
        tuple(r) for r in ivfpq_incremental_served(spark, sf_dir).collect()
    )
    assert after == before


def test_tombstone_broadcast_guard(spark, sf_dir):
    """The tombstone anti-join side is hinted broadcast only while its
    on-disk size is under the threshold (VERDICT r9 #1): a
    delete-heavy store past the cap must fall back to an unhinted
    anti-join (AQE picks the strategy) with identical content."""
    root = ivfpq_incremental_store(spark, sf_dir)
    hinted = incremental_live_index(spark, root)
    assert (
        "ResolvedHint"
        in hinted._jdf.queryExecution().analyzed().toString()
    )
    plain = incremental_live_index(spark, root, tomb_broadcast_max_bytes=0)
    assert (
        "ResolvedHint"
        not in plain._jdf.queryExecution().analyzed().toString()
    )
    assert sorted(
        (r.vec_id, tuple(r.codes), r.cell_id) for r in plain.collect()
    ) == sorted(
        (r.vec_id, tuple(r.codes), r.cell_id) for r in hinted.collect()
    )


def test_compaction_splits_hot_cells(spark, sf_dir, tmp_path):
    """Hot-cell file splitting (VERDICT r9 follow-up #5): compaction
    re-packs each cell into ceil(rows / rows_per_file) files — a hot
    cell keeps intra-cell scan parallelism instead of riding one
    giant file — while content stays bit-identical."""
    import collections
    import glob as g

    from spotify_podcasts_airflow_batch_spark.plans.similarity4 import (
        compact_store,
    )

    root = ivfpq_incremental_store(spark, sf_dir)
    out = str(tmp_path / "hot_split")
    compact_store(spark, root, out, rows_per_file=8)
    def content(r):
        return {
            (x.vec_id, tuple(x.codes), x.cell_id)
            for x in incremental_live_index(spark, r).collect()
        }

    want = content(root)
    got = content(out)
    assert got == want and got
    per_cell: collections.Counter = collections.Counter()
    for r in (
        spark.read.parquet(os.path.join(out, "segments"))
        .select("cell_id")
        .collect()
    ):
        per_cell[r.cell_id] += 1
    split = False
    for cell_dir in g.glob(
        os.path.join(out, "segments", "epoch=0", "cell_id=*")
    ):
        cell = int(cell_dir.rsplit("=", 1)[1])
        files = g.glob(os.path.join(cell_dir, "*.parquet"))
        # maxRecordsPerFile bounds every file at rows_per_file rows,
        # so any cell past the threshold MUST have fanned out
        if per_cell[cell] > 8:
            assert len(files) >= 2, cell_dir
            split = True
    assert split, "fixture has no hot cell above the planted threshold"


def test_maybe_compact_triggers_on_tombstone_fraction(
    spark, sf_dir, tmp_path
):
    """Auto-compaction fires only past the tombstone-fraction
    threshold; below it the store is returned untouched."""
    from spotify_podcasts_airflow_batch_spark.plans.similarity4 import (
        maybe_compact_store,
    )

    root = ivfpq_incremental_store(spark, sf_dir)
    out = str(tmp_path / "auto_compact")
    # fixture deletes ~1/21 of rows (~4.8%) — under the 10% default
    assert maybe_compact_store(spark, root, out) == root
    assert not os.path.isdir(out)
    got = maybe_compact_store(spark, root, out, tomb_frac=0.01)
    assert got == out
    assert (
        spark.read.parquet(os.path.join(out, "tombstones")).count() == 0
    )
    want = {
        (r.vec_id, tuple(r.codes), r.cell_id)
        for r in incremental_live_index(spark, root).collect()
    }
    assert {
        (r.vec_id, tuple(r.codes), r.cell_id)
        for r in incremental_live_index(spark, out).collect()
    } == want


def test_removed_tombstones_trigger_rebuild(spark, sf_dir):
    """An externally-removed tombstones dir must invalidate the
    memoized store (ADVICE r9 #3) — same class as the removed-segments
    case above."""
    import shutil

    root = ivfpq_incremental_store(spark, sf_dir)
    before = sorted(
        tuple(r) for r in ivfpq_incremental_served(spark, sf_dir).collect()
    )
    shutil.rmtree(os.path.join(root, "tombstones"))
    root2 = ivfpq_incremental_store(spark, sf_dir)
    assert os.path.isdir(os.path.join(root2, "tombstones"))
    after = sorted(
        tuple(r) for r in ivfpq_incremental_served(spark, sf_dir).collect()
    )
    assert after == before


def _py4j_round_trips(spark, monkeypatch, build) -> int:
    """Py4J commands the driver sends while ``build`` runs, not
    counting object releases: those fire when Python's garbage
    collector frees earlier JavaObjects, so their number depends on
    what ran before. The thread's active session is set first because
    every API call with one pays extra round trips to record its call
    site."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = [0]

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent[0] += 1
        return send(command, *args, **kwargs)

    spark._jvm.SparkSession.setActiveSession(spark._jsparkSession)
    with monkeypatch.context() as m:
        m.setattr(client, "send_command", counting)
        build()
    return sent[0]


def test_serve_and_append_py4j_budget(spark, sf_dir, store, monkeypatch):
    """Building the serve frame and the append's encode frame, before
    any action on them, stays within a fixed Py4J budget. The PQ
    codebook and per-row PQ expressions are single SQL expressions
    (570 round trips per serve, 101 per encode); built one Column node
    per call they cost over 5,000 each."""
    ivfpq_incremental_served(spark, sf_dir)  # first-call memo fills
    serve = _py4j_round_trips(
        spark, monkeypatch, lambda: ivfpq_incremental_served(spark, sf_dir)
    )
    cents, cells = _load_artifacts(store)
    batch = _live_rows(spark, sf_dir).where(
        F.col("vec_id") % _INC_WAVES == _INC_WAVES - 1
    )
    encode = _py4j_round_trips(
        spark,
        monkeypatch,
        lambda: _ivfpq_encoded(
            spark, "", cents=cents, cells=cells, emb=batch
        ),
    )
    assert serve <= 1000, serve
    assert encode <= 200, encode
