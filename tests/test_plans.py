"""Physical-plan assertions: the scale properties the engine relies on
must be visible in `explain` output — filters pushed to the parquet
scan, broadcast joins where intended, and no shuffle on the fact-table
side of the broadcast PIP join."""

import pytest
from pyspark.sql import functions as F

from augdiff_pipeline_spark import fixtures
from augdiff_pipeline_spark.operators.spatial_join import cell_equi_join, pip_join_broadcast
from augdiff_pipeline_spark.plans.polygon_layer import build_polygon_layer
from augdiff_pipeline_spark.sources.state import StateTable

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") < "1996-01-01").select("l_orderkey", "l_quantity")
    plan = q.queryExecution if False else q._jdf.queryExecution().toString()
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # column pruning: ReadSchema carries only the projected columns
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


def test_state_point_lookup_pushes_in_list(spark, tmp_path):
    state = StateTable(str(tmp_path / "state"))
    state.init(fixtures.base_state_df(spark))
    keys = spark.createDataFrame([(4005,), (8003,)], "k long")  # packed ids
    fetched = state.fetch_pairs(spark, keys)
    plan = fetched._jdf.queryExecution().toString()
    assert "PushedFilters" in plan and "In(id" in plan.replace(" ", "").replace("[", "(")
    rows = fetched.collect()
    assert {r["id"] for r in rows} <= {4005 >> 2, 8003 >> 2}


def test_state_point_lookup_lists_only_its_partitions(spark, tmp_path, monkeypatch):
    """A point lookup reads only the p= dirs its keys can live in, and
    building the read starts no Spark job (no parallel listing of every
    partition dir of the clustered table).  A key set over
    ``MAX_ENUMERATED_KEYS`` (a broadcast semi-join) reads the same rows."""
    import os
    from urllib.parse import urlparse

    from augdiff_pipeline_spark.functions import packing
    from augdiff_pipeline_spark.functions.packing import pair_to_long_py, partition_number_py

    state = StateTable(str(tmp_path / "state"))
    state.init(fixtures.base_state_df(spark))
    rows = fixtures.base_state_rows()
    picked = {(r[1], r[2]) for r in rows[::7]}
    keys = [pair_to_long_py(i, t) for i, t in picked]
    data_dir = state.table.current().data_dirs[0]
    allowed = {os.path.join(data_dir, f"p={partition_number_py(i, t)}") for i, t in picked}
    assert len([n for n in os.listdir(data_dir) if n.startswith("p=")]) > len(allowed)

    sc = spark.sparkContext
    group = "point-lookup-listing"
    sc.setJobGroup(group, "fetch_keys")
    try:
        fetched = state.fetch_keys(spark, keys)
        files = fetched.inputFiles()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert files and all(os.path.dirname(urlparse(f).path) in allowed for f in files), files
    got = {(r["id"], r["type"]) for r in fetched.collect()}
    assert got == picked

    monkeypatch.setattr(packing, "MAX_ENUMERATED_KEYS", 0)
    fetched = state.fetch_keys(spark, keys)
    assert all(os.path.dirname(urlparse(f).path) in allowed for f in fetched.inputFiles())
    assert {(r["id"], r["type"]) for r in fetched.collect()} == picked


def test_driver_state_delta_matches_spark_delta(spark, tmp_path):
    """A batch appended from a driver-held Arrow table (pyarrow write)
    reads back equal to the same rows written by the Spark clustered
    writer (``init`` of base ∪ batch): before and after a compaction,
    and through a point lookup on the delta."""
    from augdiff_pipeline_spark.fixtures import _node_row, _rel_row, _tombstone, _ts, _way_row
    from augdiff_pipeline_spark.functions.packing import pair_to_long_py
    from augdiff_pipeline_spark.schemas import OSM_SCHEMA
    from augdiff_pipeline_spark.sources.state import clustered_writer

    batch_rows = [
        _node_row(2048, 3, _ts(5, 30), lon=-122.4194155, lat=37.7749295,
                  tags={"amenity": "cafe", "name": "Zoë"}),
        _node_row(20481, 1, _ts(5, 31), lon=0.0000001, lat=-0.0000001),
        _way_row(2049, 2, _ts(5, 32), nds=[2048, 20481], tags={"highway": "path"}),
        _rel_row(2**53 + 1, 1, _ts(5, 33), members=[("way", 2049, "outer"), ("node", 2048, "")],
                 tags={"type": "multipolygon"}),
        _tombstone(20480, "way", 4, _ts(5, 34)),
    ]
    batch_df = spark.createDataFrame(batch_rows, OSM_SCHEMA)
    keys = [pair_to_long_py(r[1], r[2]) for r in batch_rows]

    def reads(state):
        return (sorted(str(r) for r in state.read(spark).collect()),
                sorted(str(r) for r in state.fetch_keys(spark, keys).collect()))

    out = {}
    for route in ("spark", "driver"):
        state = StateTable(str(tmp_path / route))
        if route == "spark":
            state.init(fixtures.base_state_df(spark).unionByName(batch_df))
        else:
            state.init(fixtures.base_state_df(spark))
            state.append_batch(batch_df.toArrow(), seq=1, spark=spark)
        before = reads(state)
        state.table.compact(spark, transform=state._cluster, writer_conf=clustered_writer,
                            schema=OSM_SCHEMA)
        out[route] = (before, reads(state))
    assert len(out["driver"][0][1]) == len(batch_rows)
    assert out["driver"] == out["spark"]


def test_cell_equi_join_broadcasts_covers(spark):
    layer = build_polygon_layer(spark, fixtures.base_state_df(spark), max_res=14)
    images = fixtures.image_df(spark, 500).select("image_id", "lon", "lat")
    joined = cell_equi_join(images, layer, res=12)
    plan = plan_of(joined)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_pip_broadcast_path_has_no_shuffle(spark):
    layer = build_polygon_layer(spark, fixtures.base_state_df(spark), max_res=14)
    images = fixtures.image_df(spark, 500).select("image_id", "lon", "lat")
    joined = pip_join_broadcast(images, layer)
    plan = plan_of(joined)
    # fact side: scan → native semi-join prefilter → mapInArrow.  The
    # only shuffles allowed belong to the LAYER side (the cover-cell
    # distinct feeding the broadcast): every hash exchange must
    # partition on the cover 'cell' key, never on fact columns
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([a-zA-Z_]+)#", plan):
        assert m.group(1) == "cell", plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "MapInArrow" in plan or "mapInArrow" in plan.lower()

    # with the prefilter off the fact side has ZERO exchanges of any kind
    plain = plan_of(pip_join_broadcast(images, layer, prefilter_res=None))
    assert "Exchange" not in plain, plain


def test_pip_broadcast_guard_routes_oversized_layer(spark):
    """A layer above the broadcast budget must never be collected to the
    driver: pip_join_broadcast routes to the cell equi-join strategy
    (shuffle-refine variant — geometries travel executor-to-executor on
    feature_id, never through the driver) and the result is unchanged."""
    import pyspark.sql as pssql

    layer = build_polygon_layer(spark, fixtures.base_state_df(spark), max_res=14)
    images = fixtures.image_df(spark, 500).select("image_id", "lon", "lat")
    # estimate_layer_bytes memoizes via .first(); prime it so the
    # collect-trap below only sees plan construction
    from augdiff_pipeline_spark.operators import spatial_join as sj

    sj.estimate_layer_bytes(layer)
    orig_collect = pssql.DataFrame.collect

    def trapped(self):
        raise AssertionError("oversized path collected a DataFrame to the driver")

    pssql.DataFrame.collect = trapped
    try:
        routed = pip_join_broadcast(images, layer, max_broadcast_bytes=1)
    finally:
        pssql.DataFrame.collect = orig_collect
    plan = plan_of(routed)
    assert "Union" in plan  # full-cell fast path ∪ boundary refine
    assert "geom_wkb" in plan  # geometries join candidates, not the driver
    want = {(r["image_id"], r["feature_id"]) for r in pip_join_broadcast(images, layer).collect()}
    got = {(r["image_id"], r["feature_id"]) for r in routed.collect()}
    assert got == want


def test_tile_exprs_are_codegen(spark, tmp_path):
    from augdiff_pipeline_spark.operators.tiling import assign_tiles

    # materialize through parquet so Catalyst can't constant-fold the
    # whole plan into a LocalTableScan
    p = str(tmp_path / "img")
    fixtures.image_df(spark, 100).select("image_id", "lon", "lat").write.parquet(p)
    images = spark.read.parquet(p)
    assigned = assign_tiles(images, z=14)
    plan = plan_of(assigned.select("x", "y", "tile_key", "salt"))
    # no python evals anywhere: tiles/salts are pure Column expressions
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # '*(n)' prefixes mark whole-stage-codegen spans in the short plan form
    assert "*(" in plan


def test_state_compaction_bounds_dirs_and_preserves_reads(spark, tmp_path):
    """K appended batches leave a bounded number of data dirs (compact
    every SAVE_INTERVAL, reference saveInterval parity) and reads are
    unchanged across compaction; expired snapshots release their dirs."""
    import os

    from augdiff_pipeline_spark.sources.state import StateTable

    state = StateTable(str(tmp_path / "state"), save_interval=3, keep_snapshots=4)
    state.init(fixtures.base_state_df(spark))
    base_rows = state.read(spark).count()
    total = base_rows
    for seq in range(1, 10):
        batch = fixtures.base_state_df(spark).limit(5).withColumn(
            "id", F.col("id") + F.lit(100000 * seq)
        )
        state.append_batch(batch.toArrow(), seq=seq, spark=spark)
        total += 5
        assert state.read(spark).count() == total, f"rows drifted at seq {seq}"
    cur = state.table.current()
    assert len(cur.data_dirs) <= 3 + 1, cur.data_dirs
    ops = [s.operation for s in state.table.snapshots()]
    assert "compact" in ops
    # manifest is bounded and no dead dirs linger beyond kept snapshots
    assert len(state.table.snapshots()) <= 4 + 3  # keep_snapshots + save_interval
    live = {d for s in state.table.snapshots() for d in s.data_dirs}
    on_disk = {
        os.path.join(str(tmp_path / "state"), n)
        for n in os.listdir(str(tmp_path / "state"))
        if n.startswith("data-")
    }
    assert on_disk == live, (on_disk - live, live - on_disk)
    # point lookup still prunes: partition dirs + id pushdown
    keys = spark.createDataFrame([(4005,), (8003,)], "k long")
    fetched = state.fetch_pairs(spark, keys)
    plan = fetched._jdf.queryExecution().toString()
    assert "PushedFilters" in plan and "In(id" in plan.replace(" ", "").replace("[", "(")
    assert {r["id"] for r in fetched.collect()} <= {4005 >> 2, 8003 >> 2}


def test_rollback_skips_uncommitted_compaction(spark, tmp_path):
    """Crash AFTER an append that triggered compaction but BEFORE the
    lineage commit marker: the compact snapshot carries the uncommitted
    seq's tag, so resume must roll back past it — an untagged compact
    snapshot would freeze the uncommitted rows into the rollback target
    and the rerun would double-append them (every save_interval'th batch
    is exposed; caught by the round-4 soak work)."""
    from augdiff_pipeline_spark.plans.runner import _rollback_uncommitted
    from augdiff_pipeline_spark.sources.state import StateTable

    state = StateTable(str(tmp_path / "state"), save_interval=3, keep_snapshots=6)
    state.init(fixtures.base_state_df(spark))
    base_rows = state.read(spark).count()

    def batch(seq):
        return fixtures.base_state_df(spark).limit(4).withColumn(
            "id", F.col("id") + F.lit(100000 * seq)
        )

    # seqs 1-2 commit; seq 3's append triggers compaction (4 dirs > 3)
    # and then the "crash" happens before seq 3's commit marker
    for seq in (1, 2, 3):
        state.append_batch(batch(seq).toArrow(), seq=seq, spark=spark)
    assert state.table.current().operation == "compact"
    assert state.table.current().summary.get("seq") == 3  # tag present

    _rollback_uncommitted(state.table, committed={1, 2})
    # rolled back past BOTH the compact and the seq-3 append
    assert state.read(spark).count() == base_rows + 2 * 4
    # rerun of seq 3 lands exactly once
    state.append_batch(batch(3).toArrow(), seq=3, spark=spark)
    sdf = state.read(spark)
    assert sdf.count() == base_rows + 3 * 4
    assert sdf.select("id", "type", "version").distinct().count() == sdf.count()


def test_rollback_raises_when_no_committed_target_survives(spark, tmp_path):
    """If every retained snapshot is tagged with an uncommitted seq
    (possible only via a hand-built manifest — the constructors reject
    keep_snapshots <= save_interval), resume must FAIL, not silently
    skip the rollback and let the rerun double-append."""
    import pytest

    from augdiff_pipeline_spark.plans.runner import _rollback_uncommitted
    from augdiff_pipeline_spark.sources.catalog import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    df = fixtures.base_state_df(spark).limit(3)
    t.append(df, summary={"seq": 7})
    t.append(df, summary={"seq": 8})
    with pytest.raises(RuntimeError, match="no committed rollback target"):
        _rollback_uncommitted(t, committed=set())


def test_cadence_validation_rejects_short_expiry(tmp_path):
    """keep_snapshots <= save_interval could expire every committed
    rollback target mid-batch — both constructors refuse it."""
    import pytest

    from augdiff_pipeline_spark.plans.lineage import LineageLog
    from augdiff_pipeline_spark.sources.state import StateTable

    with pytest.raises(ValueError, match="must exceed"):
        StateTable(str(tmp_path / "s"), save_interval=5, keep_snapshots=5)
    with pytest.raises(ValueError, match="must exceed"):
        LineageLog(str(tmp_path / "l"), save_interval=4, keep_snapshots=2)


def test_lineage_restart_reads_manifest_not_table(spark, tmp_path, monkeypatch):
    """After the first compaction, a fresh LineageLog on the same path
    must reconstruct the committed-seq set from the manifest alone
    (compaction summary ranges + later commit-append summaries) —
    restart-time lineage cost is O(manifest), not a table scan (round-6:
    the committed set grows ~0.5M seqs/year at minutely cadence)."""
    from augdiff_pipeline_spark.plans.lineage import LineageLog
    from augdiff_pipeline_spark.sources.catalog import SnapshotTable

    log = LineageLog(str(tmp_path / "log"), save_interval=3, keep_snapshots=6)
    for seq in range(1, 8):  # crosses two compaction points
        log.record_stage(spark, seq, "diff", None)
        log.commit_seq(spark, seq, {"state": None, "index": None})
    assert any(
        "committed_ranges" in s.summary for s in log.lineage.snapshots()
    ), "compaction summary must carry the committed ranges"

    fresh = LineageLog(str(tmp_path / "log"), save_interval=3, keep_snapshots=6)

    def no_read(self, *a, **kw):
        raise AssertionError("restart read the lineage TABLE; manifest expected")

    monkeypatch.setattr(SnapshotTable, "read", no_read)
    assert fresh.committed_seqs(spark) == list(range(1, 8))
    monkeypatch.undo()
    # and the resumed log keeps committing correctly
    fresh.record_stage(spark, 8, "diff", None)
    fresh.commit_seq(spark, 8, {"state": None, "index": None})
    assert fresh.last_committed(spark) == 8
