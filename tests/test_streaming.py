"""Structured Streaming: file-source augdiff drive (idempotent restart)
and watermarked windowed aggregation."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from augdiff_pipeline_spark import fixtures
from augdiff_pipeline_spark.operators.closure import edges_from_rows, transitive_closure
from augdiff_pipeline_spark.plans.lineage import LineageLog
from augdiff_pipeline_spark.sources.catalog import SnapshotTable
from augdiff_pipeline_spark.sources.state import StateTable
from augdiff_pipeline_spark.streaming.stream import (
    sessionized_event_counts,
    stream_augdiff,
    windowed_event_counts,
    write_change_file,
)

import oracle_augdiff as oracle


def read_features(out_dir, seq):
    lines = []
    for f in glob.glob(os.path.join(out_dir, f"seq={seq:09d}", "part-*")):
        with open(f) as fh:
            lines.extend(l for l in fh.read().splitlines() if l)
    return sorted(
        json.dumps(json.loads(l), sort_keys=True) for l in lines
    )


def test_streaming_augdiff_first_batches(spark, tmp_path):
    root = str(tmp_path)
    changes_dir, ckpt = root + "/changes", root + "/ckpt"
    state = StateTable(root + "/state")
    index = SnapshotTable(root + "/index")
    log = LineageLog(root + "/log")
    out_dir = root + "/out"

    base_df = fixtures.base_state_df(spark)
    state.init(base_df)
    index.overwrite(transitive_closure(edges_from_rows(base_df)))

    batches = fixtures.change_batch_rows()
    for seq in (0, 1, 2):
        write_change_file(spark, fixtures.change_batch_df(spark, seq), seq, changes_dir)

    q = stream_augdiff(spark, changes_dir, ckpt, state, index, log, out_dir)
    q.awaitTermination(300)
    assert log.committed_seqs(spark) == [0, 1, 2]

    # more files land; restart of the stream picks up only the new ones
    for seq in (3, 4):
        write_change_file(spark, fixtures.change_batch_df(spark, seq), seq, changes_dir)
    q2 = stream_augdiff(spark, changes_dir, ckpt, state, index, log, out_dir)
    q2.awaitTermination(300)
    assert log.committed_seqs(spark) == [0, 1, 2, 3, 4]

    expected, _ = oracle.run_sequence(fixtures.base_state_rows(), {s: batches[s] for s in range(5)})
    for seq in range(5):
        got = read_features(out_dir, seq)
        want = sorted(json.dumps(f, sort_keys=True) for f in expected[seq])
        assert got == want, f"seq {seq}"


def test_streaming_rolls_back_partial_commit(spark, tmp_path):
    """Crash between state.append_batch and the lineage COMMIT marker,
    then stream restart: the orphan snapshot must be rolled back before
    the seq reruns, or state rows double-append (round-1 ADVICE item)."""
    root = str(tmp_path)
    changes_dir, ckpt = root + "/changes", root + "/ckpt"
    state = StateTable(root + "/state")
    index = SnapshotTable(root + "/index")
    log = LineageLog(root + "/log")
    out_dir = root + "/out"

    base_df = fixtures.base_state_df(spark)
    state.init(base_df)
    index.overwrite(transitive_closure(edges_from_rows(base_df)))

    batches = fixtures.change_batch_rows()
    for seq in (0, 1):
        write_change_file(spark, fixtures.change_batch_df(spark, seq), seq, changes_dir)
    # simulate the crash: seq 1's state append landed, no commit marker
    state.append_batch(fixtures.change_batch_df(spark, 1).toArrow(), 1, spark)

    q = stream_augdiff(spark, changes_dir, ckpt, state, index, log, out_dir)
    q.awaitTermination(300)
    assert log.committed_seqs(spark) == [0, 1]

    sdf = state.read(spark)
    total = sdf.count()
    expected_total = len(fixtures.base_state_rows()) + len(batches[0]) + len(batches[1])
    assert total == expected_total  # no duplicated seq-1 rows
    assert sdf.select("id", "type", "version").distinct().count() == total

    expected, _ = oracle.run_sequence(fixtures.base_state_rows(), {0: batches[0], 1: batches[1]})
    for seq in (0, 1):
        got = read_features(out_dir, seq)
        want = sorted(json.dumps(f, sort_keys=True) for f in expected[seq])
        assert got == want, f"seq {seq}"


def test_streaming_soak_long_horizon(spark, tmp_path):
    """50+ minutely micro-batches (the reference's actual operating mode,
    AugmentedDiff.scala:206-233) at the reference's 1-file-per-batch
    granularity, with compaction + expiry live on every table.  Asserts
    the steady-state invariants AND the full golden-oracle match at the
    end — bounded metadata must never cost correctness:

    - state table: <= save_interval+1 data dirs, <= keep+interval
      manifest entries (S4 invariant), ditto index/lineage/metrics;
    - every seq committed exactly once;
    - every seq's emitted features equal the independent pure-Python
      oracle's, including seqs whose state was compacted + expired away.
    """
    root = str(tmp_path)
    changes_dir, ckpt = root + "/changes", root + "/ckpt"
    # tight knobs so compaction + expiry churn constantly over the soak
    state = StateTable(root + "/state", save_interval=5, keep_snapshots=8)
    index = SnapshotTable(root + "/index")
    log = LineageLog(root + "/log")
    out_dir = root + "/out"

    base_df = fixtures.base_state_df(spark)
    state.init(base_df)
    index.overwrite(transitive_closure(edges_from_rows(base_df)))

    batches = dict(fixtures.change_batch_rows())
    batches.update(fixtures.soak_batch_rows(41))  # 9 + 41 = 50 seqs
    for seq in sorted(batches):
        write_change_file(
            spark, fixtures.soak_batch_df(spark, batches[seq]), seq, changes_dir
        )

    q = stream_augdiff(spark, changes_dir, ckpt, state, index, log, out_dir,
                       max_files_per_trigger=1)
    q.awaitTermination(1800)
    assert log.committed_seqs(spark) == sorted(batches)

    # steady-state metadata bounds (S4 invariant + its index/lineage twins)
    from augdiff_pipeline_spark.sources.state import KEEP_SNAPSHOTS, SAVE_INTERVAL

    for tbl, si, keep in [
        (state.table, state.save_interval, state.keep_snapshots),
        (index, SAVE_INTERVAL, KEEP_SNAPSHOTS),
        (log.lineage, SAVE_INTERVAL, KEEP_SNAPSHOTS),
        (log.metrics, SAVE_INTERVAL, KEEP_SNAPSHOTS),
    ]:
        cur = tbl.current()
        assert len(cur.data_dirs) <= si + 1, tbl.path
        assert len(tbl.snapshots()) <= keep + si, tbl.path
        # expiry actually reclaimed disk: on-disk data dirs match the
        # manifest's references (no orphan accumulation)
        on_disk = {d for d in glob.glob(os.path.join(tbl.path, "data-*"))}
        referenced = {tbl.data_path(d) for s in tbl.snapshots() for d in s.data_dirs}
        assert on_disk == referenced, tbl.path

    # the compacted state still answers correctly: final row count equals
    # the full history's
    expected_rows = len(fixtures.base_state_rows()) + sum(
        len(b) for b in batches.values()
    )
    assert state.read(spark).count() == expected_rows

    # full golden match, every seq
    expected, _ = oracle.run_sequence(fixtures.base_state_rows(), batches)
    for seq in sorted(batches):
        got = read_features(out_dir, seq)
        want = sorted(json.dumps(f, sort_keys=True) for f in expected[seq])
        assert got == want, f"seq {seq}"


def test_windowed_event_counts(spark, tmp_path):
    src_dir = str(tmp_path / "events")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(ev.schema).parquet(src_dir)
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("wincounts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from wincounts").toPandas()
    # cross-check against the batch equivalent
    want = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    g = got.groupby(["window_start", "event_type"])["n"].sum().to_dict()
    w = want.set_index(["window_start", "event_type"])["n"].to_dict()
    gk = {(k[0].tz_localize(None) if hasattr(k[0], "tz_localize") and k[0].tzinfo else k[0], k[1]): v for k, v in g.items()}
    wk = {(k[0].tz_localize(None) if hasattr(k[0], "tz_localize") and k[0].tzinfo else k[0], k[1]): v for k, v in w.items()}
    assert gk == wk


def test_streaming_sessions_match_batch_sessionize(spark, tmp_path):
    """Closed streaming sessions must equal the batch sessionize output
    (same native session_window operator on both paths)."""
    from augdiff_pipeline_spark.operators.temporal import sessionize

    src_dir = str(tmp_path / "events")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(ev.schema).parquet(src_dir)
    q = (
        sessionized_event_counts(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sessions")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("select * from sessions").collect()
    }
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize(
            ev.withColumn("ts", F.col("ts").cast("timestamp")), "user_id", "ts", "30 minutes"
        ).collect()
    }
    assert got == want and len(want) > 100


def test_streaming_dedup_drops_redelivered_events(spark, tmp_path):
    """Exact-dedup stream: re-delivered event ids within the watermark
    pass through exactly once."""
    import datetime as dt

    import pandas as pd

    from augdiff_pipeline_spark.streaming.stream import deduplicated_event_stream

    src = str(tmp_path / "ev_src")
    out = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ckpt")
    t0 = dt.datetime(2024, 5, 1, 9, 0, 0)
    rows = pd.DataFrame(
        {
            "event_id": [1, 2, 2, 3, 1, 4],
            "user_id": [7, 7, 7, 8, 7, 8],
            "ts": [t0, t0, t0, t0 + dt.timedelta(minutes=1), t0, t0 + dt.timedelta(minutes=2)],
        }
    )
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("event_id long, user_id long, ts timestamp").parquet(src)
    deduped = deduplicated_event_stream(stream, ["event_id"])
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 4  # 1,2,3,4 each exactly once
    assert {r["event_id"] for r in got.select("event_id").collect()} == {1, 2, 3, 4}
