"""Tombstone-delete emission locked against a REFERENCE-DERIVED golden.

The golden file (tests/data/tombstone_delete_golden.jsonl) was produced
by hand-executing the reference's emission semantics on a minimal
delete fixture — not by running this engine:

- ChangeAugmenter.scala:28-51: a delete becomes a "lesser row" — empty
  tags/nds/members, null changeset/uid/user, visible=false.
- RowsToJson.scala:127-133: wayCompletePredicate — a way row is complete
  iff ALL its nds are present in the node histories.  An isolated way
  delete contributes no edges (ComputeIndexLocal.scala:20-47 walks nds,
  which are empty), so its member nodes are never fetched; the BEFORE
  row (real nds) is incomplete → beforeWindow=None.
- RowsToJson.scala:222-244: relBeforePredicate — every way member must
  have beforeWindow; the deleted member way's is None → beforeWindow=None.
- RowsToJson.scala:374-380: RowHistory(Some(inWindow), None) is the
  CREATE branch — emits only if visible.  Tombstones are invisible →
  way/relation deletes emit NOTHING.
- RowsToJson.scala:355-368: nodes are always complete
  (RowsToJson.scala:112), so a node delete is RowHistory(Some, Some)
  with visibleNow=false → exactly ONE feature: geometry AND metadata
  from the BEFORE row (v1 changeset/uid/user/version/timestamp), with
  visible forced false.
"""

import glob
import json
import os

import pytest

from augdiff_pipeline_spark import fixtures
from augdiff_pipeline_spark.fixtures import _node_row, _rel_row, _tombstone, _way_row, _ts
from augdiff_pipeline_spark.operators.closure import edges_from_rows, transitive_closure
from augdiff_pipeline_spark.plans.augdiff import run_batch
from augdiff_pipeline_spark.plans.lineage import LineageLog
from augdiff_pipeline_spark.schemas import OSM_SCHEMA
from augdiff_pipeline_spark.sources.catalog import SnapshotTable
from augdiff_pipeline_spark.sources.state import StateTable

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "tombstone_delete_golden.jsonl")


BASE_ROWS = [
    _node_row(9001, 1, _ts(0), lon=20.0, lat=60.0),
    _node_row(9002, 1, _ts(0), lon=20.5, lat=60.0),
    _node_row(9003, 1, _ts(0), lon=20.5, lat=60.5),
    _node_row(9004, 1, _ts(0), lon=21.0, lat=61.0),
    _way_row(9100, 1, _ts(0), nds=[9001, 9002, 9003], tags={"highway": "service"}),
    _rel_row(9200, 1, _ts(0), members=[("way", 9100, "")], tags={"type": "multilinestring"}),
]
BATCH_ROWS = [
    _tombstone(9004, "node", 2, _ts(1)),
    _tombstone(9100, "way", 2, _ts(1)),
    _tombstone(9200, "relation", 2, _ts(1)),
]


def test_tombstone_deletes_match_reference_golden(spark, tmp_path):
    base_rows, batch = BASE_ROWS, BATCH_ROWS
    root = str(tmp_path)
    state = StateTable(root + "/state")
    index = SnapshotTable(root + "/index")
    log = LineageLog(root + "/log")
    base_df = spark.createDataFrame(base_rows, OSM_SCHEMA)
    state.init(base_df)
    index.overwrite(transitive_closure(edges_from_rows(base_df)))
    run_batch(spark, state, index, log, spark.createDataFrame(batch, OSM_SCHEMA), 0, root + "/out")

    lines = []
    for f in glob.glob(os.path.join(root, "out", "seq=000000000", "part-*")):
        lines += [l for l in open(f).read().splitlines() if l]
    got = sorted(json.dumps(json.loads(l), sort_keys=True) for l in lines)
    want = sorted(
        json.dumps(json.loads(l), sort_keys=True)
        for l in open(GOLDEN).read().splitlines()
        if l
    )
    assert got == want
