"""Dependency-closure index: batch build + incremental maintenance.

Semantics (locked by fixture tests, no code copied):
- Edge extraction mirrors /root/reference/common/src/main/scala/ComputeIndexLocal.scala:20-47:
  node rows contribute a self-edge (a=b=packed node); way rows one edge
  per nd (a=packed node, b=packed way); relation rows one edge per member
  (a=packed member, b=packed relation).  ``a`` is the referenced entity,
  ``b`` its (transitive, after closure) container.
- The stored index is the transitive closure of the containment relation
  minus self-loops (ComputeIndex.scala:86-89 / ComputeIndexLocal.scala:81-88).
- Incremental update (ComputeIndexLocal.scala:49-89 + the 2-hop Postgres
  fetch PostgresBackend.scala:60-83), always on the driver as in the
  reference: restrict to the components touched by a change batch via
  two chained key probes of the index from the driver-held batch
  (IN-lists, or broadcast semi-joins over ``packing.keyed``'s key
  bound), close over the union in Python, and emit the edges not
  already stored.

Spark-first realization of the batch build: the reference's GraphX
Pregel (Indexer.scala:14-60, ``maxIter = Int.MaxValue``) becomes a
closure by OSM type with no loop.  Ways hold only nodes, so every
containment path is x -> way -> relation* or x -> relation -> relation*:
with W the edges into ways, M the edges into relations and RR+ the
closure of M's relation -> relation edges, the closure is
W ∪ C ∪ W∘C with C = M ∪ M∘RR+, two joins at any nesting depth.  RR+ is
closed on the driver with ``_close_edges_py`` (the shape of the
reference's driver-side ComputeIndexLocal.scala:49-89); every other
edge stays in Spark.  Its two callers are the index build and
``downset_partitions`` (whose one caller is the polygon layer); the
incremental update never runs it.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.packing import keyed, pair_to_long, pair_to_long_py
from ..schemas import TYPE_CODES


def edges_from_rows(rows: DataFrame) -> DataFrame:
    """DataFrame[a: long, b: long] containment edges from entity rows:
    ``edges_from_rows_py``'s edges without the node self-edges, which
    ``transitive_closure`` would drop."""
    b_col = pair_to_long(F.col("id"), F.col("type"))

    way_edges = (
        rows.filter(F.col("type") == "way")
        .select(F.explode("nds").alias("nd"), b_col.alias("b"))
        .select(pair_to_long(F.col("nd.ref"), F.lit("node")).alias("a"), "b")
    )
    rel_edges = (
        rows.filter(F.col("type") == "relation")
        .select(F.explode("members").alias("m"), b_col.alias("b"))
        .select(pair_to_long(F.col("m.ref"), F.col("m.type")).alias("a"), "b")
    )
    return way_edges.unionByName(rel_edges)


def edges_from_rows_py(rows: list[dict], include_node_self_edges: bool = True) -> list[tuple[int, int]]:
    """Driver-side twin of ``edges_from_rows`` over row dicts (an Arrow
    table's ``to_pylist``): the same (a, b) edges, duplicates kept, and
    with ``include_node_self_edges`` one (b, b) per node row, which
    ``incremental_closure``'s touched set reads."""
    edges = []
    for r in rows:
        b = pair_to_long_py(r["id"], r["type"])
        if r["type"] == "way":
            edges.extend((pair_to_long_py(nd["ref"], "node"), b) for nd in r["nds"] or ())
        elif r["type"] == "relation":
            edges.extend((pair_to_long_py(m["ref"], m["type"]), b) for m in r["members"] or ())
        elif r["type"] == "node" and include_node_self_edges:
            edges.append((b, b))
    return edges


def transitive_closure(edges: DataFrame) -> DataFrame:
    """Closure of (a,b) containment edges, self-loops removed, by OSM
    type (module docstring): W ∪ C ∪ W∘C with C = M ∪ M∘RR+, where
    ``ways`` is W, ``rels`` M and ``contained`` C.

    The one set held on the driver is M's relation -> relation edges
    and their closure RR+, which this design relies on fitting there:
    one Arrow collect, ``_close_edges_py``, and RR+ back as a broadcast
    local relation.  Edges into nodes are dropped: only a node's
    self-edge has one.  The distinct edges are checkpointed once, for
    the collect and the two joins to scan."""
    cur = edges.select("a", "b").distinct().localCheckpoint(eager=True)
    into = F.col("b").bitwiseAND(3)
    ways = cur.filter(into == TYPE_CODES["way"])
    rels = cur.filter(into == TYPE_CODES["relation"])
    rr = rels.filter(F.col("a").bitwiseAND(3) == TYPE_CODES["relation"]).toArrow()
    rr_plus = _close_edges_py(set(zip(rr["a"].to_pylist(), rr["b"].to_pylist())))
    rr_plus_df = cur.sparkSession.createDataFrame(pa.table({
        "a": pa.array([a for a, _ in rr_plus], pa.int64()),
        "b": pa.array([b for _, b in rr_plus], pa.int64()),
    }))
    contained = rels.unionByName(_compose(rels, F.broadcast(rr_plus_df)))
    # a fixed sort-merge join: left to AQE, it becomes a broadcast join
    # or not by which side's shuffle finishes first, and the job count
    # varies from run to run
    closed = ways.unionByName(contained).unionByName(_compose(ways, contained.hint("merge")))
    return closed.distinct().filter(F.col("a") != F.col("b"))


def _compose(left: DataFrame, right: DataFrame) -> DataFrame:
    """(a,b) ∧ (b,c) → (a,c) over two edge frames."""
    return (
        left.alias("l")
        .join(right.alias("r"), F.col("l.b") == F.col("r.a"))
        .select(F.col("l.a").alias("a"), F.col("r.b").alias("b"))
    )


def downset_partitions(rows: DataFrame) -> DataFrame:
    """``rows`` hashed into defaultParallelism partitions of complete
    root downsets: every row lands in the partition of each root above
    it, so a partition holds every transitive member of each entity in
    it (a row under two roots may arrive twice).  The polygon layer
    renders each partition on an executor.

    Containment edges come from the rows themselves, every version
    included: a relation's older member may be present through another
    container alone.  A root is a key none of whose containers lacks the
    reverse edge, so every member of a containment cycle is a root."""
    rows = rows.withColumn("_k", pair_to_long(F.col("id"), F.col("type"))).localCheckpoint(eager=True)
    closed = transitive_closure(edges_from_rows(rows))
    reverse = closed.select(F.col("b").alias("a"), F.col("a").alias("b"))
    contained = closed.join(reverse, ["a", "b"], "left_anti").select(F.col("a").alias("_k"))
    roots = rows.select("_k").distinct().join(contained, "_k", "left_anti")
    root_of = closed.join(roots.withColumnRenamed("_k", "b"), "b").select(
        F.col("a").alias("_k"), F.col("b").alias("_g")
    ).unionByName(roots.select("_k", F.col("_k").alias("_g")))
    # an explicit partition count: AQE would coalesce this small
    # shuffle into one task
    return (
        rows.join(root_of, "_k")
        .repartition(rows.sparkSession.sparkContext.defaultParallelism, "_g")
        .drop("_k", "_g")
    )


def _close_edges_py(edges: set[tuple[int, int]]) -> set[tuple[int, int]]:
    """Transitive closure of an edge set, driver-side.

    Iterative successor-set propagation (semi-naive: a node's closure is
    the union of its successors' closures), looping until fixpoint.
    ``incremental_closure`` closes every batch with it and
    ``transitive_closure`` its relation -> relation edges.
    """
    succ: dict[int, set[int]] = {}
    for a, b in edges:
        succ.setdefault(a, set()).add(b)
    changed = True
    while changed:
        changed = False
        for a, deps in succ.items():
            add = set()
            for b in deps:
                if b in succ:
                    add |= succ[b] - deps
            if add:
                deps |= add
                changed = True
    return {(a, b) for a, deps in succ.items() for b in deps}


def incremental_closure(index: DataFrame, rows) -> tuple:
    """(None, None, fetch_keys, new_edge_rows) for one change batch
    ``rows``, the whole batch as a driver-held Arrow table (run_batch
    collects it once).

    The reference's driver-side update (ComputeIndexLocal.scala:49-89)
    at any batch size: the batch's row edges in Python, the 2-hop index
    fetch (PostgresBackend.scala:60-83) as two key probes
    (``packing.keyed``: IN-lists, broadcast semi-joins over its key
    bound), each one Arrow collect: ``a IN touched`` gives the
    containers of the changed entities, ``b IN containers`` every index
    edge of their components (``existing``).  ``_close_edges_py`` closes
    their union.

    ``new_edge_rows`` is the sorted list of closed edges not already
    stored, self-loops dropped, for the caller's index append;
    ``fetch_keys`` the sorted packed keys whose state rows render the
    batch (AugmentedDiff.scala:60-83: the batch's own keys and both
    endpoints of every closed edge), which the caller fetches with no
    probe job.  The first two slots are always None: the tuple keeps
    its shape because perfbench's closure note reads ``out[3]``.
    """
    # the edges and keys read four columns; converting the others too
    # (tags, coordinates, timestamps) took 5x as long on a 250k-row batch
    batch = rows.select(["id", "type", "nds", "members"]).to_pylist()
    row_edges = set(edges_from_rows_py(batch))
    touched = {b for _, b in row_edges}
    containers: set[int] = set()
    if touched:
        # the raw b column, deduped here: a distinct would cost a shuffle
        containers = set(keyed(index, "a", touched).select("b").toArrow()["b"].to_pylist())
    existing: set[tuple[int, int]] = set()
    if containers:
        tbl = keyed(index, "b", containers).select("a", "b").toArrow()
        existing = set(zip(tbl["a"].to_pylist(), tbl["b"].to_pylist()))
    edges = row_edges | existing
    new_edges = sorted({(a, b) for a, b in _close_edges_py(edges) if a != b} - existing)
    # closing adds no vertex: the closed edges' endpoints are the
    # endpoints of the edges they close
    keys = {pair_to_long_py(r["id"], r["type"]) for r in batch}
    keys.update(k for edge in edges for k in edge)
    return None, None, sorted(keys), new_edges
