"""Row histories: per-entity (latest-in-window, latest-before-window).

Re-expresses the reference's driver-side getRowHistories + the
type-specific complete/window/before predicates
(/root/reference/ad/src/main/scala/RowsToJson.scala:53-244) as DataFrame
window functions, exploded-join aggregates, and a bounded fixpoint loop:

- top-1-per-group by event time  → row_number() over (partition by id
  order by timestamp desc) == 1 (A2);
- "in the update window" = the row came from the current batch (T5);
  modeled as an ``in_batch`` provenance flag OR-merged on dedup so a row
  appearing in both the batch and storage still counts as in-window
  (SURVEY.md §7 watch-list #3);
- way completeness/window/before quantifiers over nds (RowsToJson:127-161)
  → explode + bool_and/bool_or aggregates (A6);
- relation predicates recurse through member relations' *latest* rows
  (RowsToJson:196-244) → a bounded DataFrame fixpoint: the window flag is
  a least fixpoint (start false, grow), the before flag a greatest
  fixpoint (start true, shrink); cycles — which would not terminate in
  the reference — converge to (false, true) after MAX_REL_DEPTH rounds.

Every structure here is keyed by entity id within one type; rows carry a
``row`` struct of the full entity-version payload so downstream geometry
assembly gets the exact winning version.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import OSM_COLUMNS

MAX_REL_DEPTH = 8

def _row_struct():
    # built lazily — Column construction needs an active SparkContext
    return F.struct(*[F.col(c) for c in OSM_COLUMNS]).alias("row")


def dedup_batch_union(rows: DataFrame) -> DataFrame:
    """Union of batch + fetched state rows (col ``in_batch``) deduped on
    (id, type, version), keeping the in-batch copy when both exist."""
    w = Window.partitionBy("id", "type", "version").orderBy(
        F.col("in_batch").desc(), F.col("timestamp").desc()
    )
    flag = F.max("in_batch").over(
        Window.partitionBy("id", "type", "version")
    )
    return (
        rows.withColumn("in_batch", flag)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _histories(df: DataFrame, win_flag: str, before_flag: str) -> DataFrame:
    """(id, in_row, before_row) from per-row boolean predicate columns
    (both already conjoined with completeness).

    One hash aggregation: ``max_by(row, struct(timestamp, version))``
    over the flagged rows per side (max_by ignores rows whose ordering
    expression is NULL, so the ``when`` masks select each side's rows;
    ids where neither flag holds still group and yield (id, null,
    null)).  Replaces the round-5 distinct + two windows + two joins —
    four exchanges and a join for what one partial-aggregated groupBy
    answers.  Equivalent because (timestamp, version) is unique per id
    within a deduped single-type frame, so the old row_number order and
    the struct max pick the same row."""
    order = F.struct(F.col("timestamp"), F.col("version"))
    return df.groupBy("id").agg(
        F.max_by(F.col("row"), F.when(F.col(win_flag), order)).alias("in_row"),
        F.max_by(F.col("row"), F.when(F.col(before_flag), order)).alias("before_row"),
    )


def node_histories(rows: DataFrame) -> DataFrame:
    """Nodes: complete ≡ true; window ≡ in_batch; before ≡ ¬in_batch."""
    nodes = rows.filter(F.col("type") == "node").select(
        "id", "timestamp", "version", "in_batch", _row_struct()
    )
    nodes = nodes.withColumn("w_ok", F.col("in_batch")).withColumn("b_ok", ~F.col("in_batch"))
    return _histories(nodes, "w_ok", "b_ok")


def way_histories(rows: DataFrame, node_hist: DataFrame) -> DataFrame:
    """Ways: quantifiers over nds via explode + bool aggregates."""
    ways = rows.filter(F.col("type") == "way").select(
        "id", "timestamp", "version", "in_batch", "nds", _row_struct()
    )
    node_flags = node_hist.select(
        F.col("id").alias("nid"),
        F.col("in_row").isNotNull().alias("n_in"),
        F.col("before_row").isNotNull().alias("n_before"),
    )
    nd = ways.select(
        "id", "version", F.explode_outer("nds").alias("nd")
    ).join(node_flags, F.col("nd.ref") == F.col("nid"), "left")
    agg = nd.groupBy("id", "version").agg(
        # empty nds (explode_outer null): known=true, any_in=false, all_before=true
        F.coalesce(F.bool_and(F.col("nid").isNotNull()), F.lit(True)).alias("nds_known"),
        F.coalesce(F.bool_or(F.coalesce(F.col("n_in"), F.lit(False))), F.lit(False)).alias("any_nd_in"),
        F.coalesce(F.bool_and(F.coalesce(F.col("n_before"), F.lit(False))), F.lit(True)).alias("all_nd_before"),
    )
    # explode_outer emits one null row for empty nds, making nds_known
    # false there — repaired by the size==0 branch below.
    ways2 = ways.join(agg, ["id", "version"], "left")
    size_zero = F.size(F.col("nds")) == 0
    complete = F.when(size_zero, F.lit(True)).otherwise(F.col("nds_known"))
    win = F.col("in_batch") | F.when(size_zero, F.lit(False)).otherwise(F.col("any_nd_in"))
    before = (~F.col("in_batch")) & F.when(size_zero, F.lit(True)).otherwise(F.col("all_nd_before"))
    ways2 = ways2.withColumn("w_ok", complete & win).withColumn("b_ok", complete & before)
    return _histories(ways2, "w_ok", "b_ok")


def relation_histories(
    rows: DataFrame, node_hist: DataFrame, way_hist: DataFrame,
    max_depth: int = MAX_REL_DEPTH,
) -> DataFrame:
    rels = rows.filter(F.col("type") == "relation").select(
        "id", "timestamp", "version", "in_batch", "members", _row_struct()
    )
    rel_ids = rels.select("id").distinct()
    node_ids = node_hist.select(F.col("id").alias("mid")).withColumn("mtype", F.lit("node"))
    way_ids = way_hist.select(F.col("id").alias("mid")).withColumn("mtype", F.lit("way"))
    relid_m = rel_ids.select(F.col("id").alias("mid")).withColumn("mtype", F.lit("relation"))
    known = node_ids.unionByName(way_ids).unionByName(relid_m)

    node_flags = node_hist.select(
        F.col("id").alias("mid"), F.lit("node").alias("mtype"),
        F.col("in_row").isNotNull().alias("m_in"),
        F.col("before_row").isNotNull().alias("m_before"),
    )
    way_flags = way_hist.select(
        F.col("id").alias("mid"), F.lit("way").alias("mtype"),
        F.col("in_row").isNotNull().alias("m_in"),
        F.col("before_row").isNotNull().alias("m_before"),
    )
    nw_flags = node_flags.unionByName(way_flags)

    # latest relation row per id (RowsToJson:174-178 _relations)
    wlat = Window.partitionBy("id").orderBy(F.col("timestamp").desc(), F.col("version").desc())
    latest = (
        rels.withColumn("_rn", F.row_number().over(wlat))
        .filter(F.col("_rn") == 1)
        .select("id", "in_batch", "members")
    )

    # member tables (exploded once, reused across fixpoint rounds)
    def _explode(df: DataFrame) -> DataFrame:
        return df.select("id", "in_batch", F.explode_outer("members").alias("m")).select(
            "id", "in_batch", F.col("m.type").alias("mtype"), F.col("m.ref").alias("mid")
        )

    lat_m = _explode(latest).localCheckpoint(eager=True)
    lat_nw = lat_m.join(nw_flags, ["mtype", "mid"], "left")
    base = lat_nw.groupBy("id").agg(
        F.first("in_batch").alias("in_batch"),
        F.coalesce(
            F.bool_or((F.col("mtype").isin("node", "way")) & F.coalesce(F.col("m_in"), F.lit(False))),
            F.lit(False),
        ).alias("any_nw_in"),
        F.coalesce(
            F.bool_and(
                F.when(F.col("mtype").isin("node", "way"), F.coalesce(F.col("m_before"), F.lit(False)))
            ),
            F.lit(True),
        ).alias("all_nw_before"),
    )
    # member-relation references restricted to relations that EXIST in
    # scope (_relations.get -> flatMap drops missing ones)
    rel_members = (
        lat_m.filter(F.col("mtype") == "relation")
        .join(rel_ids.select(F.col("id").alias("mid")), "mid", "left_semi")
        .select("id", "mid")
        .localCheckpoint(eager=True)
    )

    # fixpoint: rw least (grow from base), rb greatest (shrink from base)
    state = base.select(
        "id",
        (F.col("in_batch") | F.col("any_nw_in")).alias("rw"),
        ((~F.col("in_batch")) & F.col("all_nw_before")).alias("rb"),
    ).localCheckpoint(eager=True)
    if rel_members.isEmpty():
        max_depth = 0  # no relation-of-relation edges: base is the fixpoint
    for _ in range(max_depth):
        child = rel_members.join(
            state.select(F.col("id").alias("mid"), F.col("rw").alias("c_rw"), F.col("rb").alias("c_rb")),
            "mid",
            "left",
        ).groupBy("id").agg(
            F.coalesce(F.bool_or(F.coalesce(F.col("c_rw"), F.lit(False))), F.lit(False)).alias("any_child_rw"),
            F.coalesce(F.bool_and(F.coalesce(F.col("c_rb"), F.lit(False))), F.lit(True)).alias("all_child_rb"),
        )
        # the previous round's flags join INTO the checkpointed plan so
        # the convergence test is a scan of the checkpoint (zero-shuffle
        # job) instead of a separate join job per round
        nxt = (
            base.join(child, "id", "left")
            .join(state.select(F.col("id"), F.col("rw").alias("p_rw"), F.col("rb").alias("p_rb")), "id")
            .select(
                "id",
                (
                    F.col("in_batch") | F.col("any_nw_in")
                    | F.coalesce(F.col("any_child_rw"), F.lit(False))
                ).alias("rw"),
                (
                    (~F.col("in_batch")) & F.col("all_nw_before")
                    & F.coalesce(F.col("all_child_rb"), F.lit(True))
                ).alias("rb"),
                "p_rw",
                "p_rb",
            )
            .localCheckpoint(eager=True)
        )
        changed = nxt.filter(
            (F.col("rw") != F.col("p_rw")) | (F.col("rb") != F.col("p_rb"))
        ).count()
        state = nxt.select("id", "rw", "rb")
        if changed == 0:
            break
    rw_rb = state  # per relation id, from its LATEST row

    # per-ROW predicates (keyed by id+version: versions differ in members)
    row_m = rels.select(
        "id", "version", F.explode_outer("members").alias("m")
    ).select("id", "version", F.col("m.type").alias("mtype"), F.col("m.ref").alias("mid"))

    row_nw = row_m.join(nw_flags, ["mtype", "mid"], "left")
    # completeness: every member's id present in the id set of its type
    known_flag = known.withColumn("k", F.lit(True))
    row_complete = (
        row_m.join(known_flag, ["mtype", "mid"], "left")
        .groupBy("id", "version")
        .agg(
            F.coalesce(
                F.bool_and(F.when(F.col("mtype").isNotNull(), F.coalesce(F.col("k"), F.lit(False)))),
                F.lit(True),
            ).alias("complete")
        )
    )
    row_nwagg = row_nw.groupBy("id", "version").agg(
        F.coalesce(
            F.bool_or((F.col("mtype").isin("node", "way")) & F.coalesce(F.col("m_in"), F.lit(False))),
            F.lit(False),
        ).alias("any_nw_in"),
        F.coalesce(
            F.bool_and(
                F.when(F.col("mtype").isin("node", "way"), F.coalesce(F.col("m_before"), F.lit(False)))
            ),
            F.lit(True),
        ).alias("all_nw_before"),
    )
    row_rel = (
        row_m.filter(F.col("mtype") == "relation")
        .join(rel_ids.select(F.col("id").alias("mid")), "mid", "left_semi")
        .join(rw_rb.select(F.col("id").alias("mid"), "rw", "rb"), "mid", "left")
        .groupBy("id", "version")
        .agg(
            F.coalesce(F.bool_or(F.coalesce(F.col("rw"), F.lit(False))), F.lit(False)).alias("any_rel_rw"),
            F.coalesce(F.bool_and(F.coalesce(F.col("rb"), F.lit(False))), F.lit(True)).alias("all_rel_rb"),
        )
    )
    rels2 = (
        rels.join(row_complete, ["id", "version"], "left")
        .join(row_nwagg, ["id", "version"], "left")
        .join(row_rel, ["id", "version"], "left")
        .withColumn("complete", F.coalesce(F.col("complete"), F.lit(True)))
        .withColumn("any_nw_in", F.coalesce(F.col("any_nw_in"), F.lit(False)))
        .withColumn("all_nw_before", F.coalesce(F.col("all_nw_before"), F.lit(True)))
        .withColumn("any_rel_rw", F.coalesce(F.col("any_rel_rw"), F.lit(False)))
        .withColumn("all_rel_rb", F.coalesce(F.col("all_rel_rb"), F.lit(True)))
    )
    win = F.col("in_batch") | F.col("any_nw_in") | F.col("any_rel_rw")
    before = (~F.col("in_batch")) & F.col("all_nw_before") & F.col("all_rel_rb")
    rels2 = rels2.withColumn("w_ok", F.col("complete") & win).withColumn(
        "b_ok", F.col("complete") & before
    )
    return _histories(rels2, "w_ok", "b_ok")


def _empty_history(spark) -> DataFrame:
    from ..schemas import HISTORY_SCHEMA

    return spark.createDataFrame([], HISTORY_SCHEMA)


def all_histories(rows: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame, set]:
    """(node_hist, way_hist, rel_hist, present_types) from the deduped
    batch∪state rows.  ``present_types`` ⊆ {node, way, relation} lets the
    caller skip downstream per-type work (way/relation rendering) without
    re-probing the frames.

    Type-emptiness early-exit: one cheap distinct aggregate decides which
    builders run at all.  Each skipped builder skips several jobs (its own
    checkpoints, and for relations the member-table checkpoints +
    fixpoint machinery)."""
    spark = rows.sparkSession
    rows = rows.localCheckpoint(eager=True)
    present = {r["type"] for r in rows.select("type").distinct().collect()}
    nh = node_histories(rows).localCheckpoint(eager=True)
    if "way" in present:
        wh = way_histories(rows, nh).localCheckpoint(eager=True)
    else:
        wh = _empty_history(spark)
    if "relation" in present:
        rh = relation_histories(rows, nh, wh).localCheckpoint(eager=True)
    else:
        rh = _empty_history(spark)
    return nh, wh, rh, present


# ------------------------------------------------------------- driver route
# The small-batch twin of dedup_batch_union + all_histories over row
# dicts (OSM_COLUMNS + in_batch): the same rules as the DataFrame
# builders above, each entity's winners held as {id: (in_row, before_row)}.
def _ts_key(r) -> tuple:
    # Spark orders a null timestamp below every other (last in desc)
    ts = r["timestamp"]
    return (ts is not None, ts)


def _order(r) -> tuple:
    # max_by's struct(timestamp, version) order
    v = r["version"]
    return (*_ts_key(r), v is not None, v)


def _dedup_py(rows: list[dict]) -> list[dict]:
    """dedup_batch_union: one row per (id, type, version), the in-batch
    copy (then the latest) kept, ``in_batch`` OR-merged."""
    best: dict[tuple, dict] = {}
    for r in rows:
        k = (r["id"], r["type"], r["version"])
        cur = best.get(k)
        if cur is None:
            best[k] = r
            continue
        keep = r if (r["in_batch"], _ts_key(r)) > (cur["in_batch"], _ts_key(cur)) else cur
        best[k] = {**keep, "in_batch": cur["in_batch"] or r["in_batch"]}
    return list(best.values())


def _histories_py(flagged) -> dict:
    """_histories: per id, the max-(timestamp, version) row among the
    window-flagged rows and among the before-flagged rows."""
    out: dict = {}
    for r, w_ok, b_ok in flagged:
        in_row, before_row = out.get(r["id"], (None, None))
        if w_ok and (in_row is None or _order(r) > _order(in_row)):
            in_row = r
        if b_ok and (before_row is None or _order(r) > _order(before_row)):
            before_row = r
        out[r["id"]] = (in_row, before_row)
    return out


def histories_py(rows: list[dict]) -> tuple[dict, dict, dict]:
    """(node_hist, way_hist, rel_hist) as {id: (in_row, before_row)} from
    the undeduped batch∪state row dicts of a small scope."""
    rows = _dedup_py(rows)
    by_type: dict[str, list] = {"node": [], "way": [], "relation": []}
    for r in rows:
        if r["type"] in by_type:
            by_type[r["type"]].append(r)

    nh = _histories_py((r, r["in_batch"], not r["in_batch"]) for r in by_type["node"])

    def way_flags(r):
        nds = r["nds"]
        if nds is None:
            return False, False
        refs = [None if nd is None else nd["ref"] for nd in nds]
        complete = all(ref in nh for ref in refs)
        win = r["in_batch"] or any(ref in nh and nh[ref][0] is not None for ref in refs)
        before = not r["in_batch"] and all(ref in nh and nh[ref][1] is not None for ref in refs)
        return complete and win, complete and before

    wh = _histories_py((r, *way_flags(r)) for r in by_type["way"])

    rels = by_type["relation"]
    rel_ids = {r["id"] for r in rels}
    known = {"node": nh, "way": wh, "relation": rel_ids}

    def members(r):
        return [(m["type"], m["ref"]) if m is not None else (None, None)
                for m in (r["members"] or [])]

    def nw_flags(ms):
        # (any node/way member in-window, every node/way member before-window)
        hs = [(nh if t == "node" else wh).get(ref) for t, ref in ms if t in ("node", "way")]
        return (any(h is not None and h[0] is not None for h in hs),
                all(h is not None and h[1] is not None for h in hs))

    def child_rels(ms):
        return [ref for t, ref in ms if t == "relation" and ref in rel_ids]

    # relation window/before flags from each id's LATEST row: least /
    # greatest fixpoint over member relations, MAX_REL_DEPTH rounds
    latest: dict = {}
    for r in rels:
        if r["id"] not in latest or _order(r) > _order(latest[r["id"]]):
            latest[r["id"]] = r
    base = {rid: (r["in_batch"], *nw_flags(members(r))) for rid, r in latest.items()}
    kids = {rid: child_rels(members(r)) for rid, r in latest.items()}
    state = {rid: (ib or any_in, not ib and all_before)
             for rid, (ib, any_in, all_before) in base.items()}
    for _ in range(MAX_REL_DEPTH if any(kids.values()) else 0):
        nxt = {
            rid: (ib or any_in or any(state[k][0] for k in kids[rid]),
                  not ib and all_before and all(state[k][1] for k in kids[rid]))
            for rid, (ib, any_in, all_before) in base.items()
        }
        converged = nxt == state
        state = nxt
        if converged:
            break

    def rel_flags(r):
        ms = members(r)
        complete = all(t in known and ref in known[t] for t, ref in ms if t is not None)
        any_in, all_before = nw_flags(ms)
        ks = child_rels(ms)
        win = r["in_batch"] or any_in or any(state[k][0] for k in ks)
        before = not r["in_batch"] and all_before and all(state[k][1] for k in ks)
        return complete and win, complete and before

    rh = _histories_py((r, *rel_flags(r)) for r in rels)
    return nh, wh, rh
