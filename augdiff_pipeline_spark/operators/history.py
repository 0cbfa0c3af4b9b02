"""Row histories: per entity, the latest in-window and the latest
before-window row of a batch's scope.

Implements the reference's getRowHistories and its type-specific
complete/window/before predicates
(reference ad/src/main/scala/RowsToJson.scala:53-244) over row
dicts (OSM_COLUMNS + ``in_batch``), as the reference does in driver
memory:

- the scope is batch ∪ fetched state rows, deduped on (id, type,
  version); a row present in both keeps the in-batch copy and counts as
  in-window (``in_batch`` OR-merged, SURVEY.md §7 watch-list #3);
- the winner per side is the max-(timestamp, version) row among the
  rows whose predicate holds (A2);
- a way is complete when every nd is a node in scope, in-window when
  it is in the batch or any node is, before-window when it is not in
  the batch and every node is (RowsToJson:127-161);
- relation predicates also recurse through member relations' *latest*
  rows (RowsToJson:196-244): the window flag is a least fixpoint (start
  false, grow), the before flag a greatest fixpoint (start true,
  shrink); cycles, which would not terminate in the reference, converge
  to (false, true) after MAX_REL_DEPTH rounds.

An entity's history reads only its own rows and those of its transitive
members, so any scope closed under membership yields the same history
for every entity in it; plans/augdiff.py passes the whole batch scope.
"""

from __future__ import annotations

MAX_REL_DEPTH = 8


def _ts_key(r) -> tuple:
    # a null timestamp orders below every other, as in Spark
    ts = r["timestamp"]
    return (ts is not None, ts)


def _order(r) -> tuple:
    # (timestamp, version), nulls lowest
    v = r["version"]
    return (*_ts_key(r), v is not None, v)


def _dedup(rows: list[dict]) -> list[dict]:
    """One row per (id, type, version), the in-batch copy (then the
    latest) kept, ``in_batch`` OR-merged."""
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


def _winners(flagged) -> dict:
    """Per id, the max-(timestamp, version) row among the window-flagged
    rows and among the before-flagged rows."""
    out: dict = {}
    for r, w_ok, b_ok in flagged:
        in_row, before_row = out.get(r["id"], (None, None))
        if w_ok and (in_row is None or _order(r) > _order(in_row)):
            in_row = r
        if b_ok and (before_row is None or _order(r) > _order(before_row)):
            before_row = r
        out[r["id"]] = (in_row, before_row)
    return out


def all_histories(rows: list[dict]) -> tuple[dict, dict, dict]:
    """(node_hist, way_hist, rel_hist) as {id: (in_row, before_row)} from
    the undeduped batch ∪ state row dicts of a scope closed under
    membership."""
    rows = _dedup(rows)
    by_type: dict[str, list] = {"node": [], "way": [], "relation": []}
    for r in rows:
        if r["type"] in by_type:
            by_type[r["type"]].append(r)

    nh = _winners((r, r["in_batch"], not r["in_batch"]) for r in by_type["node"])

    def way_flags(r):
        nds = r["nds"]
        if nds is None:
            return False, False
        refs = [None if nd is None else nd["ref"] for nd in nds]
        complete = all(ref in nh for ref in refs)
        win = r["in_batch"] or any(ref in nh and nh[ref][0] is not None for ref in refs)
        before = not r["in_batch"] and all(ref in nh and nh[ref][1] is not None for ref in refs)
        return complete and win, complete and before

    wh = _winners((r, *way_flags(r)) for r in by_type["way"])

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

    rh = _winners((r, *rel_flags(r)) for r in rels)
    return nh, wh, rh
