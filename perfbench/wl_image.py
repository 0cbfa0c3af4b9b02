"""image_pipeline: the read-only image path, one closed-loop round at a time.

Each round runs seven ops.  Four joins over a seeded geotag fact table
(~85% of points in Zipf-hot clusters): assign_tiles + cell_equi_join on
the broadcast route with a per-feature tile rollup, pip_join_broadcast,
knn_join, and a forced shuffle-route cell_equi_join against a dense-grid
layer on a smaller slice.  Then cut_tiles (salted repartition over
Zipf-hot tiles) and image_features on a seeded image+caption table, and
minhash_lsh_pairs over a seeded corpus with ~10% near-duplicates.  No
op writes, and none touches the augmented-diff state.

Every op consumes its output into a fingerprint (row count plus an
order-free hash sum of its rows; a per-feature rollup for the joins;
the pair set for MinHash).  After the timed window the outputs of the
warm-up round are checked (route agreement, brute force on a seeded
sample, codec fidelity, exact Jaccard) and every op whose output
differs from its checked warm-up output counts as failed.  The warm-up
round runs on the full inputs: one on a sample would leave JIT
compilation of the full-size paths to the first timed round.
"""

from __future__ import annotations

import json
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from augdiff_pipeline_spark import fixtures
from augdiff_pipeline_spark.functions import mercator
from augdiff_pipeline_spark.geometry import core, wkb
from augdiff_pipeline_spark.operators import images as imgcodec
from augdiff_pipeline_spark.operators.dedup import minhash_lsh_pairs
from augdiff_pipeline_spark.operators.knn import knn_join
from augdiff_pipeline_spark.operators.multimodal import image_features
from augdiff_pipeline_spark.operators.spatial_join import cell_equi_join, pip_join_broadcast
from augdiff_pipeline_spark.operators.tiling import assign_tiles, cut_tiles
from augdiff_pipeline_spark.plans.polygon_layer import build_polygon_layer

from . import harness, inputs

CELL_RES = 16
LAYER_MAX_RES = 17
TILE_Z = 14
TILE_PX = 16
KNN_K = 3
MH = {"num_perm": 128, "bands": 32, "jaccard_threshold": 0.5}
SAMPLE = 300  # points / images checked against brute force
GRID_ID_BASE = 10_000_000  # dense-grid entity ids start here (fixtures)


def fingerprint(df, cols: list[str]) -> tuple[int, int]:
    """(rows, sum of per-row hashes mod 2^40): equal for equal multisets."""
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 40))).alias("h")).first()
    return int(r["n"]), int(r["h"] or 0)


def rollup(joined) -> tuple:
    """Per-feature rollup of join rows: (feature_id, rows, hash sum of
    image_ids[, distinct tiles]).  Two routes agree on their (image,
    feature) row sets exactly when their rollups agree on the first
    three fields."""
    aggs = [F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("image_id"), F.lit(1 << 40))).alias("h")]
    if "x" in joined.columns:
        aggs.append(F.countDistinct("x", "y").alias("tiles"))
    return tuple(sorted(tuple(r) for r in joined.groupBy("feature_id").agg(*aggs).collect()))


def _route(rolled: tuple) -> tuple:
    return tuple(r[:3] for r in rolled)


def _closed_loop(ctx, ops: list) -> dict:
    """Run rounds of ``ops`` (name, fn -> fingerprint), the warm-up round
    and then rounds until the window closes.  The traced run traces the
    second half of the window."""
    lat, outs = [], {name: [] for name, _ in ops}
    op_s = {name: [] for name, _ in ops}
    for _ in harness.op_slots(ctx):
        t0 = time.perf_counter()
        with ctx.tracer.op():
            for name, fn in ops:
                t1 = time.perf_counter()
                with ctx.tracer.span(name):
                    outs[name].append(fn())
                op_s[name].append(time.perf_counter() - t1)
        lat.append(time.perf_counter() - t0)
    ctx.log("op seconds per round: " + json.dumps({k: [round(v, 3) for v in vs] for k, vs in op_s.items()}))
    return {"op_s": lat, "outs": outs}


def _load(spark, path: str, parts: int):
    return spark.read.parquet(path).repartition(parts).localCheckpoint(eager=True)


def _local_sample(path: str, rng, k: int) -> pd.DataFrame:
    """``k`` seeded rows of a generated input, read without Spark."""
    df = pq.read_table(path).to_pandas()
    return df.iloc[np.sort(rng.choice(len(df), size=min(k, len(df)), replace=False))]


# --------------------------------------------------------------- brute force
def _polygons(layer) -> dict[int, list[list[np.ndarray]]]:
    """feature_id -> list of polygons, each a list of rings."""
    out = {}
    for r in layer.select("feature_id", "geom_wkb").distinct().collect():
        g = wkb.loads(bytes(r["geom_wkb"]))
        polys = g.polygons if isinstance(g, core.MultiPolygon) else (g,)
        out[int(r["feature_id"])] = [[np.asarray(ring, float) for ring in p.rings] for p in polys]
    return out


def _inside(rings: list[np.ndarray], x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Even-odd ray casting over all rings of one polygon (holes flip)."""
    inside = np.zeros(len(x), dtype=bool)
    for ring in rings:
        for a, b, c, d in zip(ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]):
            crosses = (b > y) != (d > y)
            with np.errstate(divide="ignore", invalid="ignore"):
                xi = a + (y - b) * (c - a) / (d - b)
            inside ^= crosses & (x < xi)
    return inside


def _brute_pip(polys, ids, x, y) -> set[tuple[str, int]]:
    hits = set()
    for fid, parts in polys.items():
        mask = np.zeros(len(x), dtype=bool)
        for rings in parts:
            mask |= _inside(rings, x, y)
        hits.update((ids[i], fid) for i in np.flatnonzero(mask))
    return hits


def _pairs(df) -> set[tuple[str, int]]:
    return {(r["image_id"], int(r["feature_id"])) for r in df.select("image_id", "feature_id").collect()}


def _shingles(text: str, n: int = 5) -> set[str]:
    t = text.lower()
    t = t + " " * max(0, n - len(t))
    return {t[i:i + n] for i in range(len(t) - n + 1)}


def _true_pairs(texts: list[str], threshold: float) -> set[tuple[int, int]]:
    """All pairs (i < j) with exact 5-gram Jaccard >= threshold.  Prefix
    filtering prunes candidates without losing any qualifying pair: under
    a global rarest-first token order, two sets with Jaccard >= t share a
    token within their first |s| - ceil(t|s|) + 1 tokens.  Every
    candidate is then verified exactly."""
    vocab: dict[str, int] = {}
    docs = [np.fromiter((vocab.setdefault(g, len(vocab)) for g in _shingles(t)), np.int64)
            for t in texts]
    freq = np.bincount(np.concatenate(docs), minlength=len(vocab))
    rank = np.empty(len(vocab), np.int64)
    rank[np.lexsort((np.arange(len(vocab)), freq))] = np.arange(len(vocab))
    docs = [np.sort(rank[d]) for d in docs]
    toks, owners = [], []
    for i, d in enumerate(docs):
        k = len(d) - int(np.ceil(threshold * len(d))) + 1
        toks.append(d[:k])
        owners.append(np.full(k, i))
    toks, owners = np.concatenate(toks), np.concatenate(owners)
    order = np.argsort(toks, kind="stable")
    toks, owners = toks[order], owners[order]
    cands = set()
    cuts = np.flatnonzero(np.diff(toks)) + 1
    starts, stops = np.append(0, cuts), np.append(cuts, len(toks))
    shared = stops - starts > 1  # tokens in more than one prefix
    for lo, hi in zip(starts[shared], stops[shared]):
        grp = np.unique(owners[lo:hi])
        cands.update((int(a), int(b)) for k, a in enumerate(grp) for b in grp[k + 1:])
    sets = [set(d.tolist()) for d in docs]
    out = set()
    for a, b in cands:
        inter = len(sets[a] & sets[b])
        if inter >= threshold * (len(sets[a]) + len(sets[b]) - inter):
            out.add((a, b))
    return out


def _doc_pairs(path: str) -> set[tuple[int, int]]:
    """Exact near-duplicate pairs (doc_id a < doc_id b) of a corpus."""
    texts = pq.read_table(path).to_pandas()
    id_of = texts["doc_id"].to_numpy()
    return {tuple(sorted((int(id_of[a]), int(id_of[b]))))
            for a, b in _true_pairs(texts["text"].tolist(), MH["jaccard_threshold"])}


# ------------------------------------------------------------------ workload
def _ops(meta, slice_, imgs, docs, layer, grid, feats, cores: int) -> list:
    """The seven ops of a round, as (span name, fn -> fingerprint)."""
    pair_cols = ["image_id", "feature_id"]
    tile_cols = ["image_id", "tix", "tiy", "tile_bytes"]
    feat_cols = ["image_id", "phash", "thumb_bytes"]
    return [
        ("spatial_join.cell", lambda: rollup(cell_equi_join(
            assign_tiles(meta, z=TILE_Z), layer, res=CELL_RES, passthrough=["x", "y"]))),
        ("spatial_join.scan", lambda: rollup(pip_join_broadcast(meta, layer))),
        ("knn", lambda: fingerprint(knn_join(meta, feats, k=KNN_K, res=10),
                                    pair_cols + ["knn_rank"])),
        ("spatial_join.shuffle", lambda: rollup(
            cell_equi_join(slice_, grid, res=CELL_RES, max_geom_broadcast_bytes=0))),
        ("tiling.cut", lambda: fingerprint(cut_tiles(
            assign_tiles(imgs, z=TILE_Z, salt_n=4 * cores), tile_px=TILE_PX,
            shuffle_partitions=4 * cores), tile_cols)),
        ("multimodal.features", lambda: fingerprint(image_features(imgs), feat_cols)),
        ("dedup.minhash", lambda: frozenset(
            (int(r["a"]), int(r["b"]))
            for r in minhash_lsh_pairs(docs, **MH).select("a", "b").collect())),
    ]


def run(ctx) -> dict:
    spark, size = ctx.spark, inputs.SIZES["image_pipeline"][ctx.size]
    cores = spark.sparkContext.defaultParallelism
    paths = (inputs.geotags(ctx.seed, ctx.size), inputs.images(ctx.seed, ctx.size),
             inputs.documents(ctx.seed, ctx.size))
    world = spark.createDataFrame(
        fixtures.base_state_rows() + fixtures.dense_grid_state_rows(size["grid_n"]),
        fixtures.OSM_SCHEMA)
    t0 = time.perf_counter()
    meta, imgs, docs = (_load(spark, p, n) for p, n in zip(paths, (2 * cores, 2 * cores, cores)))
    t1 = time.perf_counter()
    both = build_polygon_layer(spark, world, max_res=LAYER_MAX_RES).localCheckpoint(eager=True)
    is_grid = F.col("feature_id") >= F.lit(GRID_ID_BASE << 2)
    layer = both.filter(~is_grid).localCheckpoint(eager=True)
    grid = both.filter(is_grid).localCheckpoint(eager=True)
    t2 = time.perf_counter()
    ctx.setup_parts = {"load": t1 - t0, "polygon_layer": t2 - t1,
                       "python_workers": harness.timed(harness.warm_python_workers, spark)[0]}

    node_pts = pd.DataFrame({"feature_id": list(fixtures.NODE_COORDS),
                             "lon": [c[0] for c in fixtures.NODE_COORDS.values()],
                             "lat": [c[1] for c in fixtures.NODE_COORDS.values()]})
    feats = spark.createDataFrame(node_pts)
    n, n_img = size["geotags"], size["images"]
    slice_ = meta.filter(
        F.pmod(F.xxhash64("image_id"), F.lit(max(1, n // size["shuffle_slice"]))) == 0
    ).localCheckpoint(eager=True)

    loop = _closed_loop(ctx, _ops(meta, slice_, imgs, docs, layer, grid, feats, cores))

    # checks, outside the timed window: row-local results on a seeded
    # sample of the inputs against brute force, route agreement and the
    # exact dedup answer on the full inputs.  Each op's reference is the
    # warm-up round's output once it passes them.
    t0 = time.perf_counter()
    rng = np.random.default_rng(ctx.seed)
    first = {name: outs[0] for name, outs in loop["outs"].items()}
    ok = {}
    pts = _local_sample(paths[0], rng, SAMPLE)
    ids, x, y = pts["image_id"].tolist(), pts["lon"].to_numpy(), pts["lat"].to_numpy()
    pts_df = spark.createDataFrame(pts)
    scan_n = sum(r[1] for r in first["spatial_join.scan"])
    ok["spatial_join.scan"] = ok["spatial_join.cell"] = (
        _route(first["spatial_join.cell"]) == first["spatial_join.scan"]
        and _pairs(pip_join_broadcast(pts_df, layer)) == _brute_pip(_polygons(layer), ids, x, y))
    ctx.log(f"cell route == scan route == brute-force PIP on {len(ids)} points: {ok['spatial_join.scan']}")
    ok["spatial_join.shuffle"] = (
        rollup(cell_equi_join(slice_, grid, res=CELL_RES)) == first["spatial_join.shuffle"]
        and _pairs(pip_join_broadcast(pts_df, grid)) == _brute_pip(_polygons(grid), ids, x, y))
    ctx.log(f"shuffle route == broadcast route, grid layer == brute force: {ok['spatial_join.shuffle']}")

    got = knn_join(pts_df, feats, k=KNN_K, res=10).toPandas()
    fx, fy = node_pts["lon"].to_numpy(), node_pts["lat"].to_numpy()
    ok["knn"] = first["knn"][0] == KNN_K * n
    for iid, px, py in zip(ids, x, y):
        want = np.sort((fx - px) ** 2 + (fy - py) ** 2)[:KNN_K]
        have = np.sort(got.loc[got["image_id"] == iid, "dist_sq_deg"].to_numpy())
        ok["knn"] &= len(have) == KNN_K and np.allclose(have, want, rtol=1e-9, atol=1e-15)
    ctx.log(f"knn == brute force on {len(ids)} points: {ok['knn']}")

    si = _local_sample(paths[1], rng, SAMPLE)
    si_df = spark.createDataFrame(si, imgs.schema)
    src = {iid: imgcodec.decode(bytes(b)) for iid, b in zip(si["image_id"], si["bytes"])}
    assigned = assign_tiles(si_df, z=TILE_Z).toPandas().set_index("image_id").loc[si["image_id"]]
    tx, ty = mercator.tile_xy(si["lon"].to_numpy(), si["lat"].to_numpy(), TILE_Z)
    cut = cut_tiles(assign_tiles(si_df, z=TILE_Z), tile_px=TILE_PX).toPandas()
    every = pq.read_table(paths[1], columns=["w", "h"]).to_pandas()
    n_tiles = int((-(-every["w"] // TILE_PX) * -(-every["h"] // TILE_PX)).sum())
    per_image = {iid: -(-a.shape[0] // TILE_PX) * -(-a.shape[1] // TILE_PX) for iid, a in src.items()}
    ok["tiling.cut"] = (
        np.array_equal(assigned["x"].to_numpy(), tx) and np.array_equal(assigned["y"].to_numpy(), ty)
        and first["tiling.cut"][0] == n_tiles
        and cut.groupby("image_id").size().to_dict() == per_image
        and all(_tile_ok(src[r.image_id], bytes(r.tile_bytes), r.tix, r.tiy) for r in cut.itertuples()))
    ctx.log(f"tiles on {len(src)} images: assignment == mercator twin, >= 40 dB: {ok['tiling.cut']}")
    fe = image_features(si_df).toPandas().set_index("image_id")
    ok["multimodal.features"] = first["multimodal.features"][0] == n_img and all(
        int(fe.loc[i, "phash"]) == imgcodec.phash64(a) for i, a in src.items())
    ctx.log(f"features on {len(src)} images == codec phash: {ok['multimodal.features']}")

    got_pairs = first["dedup.minhash"]
    truth = inputs.derived(paths[2], "true_pairs", lambda: _doc_pairs(paths[2]))
    recall = len(got_pairs & truth) / len(truth) if truth else 1.0
    ok["dedup.minhash"] = got_pairs <= truth
    ctx.log(f"minhash precision 1.0: {ok['dedup.minhash']}; recall {recall:.4f} of {len(truth)} true pairs")
    ctx.log(f"checks took {time.perf_counter() - t0:.1f}s")
    ref = {name: first[name] if ok[name] else None for name in first}

    failed = 0
    for name, outs in loop["outs"].items():
        bad = sum(1 for o in outs if ref[name] is None or o != ref[name])
        if bad:
            ctx.log(f"{name}: {bad}/{len(outs)} ops differ from the checked output")
        failed += bad
    loop["attempted"] = sum(len(v) for v in loop["outs"].values())
    loop["failed"] = failed
    loop["layers"] = {
        "polygon_layer.build_s": ctx.setup_parts["polygon_layer"],
        "spatial_join.hit_ratio": scan_n / n,
        "dedup.pairs": len(got_pairs),
        "dedup.recall": recall,
    }
    return loop


def _tile_ok(src: np.ndarray, blob: bytes, tix: int, tiy: int) -> bool:
    crop = imgcodec.cut_tile(src, TILE_PX, tix, tiy)
    tile = imgcodec.decode(blob)
    return crop.shape == tile.shape and (np.array_equal(crop, tile) or imgcodec.psnr(crop, tile) >= 40.0)


def layer_metrics(tr, n_ops: int) -> dict:
    return {
        "spatial_join.cell_wall_s": tr.wall("spatial_join.cell") / n_ops,
        "spatial_join.scan_wall_s": tr.wall("spatial_join.scan") / n_ops,
        "spatial_join.shuffle_wall_s": tr.wall("spatial_join.shuffle") / n_ops,
        "spatial_join.shuffle_tasks": tr.tasks("spatial_join.shuffle") / n_ops,
        "spatial_join.shuffle_task_skew": tr.task_skew("spatial_join.shuffle"),
        "spatial_join.shuffle_bytes": tr.shuffle_bytes("spatial_join.shuffle") / n_ops,
        "knn.wall_s": tr.wall("knn") / n_ops,
        "knn.jobs": tr.jobs("knn") / n_ops,
        "knn.shuffle_bytes": tr.shuffle_bytes("knn") / n_ops,
        "tiling.cut_wall_s": tr.wall("tiling.cut") / n_ops,
        "tiling.cut_tasks": tr.tasks("tiling.cut") / n_ops,
        "tiling.cut_task_skew": tr.task_skew("tiling.cut"),
        "tiling.cut_shuffle_bytes": tr.shuffle_bytes("tiling.cut") / n_ops,
        "multimodal.features_wall_s": tr.wall("multimodal.features") / n_ops,
        "dedup.minhash_wall_s": tr.wall("dedup.minhash") / n_ops,
        "dedup.minhash_jobs": tr.jobs("dedup.minhash") / n_ops,
        "dedup.minhash_shuffle_bytes": tr.shuffle_bytes("dedup.minhash") / n_ops,
        "trace.span_coverage": tr.coverage(),
    }
