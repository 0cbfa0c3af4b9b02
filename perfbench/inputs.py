"""Seeded input generators for the benchmark workloads.

The program under test only ever sees what these functions return: OSM
rows for the minutely loop, and parquet tables for the image workloads.
Image inputs are cached on disk by (workload, seed, size) under
``.perfbench_cache/`` in the checkout, so generation never lands inside
a timed op or inside ``setup_s``.  The minutely batches are a few
hundred Python tuples, generated in memory in milliseconds.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from augdiff_pipeline_spark import fixtures
from augdiff_pipeline_spark.operators import images as imgcodec

CACHE_DIR = ".perfbench_cache"
# the water multipolygon: its edit re-assembles an area from two ways
EDITED_RELATION = 3004

# Input sizes per workload.  "full" is the benchmark of record; "tiny"
# is the smoke run.
SIZES = {
    "augdiff_minutely": {
        "full": {"grid_n": 10, "max_batches": 400},
        "tiny": {"grid_n": 3, "max_batches": 400},
    },
    "image_pipeline": {
        "full": {"geotags": 100_000, "shuffle_slice": 20_000, "grid_n": 20,
                 "images": 1_500, "docs": 1_500},
        "tiny": {"geotags": 4_000, "shuffle_slice": 1_000, "grid_n": 4,
                 "images": 120, "docs": 200},
    },
}


# ------------------------------------------------------------ minutely loop
def augdiff_world(grid_n: int) -> list[tuple]:
    """Fixture world plus an n x n grid of closed building ways."""
    return fixtures.base_state_rows() + fixtures.dense_grid_state_rows(grid_n)


def augdiff_batches(seed: int, world: list[tuple], n_batches: int) -> dict[int, list[tuple]]:
    """``n_batches`` seeded minutely change batches of six rows.

    Every batch holds one edit of each kind: it moves a stand-alone POI
    node and a way corner (indirect way dirtiness), edits a way's tags
    and a relation's tags, creates a node, and tombstones a node (the one
    the batch before created; batch 0 tombstones a stand-alone POI of the
    world).  So every batch has the same shape, and the warm-up batch
    runs every code path the timed ones do.  The seed picks the moved
    nodes, the edited way (one of the grid buildings, which all have the
    same shape) and all coordinates.  Every batch edits the same
    relation: which fixture way or relation a batch edited changed its
    time by up to a quarter, which spread the runs.

    Validity follows ``fixtures.soak_batch_rows``: versions continue per
    entity, no way is ever deleted (so a corner move never resurrects a
    tombstoned way), and each entity changes at most once per batch.
    """
    rng = np.random.default_rng(seed)
    ID, TYPE, TAGS, LAT, LON, NDS, MEMBERS, VERSION = 1, 2, 3, 4, 5, 6, 7, 12
    ver: dict[tuple[int, str], int] = {}
    coords: dict[int, tuple[float, float]] = {}
    ways: dict[int, tuple[list[int], dict]] = {}
    rels: dict[int, tuple[list[tuple], dict]] = {}
    for r in world:
        ver[(r[ID], r[TYPE])] = r[VERSION]
        if r[TYPE] == "node":
            coords[r[ID]] = (float(r[LON]), float(r[LAT]))
        elif r[TYPE] == "way":
            ways[r[ID]] = ([ref for (ref,) in r[NDS]], dict(r[TAGS]))
        else:
            rels[r[ID]] = (list(r[MEMBERS]), dict(r[TAGS]))
    corners = sorted({n for nds, _ in ways.values() for n in nds})
    pois = sorted(set(coords) - set(corners))
    fixture_ways = {r[ID] for r in fixtures.base_state_rows() if r[TYPE] == "way"}
    grid_ways = sorted(set(ways) - fixture_ways)

    def bump(eid: int, etype: str) -> int:
        ver[(eid, etype)] = ver.get((eid, etype), 0) + 1
        return ver[(eid, etype)]

    def nudge(nid: int) -> tuple[float, float]:
        lon, lat = coords[nid]
        d = rng.uniform(-5e-5, 5e-5, 2)
        coords[nid] = (round(lon + d[0], 7), round(lat + d[1], 7))
        return coords[nid]

    victim = pois.pop(int(rng.integers(len(pois))))
    out: dict[int, list[tuple]] = {}
    for i in range(n_batches):
        t0 = fixtures.T0 + dt.timedelta(hours=i + 1)

        def ts(m: int) -> dt.datetime:
            return t0 + dt.timedelta(minutes=m)

        rows = []
        nid = int(pois[rng.integers(len(pois))])
        lon, lat = nudge(nid)
        rows.append(fixtures._node_row(nid, bump(nid, "node"), ts(0), lon=lon, lat=lat))
        cid = int(corners[rng.integers(len(corners))])
        lon, lat = nudge(cid)
        rows.append(fixtures._node_row(cid, bump(cid, "node"), ts(1), lon=lon, lat=lat))
        wid = int(grid_ways[rng.integers(len(grid_ways))])
        nds, tags = ways[wid]
        v = bump(wid, "way")
        rows.append(fixtures._way_row(wid, v, ts(2), nds=nds, tags={**tags, "note": f"v{v}"}))
        rid = EDITED_RELATION
        members, tags = rels[rid]
        v = bump(rid, "relation")
        rows.append(fixtures._rel_row(rid, v, ts(2), members=members, tags={**tags, "note": f"v{v}"}))
        new_id = 6_000_000 + i
        coords[new_id] = (round(rng.uniform(10.0, 10.2), 7), round(rng.uniform(50.0, 50.2), 7))
        lon, lat = coords[new_id]
        rows.append(fixtures._node_row(new_id, bump(new_id, "node"), ts(3), lon=lon, lat=lat,
                                       tags={"amenity": "bench"}))
        rows.append(fixtures._tombstone(victim, "node", bump(victim, "node"), ts(4)))
        victim = new_id
        out[i] = rows
    return out


# ------------------------------------------------------------ image tables
def _cache_path(workload: str, seed: int, size: str, name: str) -> str:
    # keyed by this file's contents too, so a changed generator or size
    # never reads a table an older one wrote
    with open(__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:10]
    return os.path.join(CACHE_DIR, f"{workload}-seed{seed}-{size}-{version}", name)


def _write_parquet(path: str, df: pd.DataFrame, n_files: int) -> None:
    """Write ``df`` as ``n_files`` parquet files, then a _SUCCESS marker,
    so a run killed mid-write never leaves a half table in the cache."""
    os.makedirs(path, exist_ok=True)
    for k, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        pq.write_table(
            pa.Table.from_pandas(df.iloc[part], preserve_index=False),
            os.path.join(path, f"part-{k:05d}.parquet"),
        )
    open(os.path.join(path, "_SUCCESS"), "w").close()


def _cached(path: str, make, n_files: int) -> str:
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _write_parquet(path, make(), n_files)
    return path


def derived(path: str, name: str, make):
    """A value computed from the generated input at ``path`` alone (an
    expected answer), cached as JSON next to it."""
    import json

    out = os.path.join(path, f"_{name}.json")
    if not os.path.exists(out):
        tmp = f"{out}.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(sorted(make()), fh)
        os.replace(tmp, out)
    with open(out) as fh:
        return {tuple(v) for v in json.load(fh)}


def _hot_points(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """~85% of points in 20 Zipf(1.5)-weighted clusters over the fixture
    world and the dense grid, 15% uniform over a box that extends past
    every polygon.  The cluster centres are the same for every seed (so
    the join fan-out, and with it the work per op, varies little from
    seed to seed); the seed draws each point's cluster and position."""
    fixed = np.random.default_rng(0)
    centers = np.stack([fixed.uniform(10.0, 10.2, 20), fixed.uniform(50.0, 50.2, 20)], axis=1)
    # the three hottest clusters sit on fixture polygons: the multipolygon
    # r3000 (near its outer edge, clear of its hole), building w2000, and
    # the dissolved overlap of r3004
    centers[:3] = [(10.055, 50.075), (10.015, 50.015), (10.115, 50.115)]
    w = 1.0 / np.arange(1, 21) ** 1.5
    ci = rng.choice(20, size=n, p=w / w.sum())
    hot = rng.random(n) < 0.85
    lon = np.where(hot, centers[ci, 0] + rng.normal(0, 0.002, n), rng.uniform(9.95, 10.25, n))
    lat = np.where(hot, centers[ci, 1] + rng.normal(0, 0.002, n), rng.uniform(49.95, 50.25, n))
    return np.round(lon, 7), np.round(lat, 7)


def geotags(seed: int, size: str) -> str:
    """Parquet path of the geotag fact table (image_id, lon, lat)."""
    n = SIZES["image_pipeline"][size]["geotags"]

    def make():
        lon, lat = _hot_points(np.random.default_rng(seed), n)
        return pd.DataFrame({"image_id": [f"img_{i:09d}" for i in range(n)], "lon": lon, "lat": lat})

    return _cached(_cache_path("image_pipeline", seed, size, "geotags"), make, 8)


def images(seed: int, size: str) -> str:
    """Parquet path of an image+caption table in the program's
    IMAGE_SCHEMA column order, blobs encoded with its codec."""
    n = SIZES["image_pipeline"][size]["images"]

    def make():
        rng = np.random.default_rng(seed)
        lon, lat = _hot_points(rng, n)
        ws = rng.integers(16, 65, n)
        hs = rng.integers(16, 65, n)
        blobs, hashes = [], []
        for i in range(n):
            arr = rng.integers(0, 256, size=(int(hs[i]), int(ws[i]), 3), dtype=np.uint8)
            blobs.append(imgcodec.encode(arr, "png" if i % 2 == 0 else "jpeg"))
            hashes.append(imgcodec.phash64(arr))
        words = rng.integers(0, len(fixtures.CAPTION_WORDS), (n, 6))
        return pd.DataFrame({
            "image_id": [f"img_{i:08d}" for i in range(n)],
            "bytes": blobs,
            "w": ws.astype(np.int32),
            "h": hs.astype(np.int32),
            "fmt": ["png" if i % 2 == 0 else "jpeg" for i in range(n)],
            "caption": [" ".join(fixtures.CAPTION_WORDS[j] for j in row) for row in words],
            "phash": np.array(hashes, dtype=np.int64),
            "lat": lat,
            "lon": lon,
        })

    return _cached(_cache_path("image_pipeline", seed, size, "images"), make, 4)


def documents(seed: int, size: str) -> str:
    """Parquet path of a (doc_id, text) corpus of ~45-word documents in
    which ~10% re-emit an earlier document with one word changed."""
    n = SIZES["image_pipeline"][size]["docs"]

    def make():
        rng = np.random.default_rng(seed + 7919)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = np.array(["".join(rng.choice(letters, rng.integers(3, 9))) for _ in range(4096)])
        words = rng.integers(0, len(vocab), (n, 45))
        for i in np.flatnonzero(rng.random(n) < 0.1):
            if i == 0:
                continue
            words[i] = words[rng.integers(0, i)]
            words[i, rng.integers(0, 45)] = rng.integers(0, len(vocab))
        return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                             "text": [" ".join(vocab[w]) for w in words]})

    return _cached(_cache_path("image_pipeline", seed, size, "docs"), make, 4)
