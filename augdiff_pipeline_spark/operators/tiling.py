"""Deterministic ZXY tile assignment + salted raster tile cut.

- Tile assignment is the pure Column expression from functions/mercator
  (no UDF): every image gets (z, x, y) + a single packed tile_key.
- Skew handling is EXPLICIT (north rule): hot tiles (Zipf-clustered
  geotags) are split by a salt column — pmod(xxhash64(image_id), salt_n)
  — so ``repartition(tile_key, salt)`` spreads one hot tile across
  salt_n tasks; AQE's skew-join splitting backs this up when the layer
  side joins in.
- The raster cut decodes each image (codec stub, operators/images.py),
  crops fixed-size pixel tiles, re-encodes, and records PSNR vs the
  source for lossy formats — all inside one mapInPandas pass after the
  salted repartition.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import mercator
from . import images as imgcodec

_ERR2_LUT = None


def _err2_lut() -> np.ndarray:
    """(256,) squared quantization error of the stub codec's lossy path,
    built FROM the codec itself so it can never drift from it.  The
    stub's decode error is a pure function of the source pixel value, so
    per-tile MSE is one uint8 LUT gather + a mean — no decoded float64
    image copy (the gather's temporaries are 4x smaller and
    arena-friendly, which matters on the fault-taxed bench host and is
    simply less memory traffic everywhere else)."""
    global _ERR2_LUT
    if _ERR2_LUT is None:
        v = np.arange(256, dtype=np.uint8)
        err = imgcodec.lossy_roundtrip(v).astype(np.int32) - v.astype(np.int32)
        _ERR2_LUT = (err * err).astype(np.uint16)
    return _ERR2_LUT


def assign_tiles(images: DataFrame, z: int, salt_n: int = 8) -> DataFrame:
    xt, yt = mercator.tile_cols(F.col("lon"), F.col("lat"), z)
    return (
        images.withColumn("z", F.lit(z).cast("int"))
        .withColumn("x", xt.cast("long"))
        .withColumn("y", yt.cast("long"))
        .withColumn("tile_key", mercator.tile_key_col(F.col("lon"), F.col("lat"), z))
        .withColumn("salt", F.pmod(F.xxhash64(F.col("image_id")), F.lit(salt_n)).cast("int"))
    )


def cut_tiles(
    assigned: DataFrame, tile_px: int = 16, salt_n: int = 8,
    shuffle_partitions: int | None = None
) -> DataFrame:
    """(image_id, z, x, y, tix, tiy, tile_bytes, psnr_db) — one row per
    pixel tile per image, produced after the salted repartition by one
    per-(shape, fmt) stacked kernel.  Its rows equal a per-image loop of
    ``images.cut_tile`` / ``encode`` / ``psnr`` (asserted in tests)."""
    parts = [F.col("tile_key"), F.col("salt")]
    par = assigned.sparkSession.sparkContext.defaultParallelism
    # A blob slice inherited from a multi-GB source scan can arrive in
    # thousands of near-empty partitions (4 MB splits at sf1.0 leave
    # ~5.1k partitions for 10k rows); the salted exchange below would
    # then run thousands of fixed-cost map tasks for a few rows each —
    # measured 1.75s vs 0.92s min-of-5 same-session at sf1.0.  coalesce
    # is narrow (rows unchanged) and only fires on pathological
    # over-partitioning; the LAZY localCheckpoint is the barrier that
    # keeps Catalyst's CollapseRepartition from eliding the coalesce
    # into the exchange (a bare coalesce under repartition is a no-op
    # after optimization — verified in the round-6 plan capture), and
    # its blocks are reclaimed by the ContextCleaner with the frame.
    if assigned.rdd.getNumPartitions() > 4 * par:
        assigned = assigned.coalesce(2 * par).localCheckpoint(eager=False)
    if shuffle_partitions is not None:
        # scale-adaptive clamp: the caller's partition count is tuned
        # for a target core count; running the same code at FEWER cores
        # (the N-core leg of a scaling run, a small executor) with the
        # full count just fragments the Arrow batches — each mapInPandas
        # task pays ~100 ms fixed, and the per-(shape,fmt) stacked
        # kernel loses its batching.  (tile_key, salt) distribution is a
        # pure perf choice: output rows are identical at any count.
        shuffle_partitions = min(shuffle_partitions, 4 * par)
    df = assigned.repartition(*parts) if shuffle_partitions is None else assigned.repartition(
        shuffle_partitions, *parts
    )

    def kernel(it):
        for pdf in it:
            out = {
                "image_id": [], "z": [], "x": [], "y": [],
                "tix": [], "tiy": [], "tile_bytes": [], "psnr_db": [],
            }
            n_img = len(pdf)
            if n_img:
                # decode each blob (the per-blob entropy stage — what
                # libjpeg would be — is inherently per image), then batch
                # ALL remaining work per (shape, fmt) group: one stacked
                # pad/grid/PSNR/quantize pass per group instead of one
                # Python iteration per image
                blobs = [imgcodec.decode(bytes(b)) for b in pdf["bytes"]]
                fmts = pdf["fmt"].to_numpy()
                shapes = np.array([(a.shape[0], a.shape[1]) for a in blobs], dtype=np.int64)
                ids = pdf["image_id"].to_numpy()
                zs = pdf["z"].to_numpy(dtype=np.int32)
                xs_ = pdf["x"].to_numpy(dtype=np.int64)
                ys_ = pdf["y"].to_numpy(dtype=np.int64)
                keys = {}
                for i in range(n_img):
                    keys.setdefault((int(shapes[i, 0]), int(shapes[i, 1]), fmts[i]), []).append(i)
                for (h, w, fmt), idxs in keys.items():
                    m = len(idxs)
                    ntx = (w + tile_px - 1) // tile_px
                    nty = (h + tile_px - 1) // tile_px
                    nt = nty * ntx
                    padded = np.zeros((m, nty * tile_px, ntx * tile_px, 3), dtype=np.uint8)
                    for j, i in enumerate(idxs):
                        padded[j, :h, :w] = blobs[i]
                    grid = (
                        padded.reshape(m, nty, tile_px, ntx, tile_px, 3)
                        .transpose(0, 1, 3, 2, 4, 5)
                    )  # (m, nty, ntx, tp, tp, 3)
                    if fmt == "png":
                        psnrs = np.full((m, nt), 99.0)
                    else:
                        # PSNR analytically from the quantization error:
                        # the stub's decode error is a pure function of
                        # the source value, so per-tile MSE is one LUT
                        # gather over the already-tiled grid (no decoded
                        # image copy, no float64 temporaries)
                        e2 = _err2_lut()[grid]
                        mse = e2.reshape(m, nt, -1).mean(axis=2)
                        with np.errstate(divide="ignore"):
                            psnrs = np.minimum(
                                10.0 * np.log10(255.0**2 / np.maximum(mse, 1e-12)), 99.0
                            )
                    sel = np.asarray(idxs, dtype=np.int64)
                    out["image_id"].append(np.repeat(ids[sel], nt))
                    out["z"].append(np.repeat(zs[sel], nt))
                    out["x"].append(np.repeat(xs_[sel], nt))
                    out["y"].append(np.repeat(ys_[sel], nt))
                    tys, txs = np.divmod(np.arange(nt), ntx)
                    out["tiy"].append(np.tile(tys.astype(np.int32), m))
                    out["tix"].append(np.tile(txs.astype(np.int32), m))
                    flat = grid.reshape(m * nt, tile_px, tile_px, 3)
                    out["tile_bytes"].extend(imgcodec.encode_batch(flat, fmt))
                    out["psnr_db"].append(psnrs.ravel())
            if not out["image_id"]:
                yield pd.DataFrame(
                    {k: pd.Series([], dtype=("object" if k in ("image_id", "tile_bytes") else
                                              "int64" if k in ("x", "y") else
                                              "float64" if k == "psnr_db" else "int32"))
                     for k in out}
                )
                continue
            yield pd.DataFrame(
                {
                    "image_id": np.concatenate(out["image_id"]),
                    "z": np.concatenate(out["z"]),
                    "x": np.concatenate(out["x"]),
                    "y": np.concatenate(out["y"]),
                    "tix": np.concatenate(out["tix"]),
                    "tiy": np.concatenate(out["tiy"]),
                    "tile_bytes": pd.Series(out["tile_bytes"], dtype="object"),
                    "psnr_db": np.concatenate(out["psnr_db"]),
                }
            )

    return df.mapInPandas(
        kernel,
        "image_id string, z int, x long, y long, tix int, tiy int, tile_bytes binary, psnr_db double",
    )
