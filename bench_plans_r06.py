"""Capture .explain('formatted') for every round-6-touched query, for
plans/r06/<query>_{before,after}.txt.  Run with PYTHONPATH pointing at
the round-5 tree (git worktree of the round-start commit) for 'before',
and at the current tree for 'after':

    git worktree add /tmp/r5tree <round-start-sha>
    PYTHONPATH=/tmp/r5tree SPARK_GRAFT_PLANS_TAG=before python bench_plans_r06.py
    SPARK_GRAFT_PLANS_TAG=after python bench_plans_r06.py

The fused minhash runs several jobs; its file concatenates the explain of
each materialized sub-plan (signature checkpoint feed, bucket cells,
verify output) — the stage structure the OPTIMIZATION_r06.md claims
reference.  Uses sf0.1 inputs so the plans match the bench shapes.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

TAG = os.environ.get("SPARK_GRAFT_PLANS_TAG", "after")
OUT = os.environ.get("SPARK_GRAFT_PLANS_OUT") or os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")
SF_DIR = "/root/testdata/sf0.1"


def grab(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def write(name: str, text: str) -> None:
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"{name}_{TAG}.txt")
    with open(path, "w") as f:
        f.write(text)
    print("wrote", path)


def main() -> None:
    import augdiff_pipeline_spark as pkg
    print("package from:", pkg.__file__, file=sys.stderr)
    from pyspark.sql import functions as F

    from augdiff_pipeline_spark.operators.dedup import minhash_lsh_pairs
    from augdiff_pipeline_spark.operators.multimodal import image_features
    from augdiff_pipeline_spark.operators.tiling import assign_tiles, cut_tiles
    from augdiff_pipeline_spark.session import get_spark

    spark = get_spark("plans_r06", cores=32)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # The fused minhash materializes eagerly (checkpoints); its returned
    # frame is the verified pair set.  The explain of the RESULT shows
    # the checkpointed scan; the interesting structure is the job
    # sequence, which the OPTIMIZATION_r06.md stage table documents — so
    # also grab the un-materialized bucket/cell/verify plan by
    # rebuilding it from the public pieces.
    pairs = minhash_lsh_pairs(docs.repartition(32), num_perm=128, bands=32,
                              jaccard_threshold=0.5)
    txt = "== minhash_lsh_pairs(result, post-checkpoint) ==\n" + grab(pairs)
    from augdiff_pipeline_spark.operators.dedup import minhash_bands
    sigs = minhash_bands(docs.repartition(32), num_perm=128, bands=32)
    buckets = (
        sigs.groupBy("band", "band_hash").agg(F.collect_list("doc_id").alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    txt += "\n== bucket aggregation (signature rows -> id lists) ==\n" + grab(buckets)
    write("minhash", txt)

    images = spark.read.parquet("/tmp/spark_graft_bench_cache/images_n500000.parquet")
    frac = 50
    img_slice = images.filter(F.pmod(F.xxhash64(F.col("image_id")), F.lit(frac)) == 0)
    cut = cut_tiles(assign_tiles(img_slice, z=14, salt_n=32), tile_px=16,
                    shuffle_partitions=32)
    write("tile_cut", grab(cut))

    write("img_features", grab(image_features(img_slice)))

    spark.stop()


if __name__ == "__main__":
    main()
