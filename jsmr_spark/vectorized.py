"""Block-vectorized similarity kernels (numpy/BLAS over pandas UDFs).

The HOF dot product in queries/similarity.py is the exact sequential
kernel — right for probe queries and for bit-exact oracle parity. For
ALL-PAIRS workloads it evaluates 64 multiply-adds per pair inside
codegen, which measured ~25s for 2M pairs at sf0.1. The scalable form
is block matrix multiplication, fully distributed:

  * both sides are tiled by a deterministic hash of the id into P
    blocks; every (block_a, block_b) tile pair becomes one shuffle
    group (for the upper-triangle case only the P*(P+1)/2 unordered
    tile pairs are materialized — each side is replicated ~P/2 times);
  * applyInPandas computes ONE BLAS matmul per tile pair
    (rows_a x dims) @ (dims x rows_b) and emits only the pairs that
    clear a loose prefilter;
  * the exact engine-side round(sim, 4) >= tau filter is applied AFTER,
    in Spark, so the emitted semantics match the sequential kernel: the
    BLAS summation differs from sequential by ~1e-14, and round(,4)
    collapses that difference before the final threshold. The loose
    margin (1e-4) guarantees no candidate is lost: it covers the
    half-step of round(,4) (5e-5; a raw 0.39995 rounds UP to the 0.40
    threshold) plus that BLAS slack.

Nothing ever crosses the driver: tiling is a narrow map + explode, the
tile-pair shuffle is an ordinary keyed exchange, and the GEMM runs on
executors. Scale knobs: shuffle volume is ~P x |rows| per side, compute
is the full N^2/2 pair space regardless of P, so P should grow with
cluster cores (P ~ sqrt(2 x cores)), and for truly huge N the pair
space itself must be cut FIRST with the LSH/MinHash prefilters
(queries/ann.py, dedup.py) and only candidates re-ranked exactly.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PREFILTER_MARGIN = 1e-4


def block_cosine_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    upper_triangle: bool = True,
    n_tiles: int | None = None,
) -> DataFrame:
    """All-pairs cosine similarity >= threshold via distributed block GEMM.

    Returns (vec_a, vec_b, sim) with sim = round(cos, 4), vec_a < vec_b
    when upper_triangle. Matches the sequential-kernel semantics (see
    module docstring). Every unordered id pair is computed exactly once:
    a pair with tile ids (i, j), i <= j, lands only in shuffle group
    (i, j) — the row with the smaller tile id arrives in role A, the
    other in role B, and the a_id < b_id mask picks one orientation.
    """
    spark = emb.sparkSession
    if n_tiles is None:
        par = spark.sparkContext.defaultParallelism
        n_tiles = max(2, min(16, int(math.sqrt(2 * max(par, 2)))))
    p = n_tiles
    cutoff = threshold - PREFILTER_MARGIN

    base = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(p)).cast("int").alias("blk"),
    )
    if upper_triangle:
        # Row with tile i serves as the A side for groups (i, j>=i) and
        # as the B side for groups (i'<=i, i): P*(P+1)/2 groups total.
        a_side = base.select(
            F.lit(0).alias("role"),
            "vid",
            "vec",
            F.col("blk").alias("ba"),
            F.explode(F.expr(f"sequence(blk, {p - 1})")).alias("bb"),
        )
        b_side = base.select(
            F.lit(1).alias("role"),
            "vid",
            "vec",
            F.explode(F.expr("sequence(0, blk)")).alias("ba"),
            F.col("blk").alias("bb"),
        )
    else:
        a_side = base.select(
            F.lit(0).alias("role"),
            "vid",
            "vec",
            F.col("blk").alias("ba"),
            F.explode(F.expr(f"sequence(0, {p - 1})")).alias("bb"),
        )
        b_side = base.select(
            F.lit(1).alias("role"),
            "vid",
            "vec",
            F.explode(F.expr(f"sequence(0, {p - 1})")).alias("ba"),
            F.col("blk").alias("bb"),
        )

    def tile_gemm(tbl: "pa.Table") -> "pa.Table":
        # applyInArrow + flat-buffer decode (r12, guide §4.2): the old
        # applyInPandas form materialized every vector as a pandas
        # object cell and rebuilt the matrix with one np.asarray PER
        # ROW (~18k interpreter-loop conversions per execution at
        # sf0.1). An Arrow list<float> column is one contiguous values
        # buffer + offsets, so the whole tile decodes as a single
        # zero-loop reshape; float32->float64 widening is exact, so
        # the GEMM consumes the identical doubles.
        role = tbl.column("role").to_numpy(zero_copy_only=False)
        vids = tbl.column("vid").to_numpy(zero_copy_only=False)
        vec = tbl.column("vec").combine_chunks()
        n = len(vec)
        mat = (
            vec.flatten()
            .to_numpy(zero_copy_only=False)
            .astype(np.float64)
            .reshape(n, -1)
        )
        a_mask = role == 0
        a_ids = vids[a_mask]
        b_ids = vids[~a_mask]
        if a_ids.size == 0 or b_ids.size == 0:
            return pa.table(
                {
                    "vec_a": pa.array([], type=pa.int64()),
                    "vec_b": pa.array([], type=pa.int64()),
                    "sim_raw": pa.array([], type=pa.float64()),
                }
            )
        a_mat = mat[a_mask]
        b_mat = mat[~a_mask]
        a_norms = np.sqrt((a_mat * a_mat).sum(axis=1))
        b_norms = np.sqrt((b_mat * b_mat).sum(axis=1))
        sims = (a_mat @ b_mat.T) / np.outer(a_norms, b_norms)
        mask = sims >= cutoff
        if upper_triangle:
            # Diagonal tile (ba == bb): A and B are the same block, so
            # every unordered pair appears in both orientations — keep
            # a < b. Off-diagonal tile: A and B are disjoint blocks and
            # each unordered pair appears exactly once, in whichever
            # orientation the blocks dictate — keep all, normalize to
            # (min, max) on output.
            if tbl.column("ba")[0].as_py() == tbl.column("bb")[0].as_py():
                mask &= a_ids[:, None] < b_ids[None, :]
                ai, bi = np.nonzero(mask)
                va, vb = a_ids[ai], b_ids[bi]
            else:
                ai, bi = np.nonzero(mask)
                va = np.minimum(a_ids[ai], b_ids[bi])
                vb = np.maximum(a_ids[ai], b_ids[bi])
        else:
            ai, bi = np.nonzero(mask)
            va, vb = a_ids[ai], b_ids[bi]
        return pa.table(
            {
                "vec_a": pa.array(va, type=pa.int64()),
                "vec_b": pa.array(vb, type=pa.int64()),
                "sim_raw": pa.array(sims[ai, bi], type=pa.float64()),
            }
        )

    raw = a_side.unionByName(b_side).groupBy("ba", "bb").applyInArrow(
        tile_gemm, "vec_a long, vec_b long, sim_raw double"
    )
    return raw.select(
        "vec_a", "vec_b", F.round(F.col("sim_raw"), 4).alias("sim")
    ).filter(F.col("sim") >= threshold)
