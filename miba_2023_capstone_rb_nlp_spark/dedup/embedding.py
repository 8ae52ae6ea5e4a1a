"""Embedding-cosine near-duplicate pairs: exact all-pairs baseline +
banded random-hyperplane LSH (with multi-probe bit-flips) as the
scale path.

Hyperplanes are derived deterministically from md5 (plane p, dim d →
weight in [-1, 1] with 1/1000 resolution), so buckets are identical
across engines/runs — no seeded RNG.

Execution strategy (scale rationale): exact all-pairs is O(n²) by
definition, so the job is to make the constant factor BLAS-grade and
the distribution shape block-parallel. Vectors are hashed into B
blocks; every unordered block pair (i,j) becomes one applyInPandas
group holding only blocks i and j (replication factor B per vector,
work (n/B)² per group — the standard distributed all-pairs layout).
Inside a group the cosine matrix is computed by the numpy kernels in
``functions.blas``, whose accumulation order is bit-identical to the
SQL oracle's list_sum fold. The LSH path computes banded hyperplane
signatures with the same kernels, then pairs only within matching
(band, bucket) cells — an OR-construction over bands, optionally
widened by margin-directed bit-flip probes.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from miba_2023_capstone_rb_nlp_spark.functions.blas import (
    cos_matrix,
    fixed_np,
    seq_dot_matrix,
    to_matrix,
)


def _pair_frame(
    ids_a: np.ndarray,
    ids_b: np.ndarray,
    cos: np.ndarray,
    threshold: float,
    same_block: bool,
) -> pd.DataFrame:
    """Mask a cosine matrix down to qualifying (va < vb) pairs."""
    with np.errstate(invalid="ignore"):
        mask = cos >= threshold
    if same_block:
        mask &= ids_a[:, None] < ids_b[None, :]
    ii, jj = np.nonzero(mask)
    va = ids_a[ii]
    vb = ids_b[jj]
    lo = np.minimum(va, vb)
    hi = np.maximum(va, vb)
    return pd.DataFrame({"va": lo, "vb": hi, "cos": cos[ii, jj]})


# Row cap for the exact all-pairs path: n² cosine evaluations and an
# n·n_blocks fan-out. 200k rows ≈ 2·10¹⁰ scored pairs — already the
# outer edge of what a cluster should spend on an exact baseline; a
# 100 TB corpus through this function is a misuse the guard converts
# from an eventual cluster melt into an immediate, named error.
DEFAULT_MAX_ALLPAIRS_ROWS = 200_000


def cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.45,
    scale: int = 6,
    n_blocks: int = 8,
    max_rows: int | None = DEFAULT_MAX_ALLPAIRS_ROWS,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold → [va, vb, cos].

    O(n²) — correctness baseline and small-n path; use
    hyperplane_lsh_pairs at scale. Block-pair applyInPandas layout:
    pair (a,b) with blocks (x,y) is produced exactly once, by group
    (min(x,y), max(x,y)) — same-block pairs only by the diagonal
    group, cross-block pairs only by their one off-diagonal group.
    ``n_blocks`` scales with corpus size (group work is (n/B)²).

    ``max_rows`` makes the small-n contract executable (same pattern
    as the kNN query-side guard): ``limit(max_rows+1)`` bounds the
    count scan — vectors are never read for the check, only ids —
    and the fan-out refuses to build above the cap. ``None`` opts
    out for deployments that have sized the cluster for exact n².
    """
    if max_rows is not None:
        over = df.select(F.col(id_col)).limit(max_rows + 1).count()
        if over > max_rows:
            raise ValueError(
                f"cosine_pairs: input exceeds max_rows={max_rows:,}; "
                "the exact all-pairs path scores n² cosines and is "
                "the small-n correctness baseline. Use "
                "hyperplane_lsh_pairs (banded multi-probe LSH) for "
                "candidate generation at this scale, or pass "
                "max_rows=None if exact n² is truly intended."
            )
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("_blk"),
    )
    fan = (
        base.withColumn(
            "_ob", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
        )
        .withColumn("_gi", F.least("_blk", "_ob"))
        .withColumn("_gj", F.greatest("_blk", "_ob"))
    )

    def emit(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        gi, gj = key
        if gi == gj:
            ids = pdf["_id"].to_numpy()
            mat = to_matrix(pdf["_v"], dim)
            cos = fixed_np(cos_matrix(mat, mat), scale)
            return _pair_frame(ids, ids, cos, threshold, same_block=True)
        a = pdf[pdf["_blk"] == gi]
        b = pdf[pdf["_blk"] == gj]
        ids_a = a["_id"].to_numpy()
        ids_b = b["_id"].to_numpy()
        cos = fixed_np(
            cos_matrix(to_matrix(a["_v"], dim), to_matrix(b["_v"], dim)),
            scale,
        )
        return _pair_frame(ids_a, ids_b, cos, threshold, same_block=False)

    return fan.groupBy("_gi", "_gj").applyInPandas(
        emit, schema="va bigint, vb bigint, cos double"
    )


def plane_weights(dim: int, n_planes: int = 16) -> np.ndarray:
    """(n_planes, dim) deterministic hyperplane weights:
    plane_p[d] = ((md5_60("p:d") mod 2001) - 1000) / 1000 ∈ [-1, 1] —
    identical formula in the SQL oracle, no RNG."""
    w = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dim):
            hx = hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:15]
            w[p, d] = ((int(hx, 16) % 2001) - 1000) / 1000.0
    return w


def hyperplane_entries(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    n_planes: int = 64,
    rows_per_band: int = 8,
    n_flips: int = 0,
) -> DataFrame:
    """Banded hyperplane signatures → narrow (band, bucket, _id,
    is_primary) entry rows, ``n_planes // rows_per_band`` bands per
    vector (the angular-similarity analog of MinHash banding: a pair
    is a candidate if ANY band matches — OR-construction recall
    1-(1-p^b)^L for per-bit agreement p).

    ``n_flips`` adds multi-probe entries per band: the probe flips the
    k lowest-|margin| bits (the bits most likely to disagree for a
    true near-neighbor — query-directed probing à la Lv et al.,
    multi-probe LSH), each flip emitted as a non-primary entry. The
    entry stream is narrow (no vector payload), so probing multiplies
    a small shuffle, not the vector bytes.
    """
    if n_planes % rows_per_band != 0:
        # a remainder would silently drop computed signature bits and
        # change the recall the caller (and the oracle) reasoned about
        raise ValueError(
            f"n_planes ({n_planes}) must be a multiple of "
            f"rows_per_band ({rows_per_band})"
        )
    n_bands = n_planes // rows_per_band
    weights = plane_weights(dim, n_planes)
    powers = (1 << np.arange(rows_per_band, dtype=np.int64))

    def emit(batches):
        for pdf in batches:
            mat = to_matrix(pdf["_v"], dim)
            dots = seq_dot_matrix(mat, weights)
            ids = pdf["_id"].to_numpy()
            out_id, out_band, out_bucket, out_prim = [], [], [], []
            for band in range(n_bands):
                lo = band * rows_per_band
                seg = dots[:, lo : lo + rows_per_band]
                bits = seg >= 0.0
                buckets = (bits * powers).sum(axis=1)
                out_id.append(ids)
                out_band.append(np.full(len(ids), band, dtype=np.int32))
                out_bucket.append(buckets)
                out_prim.append(np.ones(len(ids), dtype=bool))
                if n_flips > 0:
                    order = np.argsort(np.abs(seg), axis=1)
                    for k in range(min(n_flips, rows_per_band)):
                        flipped = buckets ^ powers[order[:, k]]
                        out_id.append(ids)
                        out_band.append(
                            np.full(len(ids), band, dtype=np.int32)
                        )
                        out_bucket.append(flipped)
                        out_prim.append(np.zeros(len(ids), dtype=bool))
            yield pd.DataFrame(
                {
                    "_id": np.concatenate(out_id),
                    "band": np.concatenate(out_band),
                    "bucket": np.concatenate(out_bucket),
                    "is_primary": np.concatenate(out_prim),
                }
            )

    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    return base.mapInPandas(
        emit, schema="_id bigint, band int, bucket bigint, is_primary boolean"
    )


def hyperplane_candidates(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    n_planes: int = 64,
    rows_per_band: int = 8,
    n_flips: int = 0,
) -> DataFrame:
    """Distinct candidate pairs [va < vb] from the banded entries.

    Join = all entries (primary + probes) × primary entries on
    (band, bucket): a probe-vs-primary collision in either direction
    lands here after least/greatest normalization; probe-vs-probe is
    deliberately excluded (standard multi-probe: the index stores
    primaries, queries probe). Both join children read the same
    entry scan (exchange reuse), and the distinct bounds downstream
    scoring at one row per unordered pair however many bands agree.
    """
    entries = hyperplane_entries(
        df, vec_col, id_col, dim, n_planes, rows_per_band, n_flips
    )
    a = entries.select("band", "bucket", F.col("_id").alias("ia"))
    # with no probe entries every row is primary, so the is_primary
    # filter is the identity — skipping it keeps the b-side subtree
    # canonical-equal to the a-side, and the (band, bucket) exchange
    # is REUSED at runtime: the signature MapInPandas pass over the
    # corpus runs ONCE instead of twice (r15; the filter's only effect
    # was defeating stage reuse)
    b_src = entries if n_flips == 0 else entries.filter(F.col("is_primary"))
    b = b_src.select("band", "bucket", F.col("_id").alias("ib"))
    return (
        a.hint("SHUFFLE_HASH")
        .join(b, on=["band", "bucket"])
        .filter(F.col("ia") != F.col("ib"))
        .select(
            F.least("ia", "ib").alias("va"),
            F.greatest("ia", "ib").alias("vb"),
        )
        .distinct()
    )


def hyperplane_lsh_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    n_planes: int = 64,
    rows_per_band: int = 8,
    n_flips: int = 0,
    threshold: float = 0.45,
    scale: int = 6,
) -> DataFrame:
    """Banded + multi-probe hyperplane LSH near-dup pairs: candidate
    generation via :func:`hyperplane_candidates`, then a vectorized
    cosine verification pass → [va, vb, cos] with cos ≥ threshold.

    Recall knob: (rows_per_band, n_planes, n_flips). Narrow bands /
    more bands / more flips ⇒ higher recall, more candidates — e.g.
    on the sf0.001 fixture (true pairs only cos 0.45-0.48, the hard
    case for angular LSH), rows_per_band=4 × 16 bands achieves recall
    1.0 at ~64% of the quadratic candidate budget, while
    rows_per_band=8 × 8 bands probes ~7% of the budget at partial
    recall (tests/test_lsh_recall.py measures both). On a real
    near-dup corpus (cos ≥ 0.9, per-bit agreement ≥ 0.9) the wide
    config's per-band hit rate is 0.9^8 ≈ 0.43 and 8 bands give
    recall ≥ 0.98 at a tiny candidate budget — banding pays off
    exactly where the scale path needs it.

    The candidate set is materialized id-only; vectors re-join for
    scoring (two hash joins on the id key), so the shuffled bytes are
    O(candidates + corpus), never O(candidates × dim × bands).
    """
    cand = hyperplane_candidates(
        df, vec_col, id_col, dim, n_planes, rows_per_band, n_flips
    )
    # AQE coalesces the tiny distinct-candidates exchange to ONE
    # partition, and the broadcast vector joins preserve it — so the
    # vectorized scoring pass below would run on a single core. Spread
    # the candidate rows (id pairs only — the vectors attach after)
    # across the cluster before the scoring chain; scale-adaptive via
    # defaultParallelism, same device as catalog.cpu_table (r15).
    cand = cand.repartition(df.sparkSession.sparkContext.defaultParallelism)
    vecs = df.select(F.col(id_col).alias("_jid"), F.col(vec_col).alias("_jv"))
    paired = (
        cand.join(vecs, cand["va"] == vecs["_jid"])
        .select("va", "vb", F.col("_jv").alias("_va_v"))
        .join(vecs, F.col("vb") == vecs["_jid"])
        .select("va", "vb", "_va_v", F.col("_jv").alias("_vb_v"))
    )

    def score(batches):
        for pdf in batches:
            va = to_matrix(pdf["_va_v"], dim)
            vb = to_matrix(pdf["_vb_v"], dim)
            # per-row (not outer) sequential-fold dot + norms
            dot = np.zeros(len(pdf), dtype=np.float64)
            na = np.zeros(len(pdf), dtype=np.float64)
            nb = np.zeros(len(pdf), dtype=np.float64)
            for d in range(dim):
                dot += va[:, d] * vb[:, d]
                na += va[:, d] * va[:, d]
                nb += vb[:, d] * vb[:, d]
            denom = np.sqrt(na) * np.sqrt(nb)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = fixed_np(dot / denom, scale)
            cos[denom == 0.0] = np.nan
            with np.errstate(invalid="ignore"):
                keep = cos >= threshold
            yield pd.DataFrame(
                {
                    "va": pdf["va"].to_numpy()[keep],
                    "vb": pdf["vb"].to_numpy()[keep],
                    "cos": cos[keep],
                }
            )

    return paired.mapInPandas(score, schema="va bigint, vb bigint, cos double")
