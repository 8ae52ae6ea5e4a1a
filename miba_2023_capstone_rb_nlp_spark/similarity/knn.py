"""k-nearest-neighbor search over an ``array<float>`` embedding column.

Brute force: the (small, bounded) query set is collected and broadcast
to every corpus partition; each Arrow batch scores corpus×queries with
the numpy kernels in ``functions.blas`` and emits only its *local*
top-k per query (a combiner: the global top-k is a subset of the union
of per-batch top-ks), so the shuffle carries n_batches×q×k rows instead
of n×q. A final window reduces to the global top-k. At 100 TB the
corpus side stays partitioned; only queries move.

IVF variant: restrict the scan to the query's cell (here: a
precomputed cell id column, e.g. a KMeans assignment) — candidates
drop by ~n_cells× at the cost of recall on cell borders; multi-probe
= join on array of nearest cells. Each cell is one applyInPandas
group, and ranking completes inside the group (a query belongs to
exactly one cell), so no second shuffle is needed.

Accumulation order inside the kernels is bit-identical to the
dim-expanded expression chain / SQL list_sum fold (see blas.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from miba_2023_capstone_rb_nlp_spark.functions.blas import (
    cos_matrix,
    fixed_np,
    to_matrix,
)

# The query side of every kNN variant is collected to the driver and
# shipped inside the UDF closure — i.e. it is the broadcast side of the
# join. This bound makes that contract EXECUTABLE instead of advisory:
# a mis-sized query set fails fast with a clear error instead of
# OOM-ing the driver at 100× scale. ~10⁵ rows × (id + dim floats) is
# comfortably inside a broadcast-table budget; override per call when
# the deployment's driver memory justifies it.
DEFAULT_MAX_QUERY_ROWS = 100_000

# Cosine scores are floored to 6 decimals before ranking, so ties and
# the oracles' ``floor(cos * 1e6) / 1e6`` agree bit for bit.
COS_SCALE = 6


def _collect_queries(
    queries: DataFrame, cols: list, max_query_rows: int | None, caller: str
) -> pd.DataFrame:
    """Driver boundary for the query side, guarded. ``limit(bound+1)``
    keeps the check inside the SAME job as the collect (no extra scan):
    one overflow row is enough to prove the contract violation."""
    if max_query_rows is None:
        return queries.select(*cols).toPandas()
    qpd = queries.select(*cols).limit(max_query_rows + 1).toPandas()
    if len(qpd) > max_query_rows:
        raise ValueError(
            f"{caller}: query side exceeds max_query_rows="
            f"{max_query_rows}; it is collected to the driver and "
            "broadcast to every corpus partition. Swap the roles "
            "(corpus stays distributed), pre-filter the queries, or "
            "raise max_query_rows explicitly if driver memory allows."
        )
    return qpd


def _topk_frame(
    qids: np.ndarray,
    nids: np.ndarray,
    cos: np.ndarray,
    k: int,
    with_rank: bool = False,
) -> pd.DataFrame:
    """Per-query top-k of a (nq, nc) quantized cosine matrix, ranked by
    (cos desc, neighbor_id asc); self-pairs must be pre-masked to NaN.
    NaN scores sort last and are dropped."""
    out = []
    for qi in range(len(qids)):
        row = cos[qi]
        valid = ~np.isnan(row)
        if not valid.any():
            continue
        idx = np.nonzero(valid)[0]
        order = np.lexsort((nids[idx], -row[idx]))[:k]
        sel = idx[order]
        frame = {
            "query_id": np.full(len(sel), qids[qi]),
            "neighbor_id": nids[sel],
            "cos": row[sel],
        }
        if with_rank:
            frame["rk"] = np.arange(1, len(sel) + 1, dtype=np.int32)
        out.append(pd.DataFrame(frame))
    cols = ["query_id", "neighbor_id", "cos"] + (["rk"] if with_rank else [])
    if not out:
        return pd.DataFrame({c: [] for c in cols})
    return pd.concat(out, ignore_index=True)


def _scan_topk(
    corpus: DataFrame,
    qids: np.ndarray,
    qmat: np.ndarray,
    vec_col: str,
    id_col: str,
    dim: int,
    k: int,
    excluded,
) -> DataFrame:
    """→ [query_id, neighbor_id, cos, rk ≤ k] for the collected
    queries: one mapInPandas per-batch partial top-k (the combiner
    described above), then one (cos desc, neighbor_id asc) window.
    ``excluded(pdf, nids)`` is the batch's (nq, nc) mask of pairs to
    drop — each variant differs only in this mask."""

    def score(batches):
        for pdf in batches:
            nids = pdf[id_col].to_numpy()
            cos = fixed_np(
                cos_matrix(qmat, to_matrix(pdf[vec_col], dim)), COS_SCALE
            )
            cos[excluded(pdf, nids)] = np.nan
            yield _topk_frame(qids, nids, cos, k)

    partial = corpus.mapInPandas(
        score, schema="query_id bigint, neighbor_id bigint, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", "rk")
    )


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    k: int = 10,
    max_query_rows: int | None = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """→ [query_id, neighbor_id, cos, rk ≤ k] (self excluded).

    Deterministic: quantized cosine, ties broken by neighbor id.
    The query set is collected to the driver (bounded by the
    ``max_query_rows`` guard — it is the broadcast side) and shipped
    inside the mapInPandas closure; per-batch partial top-k bounds the
    shuffle.
    """
    qpd = _collect_queries(
        queries,
        [F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")],
        max_query_rows,
        "knn_bruteforce",
    )
    qids = qpd["qid"].to_numpy()
    return _scan_topk(
        corpus, qids, to_matrix(qpd["qv"], dim), vec_col, id_col, dim, k,
        lambda pdf, nids: qids[:, None] == nids[None, :],  # self
    )


def knn_ivf_cells(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    cell_col: str,
    dim: int,
    k: int = 10,
    max_query_rows: int | None = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """IVF-style: only score candidates in the query's cell.

    Corpus is semi-filtered to cells that actually host a query
    (partition pruning at scale), then each cell ranks its own
    queries' candidates in one applyInPandas pass.
    """
    qpd = _collect_queries(
        queries,
        [
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qv"),
            F.col(cell_col).alias("cell"),
        ],
        max_query_rows,
        "knn_ivf_cells",
    )
    by_cell: dict = {}
    for cell, grp in qpd.groupby("cell"):
        by_cell[int(cell)] = (grp["qid"].to_numpy(), to_matrix(grp["qv"], dim))
    cells = sorted(by_cell)

    def emit(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(key[0])
        qids, qmat = by_cell[cell]
        nids = pdf[id_col].to_numpy()
        cos = fixed_np(
            cos_matrix(qmat, to_matrix(pdf[vec_col], dim)), COS_SCALE
        )
        cos[qids[:, None] == nids[None, :]] = np.nan
        out = _topk_frame(qids, nids, cos, k, with_rank=True)
        out.insert(1, "cell", np.full(len(out), cell))
        return out

    return (
        corpus.filter(F.col(cell_col).isin(cells))
        .groupBy(F.col(cell_col))
        .applyInPandas(
            emit,
            schema=(
                "query_id bigint, cell int, neighbor_id bigint, "
                "cos double, rk int"
            ),
        )
    )


def knn_ivf_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    cell_col: str,
    dim: int,
    k: int = 10,
    nprobe: int = 2,
    max_query_rows: int | None = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """IVF with multi-probe: rank cells by query→centroid cosine and
    scan the top ``nprobe`` cells per query — the standard recall
    repair for cell-border misses (single-cell IVF loses neighbors
    that sit just across a Voronoi boundary).

    Centroids are computed as ONE Spark aggregation (quantized per
    dimension — the same expression the SQL oracle uses) and
    collected: the centroid table is n_cells rows regardless of corpus
    size. At 100 TB the corpus is laid out bucketed by cell, so
    probing reads ~nprobe/n_cells of the data (partition pruning);
    here the same effect is the isin() pushdown filter.

    Contract (same bound as knn_bruteforce, enforced by the
    ``max_query_rows`` guard): ``queries`` is the SMALL,
    driver-collectable side — it is toPandas'd and shipped inside the
    mapInPandas closure. Size the query set like a broadcast table
    (≲10⁵ rows); the corpus side never leaves the executors.
    """
    from miba_2023_capstone_rb_nlp_spark.operators.analytics import centroids

    cpd = centroids(corpus, vec_col, cell_col, dim).toPandas()
    cells = cpd[cell_col].to_numpy()
    cmat = np.stack([np.asarray(v, dtype=np.float64) for v in cpd["centroid"]])

    qpd = _collect_queries(
        queries,
        [F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")],
        max_query_rows,
        "knn_ivf_multiprobe",
    )
    qids = qpd["qid"].to_numpy()
    qmat = to_matrix(qpd["qv"], dim)

    # rank cells per query: cos desc, cell asc; NaN (zero-norm) last
    qc = fixed_np(cos_matrix(qmat, cmat), COS_SCALE)
    probe_cells = np.empty((len(qids), nprobe), dtype=cells.dtype)
    for qi in range(len(qids)):
        row = qc[qi]
        valid = np.nonzero(~np.isnan(row))[0]
        order = valid[np.lexsort((cells[valid], -row[valid]))][:nprobe]
        got = cells[order]
        probe_cells[qi, : len(got)] = got
        if len(got) < nprobe:  # fewer cells than nprobe
            probe_cells[qi, len(got):] = got[-1] if len(got) else -1

    probed = sorted({int(c) for c in probe_cells.ravel() if c != -1})

    def excluded(pdf, nids):
        ncells = pdf[cell_col].to_numpy()
        probed_here = (ncells[None, :, None] == probe_cells[:, None, :]).any(-1)
        return ~probed_here | (qids[:, None] == nids[None, :])

    return _scan_topk(
        corpus.filter(F.col(cell_col).isin(probed)),
        qids, qmat, vec_col, id_col, dim, k, excluded,
    )


# int8 quantization scale: embeddings here live in roughly [-2, 2],
# so floor(x*64) uses most of the int8 range; clamp guards outliers.
# The scale is part of the operator contract (the oracle mirrors it).
INT8_SCALE = 64.0


def quantize_int8(mat: np.ndarray) -> np.ndarray:
    """float64 (n,d) → int64 matrix of int8-range values:
    clamp(floor(x * 64), -127, 127). floor-then-clamp is exactly
    mirrorable in SQL; values stay exact in float64 before the cast."""
    return np.clip(np.floor(mat * INT8_SCALE), -127.0, 127.0).astype(np.int64)


def knn_int8_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    k: int = 10,
    n_candidates: int = 25,
    max_query_rows: int | None = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """Quantized candidate generation + exact re-rank — the memory-
    bound ANN scale path (a product-quantization-lite): candidates are
    ranked by the INTEGER dot product of int8-quantized vectors (4×
    smaller scan/cache footprint than float32; 16× vs float64), then
    only the global top-``n_candidates`` per query are re-scored with
    the exact float cosine and cut to top-``k``.

    → [query_id, neighbor_id, int_score, cos, rk ≤ k]

    Determinism is *stronger* than the float kernels: integer addition
    is associative, so the candidate scores are exact regardless of
    accumulation order — no fold-order contract needed (the re-rank
    cosine still uses the sequential-fold blas kernel + fixed-point
    quantization like knn_bruteforce). Candidate ties break on
    neighbor_id; per-batch partial top-n_candidates bounds the shuffle
    exactly as in knn_bruteforce (global top-c ⊆ union of per-batch
    top-cs under the same (score desc, id asc) key). At 100 TB the
    int8 corpus representation is the resident working set; the float
    vectors are touched only for ~q×n_candidates rows.
    """
    qpd = _collect_queries(
        queries,
        [F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")],
        max_query_rows,
        "knn_int8_rerank",
    )
    qids = qpd["qid"].to_numpy()
    qmat = to_matrix(qpd["qv"], dim)
    qint = quantize_int8(qmat)

    def score(batches):
        for pdf in batches:
            nids = pdf[id_col].to_numpy()
            cmat = to_matrix(pdf[vec_col], dim)
            cint = quantize_int8(cmat)
            iscore = qint @ cint.T  # exact int64, order-free
            rows = {"query_id": [], "neighbor_id": [], "int_score": [],
                    "cos": []}
            for qi in range(len(qids)):
                keep = nids != qids[qi]  # self-exclude
                if not keep.any():
                    continue
                cand_ids = nids[keep]
                cand_scores = iscore[qi][keep]
                # partial top-c by (int_score desc, neighbor_id asc)
                order = np.lexsort((cand_ids, -cand_scores))[:n_candidates]
                sel_ids = cand_ids[order]
                # exact cosine only for emitted candidates
                sel_mat = cmat[keep][order]
                cos = fixed_np(
                    cos_matrix(qmat[qi : qi + 1], sel_mat)[0], COS_SCALE
                )
                rows["query_id"].extend([qids[qi]] * len(order))
                rows["neighbor_id"].extend(sel_ids)
                rows["int_score"].extend(cand_scores[order])
                rows["cos"].extend(cos)
            yield pd.DataFrame(rows)

    partial = corpus.mapInPandas(
        score,
        schema="query_id bigint, neighbor_id bigint, int_score bigint,"
        " cos double",
    )
    w_int = Window.partitionBy("query_id").orderBy(
        F.col("int_score").desc(), F.col("neighbor_id").asc()
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rk_i", F.row_number().over(w_int))
        .filter(F.col("rk_i") <= n_candidates)
        .withColumn("rk", F.row_number().over(w_cos))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "int_score", "cos", "rk")
    )


def knn_hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    group_col: str,
    dim: int,
    k: int = 5,
    max_query_rows: int | None = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """→ [query_id, neighbor_id, cos, rk ≤ k]: for each query, the
    most-similar candidates from a DIFFERENT group — contrastive
    hard-negative mining (the negatives that sit closest to the
    decision boundary are the ones worth training on).

    Same scan as knn_bruteforce; the same-group mask replaces the
    self-mask — it subsumes it, since a vector shares its own group.

    NULL-group rows are dropped from BOTH sides before scoring: SQL's ``corpus.group <> query.group`` predicate is
    NULL (→ excluded) whenever either label is NULL, while a numpy
    equality mask would keep a None-vs-value pair — pre-filtering both
    sides makes the distributed path match the oracle exactly even if
    labels become nullable."""
    qpd = _collect_queries(
        queries.filter(F.col(group_col).isNotNull()),
        [
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qv"),
            F.col(group_col).alias("qg"),
        ],
        max_query_rows,
        "knn_hard_negatives",
    )
    qgrp = qpd["qg"].to_numpy()
    return _scan_topk(
        corpus.filter(F.col(group_col).isNotNull()),
        qpd["qid"].to_numpy(), to_matrix(qpd["qv"], dim),
        vec_col, id_col, dim, k,
        lambda pdf, nids: qgrp[:, None] == pdf[group_col].to_numpy()[None, :],
    )
