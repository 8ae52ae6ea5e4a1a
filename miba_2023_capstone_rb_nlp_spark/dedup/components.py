"""Connected components over the near-dup pair graph: turns pairwise
dedup output (exact / Jaccard / MinHash / SimHash candidates) into
duplicate GROUPS — the form a training-data pipeline actually
consumes (keep one canonical doc per component).

One algorithm: alternating large-star/small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14). It needs
O(log² n) rounds regardless of graph diameter, so adversarial chain
graphs converge as fast as the dense, shallow near-dup clusters (a
1000-node path takes 11 rounds).

Per-round DataFrames are localCheckpoint'ed so lineage stays O(1)
deep (no exponential re-execution under lazy eval); convergence is
detected by an edge-set signature. Checkpoints are lazy: every round
is immediately followed by the signature collect, so that action
materializes the checkpoint inside its own job instead of paying a
separate job per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components_star(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str,
    src: str,
    dst: str,
    max_iter: int = 25,
    canonical: bool = False,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    SoCC'14) → [id_col, component] with component = min reachable id.

    Each round maps the canonical edge set E (u < v, distinct) through
    large-star then small-star:

      large-star(u): m = min(N(u) ∪ {u}); emit (m, v) for v ∈ N(u),
                     v > u — strictly-larger neighbors re-attach to
                     the local minimum;
      small-star(a): over edges directed larger→smaller, S = smaller
                     neighbors of a, m = min(S); emit (m, a) and
                     (m, b) for b ∈ S∖{m}.

    The fixpoint is one star per component centered at its minimum,
    reached in O(log² n) rounds (11 for a 1000-node path). Both halves
    preserve the canonical u < v orientation, so convergence is
    detected by an exact set signature (count + sum of xxhash64) on
    the checkpointed edge set — one tiny job per round.
    """
    # ``canonical=True``: the caller guarantees edges are already
    # distinct with src < dst (true for every grouped pair generator —
    # jaccard/minhash/simhash emit one row per (da < db) group), so
    # the least/greatest rewrite is the identity and the initial
    # .distinct() would re-shuffle the ENTIRE edge set once for
    # nothing
    if canonical:
        e = edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v")
        ).localCheckpoint(eager=False)
    else:
        e = (
            edges.select(
                F.least(F.col(src), F.col(dst)).alias("u"),
                F.greatest(F.col(src), F.col(dst)).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )

    def signature(df: DataFrame) -> tuple:
        [row] = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: a long sum of 64-bit hashes overflows ANSI
            F.sum(F.xxhash64("u", "v").cast("decimal(20,0)")).alias("h"),
        ).collect()
        return (row["n"], row["h"])

    sig = signature(e)
    for _ in range(max_iter):
        sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        ls_min = sym.groupBy("u").agg(F.min("v").alias("mn"))
        large = (
            sym.join(ls_min, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.least("mn", "u").alias("u"),
                F.col("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over larger→smaller orientation (u < v canonical:
        # v is the larger endpoint, its smaller neighbors are the u's)
        ss_min = large.groupBy("v").agg(F.min("u").alias("mn"))
        center_edges = ss_min.select(F.col("mn").alias("u"), F.col("v"))
        member_edges = (
            large.join(ss_min, "v")
            .where(F.col("u") != F.col("mn"))
            .select(F.col("mn").alias("u"), F.col("u").alias("v"))
        )
        e = (
            center_edges.unionAll(member_edges)
            .distinct()
            .localCheckpoint(eager=False)
        )
        new_sig = signature(e)
        if new_sig == sig:
            comp = e.select(F.col("v").alias("_id"), F.col("u").alias("_lbl"))
            return (
                vertices.select(F.col(id_col))
                .join(comp, vertices[id_col] == comp["_id"], "left")
                .select(
                    F.col(id_col),
                    F.coalesce("_lbl", F.col(id_col)).alias("component"),
                )
            )
        sig = new_sig
    raise RuntimeError(
        f"connected_components_star: no fixpoint in {max_iter} rounds"
    )
