"""IVF (inverted-file) approximate nearest neighbor — the bucketed scale
path for similarity search. Not in the reference (whose only access path
is the RP forest); included per the similarity-search inventory, and
designed to be fully DETERMINISTIC so the DuckDB oracle can verify it
value-for-value (unlike the seeded-random RP forest, which is checked by
recall instead).

Coarse quantizer: every ``stride``-th vector by id is a centroid (a
deterministic farthest-thing-from-random that both engines reproduce
trivially); each vector is assigned to its nearest centroid (ties →
smaller centroid id). A query probes its ``nprobe`` nearest cells and
re-ranks exactly within them.

Scale shape: |C| ≈ √N centroids broadcast to assign cells map-side; the
probe turns the quadratic scan into a join on cell id over ~nprobe/|C|
of the corpus. Cell assignment is persistable (bucketed by cell) so
repeated queries skip the assignment job entirely.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window

from ..functions.vector import sq_euc_dist

__all__ = ["attach_cell", "ivf_assign", "ivf_search"]


def _centroids(emb: DataFrame, stride: int, id_col: str, vec_col: str) -> DataFrame:
    return emb.filter(F.col(id_col) % stride == 0).select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("cv")
    )


def _nearest_cells(
    points: DataFrame, cents: DataFrame, n: int, pid: str, pvec: str
) -> DataFrame:
    """n nearest centroids per point; deterministic (dist, c_id) order."""
    scored = points.crossJoin(F.broadcast(cents)).select(
        F.col(pid),
        F.col("c_id"),
        sq_euc_dist(pvec, "cv").alias("cdist"),
    )
    w = Window.partitionBy(pid).orderBy(F.col("cdist").asc(), F.col("c_id").asc())
    return (
        scored.withColumn("crn", F.row_number().over(w))
        .filter(F.col("crn") <= n)
        .select(pid, "c_id")
    )


def attach_cell(
    points: DataFrame, cents: DataFrame, pvec: str, out_col: str = "cell"
) -> DataFrame:
    """``points`` + a nearest-centroid id column, computed as a PER-ROW
    FOLD over the broadcast centroid array — zero exchange, zero sort
    (r16, guide §2.4/§1.2). All other columns pass through, so callers
    attach the cell inside their existing row pass instead of paying an
    assign-table join back to the payload.

    The previous ``_nearest_cells(n=1)`` shape exploded N·|C| scored
    rows through a row_number window (exchange + sort of the whole
    cross product); a min(struct) aggregate still fell to SortAggregate
    (struct buffers are not hash-aggregable), keeping the sort. Here
    each point scans the c_id-SORTED centroid list with a left fold
    keeping the first strict improvement, so ties resolve to the
    smaller c_id — selection identical to the window's
    (cdist ASC, c_id ASC) order, and the distances are the same
    ``sq_euc_dist`` expression on the same float bits. The centroid
    array rides a 1-row broadcast (|C| ≈ √N by construction — the same
    driver/executor footprint the broadcast join already paid).

    NULL distances: the fold never updates on one (``x.d < acc.d`` is
    NULL, so ``when`` keeps the accumulator), while ``_nearest_cells``'
    window orders ``cdist ASC``, which puts NULLS FIRST. Where only some
    of a point's distances are NULL (a centroid with null components,
    or a length mismatch that ``zip_with`` pads with NULLs), the two
    paths therefore pick different cells: the window a NULL-distance
    centroid, this fold the nearest non-NULL one. A point with null
    components is NULL against every centroid, and both keep the
    smallest c_id. Nothing here guards the inputs (ROADMAP item 6)."""
    carr = cents.agg(
        F.array_sort(F.collect_list(F.struct("c_id", "cv"))).alias("_cs")
    )
    scored_arr = F.transform(
        F.col("_cs"),
        lambda e: F.struct(
            sq_euc_dist(F.col(pvec), e["cv"]).alias("d"),
            e["c_id"].alias("c_id"),
        ),
    )
    # init carries the FIRST centroid's c_id (null-safe under ANSI via
    # F.get) so the fold preserves the caller's c_id type exactly; its
    # +inf distance guarantees element 1 still wins the first compare,
    # and an empty centroid list folds to a null c_id (filtered below).
    init = F.struct(
        F.lit(float("inf")).alias("d"),
        F.get(F.col("_cs"), 0)["c_id"].alias("c_id"),
    )
    best = F.aggregate(
        scored_arr, init, lambda acc, x: F.when(x["d"] < acc["d"], x).otherwise(acc)
    )
    return (
        points.crossJoin(F.broadcast(carr))
        .withColumn(out_col, best["c_id"])
        # empty centroid set: fold returns the init (null c_id) — drop,
        # matching the join form's empty output
        .filter(F.col(out_col).isNotNull())
        .drop("_cs")
    )


def _argmin_cell(points: DataFrame, cents: DataFrame, pid: str, pvec: str) -> DataFrame:
    """(pid, c_id) nearest-centroid view of ``attach_cell`` — the
    drop-in for the old ``_nearest_cells(..., 1, ...)`` call shape."""
    return attach_cell(
        points.select(F.col(pid), F.col(pvec)), cents, pvec, out_col="c_id"
    ).select(pid, "c_id")


def ivf_assign(
    emb: DataFrame,
    stride: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cell assignment: (vec_id, cell). One broadcast + per-row argmin fold."""
    cents = _centroids(emb, stride, id_col, vec_col)
    points = emb.select(F.col(id_col), F.col(vec_col))
    return _argmin_cell(points, cents, id_col, vec_col).withColumnRenamed(
        "c_id", "cell"
    )


def ivf_search(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    stride: int = 20,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF top-k: probe the ``nprobe`` nearest cells, re-rank exactly.
    Returns (query_id, vec_id, dist, rnk).

    r16 shape (guide §8 "move big rows once"): the cell rides the
    corpus scan as a per-row fold column (``attach_cell``), the probe
    list joins broadcast, and the exact distance is computed AT THE
    SCAN against the broadcast queries — the vector payload never
    crosses an exchange (previously: assign-table window exchange +
    a vec_id sort-merge join that shuffled the full payload + a
    distinct over candidate pairs that was provably a no-op: one cell
    per vector × unique (query, cell) probes ⇒ unique pairs). Only
    slim (query_id, vec_id, dist) rows reach the top-k window."""
    cents = _centroids(emb, stride, id_col, vec_col)
    qcells = _nearest_cells(queries, cents, nprobe, "query_id", "query_vec").select(
        "query_id", F.col("c_id").alias("cell")
    )
    vecs_cells = attach_cell(
        emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")),
        cents,
        "v",
    )
    scored = (
        vecs_cells.join(F.broadcast(qcells), "cell")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id", sq_euc_dist("query_vec", "v").alias("dist"))
    )
    if exclude_self:
        scored = scored.filter(F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )
