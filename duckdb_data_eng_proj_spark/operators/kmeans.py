"""Cosine-centroid k-means primitives: the Spark plan and its DuckDB
SQL twin, side by side.

Every k-means / IVF-maintenance op (ml_kmeans_*, sim_ann_index_drift,
sim_ann_ivf_admit, sim_ann_ivf_repair, sim_ann_ivf_rebalance) is
trusted because its Spark plan and its oracle agree bit for bit. The
two halves of each primitive live here together so that agreement is
kept in one place:

- corpus: ``normed`` / ``normed_cte`` — the fixed-dim contract (r17
  hostile-vintage sweep): the update step's per-dim fold hardcodes
  ``range(DIM)``, an off-width vector NULLs the oracle's missing dims
  while Spark's posexplode just drops them, so off-contract vectors
  are excluded from clustering on BOTH engines (the IVF/PQ rule).
- seeds: ``seeds`` / ``seeds_cte`` take ONE SQL predicate string, so
  the seed set is the same text on both engines.
- assign: ``assign`` / ``assign_cte`` — argmax cosine, ties to the
  smaller cid (``(cos DESC, cid)``). Zero norms are excluded on BOTH
  sides (r16/r17): a zero CENTROID makes every cosine NaN and the
  engines break the NaN tie differently (DuckDB's ORDER BY cos DESC
  sorts NaN first, Spark's struct array_min picks the best finite); a
  zero VECTOR divides by zero, which Spark's ANSI mode raises on.
- update: ``update`` / ``update_ctes`` — per-(cid, dim) sorted-fold
  means (``sorted_fold_mean`` / ``mean_sql``): collect the group's
  values, sort, fold sequentially — partition-order independent and
  bit-identical in both engines, so later iterations (functions of
  earlier float means) still match exactly.

Scale shape: assignment is a map-side argmax over k centroids packed
into one broadcast row (zero corpus shuffle); the update's only
shuffles are the (cid, pos) mean aggregate, bounded by k x dim, and
the per-cid array rebuild.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from duckdb_data_eng_proj_spark.operators.vectors import (
    dot_sql,
    norm,
    pack_centroids,
    scored_centroids,
)

DIM = 64  # the fixed embedding width the update folds range over

# ---------------------------------------------------------------------------
# Spark side


def normed(e: DataFrame, dim: int) -> DataFrame:
    """(vec_id, embedding, nrm) over the ``dim``-wide vectors of ``e``."""
    return e.filter(F.size("embedding") == dim).select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )


def seeds(en: DataFrame, where: str) -> DataFrame:
    """Seed centroids (cid, c_emb, c_nrm): the ``where`` rows of a
    ``normed`` corpus, each its own centroid."""
    return en.filter(where).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )


def assign(src: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cid): each nonzero ``src`` vector's argmax-cosine
    centroid among the nonzero centroids of ``cent``.

    Map-side argmax: the k centroids packed into one broadcast row,
    per vector a HOF array_min over (neg_cos, cid) — zero shuffle of
    the corpus (vs a crossJoin-expand + row_number window, which
    shuffles k x the corpus; VERDICT r1 #2)."""
    packed = pack_centroids(
        cent.filter(F.col("c_nrm") > 0), cid="cid", emb="c_emb", nrm="c_nrm"
    )
    best = F.array_min(
        scored_centroids(F.col("_cents"), F.col("embedding"), F.col("nrm"))
    )
    return (
        src.filter(F.col("nrm") > 0)
        .crossJoin(F.broadcast(packed))
        .select("vec_id", best["cid"].alias("cid"))
    )


def sorted_fold_mean(col: Column) -> Column:
    """Group mean of ``col`` in DOUBLE, summed over the SORTED values
    with a 0.0 seed — the same order ``mean_sql`` folds in."""
    sorted_sum = F.aggregate(
        F.sort_array(F.collect_list(col.cast("double"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return sorted_sum / F.count("*")


def update(e: DataFrame, assigned: DataFrame) -> DataFrame:
    """One Lloyd update: (cid, c_emb, c_nrm) with c_emb the per-dim
    sorted-fold mean of the ``e`` vectors ``assigned`` to each cid."""
    exploded = assigned.join(e, "vec_id").select(
        "cid", F.posexplode(F.col("embedding")).alias("pos", "val")
    )
    means = exploded.groupBy("cid", "pos").agg(
        sorted_fold_mean(F.col("val")).alias("m")
    )
    cent = means.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("c_emb")
    )
    return cent.select("cid", "c_emb", norm(F.col("c_emb")).alias("c_nrm"))


# ---------------------------------------------------------------------------
# SQL side (DuckDB oracle). CTE ``e`` is the normed corpus.


def normed_cte(dim: int) -> str:
    return (
        "e AS (SELECT vec_id, embedding, "
        f"sqrt({dot_sql('embedding', 'embedding')}) AS nrm "
        f"FROM embeddings WHERE len(embedding) = {dim})"
    )


def seeds_cte(name: str, where: str) -> str:
    return (
        f"{name} AS (SELECT vec_id AS cid, embedding AS c_emb, nrm AS c_nrm "
        f"FROM e WHERE {where})"
    )


# cosine of vector row ``v`` against centroid row ``c``
COS_SQL = f"{dot_sql('v.embedding', 'c.c_emb')} / (v.nrm * c.c_nrm)"


def assign_cte(name: str, src: str, cent: str) -> str:
    return (
        f"{name} AS (SELECT vec_id, cid FROM ("
        f"SELECT v.vec_id, c.cid, row_number() OVER ("
        f"PARTITION BY v.vec_id ORDER BY {COS_SQL} DESC, c.cid) AS rn "
        f"FROM {src} v CROSS JOIN {cent} c "
        "WHERE v.nrm > 0 AND c.c_nrm > 0) WHERE rn = 1)"
    )


def mean_sql(v: str) -> str:
    """Aggregate twin of ``sorted_fold_mean`` over the group's ``v``."""
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_sort(list(CAST({v} AS DOUBLE)))), (x, y) -> x + y) "
        "/ COUNT(*)"
    )


def update_ctes(prefix: str, assign: str) -> str:
    """``{prefix}`` (cid, c_emb, c_nrm): the Lloyd update over the
    (vec_id, cid) rows of CTE ``assign``."""
    emb = "list(m ORDER BY pos)"
    return (
        f"{prefix}m AS (SELECT a.cid, t.i AS pos, "
        f"{mean_sql('e.embedding[i+1]')} AS m "
        f"FROM {assign} a JOIN e ON e.vec_id = a.vec_id, range({DIM}) t(i) "
        f"GROUP BY a.cid, t.i), "
        f"{prefix} AS (SELECT cid, {emb} AS c_emb, "
        f"sqrt({dot_sql(emb, emb)}) AS c_nrm "
        f"FROM {prefix}m GROUP BY cid)"
    )
