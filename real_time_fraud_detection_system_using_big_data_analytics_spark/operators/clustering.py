"""Distributed k-means over the embeddings table (north-star similarity
family): deterministic seeded Lloyd iterations, DuckDB-oracle-checked.

MLlib's KMeans is rows-only-checkable (random init, engine-private
tie-breaks); this formulation pins every source of nondeterminism so the
whole iterative algorithm is value-checked cross-engine:

- init = the K lowest vec_ids' embeddings (no RNG);
- assignment = argmin over squared L2 with ties broken by centroid id
  (array_min over (dist, cid) structs — lexicographic, deterministic);
- after each mean-recompute the centroid coordinates are quantized to 6
  decimals on both sides with the signed-safe q()/q_sql formula
  (FLOOR(x*1e6 + 0.5)/1e6 — identical IEEE double ops in both engines,
  deterministic for negative coordinates too, unlike engine ROUND whose
  half-up-vs-half-even tie modes differ), so iteration N+1 starts from
  bit-identical centroids in both engines (unrounded means differ in the
  last float bits because summation order differs — quantization is the
  same trick the rank-score rounding uses, applied to the iterative
  state).

Scale posture: classic Spark k-means shape — centroids are K×dim (tiny,
always driver-safe) and broadcast into a single in-row argmin expression,
so assignment is map-only over the vector table; the mean recompute is one
(cluster, dim) partial aggregate after a posexplode. Per iteration: one
shuffle of (K × dim) partial sums, nothing else. The vector table is
scanned once per iteration with no self-join anywhere.
"""

from __future__ import annotations

import functools
import tempfile

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import q, q_sql
from ..plans.registry import register
from ..session import scratch_root
from ..sources.tables import fan_out, load_tables

K = 8
ITERATIONS = 2
_CROUND = 6  # centroid quantization decimals (cross-engine state sync)


def _fold_dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — verified BITWISE-equal to DuckDB's
    list_dot_product (both accumulate left-to-right in IEEE doubles; 0
    mismatches over sampled vectors), which is what lets the distance
    expression below match the oracle exactly rather than to within ulps."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _seq_dot(a: list[float], b: list[float]) -> float:
    """Driver-side twin of :func:`_fold_dot` (same left-to-right IEEE
    accumulation), used to pre-fold the centroid self-dots."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _candidates(centroids: list[list[float]]) -> Column:
    """Array of (dist, cid) structs, one per centroid, over the ``e``
    column. The K×dim centroid matrix enters the plan as ONE flat numpy
    array literal — a single Literal node (PySpark turns a 1-D ndarray
    into one typed literal, unlike a nested python list which becomes
    K×dim CreateArray nodes). Measured consequences at sf0.1, local[32]:

    - analysis of this tree is ~0.16 s vs ~0.34 s for the nested-literal
      form (the thing that previously dominated the query's wall time);
    - the generated code references the array object instead of inlining
      constants, so every Lloyd iteration's plan compiles to the SAME
      source and hits the codegen cache even though the literal values
      changed;
    - a 1-row broadcast-DataFrame alternative has cheaper analysis
      (~0.08 s) but pays ~0.25 s of broadcast-exchange overhead on EVERY
      job — strictly worse at any scale where the driver already holds
      the centroids.

    Per-centroid rows are recovered with F.slice.

    The distance is the dot-identity e·e − 2·e·c + c·c — the SAME formula
    and operation order the oracle's _assign_sql uses — built from
    sequential-fold dots that are bitwise-equal to DuckDB's
    list_dot_product. Distances therefore match the oracle EXACTLY, so
    cell assignment and probe-cell ORDERING (which nprobe>1 and the
    recall query depend on) cannot diverge cross-engine even for
    near-equidistant centroids; the earlier fold-of-squared-differences
    form agreed only to within ulps. The centroid self-dots c·c are
    pre-folded driver-side (same IEEE accumulation) into one more flat
    literal."""
    k, dim = len(centroids), len(centroids[0])
    flat = F.lit(np.array([v for c in centroids for v in c], dtype=np.float64))
    cc = F.lit(np.array([_seq_dot(c, c) for c in centroids], dtype=np.float64))
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.struct(
            (
                _fold_dot(F.col("e"), F.col("e"))
                - 2 * _fold_dot(F.col("e"), F.slice(flat, i * dim + 1, dim))
                + F.element_at(cc, i + 1)
            ).alias("d"),
            i.alias("cid"),
        ),
    )


def with_assignment(
    df: DataFrame, centroids: list[list[float]], keep: tuple[str, ...] | None = None
) -> DataFrame:
    """Attach ``best`` = (dist, cid) of the nearest centroid (argmin with
    distance ties broken by centroid id, exactly array_min's (d, cid)
    struct order). Since r14 this runs as an Arrow kernel
    (functions/arrowvec.assign_cells) instead of the interpreted
    `_candidates` fold expression: the K-way dot-identity distances are
    numerically IDENTICAL (per-dimension left-to-right fold, see the
    arrowvec module docstring and the A/B pin in tests) but vectorized
    over rows — the expression form evaluated ~2K+1 interpreted 64-step
    lambda folds per row, the single most expensive expression in every
    IVF plan (SPARKWALL r13: nprobe2 ratio 3.86). Still map-only: no join,
    no shuffle. ``keep`` bounds the columns that cross the Arrow boundary
    back (the node is opaque to column pruning, guide §4.1)."""
    from ..functions.arrowvec import assign_cells

    return assign_cells(df, centroids, vec_col="e", keep=keep)


def _prepare_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e=double[]) fanned out and persisted — the working set every
    Lloyd pass re-reads."""
    base = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    return fan_out(base).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    ).persist()


def fit_centroids(vecs: DataFrame) -> list[list[float]]:
    """Deterministic Lloyd fit; returns the K quantized centroids. The
    IVF build step (ann_ivf_kmeans) calls this directly — clustering IS
    the coarse quantizer."""
    # seed quantization happens in Spark SQL with the signed-safe q()
    # formula (identical floor expression in the oracle — engine ROUND has
    # divergent tie modes, Python rounds banker-style; q avoids all three)
    seeds = (
        vecs.orderBy("vec_id")
        .limit(K)
        .select(F.transform("e", lambda x: q(x, _CROUND)).alias("c"))
        .collect()
    )
    centroids = [list(r["c"]) for r in seeds]

    for _ in range(ITERATIONS):
        # MEASURED REVERT (r14): the Lloyd fit keeps the `_candidates`
        # EXPRESSION assignment — the fit is collect/job-overhead bound
        # (K=8, bounded iteration count), and the Arrow kernel's per-stage
        # Python round trips made the fit SLOWER at both sf0.1 and sf1
        # (kmeans total 1.42 -> 1.84 s sf0.1, 1.69 -> 1.95 s sf1, A/B'd
        # in-session). The kernel wins where N x K work dominates — the
        # probes and corpus encodes, which use it.
        assigned = vecs.withColumn(
            "best", F.array_min(_candidates(centroids))
        ).select("vec_id", "e", F.col("best.cid").alias("cid"))
        # mean per (cluster, dim): one partial-aggregated shuffle of K×dim
        # sums (an A/B against 64 per-dim avg(element_at) aggregates showed
        # the explode form ~1.5× faster here — the wide-agg buffer loses)
        means = (
            assigned.select("cid", F.posexplode("e").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cid")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
            )
            .select("cid", F.transform("pm", lambda s: q(s["m"], _CROUND)).alias("c"))
            .orderBy("cid")
            .collect()
        )
        new_centroids = {r["cid"]: list(r["c"]) for r in means}
        # clusters that lost every point keep their previous centroid
        centroids = [new_centroids.get(cid, centroids[cid]) for cid in range(K)]
    return centroids


@functools.cache
def fitted_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """The fitted coarse quantizer for ``sf_dir``, built once per
    (session, sf_dir).

    An IVF index separates BUILD (k-means fit — expensive, once) from
    PROBE (per-query cell lookup — cheap, many). The probe queries reuse
    the fitted centroids exactly as a production vector store reuses its
    trained quantizer across every search; re-fitting per query would
    misstate the economics of the structure. Deterministic fit + quantized
    state means the cache holds bit-identical values to a fresh fit, so
    oracle results are unaffected. ``cluster_kmeans_embeddings`` remains
    UNCACHED — measuring the fit is that query's whole point."""
    vecs = _prepare_vecs(spark, sf_dir)
    centroids = fit_centroids(vecs)
    vecs.unpersist()
    return centroids


def _kmeans_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _prepare_vecs(spark, sf_dir)
    centroids = fit_centroids(vecs)
    # expression assignment, same measured-revert rationale as the fit loop
    final = vecs.withColumn("best", F.array_min(_candidates(centroids))).select(
        "vec_id", F.col("best.d").alias("d"), F.col("best.cid").alias("cid")
    )
    out = final.groupBy("cid").agg(
        F.count("*").alias("n_points"),
        q(F.avg("d")).alias("avg_sq_dist"),
    )
    vecs.unpersist()
    return out.select(F.col("cid").cast("bigint").alias("cluster_id"), "n_points", "avg_sq_dist")


def _assign_sql(cent: str, this: str, src: str = "vecs") -> str:
        return f"""
    {this} AS (
      SELECT v.vec_id, v.e, v.cid, v.dist FROM (
        SELECT v.vec_id, v.e, c.cid,
               list_dot_product(v.e, v.e) - 2 * list_dot_product(v.e, c.cvec)
                 + list_dot_product(c.cvec, c.cvec) AS dist,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_dot_product(v.e, v.e) - 2 * list_dot_product(v.e, c.cvec)
                   + list_dot_product(c.cvec, c.cvec), c.cid) AS rn
        FROM {src} v CROSS JOIN {cent} c
      ) AS v(vec_id, e, cid, dist, rn) WHERE rn = 1
    )"""


def _recompute_sql(assigned: str, prev: str, this: str) -> str:
        return f"""
    {this}_m AS (
      -- dim-agnostic: the series bound is derived from the data, so an
      -- embedding-width drift in the testdata surfaces as a clean length
      -- change, not a silently-truncated mean
      SELECT a.cid, i.i AS pos, {q_sql(f"AVG(a.e[i.i])", _CROUND)} AS m
      FROM {assigned} a CROSS JOIN (
        SELECT unnest(generate_series(1, (SELECT MAX(len(e)) FROM vecs))) AS i
      ) i
      GROUP BY a.cid, i.i
    ),
    {this}_new AS (
      SELECT cid, list(m ORDER BY pos) AS cvec FROM {this}_m GROUP BY cid
    ),
    {this} AS (
      SELECT p.cid, COALESCE(n.cvec, p.cvec) AS cvec
      FROM {prev} p LEFT JOIN {this}_new n ON n.cid = p.cid
    )"""


def centroid_chain_sql(where: str = "") -> tuple[str, str]:
    """(WITH-prefix building the fitted centroids, final centroid CTE name)
    — shared by the k-means oracle and the IVF-build oracle. ``where``
    restricts the FIT input (seeds + every Lloyd pass) — the incremental
    oracle fits on the base slice only (r13)."""
    sql = f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings {where}
    ),
    seeds AS (
      SELECT vec_id, e, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
      FROM vecs ORDER BY vec_id LIMIT {K}
    ),
    c0 AS (
      SELECT cid, list_transform(e, x -> {q_sql("x", _CROUND)}) AS cvec FROM seeds
    )"""
    cent = "c0"
    for it in range(ITERATIONS):
        sql += "," + _assign_sql(cent, f"a{it}")
        sql += "," + _recompute_sql(f"a{it}", cent, f"c{it + 1}")
        cent = f"c{it + 1}"
    return sql, cent


def _kmeans_oracle() -> str:
    """Same fixpoint in DuckDB SQL: iterative CTE chain (unrolled — the
    iteration count is a compile-time constant on both sides)."""
    sql, cent = centroid_chain_sql()
    sql += "," + _assign_sql(cent, "afinal")
    sql += f"""
    SELECT CAST(cid AS BIGINT) AS cluster_id,
           COUNT(*) AS n_points,
           {q_sql("AVG(dist)")} AS avg_sq_dist
    FROM afinal GROUP BY cid
    """
    return sql


@register("cluster_kmeans_embeddings", oracle=_kmeans_oracle())
def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed k-means (K=8, 2 Lloyd iterations) over the
    embedding corpus; returns per-cluster sizes and mean squared distance.
    See module docstring for the determinism contract and scale shape."""
    return _kmeans_spark(spark, sf_dir)


def _ivf_kmeans_oracle() -> str:
    """IVF probe oracle: the fitted centroid chain assigns every vector to
    its cell; each query (vec_id % 100 = 0) ranks by exact cosine within
    its own cell only (nprobe=1)."""
    from .similarity import _cosine_sql

    sql, cent = centroid_chain_sql()
    sql += "," + _assign_sql(cent, "cells")
    cos = _cosine_sql("q.embedding", "v.embedding")
    sql += f"""
    , scored AS (
      SELECT cq.vec_id AS q_id, cv.vec_id, cq.cid AS cell,
             {cos} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY cq.vec_id
                                ORDER BY {cos} DESC, cv.vec_id) AS rn
      FROM cells cq
      JOIN cells cv ON cv.cid = cq.cid AND cv.vec_id <> cq.vec_id
      JOIN embeddings q ON q.vec_id = cq.vec_id
      JOIN embeddings v ON v.vec_id = cv.vec_id
      WHERE cq.vec_id % 100 = 0
    )
    SELECT q_id, vec_id, CAST(cell AS BIGINT) AS cell,
           {q_sql("cosine")} AS cosine, rn
    FROM scored WHERE rn <= 3
    """
    return sql


def _ivf_corpus(spark: SparkSession, sf_dir: str, centroids: list[list[float]]) -> DataFrame:
    """(vec_id, embedding, e_norm, cell): the cell-assigned corpus every
    IVF probe shares. ONE definition — the probes structurally cannot
    drift from the build."""
    from .similarity import _norm

    base = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    return with_assignment(
        fan_out(base).select(
            "vec_id",
            "embedding",
            _norm("embedding").alias("e_norm"),
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        ),
        centroids,
        keep=("vec_id", "embedding", "e_norm"),
    ).select(
        "vec_id",
        "embedding",
        "e_norm",
        F.col("best.cid").cast("bigint").alias("cell"),
    )


def _collect_probe_queries(
    spark: SparkSession, sf_dir: str
) -> tuple[list[int], list[list[float]]]:
    """The standard %100 probe sample collected to the driver (broadcast-
    sized by the same argument that let the old plan broadcast it as a
    query relation — the driver already held it inside the broadcast)."""
    from ..functions.arrowvec import collect_query_vectors

    base = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    return collect_query_vectors(
        base.filter(F.col("vec_id") % 100 == 0), "vec_id", "embedding"
    )


def _kernel_probe_top3(
    index: DataFrame,
    q_ids: list[int],
    q_vecs: list[list[float]],
    q_cells: list[list[int]],
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Shared cell-probed exact-cosine top-3 (r14): ONE Arrow pass over the
    corpus scores each row against the driver-held query sample, masked to
    the query's probe cells — replacing the broadcast cell equi-join + the
    interpreted per-pair fold (the scaling term of every IVF probe,
    SPARKWALL r13 nprobe2 ratio 3.86). With ``centroids`` the kernel ALSO
    derives each row's cell in the same pass (the in-memory probes:
    assignment + probe masking + scoring + cut fused over the plain scan);
    without, the index's stored cell/e_norm columns are the contract (the
    persisted probes, where a drifted stored column must stay a value
    mismatch). Each batch emits only its local top-3 per query (superset
    of the global top-3 — see arrowvec), so the q_id window shuffles
    O(3 x Q x partitions) rows exactly as the old partial WindowGroupLimit
    did. Values bit-identical: same fold order, same norms, same
    (cosine desc, vec_id) total order."""
    from ..functions.arrowvec import score_bounded_queries

    w = Window.partitionBy("q_id").orderBy(F.col("cosine_raw").desc(), F.col("vec_id"))
    if centroids is not None:
        scored = score_bounded_queries(
            index,
            q_ids,
            q_vecs,
            3,
            vec_col="embedding",
            q_cells=q_cells,
            assign_centroids=centroids,
            cell_out="cell",
            out_col="cosine_raw",
        )
    else:
        scored = score_bounded_queries(
            index,
            q_ids,
            q_vecs,
            3,
            vec_col="embedding",
            keep=("cell",),
            q_cells=q_cells,
            row_norm_col="e_norm",
            out_col="cosine_raw",
        )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "q_id",
            "vec_id",
            "cell",
            # q(), not ROUND: Spark rounds the shortest-decimal rendering
            # half-up while DuckDB rounds the binary value — the one
            # documented cross-engine rounding divergence class
            q(F.col("cosine_raw")).alias("cosine"),
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


def _ivf_probe(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """The shared probe plan: each query scored within its nprobe nearest
    cells (driver-derived probe list — same argsort as arrowvec.assign_top_cells),
    assignment + exact-cosine top-3 fused in the shared Arrow probe
    kernel over the plain corpus scan."""
    from ..functions.arrowvec import probe_cells_driver

    centroids = fitted_centroids(spark, sf_dir)
    base = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    q_ids, q_vecs = _collect_probe_queries(spark, sf_dir)
    q_cells = probe_cells_driver(q_vecs, centroids, nprobe)
    return _kernel_probe_top3(
        base.select("vec_id", "embedding"), q_ids, q_vecs, q_cells, centroids
    )


@register("ann_ivf_kmeans", oracle=_ivf_kmeans_oracle())
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a REAL k-means coarse quantizer (the build step
    ann_ivf_partitioned's docstring promises): fit_centroids produces the
    cells, every vector is assigned map-only, and each query probes only
    its own cell (nprobe=1) with exact cosine re-ranking inside.

    Scale shape: the build is the k-means above (one small shuffle per
    iteration); assignment adds NO shuffle (broadcast centroid matrix in a
    single in-row argmin); the probe is an equi-join on the cell id — at
    production scale the cell id is the physical partition key, so a probe
    is a partition-pruned scan plus a per-cell top-k. Raising recall =
    nprobe>1 = joining each query to its n nearest cells (same plan, a
    query-side explode — ann_ivf_kmeans_nprobe2)."""
    return _ivf_probe(spark, sf_dir, 1)


NPROBE = 2


def _ivf_nprobe2_oracle() -> str:
    """nprobe=2 oracle: each query ranks by exact cosine over the UNION of
    its two nearest cells. Corpus assignment is unchanged (top-1); only the
    query side probes wider."""
    from .similarity import _cosine_sql

    sql, cent = centroid_chain_sql()
    sql += "," + _assign_sql(cent, "cells")
    cos = _cosine_sql("q.embedding", "v.embedding")
    sql += f"""
    , qcells AS (
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_dot_product(v.e, v.e) - 2 * list_dot_product(v.e, c.cvec)
                   + list_dot_product(c.cvec, c.cvec), c.cid) AS rn
        FROM vecs v CROSS JOIN {cent} c
        WHERE v.vec_id % 100 = 0
      ) WHERE rn <= {NPROBE}
    )
    , scored AS (
      SELECT qc.vec_id AS q_id, cv.vec_id, cv.cid AS cell,
             {cos} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY qc.vec_id
                                ORDER BY {cos} DESC, cv.vec_id) AS rn
      FROM qcells qc
      JOIN cells cv ON cv.cid = qc.cid AND cv.vec_id <> qc.vec_id
      JOIN embeddings q ON q.vec_id = qc.vec_id
      JOIN embeddings v ON v.vec_id = cv.vec_id
    )
    SELECT q_id, vec_id, CAST(cell AS BIGINT) AS cell,
           {q_sql("cosine")} AS cosine, rn
    FROM scored WHERE rn <= 3
    """
    return sql


@register("ann_ivf_kmeans_nprobe2", oracle=_ivf_nprobe2_oracle())
def ann_ivf_kmeans_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe with nprobe=2 — the recall knob ann_ivf_kmeans documents,
    implemented: each query explodes to its 2 nearest coarse cells and
    ranks by exact cosine over the union of both cells' vectors. A vector
    near a cell boundary whose true neighbors landed one cell over is now
    reachable — the defining recall-vs-cost trade of IVF at scale.

    Scale shape: identical to nprobe=1. Corpus assignment stays top-1
    map-only; the probe list is a query-side array (one sorted K-candidate
    expression, no shuffle) exploded to nprobe rows BEFORE the broadcast,
    so the corpus side still sees one broadcast-hash equi-join on the cell
    id — at production scale each probe row is a partition-pruned scan of
    one cell. Candidate cost scales linearly in nprobe; no duplicate
    candidates are possible because a corpus vector lives in exactly one
    cell."""
    return _ivf_probe(spark, sf_dir, NPROBE)


def _ann_recall_oracle() -> str:
    """Recall@3 oracle: exact brute-force top-3 per query vs the IVF top-3
    at nprobe 1 and 2, reported as INTEGER hit counts (a float average
    would reintroduce cross-engine summation-order noise for no benefit —
    the reader divides hits_at_3 / (3 * n_queries))."""
    from .similarity import _cosine_sql

    sql, cent = centroid_chain_sql()
    sql += "," + _assign_sql(cent, "cells")
    cos = _cosine_sql("q.embedding", "v.embedding")
    sql += f"""
    , qc AS (
      SELECT vec_id, cid, rn FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 list_dot_product(v.e, v.e) - 2 * list_dot_product(v.e, c.cvec)
                   + list_dot_product(c.cvec, c.cvec), c.cid) AS rn
        FROM vecs v CROSS JOIN {cent} c
        WHERE v.vec_id % 100 = 0
      ) WHERE rn <= 2
    )
    , exact3 AS (
      SELECT q_id, vec_id FROM (
        SELECT q.vec_id AS q_id, v.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos} DESC, v.vec_id) AS rn
        FROM embeddings q JOIN embeddings v ON v.vec_id <> q.vec_id
        WHERE q.vec_id % 100 = 0
      ) WHERE rn <= 3
    )
    , ivf AS (
      SELECT nprobe, q_id, vec_id FROM (
        SELECT np.nprobe, qc.vec_id AS q_id, cv.vec_id,
               ROW_NUMBER() OVER (PARTITION BY np.nprobe, qc.vec_id
                                  ORDER BY {cos} DESC, cv.vec_id) AS rn
        FROM (SELECT unnest(generate_series(1, 2)) AS nprobe) np
        JOIN qc ON qc.rn <= np.nprobe
        JOIN cells cv ON cv.cid = qc.cid AND cv.vec_id <> qc.vec_id
        JOIN embeddings q ON q.vec_id = qc.vec_id
        JOIN embeddings v ON v.vec_id = cv.vec_id
      ) WHERE rn <= 3
    )
    SELECT 'ivf_nprobe' || CAST(i.nprobe AS VARCHAR) AS method,
           CAST(COUNT(DISTINCT i.q_id) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN e.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS hits_at_3
    FROM ivf i LEFT JOIN exact3 e ON e.q_id = i.q_id AND e.vec_id = i.vec_id
    GROUP BY i.nprobe
    """
    return sql


@register("ann_recall_at_k", oracle=_ann_recall_oracle())
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure the IVF recall-vs-cost trade: top-3 hit counts of the
    nprobe=1 and nprobe=2 probes against the exact brute-force top-3, per
    method — the number that justifies (or indicts) the coarse quantizer.
    Outputs are integer counts, so the cross-engine comparison is exact.

    Scale shape: the exact side is the documented oracle-twin brute force
    (broadcast 1%-sample queries against the corpus — at production scale
    recall is estimated from exactly such a query sample, never the full
    set); both probe sides are the same broadcast cell equi-joins as the
    ann_ivf_kmeans* queries; the final hit-join touches 3 rows per
    (method, query)."""
    from ..functions.arrowvec import probe_cells_driver, score_bounded_queries

    centroids = fitted_centroids(spark, sf_dir)
    q_ids, q_vecs = _collect_probe_queries(spark, sf_dir)
    base = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    w = Window.partitionBy("q_id").orderBy(F.col("cosine_raw").desc(), F.col("vec_id"))
    # exact truth side: the same bounded-query Arrow scorer as the ANN
    # brute-force baseline, over a plain scan (no cell assignment needed)
    exact3 = (
        score_bounded_queries(
            base.select("vec_id", "embedding"),
            q_ids,
            q_vecs,
            3,
            vec_col="embedding",
            out_col="cosine_raw",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("q_id", "vec_id", F.lit(1).alias("hit"))
    )
    q_cells2 = probe_cells_driver(q_vecs, centroids, 2)

    def probe(nprobe: int) -> DataFrame:
        return _kernel_probe_top3(
            base.select("vec_id", "embedding"),
            q_ids,
            q_vecs,
            [row[:nprobe] for row in q_cells2],
            centroids,
        ).select(F.lit(f"ivf_nprobe{nprobe}").alias("method"), "q_id", "vec_id")

    ivf = probe(1).unionByName(probe(2))
    return (
        ivf.join(exact3, ["q_id", "vec_id"], "left")
        .groupBy("method")
        .agg(
            F.countDistinct("q_id").cast("bigint").alias("n_queries"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("hits_at_3"),
        )
    )


@functools.cache
def ivf_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the IVF index ON DISK: the cell-assigned corpus written
    as parquet hive-partitioned by cell id, built once per (session,
    sf_dir) like the fitted centroids it embeds. This is the production
    separation the in-memory probes only simulate: BUILD pays the k-means
    fit plus one partitioned write; every PROBE after that is a
    partition-pruned read of just the cells it needs."""
    centroids = fitted_centroids(spark, sf_dir)
    corpus = _ivf_corpus(spark, sf_dir, centroids)
    path = tempfile.mkdtemp(prefix="ivf_index_", dir=scratch_root())
    corpus.write.mode("overwrite").partitionBy("cell").parquet(path)
    return path


@register("ann_ivf_persisted_probe", oracle=_ivf_kmeans_oracle())
def ann_ivf_persisted_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nprobe=1 IVF probe against the PERSISTED index: identical semantics
    (and oracle) to ann_ivf_kmeans, but the corpus side is the on-disk
    partitioned index, and the probe declares its target cells as a
    literal IN-filter so the scan PRUNES AT PLAN TIME — the probed cells'
    directories are the only I/O (PartitionFilters pinned in
    tests/test_plans.py).

    The distinct probe-cell set collected to the driver is bounded by K
    (8 here, thousands in production) — driver-safe by construction. At
    100 TB with K=4096 cells and nprobe=2, a query batch touching 50
    distinct cells reads ~1.2% of the corpus; the in-memory variant's
    equi-join must still SCAN everything. That scan-vs-prune gap is the
    entire economics of a disk-resident vector index."""
    from ..functions.arrowvec import probe_cells_driver

    centroids = fitted_centroids(spark, sf_dir)
    path = ivf_index_path(spark, sf_dir)
    q_ids, q_vecs = _collect_probe_queries(spark, sf_dir)
    q_cells = probe_cells_driver(q_vecs, centroids, 1)
    probe_cells = sorted({c for row in q_cells for c in row})
    index = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(probe_cells))
        .select("vec_id", "embedding", "e_norm", F.col("cell").cast("bigint").alias("cell"))
    )
    return _kernel_probe_top3(index, q_ids, q_vecs, q_cells)


# --- Product quantization (PQ) with ADC scoring ------------------------------
#
# The remaining classic ANN family: split the vector into PQ_M subspaces,
# train a tiny codebook per subspace (deterministic Lloyd, same recipe as
# the coarse quantizer above), encode each corpus vector as PQ_M small
# code ids, and score queries with Asymmetric Distance Computation — a
# per-query lookup table of query↔centroid subdistances, so scoring a
# corpus vector costs PQ_M table lookups instead of a full dim-wide dot.
# Memory is the point at 100 TB: 64 floats (256 B) become PQ_M=4 bytes per
# vector, and the ADC cross stays map-side (broadcast queries carry their
# LUT; the partial WindowGroupLimit cuts the shuffle exactly as in
# ann_bruteforce_topk).
#
# PQ_DIM is pinned to the testdata's embedding width (the PPM/Q oracles
# hardcode their bounds the same way); fit_pq_codebooks raises on drift
# rather than silently mis-slicing.

PQ_M = 4
PQ_KSUB = 8
PQ_DIM = 64
PQ_SUBDIM = PQ_DIM // PQ_M
PQ_ITER = 1


def _pq_sub(col: Column, m: int) -> Column:
    return F.slice(col, m * PQ_SUBDIM + 1, PQ_SUBDIM)


def _pq_lut(qe: Column, books: list[list[list[float]]]) -> Column:
    """Per-query ADC lookup table: PQ_M × PQ_KSUB subdistances, entry
    m*PQ_KSUB+k = ||q_m||² − 2·q_m·c_mk + ||c_mk||², laid out exactly as
    the element_at() consumers below index it.

    Built as ONE transform-over-sequence expression with the codebooks as
    two flat numpy literals instead of a Python loop of per-(m,k) column
    expressions: the loop spelling cost ~2.5 s of py4j round trips per
    call (measured, r13 opt round — the dominant cost of every PQ query's
    build phase); this form is ~40 driver calls. The arithmetic per entry
    is UNCHANGED (same slices, same left-to-right _fold_dot, same
    constants), so the values are bit-identical to the loop form and the
    oracle needs no change."""
    m_books = len(books)
    flat = F.lit(
        np.array(
            [v for m in range(m_books) for c in books[m] for v in c],
            dtype=np.float64,
        )
    )
    cc = F.lit(
        np.array(
            [_seq_dot(c, c) for m in range(m_books) for c in books[m]],
            dtype=np.float64,
        )
    )

    def entry(i: Column) -> Column:
        m = F.floor(i / F.lit(PQ_KSUB)).cast("int")
        sub = F.slice(qe, m * PQ_SUBDIM + 1, PQ_SUBDIM)
        book = F.slice(flat, i.cast("int") * PQ_SUBDIM + 1, PQ_SUBDIM)
        return (
            _fold_dot(sub, sub)
            - 2 * _fold_dot(sub, book)
            + F.element_at(cc, i.cast("int") + 1)
        )

    return F.transform(F.sequence(F.lit(0), F.lit(m_books * PQ_KSUB - 1)), entry)


def _pq_candidates(codebook: list[list[float]], sub: Column) -> Column:
    """(dist, cid) structs for one subspace codebook over ``sub`` — the
    same flat-literal + dot-identity machinery as _candidates, on the
    subspace slice."""
    k, dim = len(codebook), len(codebook[0])
    flat = F.lit(np.array([v for c in codebook for v in c], dtype=np.float64))
    cc = F.lit(np.array([_seq_dot(c, c) for c in codebook], dtype=np.float64))
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.struct(
            (
                _fold_dot(sub, sub)
                - 2 * _fold_dot(sub, F.slice(flat, i * dim + 1, dim))
                + F.element_at(cc, i + 1)
            ).alias("d"),
            i.alias("cid"),
        ),
    )


def fit_pq_codebooks(vecs: DataFrame) -> list[list[list[float]]]:
    """Deterministic per-subspace Lloyd fit (PQ_M codebooks × PQ_KSUB
    centroids). ONE pass per iteration trains ALL subspaces: the PQ_M
    in-row argmins ride the same scan, and the mean recompute is a single
    (pos, cid-of-that-subspace) partial aggregate over one posexplode —
    subspace independence fused into one shuffle, not PQ_M jobs."""
    dim = len(vecs.select("e").first()["e"])
    if dim != PQ_DIM:
        raise ValueError(f"PQ is pinned to dim={PQ_DIM}, got {dim}")
    seeds = (
        vecs.orderBy("vec_id")
        .limit(PQ_KSUB)
        .select(F.transform("e", lambda x: q(x, _CROUND)).alias("c"))
        .collect()
    )
    books = [
        [list(r["c"])[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM] for r in seeds]
        for m in range(PQ_M)
    ]
    from ..functions.arrowvec import pq_encode

    for _ in range(PQ_ITER):
        # r14: all PQ_M subspace argmins in ONE Arrow kernel pass (same
        # dot-identity distances and (d, cid) tie order as the
        # _pq_candidates expression — see functions/arrowvec.pq_encode)
        assigned = pq_encode(vecs, books, keep=("vec_id", "e"), out_col="cids")
        means = (
            assigned.select("cids", F.posexplode("e").alias("pos", "x"))
            .withColumn("m", F.floor(F.col("pos") / PQ_SUBDIM).cast("int"))
            .withColumn("cid", F.element_at("cids", F.col("m") + 1))
            .groupBy("m", "cid", "pos")
            .agg(F.avg("x").alias("mean"))
            .groupBy("m", "cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mean"))).alias("pm"))
            .select(
                "m",
                "cid",
                F.transform("pm", lambda s: q(s["mean"], _CROUND)).alias("c"),
            )
            .collect()
        )
        fitted = {(r["m"], r["cid"]): list(r["c"]) for r in means}
        books = [
            [fitted.get((m, k), books[m][k]) for k in range(PQ_KSUB)]
            for m in range(PQ_M)
        ]
    return books


@functools.cache
def fitted_pq(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    """Build/probe split, same rationale as fitted_centroids."""
    vecs = _prepare_vecs(spark, sf_dir)
    books = fit_pq_codebooks(vecs)
    vecs.unpersist()
    return books


def _pq_slice_sql(expr: str, m: int) -> str:
    return f"{expr}[{m * PQ_SUBDIM + 1}:{(m + 1) * PQ_SUBDIM}]"


def _pq_dist_sql(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        f" + list_dot_product({b}, {b})"
    )


def _pq_chain_sql() -> str:
    """WITH-prefix shared by the PQ oracles: per-subspace
    seed/assign/recompute chains, corpus encoding, query set, and the
    ADC-scored ranking CTE."""
    sql = """
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    )"""
    for m in range(PQ_M):
        sv = _pq_slice_sql("e", m)
        sql += f"""
    , vecs_{m} AS (SELECT vec_id, {sv} AS sv FROM vecs)
    , seeds_{m} AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, sv
        FROM vecs_{m} ORDER BY vec_id LIMIT {PQ_KSUB}
    )
    , c0_{m} AS (
        SELECT cid, list_transform(sv, x -> {q_sql("x", _CROUND)}) AS cvec
        FROM seeds_{m}
    )"""
        cent = f"c0_{m}"
        for it in range(PQ_ITER):
            dist = _pq_dist_sql("v.sv", "c.cvec")
            sql += f"""
    , a{it}_{m} AS (
        SELECT vec_id, sv, cid FROM (
          SELECT v.vec_id, v.sv, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                    ORDER BY {dist}, c.cid) AS rn
          FROM vecs_{m} v CROSS JOIN {cent} c
        ) WHERE rn = 1
    )
    , c{it + 1}_{m}_m AS (
        SELECT a.cid, i.i AS pos, {q_sql("AVG(a.sv[i.i])", _CROUND)} AS mn
        FROM a{it}_{m} a CROSS JOIN (
          SELECT unnest(generate_series(1, {PQ_SUBDIM})) AS i
        ) i
        GROUP BY a.cid, i.i
    )
    , c{it + 1}_{m}_new AS (
        SELECT cid, list(mn ORDER BY pos) AS cvec FROM c{it + 1}_{m}_m GROUP BY cid
    )
    , c{it + 1}_{m} AS (
        SELECT p.cid, COALESCE(n.cvec, p.cvec) AS cvec
        FROM {cent} p LEFT JOIN c{it + 1}_{m}_new n ON n.cid = p.cid
    )"""
            cent = f"c{it + 1}_{m}"
        dist = _pq_dist_sql("v.sv", "c.cvec")
        sql += f"""
    , codes_{m} AS (
        SELECT vec_id, cid FROM (
          SELECT v.vec_id, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                    ORDER BY {dist}, c.cid) AS rn
          FROM vecs_{m} v CROSS JOIN {cent} c
        ) WHERE rn = 1
    )"""
    joins = " ".join(
        f"JOIN codes_{m} k{m} ON k{m}.vec_id = x.vec_id" for m in range(1, PQ_M)
    )
    cent_joins = " ".join(
        f"JOIN c{PQ_ITER}_{m} f{m} ON f{m}.cid = x.cid{m}" for m in range(PQ_M)
    )
    adc = " + ".join(
        _pq_dist_sql(_pq_slice_sql("q.e", m), f"f{m}.cvec") for m in range(PQ_M)
    )
    sql += f"""
    , codes AS (
        SELECT x.vec_id, {", ".join(f"k{m}.cid AS cid{m}" if m else "x.cid AS cid0" for m in range(PQ_M))}
        FROM codes_0 x {joins}
    )
    , queries AS (
        SELECT vec_id AS q_id, e FROM vecs WHERE vec_id % 100 = 0
    )
    , scored AS (
        SELECT q.q_id, x.vec_id, {adc} AS adc,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                                  ORDER BY {adc}, x.vec_id) AS rn
        FROM queries q CROSS JOIN codes x {cent_joins}
        WHERE x.vec_id <> q.q_id
    )"""
    return sql


def _pq_oracle() -> str:
    return (
        _pq_chain_sql()
        + f"""
    SELECT q_id, vec_id, {q_sql("adc")} AS adc, rn
    FROM scored WHERE rn <= 5
    """
    )


PQ_SHORTLIST = 100


def _pq_rerank_sql() -> str:
    """CTE suffix: exact-L2 rerank of the top-PQ_SHORTLIST ADC candidates."""
    rerank_dist = _pq_dist_sql("q.e", "v.e")
    return f"""
    , shortlist AS (SELECT q_id, vec_id FROM scored WHERE rn <= {PQ_SHORTLIST})
    , reranked AS (
        SELECT q_id, vec_id, d, ROW_NUMBER() OVER (PARTITION BY q_id
                                                   ORDER BY d, vec_id) AS rrn
        FROM (
          SELECT s.q_id, s.vec_id, {rerank_dist} AS d
          FROM shortlist s
          JOIN vecs v ON v.vec_id = s.vec_id
          JOIN queries q ON q.q_id = s.q_id
        )
    )"""


def _pq_rerank_oracle() -> str:
    return (
        _pq_chain_sql()
        + _pq_rerank_sql()
        + f"""
    SELECT q_id, vec_id, {q_sql("d")} AS l2sq, rrn AS rn
    FROM reranked WHERE rrn <= 3
    """
    )


def _pq_recall_oracle() -> str:
    exact_dist = _pq_dist_sql("q.e", "v.e")
    return (
        _pq_chain_sql()
        + _pq_rerank_sql()
        + f"""
    , exact3 AS (
        SELECT q_id, vec_id FROM (
          SELECT q.q_id, v.vec_id,
                 ROW_NUMBER() OVER (PARTITION BY q.q_id
                                    ORDER BY {exact_dist}, v.vec_id) AS rn
          FROM queries q JOIN vecs v ON v.vec_id <> q.q_id
        ) WHERE rn <= 3
    ),
    approx AS (
        SELECT 'pq_adc' AS method, q_id, vec_id FROM scored WHERE rn <= 3
        UNION ALL
        SELECT 'pq_adc_rerank{PQ_SHORTLIST}' AS method, q_id, vec_id
        FROM reranked WHERE rrn <= 3
    )
    SELECT a.method,
           CAST(COUNT(DISTINCT a.q_id) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS hits_at_3
    FROM approx a LEFT JOIN exact3 e
      ON e.q_id = a.q_id AND e.vec_id = a.vec_id
    GROUP BY a.method
    """
    )


def _pq_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, vec_id, adc_raw, rn): the shared PQ-ADC ranking plan —
    corpus codes × broadcast queries-with-LUT, ranked per query."""
    from ..functions.arrowvec import pq_encode

    books = fitted_pq(spark, sf_dir)
    base = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    vecs = fan_out(base).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    corpus = pq_encode(vecs, books, keep=("vec_id",), out_col="codes")
    queries = (
        vecs.filter(F.col("vec_id") % 100 == 0)
        .select(F.col("vec_id").alias("q_id"), F.col("e").alias("qe"))
        .select("q_id", _pq_lut(F.col("qe"), books).alias("lut"))
    )
    adc = None
    for m in range(PQ_M):
        term = F.element_at(
            F.col("lut"),
            (F.lit(m * PQ_KSUB) + F.element_at("codes", m + 1) + 1).cast("int"),
        )
        adc = term if adc is None else adc + term
    w = Window.partitionBy("q_id").orderBy(F.col("adc_raw").asc(), F.col("vec_id"))
    return (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", adc.alias("adc_raw"))
        .withColumn("rn", F.row_number().over(w))
    )


@register("ann_pq_adc", oracle=_pq_oracle())
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ + ADC approximate top-5: corpus vectors carry only their PQ_M
    code ids; each broadcast query carries its LUT (query↔centroid
    subdistances, PQ_M × PQ_KSUB doubles computed once per query), and
    the per-pair score is PQ_M array lookups — never a dim-wide dot.
    Rank filter compiles to the partial WindowGroupLimit, so the shuffle
    carries ≤ 5×Q rows per partition (same pinned shape as brute force).
    Every distance is the dot-identity fold that is bitwise-equal to
    DuckDB's list_dot_product; codebook state is quantized to the 1e-6
    grid after each mean, so training, encoding, LUTs and ranking all
    match the unrolled oracle exactly."""
    return (
        _pq_ranked(spark, sf_dir)
        .filter(F.col("rn") <= 5)
        .select(
            "q_id",
            "vec_id",
            q(F.col("adc_raw")).alias("adc"),
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


def _pq_reranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(q_id, vec_id, d_raw, rrn): exact-L2 rerank of each query's
    top-PQ_SHORTLIST ADC candidates — the production PQ composition. The
    expensive dim-wide math runs on SHORTLIST×Q rows, never the corpus."""
    base = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    vecs = fan_out(base).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    queries = vecs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe")
    )
    shortlist = (
        _pq_ranked(spark, sf_dir)
        .filter(F.col("rn") <= PQ_SHORTLIST)
        .select("q_id", "vec_id")
    )
    dist = (
        _fold_dot(F.col("qe"), F.col("qe"))
        - 2 * _fold_dot(F.col("qe"), F.col("e"))
        + _fold_dot(F.col("e"), F.col("e"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("d_raw").asc(), F.col("vec_id"))
    return (
        shortlist.join(vecs, "vec_id")
        .join(F.broadcast(queries), "q_id")
        .select("q_id", "vec_id", dist.alias("d_raw"))
        .withColumn("rrn", F.row_number().over(w))
    )


@register("ann_pq_shortlist_rerank", oracle=_pq_rerank_oracle())
def ann_pq_shortlist_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ in its production composition: the 4-byte ADC scan produces a
    top-PQ_SHORTLIST candidate list per query (cheap, corpus-wide), then
    exact squared-L2 reranks only those candidates (expensive, but on
    SHORTLIST×Q rows). Returns the reranked top-3. This is the recall
    repair for the unstructured-random worst case the direct-ADC recall
    query documents — measured side by side there."""
    return (
        _pq_reranked(spark, sf_dir)
        .filter(F.col("rrn") <= 3)
        .select(
            "q_id",
            "vec_id",
            q(F.col("d_raw")).alias("l2sq"),
            F.col("rrn").cast("bigint").alias("rn"),
        )
    )


@register("ann_pq_recall_at_k", oracle=_pq_recall_oracle())
def ann_pq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured PQ recall: top-3 ADC hits against the EXACT squared-L2
    top-3 (the metric PQ approximates — recall vs cosine would conflate
    quantization error with metric mismatch). Integer counts, exact
    cross-engine; the number that justifies (or indicts) the 64-float →
    4-byte compression, symmetric with ann_recall_at_k for IVF.

    Measured at sf0.01 (KSUB=8): direct ADC 3/15 — the synthetic
    embeddings are near-uniform random, PQ's worst case (no cluster
    structure for the codebooks to exploit) — vs 15/15 for the
    shortlist-rerank composition (ann_pq_shortlist_rerank, depth 100).
    Both methods appear as rows here, so the trade-off itself is
    value-checked, not narrated."""
    from ..functions.arrowvec import score_bounded_queries

    base = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    vecs = base.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    q_ids, q_vecs = _collect_probe_queries(spark, sf_dir)
    # exact truth side via the Arrow scorer, metric l2sq — the same
    # operand order as the oracle's _pq_dist_sql(q.e, v.e)
    w = Window.partitionBy("q_id").orderBy(F.col("d_raw").asc(), F.col("vec_id"))
    exact3 = (
        score_bounded_queries(
            vecs,
            q_ids,
            q_vecs,
            3,
            vec_col="e",
            metric="l2sq",
            ascending=True,
            out_col="d_raw",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("q_id", "vec_id", F.lit(1).alias("hit"))
    )
    pq3 = (
        _pq_ranked(spark, sf_dir)
        .filter(F.col("rn") <= 3)
        .select(F.lit("pq_adc").alias("method"), "q_id", "vec_id")
    )
    rr3 = (
        _pq_reranked(spark, sf_dir)
        .filter(F.col("rrn") <= 3)
        .select(F.lit(f"pq_adc_rerank{PQ_SHORTLIST}").alias("method"), "q_id", "vec_id")
    )
    return (
        pq3.unionByName(rr3)
        .join(exact3, ["q_id", "vec_id"], "left")
        .groupBy("method")
        .agg(
            F.countDistinct("q_id").cast("bigint").alias("n_queries"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("hits_at_3"),
        )
    )


IVFPQ_SHORTLIST = 20


def _ivfpq_oracle() -> str:
    """IVF + PQ composed: the k-means coarse-quantizer chain assigns every
    vector (and every query) a cell; the PQ chain encodes the corpus; the
    ADC scan runs ONLY within the query's own cell; exact L2 reranks the
    in-cell shortlist. CTE plumbing: both chains open with the identical
    `vecs` CTE, so the PQ chain is appended with its duplicate head
    stripped and cut before its full-cross `queries`/`scored` CTEs, which
    are replaced by cell-joined ones here."""
    sql, cent = centroid_chain_sql()
    sql += "," + _assign_sql(cent, "cells")
    pq = _pq_chain_sql()
    tail = pq[pq.index("\n    , vecs_0 AS"):]
    tail = tail[: tail.index("\n    , queries AS")]
    sql += tail
    cent_joins = " ".join(
        f"JOIN c{PQ_ITER}_{m} f{m} ON f{m}.cid = x.cid{m}" for m in range(PQ_M)
    )
    adc = " + ".join(
        _pq_dist_sql(_pq_slice_sql("q.e", m), f"f{m}.cvec") for m in range(PQ_M)
    )
    rerank_dist = _pq_dist_sql("q.e", "v.e")
    return sql + f"""
    , queries AS (
        SELECT qc.vec_id AS q_id, qc.e, qc.cid AS qcell
        FROM cells qc WHERE qc.vec_id % 100 = 0
    )
    , scored AS (
        SELECT q.q_id, x.vec_id, {adc} AS adc,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                                  ORDER BY {adc}, x.vec_id) AS rn
        FROM queries q
        JOIN cells cv ON cv.cid = q.qcell AND cv.vec_id <> q.q_id
        JOIN codes x ON x.vec_id = cv.vec_id
        {cent_joins}
    )
    , reranked AS (
        SELECT q_id, vec_id, d,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d, vec_id) AS rrn
        FROM (
          SELECT s.q_id, s.vec_id, {rerank_dist} AS d
          FROM scored s
          JOIN vecs v ON v.vec_id = s.vec_id
          JOIN queries q ON q.q_id = s.q_id
          WHERE s.rn <= {IVFPQ_SHORTLIST}
        )
    )
    SELECT q_id, vec_id, {q_sql("d")} AS l2sq, rrn AS rn
    FROM reranked WHERE rrn <= 3
    """


@register("ann_ivf_pq_shortlist_rerank", oracle=_ivfpq_oracle())
def ann_ivf_pq_shortlist_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the production billion-scale ANN layout (FAISS's IVFPQ),
    composed from this module's two fitted stages: the k-means coarse
    quantizer prunes the search to the query's cell (partition pruning at
    the storage layer, ~1/K of the corpus touched), the 4-byte PQ codes +
    per-query lookup table score those candidates without reading any
    full vector (ADC), and exact L2 reranks only the in-cell
    top-{IVFPQ_SHORTLIST}. Returns the reranked top-3 per query.

    Every stage is the already-oracle-verified deterministic form (fitted
    centroids, per-subspace codebooks, dot-identity distances), so the
    whole composition is value-checked end to end — train coarse + train
    PQ + encode + route + ADC + rerank in ONE hash-compared query; the
    oracle splices the two unrolled CTE chains and replaces the full
    cross with the cell join.

    Scale: the cell equi-join replaces _pq_ranked's corpus-wide cross —
    candidate cost drops from N to N/K per query (and on the persisted
    layout, ann_ivf_persisted_probe shows the same join as partition
    pruning on disk); ADC keeps per-candidate cost at {PQ_M} array
    lookups; the dim-wide exact math runs on {IVFPQ_SHORTLIST}xQ rows
    only. The accuracy cost of the compound approximation is measured
    next door (ann_pq_recall_at_k, ann_recall_at_k)."""
    centroids = fitted_centroids(spark, sf_dir)
    books = fitted_pq(spark, sf_dir)
    base = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    # persisted: vecs feeds the assignment AND the exact rerank join;
    # assigned feeds the corpus (PQ encode) AND the query side — uncached,
    # the K-way centroid-distance expression re-evaluates once per
    # consumer (guide §5; higher-order array folds are interpreted, so a
    # re-pass is the single most expensive thing in this plan).
    vecs = fan_out(base).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    ).persist()
    assigned = with_assignment(vecs, centroids, keep=("vec_id", "e")).select(
        "vec_id", "e", F.col("best.cid").cast("bigint").alias("cell")
    ).persist()
    from ..functions.arrowvec import pq_encode

    corpus = pq_encode(assigned, books, keep=("vec_id", "cell"), out_col="codes")
    q0 = assigned.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("cell").alias("qcell"),
        F.col("e").alias("qe"),
    )
    queries = q0.select("q_id", "qcell", _pq_lut(F.col("qe"), books).alias("lut"))
    adc = None
    for m in range(PQ_M):
        term = F.element_at(
            F.col("lut"),
            (F.lit(m * PQ_KSUB) + F.element_at("codes", m + 1) + 1).cast("int"),
        )
        adc = term if adc is None else adc + term
    w_adc = Window.partitionBy("q_id").orderBy(F.col("adc_raw").asc(), F.col("vec_id"))
    shortlist = (
        corpus.join(
            F.broadcast(queries),
            (F.col("cell") == F.col("qcell")) & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "vec_id", adc.alias("adc_raw"))
        .withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= IVFPQ_SHORTLIST)
        .select("q_id", "vec_id")
    )
    dist = (
        _fold_dot(F.col("qe"), F.col("qe"))
        - 2 * _fold_dot(F.col("qe"), F.col("e"))
        + _fold_dot(F.col("e"), F.col("e"))
    )
    w_rr = Window.partitionBy("q_id").orderBy(F.col("d_raw").asc(), F.col("vec_id"))
    return (
        shortlist.join(vecs, "vec_id")
        .join(F.broadcast(q0.select("q_id", "qe")), "q_id")
        .select("q_id", "vec_id", dist.alias("d_raw"))
        .withColumn("rrn", F.row_number().over(w_rr))
        .filter(F.col("rrn") <= 3)
        .select(
            "q_id",
            "vec_id",
            q(F.col("d_raw")).alias("l2sq"),
            F.col("rrn").cast("bigint").alias("rn"),
        )
    )


# --- Incremental IVF index maintenance (r13) ---------------------------------
#
# The maintenance half of the persisted-index story ann_ivf_persisted_probe
# tells: at 100 TB a vector index is never rebuilt per ingest — a batch of
# NEW vectors is assigned to the EXISTING coarse quantizer (no refit: the
# centroids are frozen state, exactly as a production store's trained
# quantizer is) and appended to the cell-partitioned layout; probes then
# see old+new in one partition-pruned read. The base/new split mirrors
# dedup.lsh_shard_index's newest-decile convention: base = vec_id*10 <
# 9*(max+1), new = the rest, both derived from one bounded scalar.

_IVF_BASE_DECILES = 9


def _embed_bound(spark: SparkSession, sf_dir: str) -> int:
    base = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    return int(base.agg(F.max("vec_id")).first()[0]) + 1


@functools.cache
def fitted_centroids_base(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """The coarse quantizer fitted on the BASE slice only (lowest 9 id
    deciles) — the frozen state the incremental add assigns against.
    Cached per (session, sf_dir) like fitted_centroids; deterministic fit
    + quantized state keeps it bit-identical to the oracle's base-
    restricted centroid chain."""
    bound = _embed_bound(spark, sf_dir)
    base = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    vecs = (
        fan_out(base.filter(F.col("vec_id") * 10 < _IVF_BASE_DECILES * bound))
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
        .persist()
    )
    centroids = fit_centroids(vecs)
    vecs.unpersist()
    return centroids


@functools.cache
def ivf_incremental_index_path(spark: SparkSession, sf_dir: str) -> str:
    """BUILD the persisted IVF index on the base slice, then ADD the new
    batch: assign new vectors to the FROZEN base centroids (map-only, no
    refit, no touch of existing files) and append them to the same
    cell-partitioned parquet layout. Appending to a hive-partitioned
    directory only creates new files inside the affected cell
    directories — existing data files are immutable, so concurrent
    probes stay consistent (the parquet twin of the WAP pattern in
    etl_wap_publish). tests/test_incremental_index.py proves read-back
    equality with a from-scratch rebuild on the same data."""
    bound = _embed_bound(spark, sf_dir)
    cents = fitted_centroids_base(spark, sf_dir)
    full = _ivf_corpus(spark, sf_dir, cents)
    path = tempfile.mkdtemp(prefix="ivf_incr_index_", dir=scratch_root())
    # BUILD: base slice (the filter pushes below the map-only
    # assignment to the parquet scan)
    full.filter(F.col("vec_id") * 10 < _IVF_BASE_DECILES * bound).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)
    # ADD: new batch, same frozen centroids, append-only
    full.filter(F.col("vec_id") * 10 >= _IVF_BASE_DECILES * bound).write.mode(
        "append"
    ).partitionBy("cell").parquet(path)
    return path


def _ivf_incr_oracle() -> str:
    """Same probe semantics as _ivf_kmeans_oracle, but the centroid chain
    fits on the BASE slice only while cell assignment covers ALL vectors
    — the add step's no-refit contract, stated in SQL."""
    from .similarity import _cosine_sql

    w = (
        f"WHERE vec_id * 10 < {_IVF_BASE_DECILES} * "
        "(SELECT MAX(vec_id) + 1 FROM embeddings)"
    )
    sql, cent = centroid_chain_sql(where=w)
    sql += """,
    vecs_all AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    )"""
    sql += "," + _assign_sql(cent, "cells", src="vecs_all")
    cos = _cosine_sql("q.embedding", "v.embedding")
    sql += f"""
    , scored AS (
      SELECT cq.vec_id AS q_id, cv.vec_id, cq.cid AS cell,
             {cos} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY cq.vec_id
                                ORDER BY {cos} DESC, cv.vec_id) AS rn
      FROM cells cq
      JOIN cells cv ON cv.cid = cq.cid AND cv.vec_id <> cq.vec_id
      JOIN embeddings q ON q.vec_id = cq.vec_id
      JOIN embeddings v ON v.vec_id = cv.vec_id
      WHERE cq.vec_id % 100 = 0
    )
    SELECT q_id, vec_id, CAST(cell AS BIGINT) AS cell,
           {q_sql("cosine")} AS cosine, rn
    FROM scored WHERE rn <= 3
    """
    return sql


@register("ann_ivf_incremental_add", oracle=_ivf_incr_oracle())
def ann_ivf_incremental_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance: nprobe=1 probe against the INCREMENTALLY-built
    persisted IVF index — base slice indexed at build time, the new batch
    (newest id decile) assigned to the FROZEN base centroids and appended
    to the cell-partitioned layout without a refit or rewrite
    (ivf_incremental_index_path). Queries come from the FULL corpus
    (vec_id % 100 == 0), so hits land in both old and new files of a
    probed cell directory — the read-path proof that the append is
    transparent to consumers. Identical probe plan to
    ann_ivf_persisted_probe: probe cells declared as a literal IN-filter,
    partition-pruned scan, broadcast query side (plan pinned in
    tests/test_plans.py).

    Scale: the add step is map-only assignment + an append of
    new-batch-sized files into existing cell directories — O(batch), not
    O(corpus); no existing file is rewritten, so index maintenance cost
    is decoupled from index size. The no-refit contract is what the
    oracle checks: its centroid chain fits on the base slice only while
    assignment covers all vectors — any accidental refit on add (or any
    drift between the appended files and a fresh assignment) is a value
    mismatch, and tests/test_incremental_index.py additionally pins
    read-back equality with a from-scratch rebuild."""
    from ..functions.arrowvec import probe_cells_driver

    cents = fitted_centroids_base(spark, sf_dir)
    path = ivf_incremental_index_path(spark, sf_dir)
    q_ids, q_vecs = _collect_probe_queries(spark, sf_dir)
    q_cells = probe_cells_driver(q_vecs, cents, 1)
    probe_cells = sorted({c for row in q_cells for c in row})
    index = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(probe_cells))
        .select(
            "vec_id", "embedding", "e_norm", F.col("cell").cast("bigint").alias("cell")
        )
    )
    return _kernel_probe_top3(index, q_ids, q_vecs, q_cells)


# --- IVF index maintenance: DELETE via tombstones + targeted compaction ------

_DELETE_MOD = 10
_DELETE_RES = 7   # delete set = vec_id % 10 == 7 (~10% of the index)


@functools.cache
def ivf_delete_compact_path(spark: SparkSession, sf_dir: str) -> str:
    """The incremental index COPIED, then a delete batch (vec_id % 10 == 7
    — the GDPR-shaped erasure slice) applied in the two production
    phases, both observable from tests:

    1. TOMBSTONE — the deleted (vec_id, cell) rows land in a sidecar
       parquet next to the index: O(deletes) and immediate; a probe
       anti-joins the sidecar until compaction runs (both read paths are
       proven equal in tests/test_incremental_index.py).
    2. COMPACT — ONLY cells containing at least one tombstone are
       rewritten: survivors are staged cell-partitioned and each
       affected cell directory is swapped for its staged replacement
       (see ivf_compact_deletes for why the swap is explicit rather
       than partitionOverwriteMode=dynamic); cells with no deletions
       keep their original files byte-identical, a fully-deleted cell's
       directory is removed, and the tombstone sidecar is cleared last.

    At 100 TB this is the erasure cost model to design for: deletes are
    metadata-sized until compaction, and compaction I/O is proportional
    to AFFECTED data, never index size."""
    import os
    import shutil

    src = ivf_incremental_index_path(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="ivf_del_index_", dir=scratch_root())
    path = os.path.join(root, "index")
    shutil.copytree(src, path)
    tomb_path = ivf_apply_tombstones(spark, path)
    ivf_compact_deletes(spark, path, tomb_path)
    return path


def ivf_apply_tombstones(spark: SparkSession, path: str) -> str:
    """Phase 1: write the delete slice's (vec_id, cell) rows to the
    sidecar next to ``path``; returns the sidecar path. O(deletes) —
    the index itself is untouched."""
    tomb_path = path + "_tombstones"
    idx = spark.read.parquet(path)
    tomb = idx.filter(
        F.col("vec_id") % _DELETE_MOD == _DELETE_RES
    ).select("vec_id", F.col("cell").cast("bigint").alias("cell"))
    tomb.coalesce(1).write.mode("overwrite").parquet(tomb_path)
    return tomb_path


def ivf_compact_deletes(spark: SparkSession, path: str, tomb_path: str) -> None:
    """Phase 2: rewrite ONLY the cells holding at least one tombstone.
    Survivors of affected cells are written to a STAGING directory
    (cell-partitioned), then each affected cell directory is swapped for
    its staged replacement — the write-audit-publish discipline
    partitionOverwriteMode=dynamic implements internally, done explicitly
    here because the survivors are computed FROM the directory being
    replaced (a same-path overwrite would race its own scan). An
    affected cell with zero survivors simply has no staged replacement
    and its directory is removed; untouched cells keep their files
    byte-identical. The sidecar is cleared last, so a reader applying
    tombstones stays correct at every instant of the swap."""
    import glob
    import os
    import shutil

    tomb = spark.read.parquet(tomb_path)
    affected = [int(r["cell"]) for r in tomb.select("cell").distinct().collect()]
    with tempfile.TemporaryDirectory(
        prefix="ivf_compact_staging_", dir=scratch_root()
    ) as staging:
        survivors = (
            spark.read.parquet(path)
            .filter(F.col("cell").cast("bigint").isin(affected))
            .join(tomb.select("vec_id"), "vec_id", "left_anti")
        )
        survivors.write.mode("overwrite").partitionBy("cell").parquet(staging)
        for cell in affected:
            for d in glob.glob(os.path.join(path, f"cell={cell}")):
                shutil.rmtree(d, ignore_errors=True)
            staged = os.path.join(staging, f"cell={cell}")
            if os.path.isdir(staged):
                shutil.move(staged, os.path.join(path, f"cell={cell}"))
    shutil.rmtree(tomb_path, ignore_errors=True)


def _ivf_delete_oracle() -> str:
    """The incremental-add probe oracle with the delete slice excluded
    from the INDEX side (queries are vec_id % 100 == 0, never in the
    % 10 == 7 delete set) — ranks recomputed over the survivors, so a
    deleted vector surviving compaction OR a survivor lost with it is a
    value mismatch."""
    from .similarity import _cosine_sql

    w = (
        f"WHERE vec_id * 10 < {_IVF_BASE_DECILES} * "
        "(SELECT MAX(vec_id) + 1 FROM embeddings)"
    )
    sql, cent = centroid_chain_sql(where=w)
    sql += """,
    vecs_all AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    )"""
    sql += "," + _assign_sql(cent, "cells", src="vecs_all")
    cos = _cosine_sql("q.embedding", "v.embedding")
    sql += f"""
    , scored AS (
      SELECT cq.vec_id AS q_id, cv.vec_id, cq.cid AS cell,
             {cos} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY cq.vec_id
                                ORDER BY {cos} DESC, cv.vec_id) AS rn
      FROM cells cq
      JOIN cells cv ON cv.cid = cq.cid AND cv.vec_id <> cq.vec_id
                   AND cv.vec_id % {_DELETE_MOD} <> {_DELETE_RES}
      JOIN embeddings q ON q.vec_id = cq.vec_id
      JOIN embeddings v ON v.vec_id = cv.vec_id
      WHERE cq.vec_id % 100 = 0
    )
    SELECT q_id, vec_id, CAST(cell AS BIGINT) AS cell,
           {q_sql("cosine")} AS cosine, rn
    FROM scored WHERE rn <= 3
    """
    return sql


@register("ann_ivf_delete_compact", oracle=_ivf_delete_oracle())
def ann_ivf_delete_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance, the erasure half: nprobe=1 probe against the
    persisted IVF index AFTER a ~10% delete batch (vec_id % 10 == 7) was
    tombstoned and compacted (ivf_delete_compact_path) — completing the
    maintenance pair with ann_ivf_incremental_add (grow) on the same
    frozen-quantizer index. The probe carries NO delete filter of its
    own: correctness comes entirely from the compacted files, so the
    oracle (which recomputes the probe over survivors from raw
    embeddings, ranks included) catches a deleted vector surviving
    compaction, a survivor lost with it, or a cell whose rewrite drifted
    the stored embeddings/norms.

    Scale: deletes are tombstone-sidecar-sized until compaction;
    compaction rewrites only cells containing deletions (staged
    survivors swapped in per affected cell directory), so erasure I/O is
    proportional to affected cells, never index size. Probe plan identical to ann_ivf_persisted_probe
    (partition-pruned scan + broadcast query side, pinned in
    tests/test_incremental_index.py)."""
    from ..functions.arrowvec import probe_cells_driver

    cents = fitted_centroids_base(spark, sf_dir)
    path = ivf_delete_compact_path(spark, sf_dir)
    q_ids, q_vecs = _collect_probe_queries(spark, sf_dir)
    q_cells = probe_cells_driver(q_vecs, cents, 1)
    probe_cells = sorted({c for row in q_cells for c in row})
    index = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(probe_cells))
        .select(
            "vec_id", "embedding", "e_norm", F.col("cell").cast("bigint").alias("cell")
        )
    )
    return _kernel_probe_top3(index, q_ids, q_vecs, q_cells)


# --- Refit-drift audit: WHEN to refit the frozen quantizer (r13) -------------


def _renamed_base_chain() -> tuple[str, str]:
    """The base-slice centroid chain with every CTE identifier suffixed
    `_b`, so it can live in the same WITH clause as the full-corpus
    chain (both chains otherwise emit identical CTE names — vecs, seeds,
    c0..c2, a0..a1 and the c{i}_m / c{i}_new recompute helpers, which
    must be renamed longest-first so `c1` does not clobber `c1_m`)."""
    import re

    w = (
        f"WHERE vec_id * 10 < {_IVF_BASE_DECILES} * "
        "(SELECT MAX(vec_id) + 1 FROM embeddings)"
    )
    sql, cent = centroid_chain_sql(where=w)
    sql = sql.replace("WITH ", "", 1)
    toks = (
        [f"c{i}_m" for i in range(1, ITERATIONS + 1)]
        + [f"c{i}_new" for i in range(1, ITERATIONS + 1)]
        + [f"c{i}" for i in range(ITERATIONS + 1)]
        + [f"a{i}" for i in range(ITERATIONS)]
        + ["vecs", "seeds"]
    )
    for tok in toks:
        sql = re.sub(rf"\b{tok}\b", f"{tok}_b", sql)
    return sql, f"{cent}_b"


def _refit_drift_oracle() -> str:
    from .similarity import _cosine_sql

    full_sql, cent_f = centroid_chain_sql()
    base_sql, cent_b = _renamed_base_chain()
    sql = full_sql + "," + base_sql
    sql += "," + _assign_sql(cent_f, "cells_f", src="vecs")
    sql += "," + _assign_sql(cent_b, "cells_bb", src="vecs")
    cos = _cosine_sql("q.embedding", "v.embedding")

    def top(cells: str, name: str) -> str:
        return f"""
    {name} AS (
      SELECT q_id, vec_id FROM (
        SELECT cq.vec_id AS q_id, cv.vec_id,
               ROW_NUMBER() OVER (PARTITION BY cq.vec_id
                                  ORDER BY {cos} DESC, cv.vec_id) AS rn
        FROM {cells} cq
        JOIN {cells} cv ON cv.cid = cq.cid AND cv.vec_id <> cq.vec_id
        JOIN embeddings q ON q.vec_id = cq.vec_id
        JOIN embeddings v ON v.vec_id = cv.vec_id
        WHERE cq.vec_id % 100 = 0
      ) t WHERE rn <= 3
    )"""

    sql += "," + top("cells_f", "top_f")
    sql += "," + top("cells_bb", "top_bb")
    sql += """
    , qs AS (SELECT vec_id AS q_id FROM embeddings WHERE vec_id % 100 = 0)
    SELECT qs.q_id,
           CAST(COALESCE(nf.n, 0) AS BIGINT) AS n_full,
           CAST(COALESCE(nb.n, 0) AS BIGINT) AS n_base,
           CAST(COALESCE(nc.n, 0) AS BIGINT) AS n_common
    FROM qs
    LEFT JOIN (SELECT q_id, COUNT(*) AS n FROM top_f GROUP BY 1) nf
      ON nf.q_id = qs.q_id
    LEFT JOIN (SELECT q_id, COUNT(*) AS n FROM top_bb GROUP BY 1) nb
      ON nb.q_id = qs.q_id
    LEFT JOIN (
      SELECT f.q_id, COUNT(*) AS n
      FROM top_f f JOIN top_bb b ON b.q_id = f.q_id AND b.vec_id = f.vec_id
      GROUP BY 1
    ) nc ON nc.q_id = qs.q_id
    """
    return sql


def _incell_top3(
    spark: SparkSession, sf_dir: str, centroids: list[list[float]]
) -> DataFrame:
    """(q_id, vec_id): each query's in-cell exact top-3 under the given
    quantizer — queries are the standard vec_id % 100 == 0 sample, each
    probing exactly its OWN cell (nprobe=1 against its own assignment,
    derived driver-side with the same argmin the corpus assignment uses)
    via the shared Arrow probe kernel."""
    from ..functions.arrowvec import probe_cells_driver

    base = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    q_ids, q_vecs = _collect_probe_queries(spark, sf_dir)
    q_cells = probe_cells_driver(q_vecs, centroids, 1)
    return _kernel_probe_top3(
        base.select("vec_id", "embedding"), q_ids, q_vecs, q_cells, centroids
    ).select("q_id", "vec_id")


@register("ann_ivf_refit_drift", oracle=_refit_drift_oracle())
def ann_ivf_refit_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHEN-TO-REFIT audit for the frozen-quantizer policy the
    incremental add/delete ops depend on: per probe query, the in-cell
    exact top-3 under the BASE-fitted centroids (what the incrementally-
    maintained index routes with) vs under centroids refit on the FULL
    corpus, and the overlap between the two answer sets. n_common close
    to n_full means the frozen quantizer still routes queries to cells
    carrying the same neighbors — keep appending; a falling overlap is
    the measured signal that enough distribution drift has accumulated
    to schedule a reindex. Both centroid chains, both assignments, both
    top-3 sets, and the overlap are recomputed independently by the
    DuckDB oracle (two fully-renamed Lloyd chains in one WITH clause),
    so the audit itself is value-checked, not narrated — pure BIGINT
    counts, no float columns.

    Scale: two map-only assignments (K=8 broadcast centroids) + two
    in-cell top-3 joins over the bounded query sample — the audit costs
    two probe passes, nothing corpus-quadratic; at 100 TB it runs on a
    sampled query panel exactly like this one (vec_id % 100)."""
    cents_full = fitted_centroids(spark, sf_dir)
    cents_base = fitted_centroids_base(spark, sf_dir)
    top_f = _incell_top3(spark, sf_dir, cents_full)
    top_b = _incell_top3(spark, sf_dir, cents_base)
    base = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    qs = base.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id")
    )
    nf = top_f.groupBy("q_id").agg(F.count(F.lit(1)).alias("n"))
    nb = top_b.groupBy("q_id").agg(F.count(F.lit(1)).alias("n"))
    nc = (
        top_f.join(top_b, ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        qs.join(nf.withColumnRenamed("n", "n_full"), "q_id", "left")
        .join(nb.withColumnRenamed("n", "n_base"), "q_id", "left")
        .join(nc.withColumnRenamed("n", "n_common"), "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_full", F.lit(0)).cast("bigint").alias("n_full"),
            F.coalesce("n_base", F.lit(0)).cast("bigint").alias("n_base"),
            F.coalesce("n_common", F.lit(0)).cast("bigint").alias("n_common"),
        )
    )
