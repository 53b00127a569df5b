"""Similarity search over the `embeddings` table (north-star surface):
brute-force cosine top-k, LSH-bucketed and IVF-partitioned variants,
embedding near-dup.

Float determinism: cosine is computed with the SAME arithmetic on both
engines — elements cast to double, dot/norm accumulated left-to-right over
the 64 positions (Spark `zip_with`+`aggregate` fold vs DuckDB
`list_transform`+`list_sum` are both sequential in index order), so the
doubles are bit-identical and rounding/ranking cannot diverge. DuckDB's
`list_cosine_similarity` is deliberately NOT used (float32 internals).

Scale posture (100 TB of vectors):
- brute force: queries broadcast against the vector corpus; per-partition
  local top-k then global top-k merge — no pairwise shuffle (the rank
  filter compiles to a partial WindowGroupLimit below the Exchange, so at
  most k×Q rows leave each partition; plan-pinned in tests/test_plans.py);
- LSH: sign-bit bucket equi-join — each query compares only within its
  bucket (tunable recall/cost);
- IVF: partition (cell) pruning via an equi-join on the cell id, the
  standard billion-scale layout; here the `label` column stands in for the
  k-means cell assignment.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import q, q_sql
from ..plans.registry import register
from ..sources.tables import fan_out, load_tables


def _dot(a: str, b: str) -> Column:
    prods = F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: str) -> Column:
    sq = F.transform(F.col(a), lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


# dim-agnostic (generate_series bound = len of the actual array): the Spark
# side folds over the full array with zip_with, so a hardcoded dim here
# would turn an embedding-width drift in the testdata into an opaque value
# mismatch instead of two sides that simply agree (same latent-drift class
# the SchemaDriftError tripwire covers for column types)
_DOT_SQL = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_NORM_SQL = (
    "sqrt(list_sum(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
)


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"({_DOT_SQL.format(a=a, b=b)} / "
        f"({_NORM_SQL.format(a=a)} * {_NORM_SQL.format(a=b)}))"
    )


@register(
    "embedding_norm_stats",
    oracle=f"""
    SELECT label,
           COUNT(*) AS n,
           ROUND(AVG({_NORM_SQL.format(a='embedding')}), 4) AS avg_norm,
           ROUND(MIN({_NORM_SQL.format(a='embedding')}), 4) AS min_norm,
           ROUND(MAX({_NORM_SQL.format(a='embedding')}), 4) AS max_norm
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics — the array-math smoke test for the
    vector column (higher-order functions, no UDF)."""
    e = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    norm = _norm("embedding")
    return e.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(F.avg(norm), 4).alias("avg_norm"),
        F.round(F.min(norm), 4).alias("min_norm"),
        F.round(F.max(norm), 4).alias("max_norm"),
    )


_BF_QMAX = 64  # bruteforce query-set cap: ids 0,100,...,6300 — Q <= 64 at ANY corpus size


@register(
    "ann_bruteforce_topk",
    oracle=f"""
    WITH queries AS (
      SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
      WHERE vec_id % 100 = 0 AND vec_id < {100 * _BF_QMAX}
    ),
    scored AS (
      SELECT q.q_id, e.vec_id,
             {_cosine_sql('q.q_emb', 'e.embedding')} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
                                ORDER BY {_cosine_sql('q.q_emb', 'e.embedding')} DESC, e.vec_id) AS rn
      FROM queries q JOIN embeddings e ON e.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, ROUND(cosine, 4) AS cosine, rn
    FROM scored WHERE rn <= 5
    """,
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 per query vector, two-phase in the physical plan.
    The query set is a BOUNDED relation: vec_id % 100 == 0 AND vec_id <
    6400 — at most 64 query vectors regardless of corpus size, so the
    broadcast side is O(Q) = O(64) and the shuffle after the partial cut is
    O(k·Q) rows, both scale-independent (r5 verdict: the previous
    unbounded % 100 predicate made Q grow with N, which at true 100 TB
    would overflow the broadcast — exact brute force is the labeled
    baseline for a bounded probe set; an unbounded query side belongs on
    the bucketed/IVF paths, whose bucket equi-joins are two-sided
    shuffles already). Phase 1 scores a map-side cross of
    corpus partitions × broadcast queries; because the rank filter
    (row_number ≤ 5) sits directly on the window, Spark compiles a
    `WindowGroupLimit ... Partial` BELOW the q_id Exchange — each partition
    is cut to its local top-5 per query in the JVM (whole-stage, no Python)
    before anything shuffles. Phase 2's Exchange therefore carries at most
    5 × Q rows per partition — never the Q×N scored cross — into the final
    `WindowGroupLimit ... Final` + window merge. tests/test_plans.py pins
    the Partial limit below the Exchange so a regression (e.g. an
    expression rewrite that breaks the rank-filter pattern match) fails CI
    rather than silently reintroducing the pairwise shuffle.

    Ties broken by vec_id for determinism (same total order in the partial
    cut and the final merge, so the cut can never drop a global top-5 row).

    r14: the N x Q scoring pass runs as an Arrow kernel
    (functions/arrowvec.score_bounded_queries) over the fanned-out corpus
    — the bounded query set is collected to the driver (the same O(Q<=64)
    material the old plan broadcast), the per-pair cosine is the
    order-preserving numpy fold (bit-identical to the `_dot`/`_norm`
    expressions, pinned by tests), and each batch emits only its local
    top-5 per query (a superset of the global top-5 under the identical
    (cosine desc, vec_id) total order), so the q_id Exchange still carries
    <= 5 x Q rows per partition — the same partial-cut economics, with the
    interpreted 64-step lambda folds (the query's scaling term, SPARKWALL
    r13) replaced by vectorized batch math."""
    from ..functions.arrowvec import collect_query_vectors, score_bounded_queries

    e = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    qpred = (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 100 * _BF_QMAX)
    q_ids, q_vecs = collect_query_vectors(e.filter(qpred), "vec_id", "embedding")
    w = Window.partitionBy("q_id").orderBy(F.col("cosine_raw").desc(), F.col("vec_id"))
    return (
        score_bounded_queries(
            # plain scan, no fan_out: the kernel's per-row work is light
            # vectorized math, so the scan's natural splits (which grow
            # with data via maxPartitionBytes) are the right parallelism;
            # a fixed 32-way repartition only added per-task Arrow
            # round-trip overhead at small SF (measured 0.51 -> 0.27 s)
            e.select("vec_id", "embedding"),
            q_ids,
            q_vecs,
            5,
            vec_col="embedding",
            out_col="cosine_raw",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "q_id",
            "vec_id",
            F.round("cosine_raw", 4).alias("cosine"),
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


@register(
    "ann_lsh_bucketed",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1]  >= 0 THEN 4 ELSE 0 END +
              CASE WHEN embedding[8]  >= 0 THEN 2 ELSE 0 END +
              CASE WHEN embedding[20] >= 0 THEN 1 ELSE 0 END) AS bucket
      FROM embeddings
    ),
    queries AS (
      SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM bucketed WHERE vec_id % 100 = 0
    ),
    scored AS (
      SELECT q.q_id, b.vec_id, b.bucket,
             {_cosine_sql('q.q_emb', 'b.embedding')} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
                                ORDER BY {_cosine_sql('q.q_emb', 'b.embedding')} DESC, b.vec_id) AS rn
      FROM queries q JOIN bucketed b ON b.bucket = q.bucket AND b.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, CAST(bucket AS INTEGER) AS bucket,
           ROUND(cosine, 4) AS cosine, rn
    FROM scored WHERE rn <= 3
    """,
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: 3 sign-bit 'hyperplanes' (fixed coordinate axes 1,
    8, 20 — deterministic, no RNG) partition the corpus into 8 buckets;
    each query searches only its own bucket. The bucket equi-join replaces
    the full cross — the recall/cost dial is the number of bits."""
    e = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    bucket = (
        F.when(F.element_at("embedding", 1) >= 0, 4).otherwise(0)
        + F.when(F.element_at("embedding", 8) >= 0, 2).otherwise(0)
        + F.when(F.element_at("embedding", 20) >= 0, 1).otherwise(0)
    )
    bucketed = fan_out(e).select(
        "vec_id", "embedding", bucket.alias("bucket"), _norm("embedding").alias("e_norm")
    )
    queries = bucketed.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
        F.col("e_norm").alias("q_norm"),
    )
    cos = _dot("q_emb", "embedding") / (F.col("q_norm") * F.col("e_norm"))
    w = Window.partitionBy("q_id").orderBy(F.col("cosine_raw").desc(), F.col("vec_id"))
    return (
        bucketed.join(
            F.broadcast(queries),
            (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "vec_id", "bucket", cos.alias("cosine_raw"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "q_id",
            "vec_id",
            F.col("bucket").cast("int").alias("bucket"),
            F.round("cosine_raw", 4).alias("cosine"),
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


@register(
    "ann_ivf_partitioned",
    oracle=f"""
    WITH queries AS (
      SELECT vec_id AS q_id, embedding AS q_emb, label FROM embeddings WHERE vec_id % 100 = 0
    ),
    scored AS (
      SELECT q.q_id, e.vec_id, e.label,
             {_cosine_sql('q.q_emb', 'e.embedding')} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
                                ORDER BY {_cosine_sql('q.q_emb', 'e.embedding')} DESC, e.vec_id) AS rn
      FROM queries q JOIN embeddings e ON e.label = q.label AND e.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, label, ROUND(cosine, 4) AS cosine, rn
    FROM scored WHERE rn <= 3
    """,
)
def ann_ivf_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: the corpus is partitioned into cells (here the
    `label` column stands in for the k-means centroid assignment an IVF
    build step would produce); each query probes only its own cell. At
    scale the cell id is the physical partition key, so the probe is a
    partition-pruned scan."""
    ecols = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    e = fan_out(ecols).select("vec_id", "embedding", "label", _norm("embedding").alias("e_norm"))
    queries = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
        F.col("e_norm").alias("q_norm"),
    )
    cos = _dot("q_emb", "embedding") / (F.col("q_norm") * F.col("e_norm"))
    w = Window.partitionBy("q_id").orderBy(F.col("cosine_raw").desc(), F.col("vec_id"))
    return (
        e.join(
            F.broadcast(queries),
            (F.col("label") == F.col("q_label")) & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "vec_id", "label", cos.alias("cosine_raw"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "q_id",
            "vec_id",
            "label",
            F.round("cosine_raw", 4).alias("cosine"),
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH sub AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_cosine_sql('a.embedding', 'b.embedding')}, 4) AS cosine
    FROM sub a JOIN sub b ON a.vec_id < b.vec_id
    WHERE {_cosine_sql('a.embedding', 'b.embedding')} >= 0.95
    """,
    diagnostic=True,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: pairs above 0.95 cosine within a
    deterministic 20% subset. The pairwise form is the correctness oracle;
    the scale path is `dedup_embedding_cosine_cells` below (corpus-scaled
    sign-bit cells) and ann_lsh_bucketed's bucket join (candidates only).

    DIAGNOSTIC (registry-tagged, r12): all-pairs by construction —
    `a JOIN b ON vec_a < vec_b` over the subset is n²/50 dot products, and
    the r11 sf1 gate measured it at 50.5× wall for 10× data (0 output rows
    at every SF: the synthetic Gaussian corpus has no natural ≥0.95
    pairs). Kept as the exactness baseline the cell twin is value-checked
    against; excluded from the large-SF gates like the other quadratics."""
    e = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    sub = fan_out(e.filter(F.col("vec_id") % 5 == 0)).select(
        "vec_id", "embedding", _norm("embedding").alias("nrm")
    )
    a = sub.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("norm_a"),
    )
    b = sub.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("norm_b"),
    )
    cos = _dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine_raw", cos)
        .filter(F.col("cosine_raw") >= 0.95)
        .select("vec_a", "vec_b", F.round("cosine_raw", 4).alias("cosine"))
    )


# SemDeDup coarse-cluster sign bits. The bit COUNT is data-dependent
# (r10, closing the r9 verdict's top item): b = len(bin(ceil(n/target)))
# clamped to [4, 16], so the cell count 2^b grows ∝ corpus size and the
# within-cell pair work Σ_c|cell_c|² stays ≈ n·target — LINEAR in the
# corpus instead of quadratic at a fixed 16 cells. The 16 candidate axes
# are fixed (first four unchanged from the r8/r9 4-bit config, so small-SF
# cell ids are bit-identical to the old goldens); dim 3 is excluded
# because the planted-twin nudge perturbs it. Measured on sf0.1: every
# axis splits 50/50 and Σ|cell|² tracks the balanced ideal within ~15% at
# b = 4..10, so no centroid fit is needed for balance — sign cells ARE
# the deterministic stand-in for the paper's k-means (arXiv:2303.09540
# §3; the paper's own ablation shows cluster QUALITY matters little, the
# cluster COUNT is the scale dial — 11k clusters at LAION scale).
_SEMDEDUP_DIMS = (1, 8, 20, 40, 5, 12, 26, 33, 46, 52, 58, 62, 15, 29, 37, 44)
_SEMDEDUP_TAU = 0.95
_SEMDEDUP_TARGET_CELL = 125  # desired vectors per cell: cells = 2^ceil(log2(n/target))

# b (bit count) from the corpus cardinality, integer-exact on both engines:
# len(bin(q)) = floor(log2(q)) + 1 with q = max(1, (n-1) // target), so
# 2^b ∈ (q, 2q] and the realized cell size lands in [target/2, target).
_SEMDEDUP_BITS_SQL = (
    "GREATEST(4, LEAST(16, LENGTH(BIN(GREATEST(1, "
    f"(COUNT(*) - 1) // {_SEMDEDUP_TARGET_CELL})))))"
)


def _semdedup_bucket_sql(col: str) -> str:
    """Variable-width sign-bit cell id: bit i (0-based) is active iff
    i < p.b, with place value 2^(b-1-i) — identical term-by-term to the
    Spark expression so the doubles/ints cannot diverge."""
    terms = " + ".join(
        f"CASE WHEN {i} < p.b AND {col}[{d}] >= 0 "
        f"THEN CAST(POW(2, p.b - 1 - {i}) AS BIGINT) ELSE 0 END"
        for i, d in enumerate(_SEMDEDUP_DIMS)
    )
    return f"({terms})"


def _semdedup_params(corpus: DataFrame) -> DataFrame:
    """The cell-count dial as a 1-row DataFrame: b = clamp(len(bin(
    max(1, (n-1) div target))), 4, 16) — the Spark twin of
    _SEMDEDUP_BITS_SQL, computed in-plan from a COUNT aggregate (a
    broadcast of one row, NOT a driver collect) so the plan stays fully
    declarative and cells = 2^b ∝ corpus."""
    return corpus.agg(
        F.greatest(
            F.lit(4),
            F.least(
                F.lit(16),
                F.length(
                    F.bin(
                        F.greatest(
                            F.lit(1),
                            F.expr(f"(count(1) - 1) div {_SEMDEDUP_TARGET_CELL}"),
                        )
                    )
                ),
            ),
        ).alias("b")
    )


def _semdedup_cell_expr(emb: str) -> Column:
    """Variable-width sign-bit cell id over the broadcast `b` column —
    term-by-term identical to _semdedup_bucket_sql so the two engines'
    cell assignments cannot diverge."""
    b = F.col("b")
    cell = None
    for i, d in enumerate(_SEMDEDUP_DIMS):
        term = F.when(
            (F.lit(i) < b) & (F.element_at(emb, d) >= 0),
            F.pow(F.lit(2.0), (b - 1 - i).cast("double")).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        cell = term if cell is None else cell + term
    return cell


def _semdedup_cells(corpus: DataFrame, emb: str) -> DataFrame:
    """Corpus-scaled sign-bit cell assignment — the ONE Spark-side copy
    shared by dedup_semdedup, ann_knn_graph, curation_prototypicality_prune
    and ann_range_search_cells (the SQL side is shared via
    _semdedup_bucket_sql). Returns fan_out(corpus) plus a `cell` column;
    the broadcast `b` param is dropped after use."""
    return (
        fan_out(corpus)
        .crossJoin(F.broadcast(_semdedup_params(corpus)))
        .withColumn("cell", _semdedup_cell_expr(emb))
        .drop("b")
    )


@register(
    "dedup_embedding_cosine_cells",
    oracle=f"""
    WITH sub AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id % 5 = 0
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(generate_series(1, len(embedding)),
                            i -> CAST(embedding[i] AS DOUBLE) * 1.25
                                 + CASE WHEN i = 3 THEN 0.01 ELSE 0.0 END) AS e
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    params AS (
      SELECT {_SEMDEDUP_BITS_SQL} AS b FROM sub
    ),
    bucketed AS (
      SELECT vec_id, e, {_semdedup_bucket_sql('e')} AS cell
      FROM sub CROSS JOIN params p
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_cosine_sql('a.e', 'b.e')}, 4) AS cosine
    FROM bucketed a JOIN bucketed b
      ON b.cell = a.cell AND a.vec_id < b.vec_id
    WHERE {_cosine_sql('a.e', 'b.e')} >= 0.95
    """,
)
def dedup_embedding_cosine_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-blocked embedding-cosine near-dup — the production twin of the
    diagnostic `dedup_embedding_cosine` (r12, closing the r11 verdict's
    50.5×-at-10×-data finding): the same ≥0.95-cosine pair search over the
    same deterministic 20% subset, restricted to pairs within the shared
    corpus-scaled sign-bit cells (`_semdedup_cells`, the dial dedup_semdedup
    / ann_knn_graph / ann_range_search_cells already share).

    Scale posture: cell assignment is map-only sign tests with cells ∝ n,
    so the pair expansion cost Σ_c|cell_c|² ≈ n·target_cell stays LINEAR
    in the corpus where the diagnostic's `vec_a < vec_b` self-join is
    n²/50 dot products (measured 50.5× wall at 10× data). The cell id is
    a plain hash equi-join key — each cell's pair join is partition-local,
    exactly the SemDeDup layout. The within-cell restriction is the
    standard recall trade; its boundary-miss law is MEASURED on this exact
    cell machinery by `ann_range_search_recall`, and for genuine near-dups
    (cosine ≥ 0.95 → angle ≤ 18°) a sign bit flips with probability
    ≤ angle/π ≈ 0.1 per bit, the gentle decay dedup_semdedup documents.

    The Gaussian corpus has NO natural ≥0.95 pairs (the diagnostic returns
    0 rows at every SF — it exercises nothing), so the subset is augmented
    with dedup_semdedup's planted twins (every 10th vector, ×1.25 with one
    nudged coordinate, cosine ≈ 0.9999, same cell by positive-scale
    invariance on the untouched sign axes): each twin MUST surface with
    its original as the earlier pair member, making the ≥0.95 path real
    and value-checked — the DuckDB oracle plants identical twins."""
    e = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    base = e.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    twins = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double") * 1.25
            + F.when(i == 2, 0.01).otherwise(0.0),
        ).alias("e"),
    )
    corpus = base.unionAll(twins)
    bucketed = _semdedup_cells(corpus, "e")
    # r14: grouped Arrow pair kernel (one shuffle of the vectors by cell;
    # pairs expand in numpy — guide §8); threshold + rounding stay JVM
    from ..functions.arrowvec import cell_pair_cosines

    return (
        cell_pair_cosines(bucketed, "e")
        .filter(F.col("cosine_raw") >= 0.95)
        .select("vec_a", "vec_b", F.round("cosine_raw", 4).alias("cosine"))
    )


_SEMDEDUP_TWIN_SQL = """
    SELECT vec_id + 1000000 AS vec_id, label,
           list_transform(generate_series(1, len(embedding)),
                          i -> CAST(embedding[i] AS DOUBLE) * 1.25
                               + CASE WHEN i = 3 THEN 0.01 ELSE 0.0 END)
             AS embedding
    FROM embeddings WHERE vec_id % 10 = 0
"""


@register(
    "dedup_semdedup",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
      FROM embeddings
      UNION ALL
      {_SEMDEDUP_TWIN_SQL}
    ),
    params AS (
      SELECT {_SEMDEDUP_BITS_SQL} AS b FROM corpus
    ),
    bucketed AS (
      SELECT vec_id, label, embedding,
             {_semdedup_bucket_sql('embedding')} AS cell
      FROM corpus CROSS JOIN params p
    ),
    pruned AS (
      SELECT a.vec_id,
             CAST(COUNT(b.vec_id) AS BIGINT) AS n_witnesses
      FROM bucketed a
      JOIN bucketed b
        ON b.cell = a.cell AND b.vec_id < a.vec_id
       AND {_cosine_sql('a.embedding', 'b.embedding')} >= {_SEMDEDUP_TAU}
      GROUP BY a.vec_id
    )
    SELECT t.vec_id, CAST(t.cell AS INTEGER) AS cell, t.label,
           COALESCE(p.n_witnesses, 0) AS n_witnesses,
           (p.vec_id IS NOT NULL) AS is_pruned
    FROM bucketed t LEFT JOIN pruned p ON p.vec_id = t.vec_id
    """,
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition the corpus into coarse semantic cells,
    then prune vectors that have a near-identical neighbor (cosine >=
    0.95) WITHIN their own cell, keeping one deterministic canonical
    (the lowest vec_id) per near-dup group. The paper's cells come from
    k-means; here deterministic sign-bit axes stand in (zero RNG, so the
    DuckDB oracle reproduces cell assignment exactly), and — the r10
    change — the NUMBER of axes scales with the corpus: b =
    clamp(len(bin(ceil(n / {target}))), 4, 16), computed in-plan from a
    broadcast 1-row COUNT aggregate, so the cell count 2^b ∝ n.

    Scale posture (the reason SemDeDup works at 100 TB where pairwise
    cosine cannot): the quadratic pair expansion runs within cells only —
    cost Σ_c |cell_c|², and with cells ∝ corpus that is ≈ n·target_cell
    — LINEAR in the corpus (measured: slope5 dropped from 9.84 at the
    old fixed-16-cell config to ~linear; SCALING.md r10). Cell
    assignment itself is map-only (b ≤ 16 sign tests per row — no n×K
    centroid argmin, the reason this beats a flat Lloyd quantizer whose
    assignment cost n·K would itself be n²/target). The measured 50/50
    per-axis balance makes Σ|cell|² track the balanced ideal within ~15%
    (see the _SEMDEDUP_DIMS comment). The cell id is a broadcast-free
    equi-join key and, in a persisted layout, the physical partition
    key, so each cell's pair join is partition-local. The keep-lowest-id
    rule makes the survivor set deterministic without the paper's
    centroid-distance tiebreak. Recall trade vs the paper's k-means:
    a genuine near-dup pair (cosine ≥ 0.95, angle ≤ 18°) flips any one
    sign bit with probability ≤ angle/π ≈ 0.1, so per-bit recall decays
    gently as b grows — the same boundary-split effect k-means cells
    have; the planted twins are exact-scale copies on the untouched
    axes, so THEIR recall is invariant by construction at every b.

    The synthetic embeddings are label-Gaussian with NO natural pairs
    above 0.95 (max in-cell cosine ≈ 0.51 measured), so the corpus is
    augmented with deterministic planted twins — every 10th vector,
    rescaled ×1.25 with one coordinate nudged (cosine ≈ 0.9999, same
    sign-bit cell by positive-scale invariance) — making the prune path
    REAL: each twin must be pruned with its original as the earlier
    witness, and every original must survive; the DuckDB oracle plants
    the identical twins, so recall of the planted dups is value-checked
    rather than asserted. Output: one row per vector with its cell,
    earlier-in-cell witness count, and the prune flag — `is_pruned =
    false` rows ARE the deduplicated corpus."""
    e = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    base = e.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    twins = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        "label",
        F.transform(
            "embedding",
            lambda x, i: x.cast("double") * 1.25
            + F.when(i == 2, 0.01).otherwise(0.0),
        ).alias("embedding"),
    )
    corpus = base.unionAll(twins)
    # NOT persisted (measured, r13 opt round): the consumers re-run
    # only a map-only sign-bit assignment — the cache write of the
    # array-typed rows costs more than the recompute it saves (~1.7 s vs
    # ~1.3 s at sf0.1)
    bucketed = _semdedup_cells(corpus, "embedding")
    # r14: within-cell pair cosines via the grouped Arrow kernel — each
    # vector is shuffled ONCE (by cell) and the quadratic pair expansion
    # happens in numpy, replacing the two-sided cell self-join + the
    # interpreted per-pair fold (guide §8 / §4.2). Same doubles, same
    # b_id < a_id pair set; the threshold and witness count stay in the
    # JVM so the kernel only computes.
    from ..functions.arrowvec import cell_pair_cosines

    pairs = cell_pair_cosines(
        bucketed, "embedding", out_cols=("b_id", "a_id", "cosine_raw")
    )
    pruned = (
        pairs.filter(F.col("cosine_raw") >= _SEMDEDUP_TAU)
        .groupBy(F.col("a_id").alias("vec_id"))
        .agg(F.count("*").cast("bigint").alias("n_witnesses"))
    )
    return (
        bucketed.join(pruned, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            "label",
            F.coalesce("n_witnesses", F.lit(0)).cast("bigint").alias("n_witnesses"),
            F.col("n_witnesses").isNotNull().alias("is_pruned"),
        )
    )


_MAXABS_SQL = "list_max(list_transform({a}, y -> abs(CAST(y AS DOUBLE))))"


@register(
    "ann_int8_rerank",
    oracle=f"""
    WITH scaled AS (
      SELECT vec_id, embedding,
             127.0 / {_MAXABS_SQL.format(a='embedding')} AS s
      FROM embeddings
      WHERE {_MAXABS_SQL.format(a='embedding')} > 0
    ),
    base AS (
      SELECT vec_id, embedding,
             list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * s + 0.5)) AS q8
      FROM scaled
    ),
    queries AS (
      SELECT vec_id AS q_id, embedding AS q_emb, q8 AS q_q8
      FROM base WHERE vec_id % 100 = 0 AND vec_id < {100 * _BF_QMAX}
    ),
    coarse AS (
      SELECT q.q_id, b.vec_id, q.q_emb, b.embedding,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
                                ORDER BY {_cosine_sql('q.q_q8', 'b.q8')} DESC, b.vec_id) AS rn_coarse
      FROM queries q JOIN base b ON b.vec_id <> q.q_id
    ),
    exact AS (
      SELECT q_id, vec_id,
             {_cosine_sql('q_emb', 'embedding')} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY {_cosine_sql('q_emb', 'embedding')} DESC, vec_id) AS rn
      FROM coarse WHERE rn_coarse <= 20
    )
    SELECT q_id, vec_id, ROUND(cosine, 4) AS cosine, rn
    FROM exact WHERE rn <= 5
    """,
)
def ann_int8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized coarse search + exact rerank — the memory-bandwidth
    play for billion-vector corpora: score candidates against a 4×-smaller
    symmetric-quantized copy (per-vector scale 127/max|x|, round-half-up),
    keep the coarse top-20 per query, then rerank those with full-precision
    cosine to a final top-5.

    Quantization is deterministic arithmetic (``floor(x·s + 0.5)``, the
    same q() convention the scalar layer uses), so unlike the RNG-seeded
    MLlib LSH variants this compresses-then-searches with a bit-exact DuckDB
    twin. Cosine over the quantized vectors needs no dequantization — the
    per-vector scales cancel in the normalization.

    Plan shape: the quantized copy is computed once per vector BELOW the
    fan_out exchange (the shuffle materializes q8, so the per-pair coarse
    dot consumes a stored attribute instead of re-quantizing 64 floors per
    candidate — the CollapseProject trap). The coarse pass ships ONLY the
    quantized arrays through the pair join and its top-k shuffle — the
    candidate list is (q_id, vec_id) — and the rerank re-fetches full
    vectors by id (broadcast the tiny candidate set against the corpus;
    the corpus side is a ReusedExchange of the same fan-out shuffle).

    The query set carries the _BF_QMAX bound (plateaus at ≤64 queries
    once the corpus exceeds 6,400 vectors — below that Q still grows with
    the corpus, r12): the previously-unbounded %100 predicate made Q ∝ n, so the
    coarse pass was n²/100 quantized dots and the query broadcast itself
    grew with the corpus — the same disease ann_bruteforce_topk documented
    and ann_mmr_diversified_topk just re-caught at the sf1 gate (10.3×
    wall at 10× data here). Bounded, both passes are one linear scan."""
    e = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    max_abs = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    scaled = e.select("vec_id", "embedding", max_abs.alias("max_abs")).filter(
        F.col("max_abs") > 0
    )
    q8 = F.transform(
        F.col("embedding"),
        lambda x: F.floor(
            x.cast("double") * (F.lit(127.0) / F.col("max_abs")) + F.lit(0.5)
        ).cast("double"),
    )
    base = scaled.select("vec_id", "embedding", q8.alias("q8"))
    # r14: the N x Q coarse scoring (the query's scaling term — SPARKWALL
    # r13 measured ratio 4.83 at 10x data, all interpreted fold lambdas)
    # runs as the Arrow bounded-query scorer; the <= 64 query q8 rows are
    # collected from the same pre-fan-out quantization expression the
    # corpus branch materializes, so query and corpus codes stay the
    # product of ONE floor expression. Per-batch top-20 cut keeps the
    # q_id Exchange at <= 20 x Q rows per partition, as before.
    from ..functions.arrowvec import collect_query_vectors, score_bounded_queries

    q_ids, q_q8s = collect_query_vectors(
        scaled.filter(
            (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 100 * _BF_QMAX)
        ).select("vec_id", q8.alias("q8")),
        "vec_id",
        "q8",
    )
    w_coarse = Window.partitionBy("q_id").orderBy(F.col("coarse_raw").desc(), F.col("vec_id"))
    candidates = (
        score_bounded_queries(
            base.select("vec_id", "q8"),
            q_ids,
            q_q8s,
            20,
            vec_col="q8",
            out_col="coarse_raw",
        )
        .withColumn("rn_coarse", F.row_number().over(w_coarse))
        .filter(F.col("rn_coarse") <= 20)
        .select("q_id", "vec_id")
    )
    full = base.select("vec_id", "embedding", _norm("embedding").alias("e_norm"))
    q_full = full.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 100 * _BF_QMAX)
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("e_norm").alias("q_norm"),
    )
    exact_cos = _dot("q_emb", "embedding") / (F.col("q_norm") * F.col("e_norm"))
    w_exact = Window.partitionBy("q_id").orderBy(F.col("cosine_raw").desc(), F.col("vec_id"))
    return (
        full.join(F.broadcast(candidates), "vec_id")
        .join(F.broadcast(q_full), "q_id")
        .select("q_id", "vec_id", exact_cos.alias("cosine_raw"))
        .withColumn("rn", F.row_number().over(w_exact))
        .filter(F.col("rn") <= 5)
        .select(
            "q_id",
            "vec_id",
            F.round("cosine_raw", 4).alias("cosine"),
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


# MLlib-LSH audit constants. The truth side samples pairs with at least one
# endpoint in the 1-in-20 id sample (the production recall-estimation
# shape: the sketch is audited on a sample, never all pairs). Recall
# bounds sit well under the measured values (BRP ~0.95; MinHash 0.987 /
# 0.993).
#
# The BRP distance threshold is CORPUS-CALIBRATED since r13 (r12 verdict
# task 1): the fixed _BRP_DIST_T=1.2 the audit carried through r12 was
# tuned on the real sf0.1 distance distribution, but gen_sf.py's
# per-label Gaussian embeddings are ~90x denser at that radius (truth
# pairs: 2.3k real sf0.1 vs 205k in the generated 10k prefix), so the
# audit's joins and the MLlib pair output exploded at the large-SF gates
# (~204 s of every sf1 gate run, the registry's only >15x SPARKWALL
# reading). The threshold is now a RANK statistic of the corpus's own
# sampled distance distribution — truth-pair DENSITY is pinned instead of
# the radius, so the audit stays selective (and its cost flat) on any
# input distribution. Both engines derive the identical threshold from
# the identical d2 multiset (same left-to-right double fold), so truth
# membership stays bit-exact; see ann_mllib_brp_lsh's docstring for the
# boundary analysis.
_BRP_RECALL_PCT = 85
_BRP_CAL_MOD = 7       # calibration subset: candidate pairs with o % 7 == 3
_BRP_CAL_RES = 3
_BRP_CAL_MILLI = 12    # threshold = max(1, floor(0.012*m))-th smallest cal d2
_MH_JDIST_T = 0.35         # MLlib threshold (Jaccard distance)
_MH_RECALL_PCT = 95
_AUDIT_MOD = 20
# Bounded audit corpus for the MinHash audit (same fixed-size-relation
# pattern as _BF_QMAX): MLlib's MinHashLSH degenerates on Zipf-skewed
# vocabularies — the hottest token sits in ~78% of docs, and whenever its
# hash is a table's minimum, all those docs share one bucket, so the
# bucket self-join expands ~(0.78n)² pairs per table (measured: the
# unbounded audit ran >45 min at 25k docs). The audit therefore probes a
# FIXED 2500-doc prefix (r13: halved from 5000 — the (0.78n)² bucket
# expansion makes the halving a ~4x cost cut; r12 measured the 5000-doc
# audit at 54.9 s solo at sf0.1, the registry's most expensive sf0.1
# query, and the bound is SF-invariant so every gate paid it) — honest
# for an accuracy audit, which needs a sample, not the corpus. The
# engine's own production minhash (dedup_minhash_lsh_pairs) does not
# share the degeneracy: it bands signatures over DF-CAPPED shingles, so
# no bucket exceeds MAX_DOC_FREQ.
_MH_AUDIT_MAX_DOC = 2500
# The BRP audit gets the same fixed-prefix bound (r11; tightened 10k →
# 2k in r13). The MLlib bucket join's wall scales super-linearly with the
# corpus (13 s → 259 s → 936 s at sf0.1/0.5/1 with the 10k prefix and the
# old fixed threshold): gen_sf's per-label Gaussian vectors collapse into
# few dense projection buckets, so candidate generation — which depends
# only on bucketLength, NOT on the distance threshold — grows ~n² there.
# An accuracy audit needs a sample, not the corpus: 2000 vectors is the
# FULL corpus at sf <= 0.1 (sf0.1 results are bit-identical to the
# unbounded form) and a fixed-cost prefix above it, which holds the sf1
# Spark wall at the sf0.1 level (SPARKWALL ratio ~1 vs the 19.6x the 10k
# prefix read at r12).
_BRP_AUDIT_MAX_VEC = 2000


@register(
    "ann_mllib_brp_lsh",
    oracle=f"""
    WITH cand AS MATERIALIZED (
      SELECT s.vec_id AS s, o.vec_id AS o,
             {_DOT_SQL.format(a='s.embedding', b='s.embedding')}
               - 2 * {_DOT_SQL.format(a='s.embedding', b='o.embedding')}
               + {_DOT_SQL.format(a='o.embedding', b='o.embedding')} AS d2
      FROM embeddings s JOIN embeddings o ON o.vec_id <> s.vec_id
      WHERE s.vec_id % {_AUDIT_MOD} = 0
        AND s.vec_id < {_BRP_AUDIT_MAX_VEC} AND o.vec_id < {_BRP_AUDIT_MAX_VEC}
    ),
    thr AS (
      SELECT MAX(d2) AS t FROM (
        SELECT d2, ROW_NUMBER() OVER (ORDER BY d2) AS rn,
               COUNT(*) OVER () AS m
        FROM cand WHERE o % {_BRP_CAL_MOD} = {_BRP_CAL_RES}
      ) WHERE rn <= GREATEST(1, (m * {_BRP_CAL_MILLI}) // 1000)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           TRUE AS lsh_subset_of_true, TRUE AS recall_ok
    FROM cand, thr WHERE cand.d2 < thr.t
    """,
)
def ann_mllib_brp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BucketedRandomProjectionLSH (MLlib) — registered as its own ACCURACY
    AUDIT so the RNG-derived hash family becomes oracle-checkable (same
    conversion as ann_recall_at_k / agg_hll_accuracy_audit: ship the
    MEASUREMENT, not the sketch). The raw pair list is seed-dependent and
    has no SQL twin — every driver round before r6 surfaced it as an `err:
    no_oracle` row; this form makes a sketch regression a value MISMATCH.

    Audit: approxSimilarityJoin (seed 42, 3 hash tables, bucketLength 2.0)
    vs the EXACT sampled truth, both restricted to the FIXED
    {_BRP_AUDIT_MAX_VEC}-vector prefix (the full corpus at sf <= 0.1; see
    _BRP_AUDIT_MAX_VEC's comment) — DIRECTED pairs (s, o) with s in the
    1-in-{_AUDIT_MOD} id sample, o any other vector, squared Euclidean
    distance (dot-product form) below a CORPUS-CALIBRATED threshold
    (r13): the max(1, floor(0.012·m))-th smallest d² over the calibration
    subset (candidate pairs with o % {_BRP_CAL_MOD} == {_BRP_CAL_RES},
    m = its size). Pinning the truth-pair DENSITY (~1.2% of sampled
    candidates — the density the retired fixed 1.2 radius produced on the
    real sf0.1 data) instead of the radius keeps the truth set selective
    and non-vacuous on ANY input distribution; the fixed radius landed on
    a ~90x-denser region of gen_sf's Gaussian embeddings and blew up the
    audit joins at the large-SF gates (r12 verdict task 1).

    Cross-engine exactness: both engines compute every candidate d² with
    the identical explicit double-cast left-to-right fold (_DOT_SQL —
    r11 replaced DuckDB's native list_dot_product after the true-sf1 gate
    caught its float32-path summation disagreeing with the Spark fold on
    2 of ~879k pairs), and both derive the threshold as a rank statistic
    OF THAT SAME d² multiset — so the threshold doubles are bit-identical
    by construction and truth membership cannot diverge at ANY margin
    (ties at the cut rank are value-ties: MAX over rn<=k yields the same
    double either way). MLlib recomputes distances internally with
    Vectors.sqdist (a different summation order, ±ulps), so the join
    threshold passed to approxSimilarityJoin is shaved by 1e-9 relative —
    the calibration pair that DEFINES the cut (our-fold d² == threshold
    exactly, excluded from truth by the strict <) then cannot leak into
    the LSH pair set through ulp noise, preserving the subset flag; the
    shave can only drop truth pairs within 1e-9 relative of the cut from
    the LSH side, which costs at most recall noise (bound margin ~9
    points). The LSH pair set is exploded into the same directed form, so
    a both-sampled pair counts twice on both sides and recall is
    well-defined. Emits the truth-pair count (oracle-recomputed), the
    subset flag (every LSH pair is a true pair), and recall >=
    {_BRP_RECALL_PCT}% (deterministic under the fixed seed).

    Scale: the LSH join is bucket-wise (never all-pairs); the exact side
    is broadcast(sample) × corpus — the estimate-on-a-sample shape
    production recall audits use (and the shape that lets the sample
    predicate push to a scan, which an OR-over-both-endpoints filter
    under a cross join cannot). The candidate relation is computed once
    (persisted) and feeds calibration, truth, and recall."""
    import math

    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"].filter(
        F.col("vec_id") < _BRP_AUDIT_MAX_VEC
    )
    sample = e.filter(F.col("vec_id") % _AUDIT_MOD == 0).select(
        F.col("vec_id").alias("s"), F.col("embedding").alias("emb_s")
    )
    corpus = e.select(F.col("vec_id").alias("o"), F.col("embedding").alias("emb_o"))
    d2 = (
        _dot("emb_s", "emb_s") - 2 * _dot("emb_s", "emb_o") + _dot("emb_o", "emb_o")
    )
    cand = (
        corpus.crossJoin(F.broadcast(sample))
        .filter(F.col("o") != F.col("s"))
        .select("s", "o", d2.alias("d2"))
        .persist()
    )
    cal = cand.filter(F.col("o") % _BRP_CAL_MOD == _BRP_CAL_RES)
    m = cal.count()
    k = max(1, (m * _BRP_CAL_MILLI) // 1000)
    thr_d2 = cal.orderBy("d2").limit(k).agg(F.max("d2").alias("t")).first()["t"]
    truth = cand.filter(F.col("d2") < F.lit(thr_d2)).select("s", "o")

    vecs = fan_out(e).select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=3, seed=42
    )
    model = lsh.fit(vecs)
    # 1e-9 relative shave: keeps the cut-defining calibration pair (and
    # only ulp-margin pairs) out of the MLlib join — see docstring
    pairs = model.approxSimilarityJoin(
        vecs, vecs, math.sqrt(thr_d2) * (1 - 1e-9), distCol="euclidean"
    )
    # undirected MLlib pairs -> directed (s sampled, o other): explode both
    # orientations, keep those whose left end is in the sample
    undirected = pairs.filter(
        F.col("datasetA.vec_id") < F.col("datasetB.vec_id")
    ).select(
        F.col("datasetA.vec_id").alias("x"), F.col("datasetB.vec_id").alias("y")
    )
    lshp = (
        undirected.select(
            F.explode(
                F.array(
                    F.struct(F.col("x").alias("s"), F.col("y").alias("o")),
                    F.struct(F.col("y").alias("s"), F.col("x").alias("o")),
                )
            ).alias("p")
        )
        .select("p.s", "p.o")
        .filter(F.col("s") % _AUDIT_MOD == 0)
    )
    t_cnt = truth.count()
    l_cnt = lshp.count()
    hit_cnt = truth.join(lshp, ["s", "o"]).count()
    cand.unpersist()
    return spark.createDataFrame(
        [(t_cnt, hit_cnt == l_cnt, hit_cnt * 100 >= t_cnt * _BRP_RECALL_PCT)],
        "n_true_pairs bigint, lsh_subset_of_true boolean, recall_ok boolean",
    )


@register(
    "ann_mllib_minhash_lsh",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents WHERE doc_id < {_MH_AUDIT_MAX_DOC}
    ), sz AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY doc_id
    ), inter AS (
      -- sample restriction INSIDE the join (r10): the sampled side joins
      -- the full token relation, so the pair expansion is Σf·(f/{_AUDIT_MOD})
      -- instead of the uncapped Σf² (measured 11.2e9 pair rows at sf0.5 —
      -- this audit was the engine's last unbounded token self-join).
      -- LEAST/GREATEST + COUNT(DISTINCT tok) keep both-sampled pairs
      -- counted once with the exact same intersection size.
      SELECT LEAST(a.doc_id, b.doc_id) AS da, GREATEST(a.doc_id, b.doc_id) AS db,
             CAST(COUNT(DISTINCT a.tok) AS BIGINT) AS i
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id <> b.doc_id
      WHERE a.doc_id % {_AUDIT_MOD} = 0
      GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs, TRUE AS recall_ok
    FROM inter
    JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
    WHERE i * 100 > (sa.n + sb.n - i) * 65
    """,
)
def ann_mllib_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHashLSH (MLlib) — registered as its own ACCURACY AUDIT (see
    ann_mllib_brp_lsh for the conversion rationale; this pair of rewrites
    closes the r5 verdict's perennial-`err`-rows item). Tokens are hashed
    into a 2^18 binary space with HashingTF (set semantics); the audit
    measures approxSimilarityJoin (seed 42, 4 hash tables, Jaccard
    distance < {_MH_JDIST_T}) against the EXACT token-set Jaccard truth
    over sampled pairs: similarity > {1 - _MH_JDIST_T} with an endpoint
    in the 1-in-{_AUDIT_MOD} id sample. Truth uses integer cross-
    multiplication (i·100 > u·65) so both engines count the identical
    pair set — no float boundary. Emits the truth-pair count (oracle-
    recomputed) and recall >= {_MH_RECALL_PCT}% (re-measured on the
    r13 2500-doc prefix: {{0.9875,
    0.9935}} at sf{{0.01, 0.1}}; deterministic under the fixed seed).
    The vocabulary here is tiny, so the 2^18 hash space is collision-free
    and hashed-set Jaccard equals token-set Jaccard; no subset flag —
    at a realistic vocabulary, hash collisions can push a boundary pair
    across the threshold in either direction, and a flag that depends on
    collision luck would be a flaky pin.

    Scale: the shared-token truth join feeds ONLY the sampled docs'
    tokens to the join's left side (r10 — previously the sample filter
    sat above an unrestricted token self-join, whose Σf² expansion
    measured 11.2e9 pair rows on the 25k-doc sf0.5 corpus and stalled a
    single task for ~1 h; the pushed-down form expands Σf·f/mod, ~20x
    less, and the DuckDB oracle applies the identical restriction); the
    LSH join is bucket-wise — the layout that replaces all-pairs at
    corpus scale."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = load_tables(spark, sf_dir, names=("documents",))["documents"].filter(
        F.col("doc_id") < _MH_AUDIT_MAX_DOC
    )
    toks = fan_out(d).select("doc_id", F.split(F.col("text"), " ").alias("tokens"))
    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=1 << 18, binary=True)
    feats = tf.transform(toks).filter(F.col("features").isNotNull())
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=4, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, _MH_JDIST_T, distCol="jaccard_dist")
    sampled = (F.col("da") % _AUDIT_MOD == 0) | (F.col("db") % _AUDIT_MOD == 0)
    lshp = (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("da"), F.col("datasetB.doc_id").alias("db")
        )
        .filter(sampled)
    )
    tk = d.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok")
    )
    sz = tk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # sample restriction INSIDE the join (r10): only the 1-in-_AUDIT_MOD
    # sampled docs enter the left side, so the token equi-join expands
    # Σf·(f/mod) pairs, not the unbounded Σf² (11.2e9 rows at sf0.5).
    # least/greatest + countDistinct(tok) count a both-sampled pair once
    # with the identical intersection size — same relation as before.
    tks = tk.filter(F.col("doc_id") % _AUDIT_MOD == 0)
    inter = (
        tks.alias("a")
        .join(
            tk.alias("b"),
            (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.least("a.doc_id", "b.doc_id").alias("da"),
            F.greatest("a.doc_id", "b.doc_id").alias("db"),
        )
        .agg(F.countDistinct("a.tok").alias("i"))
    )
    truth = (
        inter.join(sz.select(F.col("doc_id").alias("da"), F.col("n").alias("na")), "da")
        .join(sz.select(F.col("doc_id").alias("db"), F.col("n").alias("nb")), "db")
        .filter(F.col("i") * 100 > (F.col("na") + F.col("nb") - F.col("i")) * 65)
        .select("da", "db")
    )
    t_cnt = truth.count()
    hit_cnt = truth.join(lshp, ["da", "db"]).count()
    return spark.createDataFrame(
        [(t_cnt, hit_cnt * 100 >= t_cnt * _MH_RECALL_PCT)],
        "n_true_pairs bigint, recall_ok boolean",
    )


# ---------------------------------------------------------------------------
# Exact cosine range search (radius self-join) with prefix-bound pruning
# ---------------------------------------------------------------------------

_RADIUS_T = 0.35
_PREFIX_D = 32  # bound test dims; full dim checked only for survivors


def _slice_dot(a: str, b: str, n: int) -> Column:
    prods = F.zip_with(
        F.slice(F.col(a), 1, n),
        F.slice(F.col(b), 1, n),
        lambda x, y: x.cast("double") * y.cast("double"),
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


@register(
    "ann_range_search_radius",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_cosine_sql('a.embedding', 'b.embedding')}, 4) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_cosine_sql('a.embedding', 'b.embedding')} >= {_RADIUS_T}
    ORDER BY vec_a, vec_b
    """,
    diagnostic=True,
)
def ann_range_search_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity RANGE search: every pair with cosine ≥ t (a radius join),
    exact — the all-neighbors companion to ann_bruteforce_topk's top-k.

    DIAGNOSTIC (registry-tagged, r11): exact-by-declared-semantics means
    the pair enumeration is quadratic by definition — measured 2.92 s at
    sf0.1 → 327 s at sf0.5 (slope5 13.9). Kept as the measured A/B
    baseline and the exactness oracle; the production path is
    `ann_range_search_cells` (the same radius semantics restricted to the
    corpus-scaled sign-bit cells) with `ann_range_search_recall`
    measuring the cell-boundary miss rate in-engine.

    The Cauchy–Schwarz prefix bound makes the pair verification cheap:
    dot(a,b) ≤ dot(a₁..₃₂, b₁..₃₂) + ‖a₃₃..‖·‖b₃₃..‖, so any pair whose
    32-dim partial dot plus residual-norm product falls below t·‖a‖·‖b‖
    is rejected WITHOUT touching the other 32 dims — conservative, hence
    the result (and the plain-join oracle) is exact. Prune power tracks
    how front-loaded the vectors' energy is: strong for PCA/Matryoshka-
    rotated real embeddings, weak for isotropic noise — correctness never
    depends on it. Norms and residual norms are computed once per row
    (linear pass), not per pair.

    At 100 TB the pair enumeration itself must be blocked first (the
    LSH bucket join of ann_lsh_bucketed or the IVF cells of
    ann_ivf_partitioned); this operator is then the VERIFY stage run
    inside each candidate block, which is exactly how it is phrased here
    — a self-contained exact stage, not a scan-the-world promise.
    """
    e = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    base = fan_out(e).select(
        "vec_id",
        "embedding",
        _norm("embedding").alias("nrm"),
        F.sqrt(
            F.greatest(
                F.lit(0.0),
                F.aggregate(
                    F.transform(
                        F.slice(F.col("embedding"), _PREFIX_D + 1, 10_000),
                        lambda x: x.cast("double") * x.cast("double"),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            )
        ).alias("res_nrm"),
    )
    a = base.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("norm_a"),
        F.col("res_nrm").alias("res_a"),
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("norm_b"),
        F.col("res_nrm").alias("res_b"),
    )
    bound_ok = (
        _slice_dot("emb_a", "emb_b", _PREFIX_D)
        + F.col("res_a") * F.col("res_b")
        >= F.lit(_RADIUS_T) * F.col("norm_a") * F.col("norm_b")
    )
    cos = _dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b"))
    return (
        a.join(b, (F.col("vec_a") < F.col("vec_b")) & bound_ok)
        .withColumn("cosine_raw", cos)
        .filter(F.col("cosine_raw") >= _RADIUS_T)
        .select("vec_a", "vec_b", F.round("cosine_raw", 4).alias("cosine"))
        .orderBy("vec_a", "vec_b")
    )


@register(
    "ann_range_search_cells",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    params AS (
      SELECT {_SEMDEDUP_BITS_SQL} AS b FROM corpus
    ),
    bucketed AS (
      SELECT vec_id, e, {_semdedup_bucket_sql('e')} AS cell
      FROM corpus CROSS JOIN params p
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_cosine_sql('a.e', 'b.e')}, 4) AS cosine
    FROM bucketed a JOIN bucketed b
      ON b.cell = a.cell AND a.vec_id < b.vec_id
    WHERE {_cosine_sql('a.e', 'b.e')} >= {_RADIUS_T}
    """,
)
def ann_range_search_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine RANGE search within corpus-scaled cells — the production
    twin of the diagnostic `ann_range_search_radius`: every same-cell pair
    with cosine >= t. The within-cell restriction is the identical recall
    trade ann_knn_graph and dedup_semdedup make (and every IVF-family
    index makes); `ann_range_search_recall` below MEASURES the cell-
    boundary miss rate on a bounded anchor set rather than asserting it.

    Scale posture: cell assignment is map-only sign tests with cells ∝ n
    (the shared _semdedup_cells dial), so the pair expansion cost
    Σ|cell|² ≈ n·target_cell stays LINEAR in the corpus where the
    diagnostic's full self-join reads slope5 13.9 (327 s at sf0.5). The
    cell id is a plain hash equi-join key — each cell's pair join is
    partition-local, exactly the SemDeDup layout."""
    e = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    corpus = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    bucketed = _semdedup_cells(corpus, "e")
    # r14: grouped Arrow pair kernel (same rewrite as the cosine-cells
    # twin); radius threshold + rounding stay JVM
    from ..functions.arrowvec import cell_pair_cosines

    return (
        cell_pair_cosines(bucketed, "e")
        .filter(F.col("cosine_raw") >= _RADIUS_T)
        .select("vec_a", "vec_b", F.round("cosine_raw", 4).alias("cosine"))
    )


@register(
    "ann_range_search_recall",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    params AS (
      SELECT {_SEMDEDUP_BITS_SQL} AS b FROM corpus
    ),
    bucketed AS (
      SELECT vec_id, e, {_semdedup_bucket_sql('e')} AS cell
      FROM corpus CROSS JOIN params p
    ),
    anchors AS (
      SELECT vec_id AS q_id, e AS q_e, cell AS q_cell FROM bucketed
      WHERE vec_id % 100 = 0 AND vec_id < {100 * _BF_QMAX}
    ),
    hits AS (
      SELECT a.q_id,
             COUNT(*) AS n_true,
             SUM(CASE WHEN v.cell = a.q_cell THEN 1 ELSE 0 END) AS n_cell
      FROM anchors a JOIN bucketed v
        ON v.vec_id <> a.q_id
       AND {_cosine_sql('a.q_e', 'v.e')} >= {_RADIUS_T}
      GROUP BY a.q_id
    )
    SELECT a.q_id,
           CAST(COALESCE(h.n_true, 0) AS BIGINT) AS n_true,
           CAST(COALESCE(h.n_cell, 0) AS BIGINT) AS n_cell,
           CAST(CASE WHEN COALESCE(h.n_true, 0) = 0 THEN 1000000
                     ELSE (h.n_cell * 1000000) // h.n_true END AS BIGINT)
             AS recall_micros
    FROM anchors a LEFT JOIN hits h ON h.q_id = a.q_id
    """,
)
def ann_range_search_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured cell-boundary miss rate of `ann_range_search_cells`, the
    same way ann_recall_at_k audits the IVF probes: for a BOUNDED anchor
    set (<=64 query vectors at ANY corpus size, the _BF_QMAX pattern),
    the EXACT radius-neighbor count (broadcast anchors against the corpus
    — one linear scan) next to the count found within the anchor's own
    cell, plus recall in exact integer micros (integer floor division on
    both engines, so no float ratio crosses the engine boundary).

    At production scale this is how range-search recall is actually
    estimated — from a query sample against the full corpus, never from
    the quadratic all-pairs truth; the diagnostic
    `ann_range_search_radius` remains the small-SF exactness baseline."""
    e = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    corpus = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    bucketed = _semdedup_cells(corpus, "e").withColumn("nrm", _norm("e"))
    anchors = bucketed.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 100 * _BF_QMAX)
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("q_e"),
        F.col("cell").alias("q_cell"),
        F.col("nrm").alias("q_nrm"),
    )
    cos = _dot("q_e", "e") / (F.col("q_nrm") * F.col("nrm"))
    hits = (
        bucketed.join(F.broadcast(anchors), F.col("vec_id") != F.col("q_id"))
        .filter(cos >= _RADIUS_T)
        .groupBy("q_id")
        .agg(
            F.count("*").alias("n_true"),
            F.sum((F.col("cell") == F.col("q_cell")).cast("long")).alias("n_cell"),
        )
    )
    return (
        anchors.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_true", F.lit(0)).cast("bigint").alias("n_true"),
            F.coalesce("n_cell", F.lit(0)).cast("bigint").alias("n_cell"),
            F.when(F.coalesce("n_true", F.lit(0)) == 0, F.lit(1000000))
            .otherwise(F.expr("(n_cell * 1000000) div n_true"))
            .cast("bigint")
            .alias("recall_micros"),
        )
    )


# --- binary quantization: Hamming shortlist + exact rerank -------------------

_BQ_BITS = 63  # sign bits of dims 1..63 packed into one BIGINT (bit 63 would
# overflow the signed long; 63 bits keep the signature a plain integer on
# both engines)
_BQ_SHORTLIST = 10
_BQ_K = 3

_BQ_SIG_SQL = (
    "CAST(list_sum(list_transform(generate_series(1, {bits}), "
    "i -> CASE WHEN {col}[i] >= 0 THEN CAST(POW(2, i - 1) AS BIGINT) "
    "ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
)


def _bq_signature(emb: str) -> Column:
    """63-bit sign signature as a BIGINT — the fold is term-identical to
    _BQ_SIG_SQL (powers of two are exactly representable doubles, so the
    POW→BIGINT cast is exact on both engines)."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(_BQ_BITS)),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.when(
            F.element_at(emb, i) >= 0,
            F.pow(F.lit(2.0), (i - 1).cast("double")).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )


@register(
    "ann_binary_hamming_rerank",
    oracle=f"""
    WITH sigs AS (
      SELECT vec_id, embedding,
             {_BQ_SIG_SQL.format(bits=_BQ_BITS, col='embedding')} AS sig
      FROM embeddings
    ),
    queries AS (
      SELECT vec_id AS q_id, embedding AS q_emb, sig AS q_sig FROM sigs
      WHERE vec_id % 100 = 0 AND vec_id < {100 * _BF_QMAX}
    ),
    shortlist AS (
      SELECT q_id, vec_id, hamming FROM (
        SELECT q.q_id, s.vec_id,
               bit_count(xor(s.sig, q.q_sig)) AS hamming,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY bit_count(xor(s.sig, q.q_sig)), s.vec_id) AS srn
        FROM queries q JOIN sigs s ON s.vec_id <> q.q_id
      ) WHERE srn <= {_BQ_SHORTLIST}
    ),
    reranked AS (
      SELECT sl.q_id, sl.vec_id, sl.hamming,
             {_cosine_sql('q.q_emb', 'e.embedding')} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY sl.q_id
               ORDER BY {_cosine_sql('q.q_emb', 'e.embedding')} DESC, sl.vec_id) AS rn
      FROM shortlist sl
      JOIN embeddings e ON e.vec_id = sl.vec_id
      JOIN queries q ON q.q_id = sl.q_id
    )
    SELECT q_id, vec_id, CAST(hamming AS BIGINT) AS hamming,
           ROUND(cosine, 4) AS cosine, CAST(rn AS BIGINT) AS rn
    FROM reranked WHERE rn <= {_BQ_K}
    """,
)
def ann_binary_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN — the 32×-compression fast path modern
    vector stores ship alongside int8/PQ (and the asymmetric companion to
    ann_lsh_bucketed: LSH needs bucket EQUALITY, this RANKS the whole
    corpus by Hamming distance in the compressed domain, so near-misses
    across a bucket boundary are never lost): each vector compresses to a
    63-bit sign signature (one BIGINT), candidates are the Hamming top-10
    per query via bit_count(xor(sig, q_sig)) — two instructions per
    comparison instead of 64 multiply-adds — and the shortlist is
    re-ranked by exact float cosine, the standard two-stage recipe
    (sign-random-projection sketching per Charikar 2002, STOC).

    Scale posture: signatures are a map-only 8-byte projection of the
    corpus (the 100 TB index fits in 0.8 TB); the bounded query set
    (≤64, the _BF_QMAX pattern) broadcasts; the Hamming rank filter
    compiles to a partial WindowGroupLimit below the q_id Exchange, so
    at most 10×Q rows shuffle; the exact rerank touches 10 embeddings
    per query via an equi-join of the tiny shortlist back to the corpus.
    Determinism: Hamming ties break by vec_id; the rerank cosine uses the
    shared left-to-right double fold, so both engines rank identically."""
    e = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    sigs = fan_out(e).select(
        "vec_id", "embedding", _bq_signature("embedding").alias("sig")
    )
    queries = sigs.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 100 * _BF_QMAX)
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("sig").alias("q_sig"),
        _norm("embedding").alias("q_norm"),
    )
    sw = Window.partitionBy("q_id").orderBy("hamming", "vec_id")
    shortlist = (
        sigs.select("vec_id", "sig")
        .crossJoin(F.broadcast(queries.select("q_id", "q_sig")))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.bit_count(F.col("sig").bitwiseXOR(F.col("q_sig"))).alias("hamming"),
        )
        .withColumn("srn", F.row_number().over(sw))
        .filter(F.col("srn") <= _BQ_SHORTLIST)
        .select("q_id", "vec_id", "hamming")
    )
    corpus = e.select("vec_id", "embedding", _norm("embedding").alias("e_norm"))
    cos = _dot("q_emb", "embedding") / (F.col("q_norm") * F.col("e_norm"))
    rw = Window.partitionBy("q_id").orderBy(F.col("cosine_raw").desc(), F.col("vec_id"))
    return (
        corpus.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(queries.select("q_id", "q_emb", "q_norm")), "q_id")
        .select("q_id", "vec_id", "hamming", cos.alias("cosine_raw"))
        .withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") <= _BQ_K)
        .select(
            "q_id",
            "vec_id",
            F.col("hamming").cast("bigint").alias("hamming"),
            F.round("cosine_raw", 4).alias("cosine"),
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance (MMR) diversified top-k
# ---------------------------------------------------------------------------

_MMR_LAMBDA = 0.7
_MMR_SHORTLIST = 8


def _mmr_oracle() -> str:
    dot = _DOT_SQL
    rel = f"({dot.format(a='q.q_emb', b='b.embedding')} / (q.q_nrm * b.nrm))"
    sim1 = f"({dot.format(a='c.embedding', b='p.embedding')} / (c.nrm * p.nrm))"
    simc1 = f"({dot.format(a='c.embedding', b='p1.embedding')} / (c.nrm * p1.nrm))"
    simc2 = f"({dot.format(a='c.embedding', b='p2.embedding')} / (c.nrm * p2.nrm))"
    return f"""
    WITH base AS (
      SELECT vec_id, embedding, {_NORM_SQL.format(a='embedding')} AS nrm
      FROM embeddings
    ), qs AS (
      SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
      FROM base WHERE vec_id % 100 = 0 AND vec_id < {100 * _BF_QMAX}
    ), cand0 AS (
      SELECT q.q_id, b.vec_id, b.embedding, b.nrm, {rel} AS rel
      FROM qs q JOIN base b ON b.vec_id <> q.q_id
    ), cand AS (
      SELECT * FROM (
        SELECT c.*, ROW_NUMBER() OVER (PARTITION BY q_id
                                       ORDER BY rel DESC, vec_id) AS rn
        FROM cand0 c) t
      WHERE rn <= {_MMR_SHORTLIST}
    ), p1 AS (
      SELECT q_id, vec_id, embedding, nrm, rel FROM cand WHERE rn = 1
    ), s2 AS (
      SELECT c.q_id, c.vec_id, c.embedding, c.nrm, c.rel,
             {_MMR_LAMBDA} * c.rel - {1 - _MMR_LAMBDA} * {sim1} AS mmr
      FROM cand c JOIN p1 p ON p.q_id = c.q_id AND c.vec_id <> p.vec_id
    ), p2 AS (
      SELECT * FROM (
        SELECT s.*, ROW_NUMBER() OVER (PARTITION BY q_id
                                       ORDER BY mmr DESC, vec_id) AS rn2
        FROM s2 s) t
      WHERE rn2 = 1
    ), s3 AS (
      SELECT c.q_id, c.vec_id, c.rel,
             {_MMR_LAMBDA} * c.rel
               - {1 - _MMR_LAMBDA} * GREATEST({simc1}, {simc2}) AS mmr
      FROM cand c
      JOIN p1 ON p1.q_id = c.q_id
      JOIN p2 ON p2.q_id = c.q_id
      WHERE c.vec_id <> p1.vec_id AND c.vec_id <> p2.vec_id
    ), p3 AS (
      SELECT * FROM (
        SELECT s.*, ROW_NUMBER() OVER (PARTITION BY q_id
                                       ORDER BY mmr DESC, vec_id) AS rn3
        FROM s3 s) t
      WHERE rn3 = 1
    )
    SELECT q_id, 1 AS rank, vec_id,
           {q_sql('rel')} AS relevance,
           {q_sql(f'{_MMR_LAMBDA} * rel')} AS mmr_score
    FROM p1
    UNION ALL
    SELECT q_id, 2 AS rank, vec_id, {q_sql('rel')}, {q_sql('mmr')} FROM p2
    UNION ALL
    SELECT q_id, 3 AS rank, vec_id, {q_sql('rel')}, {q_sql('mmr')} FROM p3
    ORDER BY q_id, rank
    """


@register("ann_mmr_diversified_topk", oracle=_mmr_oracle())
def ann_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    from each query's top-8 cosine shortlist, greedily pick 3 results
    maximizing λ·rel(q,d) − (1−λ)·max_sim(d, already-picked) — the
    standard diversity-aware retrieval head for RAG/dedup-aware search.

    The greedy recurrence is unrolled to its k=3 depth as pure relational
    algebra (each pick = one join of the shortlist to the picked rows +
    one per-query argmax window), so DuckDB value-checks every selection
    — no rows-only escape for an "iterative" algorithm. All joins after
    the shortlist are per-query-cardinality (≤8 rows per query);
    the only fact-scale work is the shortlist itself, which reuses the
    broadcast-queries scored-scan shape of ann_bruteforce_topk, and the
    shortlist is persisted so the three rounds don't rescan the corpus.

    The query set is BOUNDED exactly like ann_bruteforce_topk's: vec_id %
    100 == 0 AND vec_id < 100·_BF_QMAX, i.e. ≤64 queries at ANY corpus
    size (r12 — the r11 sf1 gate measured the previously-unbounded form at
    39.6× wall for 10× data: Q ∝ n made the shortlist scoring n²/100 dot
    products, the same disease _BF_QMAX already cured on the brute-force
    baseline). With Q capped, the shortlist scan is one linear pass of the
    corpus against a ≤64-row broadcast, the output PLATEAUS at ≤64
    queries once the corpus exceeds 6,400 vectors (below that Q still
    grows with the corpus — 60 queries at sf0.1 vs the full 64 from
    sf0.5 up; ADVICE r12), and the MMR unroll stays O(Q) rows end to end.
    Scores order on raw doubles with vec_id tie-break (both engines
    evaluate the identical sequential-fold dot), outputs quantized 1e-4.
    """
    from ..functions.arrowvec import collect_query_vectors, score_bounded_queries

    e = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    qpred = (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 100 * _BF_QMAX)
    q_ids, q_vecs = collect_query_vectors(e.filter(qpred), "vec_id", "embedding")
    w = Window.partitionBy("q_id").orderBy(F.desc("rel"), F.asc("vec_id"))
    # r14: corpus-wide shortlist scoring via the Arrow bounded-query kernel
    # (batch-local top-8 cut; the greedy MMR unroll below stays pure
    # relational algebra over <= 8 rows per query). nrm re-derives on the
    # surviving shortlist rows only — same fold, same doubles.
    cand = (
        score_bounded_queries(
            e.select("vec_id", "embedding"),
            q_ids,
            q_vecs,
            _MMR_SHORTLIST,
            vec_col="embedding",
            keep=("embedding",),
            out_col="rel",
        )
        .withColumn("nrm", _norm("embedding"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MMR_SHORTLIST)
        .persist()
    )

    def pick(df: DataFrame, order_col: str, rn_name: str) -> DataFrame:
        wp = Window.partitionBy("q_id").orderBy(F.desc(order_col), F.asc("vec_id"))
        return df.withColumn(rn_name, F.row_number().over(wp)).filter(
            F.col(rn_name) == 1
        )

    p1 = cand.filter(F.col("rn") == 1).select(
        "q_id",
        F.col("vec_id").alias("p1_id"),
        F.col("embedding").alias("p1_emb"),
        F.col("nrm").alias("p1_nrm"),
        F.col("rel").alias("p1_rel"),
    )
    sim1 = _dot("embedding", "p1_emb") / (F.col("nrm") * F.col("p1_nrm"))
    s2 = (
        cand.join(p1, "q_id")
        .where(F.col("vec_id") != F.col("p1_id"))
        .withColumn(
            "mmr", _MMR_LAMBDA * F.col("rel") - (1 - _MMR_LAMBDA) * sim1
        )
    )
    p2 = pick(s2, "mmr", "rn2").select(
        "q_id",
        F.col("vec_id").alias("p2_id"),
        F.col("embedding").alias("p2_emb"),
        F.col("nrm").alias("p2_nrm"),
        F.col("rel").alias("p2_rel"),
        F.col("mmr").alias("p2_mmr"),
    )
    sim2 = _dot("embedding", "p2_emb") / (F.col("nrm") * F.col("p2_nrm"))
    s3 = (
        cand.join(p1, "q_id")
        .join(p2, "q_id")
        .where((F.col("vec_id") != F.col("p1_id")) & (F.col("vec_id") != F.col("p2_id")))
        .withColumn(
            "mmr",
            _MMR_LAMBDA * F.col("rel")
            - (1 - _MMR_LAMBDA) * F.greatest(sim1, sim2),
        )
    )
    p3 = pick(s3, "mmr", "rn3")

    out1 = p1.select(
        "q_id",
        F.lit(1).alias("rank"),
        F.col("p1_id").alias("vec_id"),
        q(F.col("p1_rel")).alias("relevance"),
        q(F.lit(_MMR_LAMBDA) * F.col("p1_rel")).alias("mmr_score"),
    )
    out2 = p2.select(
        "q_id",
        F.lit(2).alias("rank"),
        F.col("p2_id").alias("vec_id"),
        q(F.col("p2_rel")).alias("relevance"),
        q(F.col("p2_mmr")).alias("mmr_score"),
    )
    out3 = p3.select(
        "q_id",
        F.lit(3).alias("rank"),
        F.col("vec_id"),
        q(F.col("rel")).alias("relevance"),
        q(F.col("mmr")).alias("mmr_score"),
    )
    return out1.unionAll(out2).unionAll(out3).orderBy("q_id", "rank")


@register(
    "ann_filtered_topk",
    oracle=f"""
    WITH queries AS (
      SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
      FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < {100 * _BF_QMAX}
    ),
    scored AS (
      SELECT q.q_id, e.vec_id, e.label,
             {_cosine_sql('q.q_emb', 'e.embedding')} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
                                ORDER BY {_cosine_sql('q.q_emb', 'e.embedding')} DESC, e.vec_id) AS rn
      FROM queries q
      JOIN embeddings e ON e.vec_id <> q.q_id AND e.label = q.q_label
    )
    SELECT q_id, vec_id, label, ROUND(cosine, 4) AS cosine, rn
    FROM scored WHERE rn <= 5
    """,
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — exact cosine top-5 restricted to corpus
    vectors sharing the query's metadata label (the 'filtered ANN'
    problem every production vector store has to solve: predicate + 
    similarity in one query). The critical plan property is that the
    metadata predicate applies BEFORE scoring — the equi-join on label
    replaces the unfiltered cross, so the scored candidate set shrinks by
    the label selectivity and the per-partition WindowGroupLimit cut
    (inherited from ann_bruteforce_topk's two-phase shape) operates on the
    reduced set. Post-filtering instead (score-then-filter) both wastes
    vector math AND under-fills k when the filter is selective — the
    classic filtered-ANN correctness bug; this formulation cannot
    under-fill because ranking happens after the restriction.

    At IVF scale the same shape holds: the label predicate prunes cells
    (or rides partition pruning on a label-partitioned index, as in
    ann_ivf_persisted_probe) before any distance is computed.

    Query set bounded by the _BF_QMAX recipe (plateaus at ≤64 queries
    once the corpus exceeds 6,400 vectors, r12): with the
    label count FIXED (~8), Q ∝ n made even the label-restricted scoring
    n²/800 and grew the query broadcast with the corpus — the
    ann_bruteforce_topk disease in its filtered form."""
    from ..functions.arrowvec import score_bounded_queries

    e = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    qpred = (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 100 * _BF_QMAX)
    qrows = e.filter(qpred).select("vec_id", "embedding", "label").collect()
    qrows.sort(key=lambda r: r["vec_id"])
    q_ids = [int(r["vec_id"]) for r in qrows]
    q_vecs = [list(r["embedding"]) for r in qrows]
    q_labels = [int(r["label"]) for r in qrows]
    w = Window.partitionBy("q_id").orderBy(F.col("cosine_raw").desc(), F.col("vec_id"))
    # r14: the label predicate applies INSIDE the Arrow scorer (per-query
    # equality mask before the cut — the restriction still precedes
    # ranking, so the filtered-ANN no-under-fill property is intact)
    return (
        score_bounded_queries(
            e.select("vec_id", "label", "embedding"),
            q_ids,
            q_vecs,
            5,
            vec_col="embedding",
            keep=("label",),
            match_col="label",
            match_vals=q_labels,
            match_op="eq",
            out_col="cosine_raw",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "q_id",
            "vec_id",
            "label",
            F.round("cosine_raw", 4).alias("cosine"),
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


# ---------------------------------------------------------------------------
# Matryoshka-style dimension-truncation recall
# ---------------------------------------------------------------------------

_TRUNC_D = 16  # prefix dims scored by the cheap pass


def _trunc_dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {_TRUNC_D}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _trunc_cos_sql(a: str, b: str) -> str:
    return (
        f"({_trunc_dot_sql(a, b)} / "
        f"(sqrt({_trunc_dot_sql(a, a)}) * sqrt({_trunc_dot_sql(b, b)})))"
    )


@register(
    "ann_dim_truncation_recall",
    oracle=f"""
    WITH queries AS (
      SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
      WHERE vec_id % 100 = 0 AND vec_id < {100 * _BF_QMAX}
    ),
    scored AS (
      SELECT q.q_id, e.vec_id,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
                                ORDER BY {_cosine_sql('q.q_emb', 'e.embedding')} DESC,
                                         e.vec_id) AS rn_full,
             ROW_NUMBER() OVER (PARTITION BY q.q_id
                                ORDER BY {_trunc_cos_sql('q.q_emb', 'e.embedding')} DESC,
                                         e.vec_id) AS rn_trunc
      FROM queries q JOIN embeddings e ON e.vec_id <> q.q_id
    )
    SELECT q_id,
           CAST(SUM(CASE WHEN rn_full <= 3 AND rn_trunc <= 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS hits_at_3
    FROM scored GROUP BY q_id
    """,
)
def ann_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation trade measured in-engine: recall@3 of
    top-3 retrieval using only the FIRST {_TRUNC_D} of 64 dimensions
    against the full-dimension exact top-3, per query — the number that
    decides whether a truncated-prefix index (the MRL deployment pattern:
    cheap low-dim scan, optional full-dim rerank) is safe for this
    embedding space. Fully deterministic — both rankings are exact
    arithmetic, no RNG, so the oracle recomputes BOTH sides value-exactly
    (unlike the seeded-sketch audits, nothing here needs a bound flag).

    Shape: one broadcast of the bounded query set (same O(64) cap as
    ann_bruteforce_topk) over the corpus; both cosines computed in the
    same pass over the same pair rows (the truncated dot is a slice fold,
    ~{_TRUNC_D}/64 of the flops); two q_id windows rank them. At corpus
    scale the truncated pass is the one you'd run over the whole
    collection — this audit is how you justify that with a measured
    recall, on a query sample, before committing to the index layout."""
    from ..functions.arrowvec import collect_query_vectors, score_bounded_two_metrics

    e = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    qpred = (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 100 * _BF_QMAX)
    q_ids, q_vecs = collect_query_vectors(e.filter(qpred), "vec_id", "embedding")
    w_full = Window.partitionBy("q_id").orderBy(F.col("c_full").desc(), "vec_id")
    w_trunc = Window.partitionBy("q_id").orderBy(F.col("c_trunc").desc(), "vec_id")
    # r14: both cosines per pair in ONE Arrow pass (the truncated dot is a
    # prefix slice of the same fold); each batch keeps the UNION of its
    # per-order top-3 sets, which preserves every rn_full/rn_trunc <= 3
    # verdict exactly (see arrowvec.score_bounded_two_metrics for the
    # rank-safety argument).
    scored = (
        score_bounded_two_metrics(
            e.select("vec_id", "embedding"),
            q_ids,
            q_vecs,
            3,
            vec_col="embedding",
            trunc_dims=_TRUNC_D,
        )
        .withColumn("rn_full", F.row_number().over(w_full))
        .withColumn("rn_trunc", F.row_number().over(w_trunc))
    )
    return scored.groupBy("q_id").agg(
        F.sum(
            F.when((F.col("rn_full") <= 3) & (F.col("rn_trunc") <= 3), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("hits_at_3")
    )


@register(
    "ann_hard_negative_mining",
    oracle=f"""
    WITH anchors AS (
      SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
      FROM embeddings
      WHERE vec_id % 100 = 0 AND vec_id < {100 * _BF_QMAX}
    ),
    negs AS (
      SELECT a.q_id, e.vec_id, e.label,
             {_cosine_sql('a.q_emb', 'e.embedding')} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY a.q_id
                                ORDER BY {_cosine_sql('a.q_emb', 'e.embedding')} DESC, e.vec_id) AS rn
      FROM anchors a JOIN embeddings e
        ON e.label <> a.q_label
    ),
    pos AS (
      SELECT a.q_id,
             MAX({_cosine_sql('a.q_emb', 'e.embedding')}) AS best_pos
      FROM anchors a JOIN embeddings e
        ON e.label = a.q_label AND e.vec_id <> a.q_id
      GROUP BY a.q_id
    )
    SELECT n.q_id, n.vec_id AS neg_id, n.label AS neg_label,
           ROUND(n.cosine, 4) AS neg_cosine, n.rn,
           ROUND(p.best_pos, 4) AS best_pos_cosine,
           (n.cosine >= p.best_pos) AS violates_margin
    FROM negs n JOIN pos p ON p.q_id = n.q_id
    WHERE n.rn <= 3
    """,
)
def ann_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the retrieval-
    training step after dedup/curation): for each anchor, the top-3
    highest-cosine vectors with a DIFFERENT label — the negatives that
    sit closest to the anchor and therefore carry the training signal —
    plus the anchor's best same-label cosine and a margin-violation flag
    (a negative scoring above the best positive is exactly the triplet
    the loss needs). Standard pipeline shape per Karpukhin et al. 2020
    (DPR) in-batch/hard-negative selection, done corpus-wide as a
    relational plan.

    Scale posture mirrors ann_bruteforce_topk: the anchor set is BOUNDED
    (≤64 rows at any corpus size) and broadcasts; the negative scan's
    rank filter compiles to a partial WindowGroupLimit below the q_id
    Exchange, so at most 3×Q rows shuffle; the positive side is a plain
    map-side MAX aggregate over the same broadcast cross — no pairwise
    shuffle anywhere. At true 100 TB the anchor set is a training batch
    (thousands), still broadcast-sized; the labeled brute-force scan is
    the exactness baseline, with the IVF/LSH paths as the approximate
    drop-ins."""
    from ..functions.arrowvec import score_bounded_queries

    e = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    qpred = (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 100 * _BF_QMAX)
    qrows = e.filter(qpred).select("vec_id", "embedding", "label").collect()
    qrows.sort(key=lambda r: r["vec_id"])
    q_ids = [int(r["vec_id"]) for r in qrows]
    q_vecs = [list(r["embedding"]) for r in qrows]
    q_labels = [int(r["label"]) for r in qrows]
    corpus = e.select("vec_id", "label", "embedding")
    w = Window.partitionBy("q_id").orderBy(F.col("cosine_raw").desc(), F.col("vec_id"))
    # r14: both passes through the Arrow bounded-query scorer. The
    # negative scan keeps its per-batch top-3 cut (label != anchor label
    # masked inside the kernel); the positive side cuts each batch to its
    # single best row per anchor — MAX over batch maxima IS the global
    # MAX (order-free), so the aggregate below is unchanged.
    negs = (
        score_bounded_queries(
            corpus,
            q_ids,
            q_vecs,
            3,
            vec_col="embedding",
            keep=("label",),
            match_col="label",
            match_vals=q_labels,
            match_op="ne",
            exclude_self=False,
            out_col="cosine_raw",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )
    pos = (
        score_bounded_queries(
            corpus,
            q_ids,
            q_vecs,
            1,
            vec_col="embedding",
            match_col="label",
            match_vals=q_labels,
            match_op="eq",
            out_col="cosine_raw",
        )
        .groupBy("q_id")
        .agg(F.max("cosine_raw").alias("best_pos"))
    )
    return (
        negs.join(pos, "q_id")
        .select(
            "q_id",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            F.round("cosine_raw", 4).alias("neg_cosine"),
            F.col("rn").cast("bigint").alias("rn"),
            F.round("best_pos", 4).alias("best_pos_cosine"),
            (F.col("cosine_raw") >= F.col("best_pos")).alias("violates_margin"),
        )
    )


# --- kNN graph construction (mutual-kNN within corpus-scaled cells) ---------

_KNN_K = 3


@register(
    "ann_knn_graph",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    params AS (
      SELECT {_SEMDEDUP_BITS_SQL} AS b FROM corpus
    ),
    bucketed AS (
      SELECT vec_id, e, {_semdedup_bucket_sql('e')} AS cell
      FROM corpus CROSS JOIN params p
    ),
    pairs AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             {{cos}} AS c
      FROM bucketed a JOIN bucketed b
        ON b.cell = a.cell AND b.vec_id <> a.vec_id
    ),
    edges AS (
      SELECT src, dst, c,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, dst) AS rn
      FROM pairs QUALIFY rn <= {_KNN_K}
    )
    SELECT e.src, CAST(e.rn AS BIGINT) AS rn, e.dst,
           {q_sql('e.c')} AS cosine,
           CAST(m.src IS NOT NULL AS INTEGER) AS mutual
    FROM edges e LEFT JOIN edges m ON m.src = e.dst AND m.dst = e.src
    """.format(cos=_cosine_sql("a.e", "b.e")),
)
def ann_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-graph construction — EVERY vector's top-k (k=3) cosine
    neighbors, restricted to its own semantic cell, plus the mutual flag
    (dst also lists src among ITS top-k). The kNN graph is the backbone
    data structure of embedding-space curation: mutual-kNN edges feed
    graph clustering (the connected-components cascade dedup.py already
    runs on LSH edges), kNN density estimates feed prototypicality
    scoring, and the per-node neighbor lists are the retrieval index for
    kNN-LM-style augmentation.

    Scale posture: a FULL kNN graph is n² by definition; the standard
    billion-scale approximation (FAISS, ScaNN) restricts candidates to
    coarse cells. This reuses dedup_semdedup's corpus-scaled sign-bit
    cells (cells = 2^b with b from a broadcast 1-row COUNT — cells ∝ n,
    so Σ|cell|² ≈ n·target_cell stays LINEAR in the corpus), then cuts
    top-k per src below the exchange (WindowGroupLimit — at most k rows
    per src leave each partition) and resolves mutuality with one
    edges-to-edges equi-join on the reversed pair (3n vs 3n rows — tiny).
    Within-cell restriction is the recall trade every IVF-family index
    makes; the cells are deterministic (sign bits, zero RNG) so the
    DuckDB oracle reproduces the exact same graph."""
    e = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    corpus = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    bucketed = _semdedup_cells(corpus, "e")
    # r14: grouped Arrow pair kernel (mode 'ne' + per-src top-k cut — a
    # src's candidate set IS its cell group, so the in-kernel cut is
    # exact); the JVM window re-derives rn over the kept rows, which
    # carry the same (c desc, dst) total order
    from ..functions.arrowvec import cell_pair_cosines

    pairs = cell_pair_cosines(
        bucketed, "e", mode="ne", k=_KNN_K, out_cols=("src", "dst", "c")
    )
    w = Window.partitionBy("src").orderBy(F.col("c").desc(), "dst")
    # persisted: the mutual check reads edges twice (forward + reversed) —
    # uncached, the in-cell pair kernel + top-k window runs once per side
    edges = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KNN_K)
        .select("src", "rn", "dst", "c")
    ).persist()
    rev = edges.select(F.col("src").alias("m_src"), F.col("dst").alias("m_dst"))
    return (
        edges.join(
            rev,
            (F.col("m_src") == F.col("dst")) & (F.col("m_dst") == F.col("src")),
            "left",
        )
        .select(
            "src",
            F.col("rn").cast("bigint").alias("rn"),
            "dst",
            q(F.col("c")).alias("cosine"),
            F.col("m_src").isNotNull().cast("int").alias("mutual"),
        )
    )


# --- prototypicality pruning (SSL-prototypes) --------------------------------

# fraction of each cell pruned, as an exact integer cross-multiplication:
# prune rn iff rn * 10 <= cell_n * 3  (the 30% most prototypical).
_PROTO_PRUNE_NUM = 3
_PROTO_PRUNE_DEN = 10
_PROTO_ROUND = 6  # centroid quantization decimals (same dial as k-means)


@register(
    "curation_prototypicality_prune",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    params AS (
      SELECT {_SEMDEDUP_BITS_SQL} AS b FROM corpus
    ),
    bucketed AS (
      SELECT vec_id, e, {_semdedup_bucket_sql('e')} AS cell
      FROM corpus CROSS JOIN params p
    ),
    cm AS (
      SELECT cell, i.i AS pos, {q_sql("AVG(t.e[i.i])", _PROTO_ROUND)} AS m
      FROM bucketed t CROSS JOIN (
        SELECT unnest(generate_series(1, (SELECT MAX(len(e)) FROM corpus))) AS i
      ) i
      GROUP BY cell, i.i
    ),
    cents AS (
      SELECT cell, list(m ORDER BY pos) AS cvec FROM cm GROUP BY cell
    ),
    sizes AS (
      SELECT cell, COUNT(*) AS cell_n FROM bucketed GROUP BY cell
    ),
    ranked AS (
      SELECT t.vec_id, t.cell,
             {{cos}} AS pc,
             ROW_NUMBER() OVER (PARTITION BY t.cell
                                ORDER BY {{cos}} DESC, t.vec_id) AS rn
      FROM bucketed t JOIN cents c ON c.cell = t.cell
    )
    SELECT r.vec_id, CAST(r.cell AS BIGINT) AS cell, s.cell_n,
           CAST(r.rn AS BIGINT) AS rn,
           {q_sql('r.pc')} AS proto_cosine,
           CAST(r.rn * {_PROTO_PRUNE_DEN} <= s.cell_n * {_PROTO_PRUNE_NUM}
                AS INTEGER) AS is_pruned
    FROM ranked r JOIN sizes s ON s.cell = r.cell
    """.format(cos=_cosine_sql("t.e", "c.cvec")),
)
def curation_prototypicality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototypes data pruning (Sorscher et al. 2022, 'Beyond neural
    scaling laws', arXiv:2206.14486): score every example by its cosine to
    its cluster centroid (prototypicality) and prune the MOST prototypical
    30% per cluster — the paper's result is that with abundant data the
    easy/prototypical examples are the ones to drop, which is what lets
    pruning beat the power-law scaling curve. Cells are dedup_semdedup's
    corpus-scaled deterministic sign-bit cells (cells ∝ n); the centroid
    is the per-cell per-dim mean quantized at 1e-6 (the k-means
    _CROUND recipe — quantized state is what keeps a float AVG's
    summation-order noise from ever reaching the ranking), and the prune
    verdict is an exact integer cross-multiplication (rn*10 <= cell_n*3),
    so no ratio crosses the engine boundary.

    Scale posture: cell assignment is map-only sign tests; the centroid
    table is one partial-aggregated shuffle of cells×dim sums (the
    k-means means step, run once, not per iteration); scoring joins
    centroids back by cell equi-join (centroids ≈ n/125 rows — at small
    SF AQE broadcasts it, at 100 TB it shuffle-joins on the cell key,
    both correct); the per-cell rank cuts nothing (every row is returned
    with its verdict) but shuffles only (vec_id, cell, score) — the
    embedding arrays are dropped before the exchange."""
    e = load_tables(spark, sf_dir, names=("embeddings",))["embeddings"]
    corpus = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    # persisted: three consumers (centroid means, cell sizes, scoring
    # join) — uncached, the fan-out + sign-bit cell assignment runs once
    # per consumer (guide §5)
    bucketed = _semdedup_cells(corpus, "e").persist()
    cents = (
        bucketed.select("cell", F.posexplode("e").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "cell",
            F.transform("pm", lambda s: q(s["m"], _PROTO_ROUND)).alias("cvec"),
        )
    )
    sizes = bucketed.groupBy("cell").agg(F.count("*").alias("cell_n"))
    pc = _dot("e", "cvec") / (_norm("e") * _norm("cvec"))
    scored = bucketed.join(cents, "cell").select(
        "vec_id", "cell", pc.alias("pc")
    )
    w = Window.partitionBy("cell").orderBy(F.col("pc").desc(), "vec_id")
    ranked = scored.withColumn("rn", F.row_number().over(w))
    return (
        ranked.join(sizes, "cell")
        .select(
            "vec_id",
            F.col("cell").cast("bigint").alias("cell"),
            "cell_n",
            F.col("rn").cast("bigint").alias("rn"),
            q(F.col("pc")).alias("proto_cosine"),
            (F.col("rn") * _PROTO_PRUNE_DEN <= F.col("cell_n") * _PROTO_PRUNE_NUM)
            .cast("int")
            .alias("is_pruned"),
        )
    )
