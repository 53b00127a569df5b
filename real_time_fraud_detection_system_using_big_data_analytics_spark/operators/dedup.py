"""Deduplication operators over `documents` (north-star surface): exact,
n-gram Jaccard, MinHash + LSH banding, SimHash.

Portability convention: every hash is md5-hex (bit-identical in Spark and
DuckDB), so the *same algorithm* runs on both sides and the oracle checks
the full pipeline, not a lookalike. MinHash uses "min over md5(seed|x)
hex strings" — lexicographic min of a uniform hash is a valid permutation
min-hash, and string min is portable.

Scale posture (100 TB):
- exact/fingerprint dedup: one shuffle on the hash — embarrassingly
  scalable;
- shingle self-join: shuffle on shingle; hot shingles are the skew hazard —
  the queries drop ultra-common shingles (doc-frequency cap), which is both
  a quality and a skew fix;
- MinHash/LSH: signatures are fixed-width per doc (seeds × 32 bytes);
  candidate generation joins on (band_id, band_hash) — bounded fan-out,
  no quadratic blow-up;
- SimHash: one pass to signatures, self-join on signature (or banded
  sub-signatures for hamming>0).
"""

from __future__ import annotations

import functools
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import q, q_sql
from ..plans.registry import register
from ..session import scratch_root
from ..sources.tables import fan_out, load_tables

N_SEEDS = 8          # minhash signature length
BAND_ROWS = 2        # seeds per LSH band -> 4 bands
SHINGLE_K = 3        # word-shingle width
MAX_DOC_FREQ = 50    # drop shingles appearing in more docs (skew + quality)


def _shingle_array() -> "F.Column":
    """Distinct word-3-shingles of `text` as an in-row array column."""
    toks = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(toks) >= SHINGLE_K,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (SHINGLE_K - 1)),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def _shingles_spark(d: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct word-3-shingles via higher-order fns."""
    return fan_out(d).select("doc_id", F.explode(_shingle_array()).alias("shingle"))


def _signatures_spark(d: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh7) minhash signatures: one groupBy over the shingle
    expansion computes all 8 mins map-side, so signature cost is one pass
    regardless of seed count.

    Deliberately NOT the shuffle-free per-row formulation
    (array_min(transform(shingles, ...)) × 8): CollapseProject inlines the
    shingle-array expression into every downstream reference of every mh
    column, recomputing split+array_distinct up to 16× per row — measured
    3.7× SLOWER than this one-shuffle aggregate, whose output attributes
    are materialized once. The shuffle here is tiny (8×32-byte hex strings
    per doc)."""
    sh = _shingles_spark(d)
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle")))).alias(f"mh{s}")
            for s in range(N_SEEDS)
        ]
    )


_SHINGLES_SQL = """
    SELECT doc_id, unnest(list_distinct(
             CASE WHEN len(l) >= 3
                  THEN list_transform(generate_series(1, len(l) - 2),
                                      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])
                  ELSE [] END)) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
"""


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS exact_hash,
           COUNT(*) AS cluster_size,
           MIN(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy, keep the lowest doc_id per cluster.
    (The corpus has no exact dups, so clusters are singletons — the unit
    tests exercise multi-member clusters with literal fixtures.)"""
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    return d.groupBy(F.md5("text").alias("exact_hash")).agg(
        F.count("*").alias("cluster_size"),
        F.min("doc_id").alias("keeper_doc_id"),
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    common AS (
      SELECT s.shingle FROM shingles s GROUP BY s.shingle HAVING COUNT(*) > {MAX_DOC_FREQ}
    ),
    filtered AS (
      SELECT * FROM shingles WHERE shingle NOT IN (SELECT shingle FROM common)
    ),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM filtered GROUP BY doc_id
    ),
    pair_inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM filtered a JOIN filtered b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           (FLOOR(p.n_common * 1.0 / (sa.n + sb.n - p.n_common) * 10000.0 + 0.5) / 10000.0) AS jaccard
    FROM pair_inter p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE p.n_common * 1.0 / (sa.n + sb.n - p.n_common) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup: sparse self-join on shared shingles
    (never the quadratic cross join), with a doc-frequency cap that drops
    stop-shingles — the cap is simultaneously the skew guard: the hottest
    join keys are removed before the shuffle."""
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    # persisted (r14, guide §5): `sh` feeds the stop-shingle census AND the
    # anti-join; `filtered` feeds the sizes aggregate AND the pair
    # self-join — uncached, the split+explode pipeline re-ran once per
    # consumer (cold sf1 A/B: none 10.2 s / sh 5.6 / sh+filtered 4.1).
    sh = _shingles_spark(d).persist()
    common = (
        sh.groupBy("shingle").count().filter(F.col("count") > MAX_DOC_FREQ).select("shingle")
    )
    # `common` is the stop-shingle list: shingles appearing in > MAX_DOC_FREQ
    # docs. That's bounded by the high-frequency tail of the shingle
    # vocabulary (boilerplate), which grows far sublinearly in corpus size —
    # broadcastable in practice. If a corpus ever outgrows it, drop the hint
    # and AQE turns the anti join into a shuffle join; values are identical.
    filtered = sh.join(F.broadcast(common), "shingle", "left_anti").persist()
    sizes = filtered.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = filtered.alias("a")
    b = filtered.alias("b")
    pair_inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jaccard = F.col("n_common") / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
    # sizes is one row per DOCUMENT — corpus cardinality — so it must not
    # carry an explicit broadcast hint (a hint overrides the size threshold
    # and would OOM executors at billions of docs). Unhinted, AQE broadcasts
    # it while it fits and degrades to a shuffle join beyond that.
    return (
        pair_inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jaccard >= 0.2)
        .select("doc_a", "doc_b", q(jaccard).alias("jaccard"))
    )


def _minhash_sql(seed: int) -> str:
    return f"MIN(md5('{seed}|' || shingle))"


@register(
    "dedup_minhash_signatures",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL})
    SELECT doc_id,
           {", ".join(f"{_minhash_sql(s)} AS mh{s}" for s in range(N_SEEDS))}
    FROM shingles
    GROUP BY doc_id
    """,
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures: 8 portable hash 'permutations' (min of
    md5(seed|shingle) hex). One groupBy over the shingle expansion computes
    all 8 mins in one shuffle-free pass — see _signatures_spark."""
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    return _signatures_spark(d)


_BANDS = [tuple(range(b * BAND_ROWS, (b + 1) * BAND_ROWS)) for b in range(N_SEEDS // BAND_ROWS)]


@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    sigs AS (
      SELECT doc_id,
             {", ".join(f"{_minhash_sql(s)} AS mh{s}" for s in range(N_SEEDS))}
      FROM shingles GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5({' || '.join(f'mh{s}' for s in band)}) AS band_hash FROM sigs"
        for b, band in enumerate(_BANDS)
      )}
    ),
    candidates AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           (FLOOR(({" + ".join(f"CASE WHEN sa.mh{s} = sb.mh{s} THEN 1 ELSE 0 END" for s in range(N_SEEDS))})
                 / {N_SEEDS}.0 * 10000.0 + 0.5) / 10000.0) AS est_jaccard
    FROM candidates c
    JOIN sigs sa ON sa.doc_id = c.doc_a
    JOIN sigs sb ON sb.doc_id = c.doc_b
    """,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs: band the 8-hash signature into 4 bands
    of 2, bucket-join on (band_id, band_hash), estimate Jaccard as the
    fraction of agreeing minhashes. The join is on band buckets — candidate
    generation never compares all pairs (the LSH scale property).

    Plan shape: ONE pass computes signatures; bands come from an in-row
    ``explode`` of a 4-struct array (not a 4-way union, which would replay
    the signature aggregation per band). Candidates are generated by
    grouping band rows into buckets and expanding pairs INSIDE each bucket
    with higher-order array functions — a self-join would execute the whole
    signature pipeline twice (Spark reuses no exchange across the
    broadcast boundary), while the bucket groupBy computes it once. Bucket
    sizes are bounded by the LSH design, so the in-bucket expansion is
    quadratic only in a small constant. Duplicate candidates from
    multi-band collisions carry identical estimates, so one ``distinct``
    dedups them.

    A/B vs the pre-391b009 self-join formulation (tests/ab_lsh_pairs.py
    in git history at 0d05915, idle box, sf0.1, interleaved min-of-5):
    1.260 s vs 1.248 s — a statistical tie at this scale; the
    round-to-round bench swings on this line (0.82 s → 1.63 s) were host
    noise, not the rewrite. The bucket form is kept for its scale posture:
    one signature-pipeline execution instead of two (Spark reuses no
    exchange across a self-join)."""
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    sigs = _signatures_spark(d)
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(F.concat(*[F.col(f"mh{s}") for s in band])).alias("band_hash"),
            )
            for b, band in enumerate(_BANDS)
        ]
    )
    sig_arr = F.array(*[F.col(f"mh{s}") for s in range(N_SEEDS)])
    bands = sigs.select(
        F.struct(F.col("doc_id"), sig_arr.alias("mhs")).alias("doc"),
        F.explode(band_arr).alias("bb"),
    ).select("doc", "bb.band_id", "bb.band_hash")
    # sort_array orders by doc_id (first struct field) -> pair expansion
    # below emits each unordered pair exactly once with doc_a < doc_b.
    buckets = (
        bands.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list("doc")).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    docs = F.col("docs")
    pairs = F.flatten(
        F.transform(
            docs,
            lambda x, i: F.transform(
                F.slice(docs, i + 2, F.size(docs)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("p.a.mhs"), F.col("p.b.mhs"), lambda u, v: u == v),
            lambda eq: eq,
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            q(agree / float(N_SEEDS)).alias("est_jaccard"),
        )
        .distinct()
    )


@register(
    "dedup_simhash",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      FROM documents
    ),
    bits AS (
      SELECT doc_id, p.pos,
             SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(token), p.pos, 1)) - 1) % 2 = 1
                      THEN 1 ELSE -1 END) AS weight
      FROM toks CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS pos) p
      GROUP BY doc_id, p.pos
    )
    SELECT doc_id,
           string_agg(CASE WHEN weight >= 0 THEN '1' ELSE '0' END, '' ORDER BY pos) AS simhash
    FROM bits
    GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit, md5-nibble-parity variant): per token take md5 hex
    chars 1..16, bit_i = parity of hex digit i; sum +1/-1 votes per bit over
    the doc's distinct tokens; the sign vector is the signature. Near-dup =
    small hamming distance (0 here; banded variants extend it).

    Portable definition: identical md5 nibbles and identical vote
    aggregation on both engines, so signatures match bit-for-bit.
    """
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    # Shuffle-free plan: the vote aggregation is per-document, so it never
    # needs a groupBy — hash the distinct tokens once into an array, then
    # derive each bit with higher-order filter/size ("count of odd hex
    # digits at position p"; sign(2*odd - n) == sign of the +1/-1 vote sum).
    # Everything after the fan-out is a narrow map stage in one codegen span.
    hs = F.transform(F.array_distinct(F.split(F.col("text"), " ")), lambda t: F.md5(t))
    hashed = fan_out(d).select("doc_id", hs.alias("hs"))
    n = F.size(F.col("hs"))

    def bit(p: int):
        odd = F.size(
            F.filter(
                F.col("hs"),
                lambda h: (F.instr(F.lit("0123456789abcdef"), F.substring(h, p, 1)) - 1) % 2
                == 1,
            )
        )
        return F.when(2 * odd - n >= 0, F.lit("1")).otherwise(F.lit("0"))

    return hashed.select(
        "doc_id", F.concat(*[bit(p) for p in range(1, 17)]).alias("simhash")
    )


@register(
    "dedup_simhash_clusters",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      FROM documents
    ),
    bits AS (
      SELECT doc_id, p.pos,
             SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(token), p.pos, 1)) - 1) % 2 = 1
                      THEN 1 ELSE -1 END) AS weight
      FROM toks CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS pos) p
      GROUP BY doc_id, p.pos
    ),
    sigs AS (
      SELECT doc_id,
             string_agg(CASE WHEN weight >= 0 THEN '1' ELSE '0' END, '' ORDER BY pos) AS simhash
      FROM bits GROUP BY doc_id
    )
    SELECT simhash, COUNT(*) AS cluster_size, MIN(doc_id) AS keeper_doc_id
    FROM sigs
    GROUP BY simhash
    HAVING COUNT(*) > 1
    """,
)
def dedup_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-0 SimHash clusters (identical signatures) with keeper
    selection — the grouping stage of the simhash dedup cascade."""
    sigs = dedup_simhash(spark, sf_dir)
    return (
        sigs.groupBy("simhash")
        .agg(F.count("*").alias("cluster_size"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("cluster_size") > 1)
    )


@register(
    "dedup_levenshtein_pairs",
    oracle="""
    SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_distance
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
    diagnostic=True,
)
def dedup_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup with FIXED-key blocking: candidate pairs
    share a blocking key (nation) so the comparison is quadratic only
    within each block. levenshtein() is built-in on both engines with the
    same definition (unit-cost insert/delete/substitute).

    DIAGNOSTIC (registry-tagged, r11): nation has a FIXED 25 values, so
    within-block pairs grow as (n/25)² — measured 0.64 s → 31.4 s → 831 s
    at sf0.01/0.1/0.5 (26.5× wall for 5× rows). Kept as the measured A/B
    baseline; the production path is `dedup_levenshtein_blocked` below —
    FastSS deletion-neighborhood blocking whose block key cardinality
    grows with the corpus and whose result is PROVABLY identical (see its
    docstring), pinned equal by tests/test_dedup_units.py."""
    c = load_tables(spark, sf_dir, names=("customer",))["customer"]
    a = c.select(
        F.col("c_custkey").alias("cust_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_nationkey").alias("nk_a"),
    )
    b = c.select(
        F.col("c_custkey").alias("cust_b"),
        F.col("c_name").alias("name_b"),
        F.col("c_nationkey").alias("nk_b"),
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, (F.col("nk_a") == F.col("nk_b")) & (F.col("cust_a") < F.col("cust_b")))
        .filter(dist <= 1)
        .select("cust_a", "cust_b", dist.cast("int").alias("edit_distance"))
    )


@register(
    "dedup_levenshtein_blocked",
    oracle="""
    WITH vars AS (
      SELECT c_custkey, c_name, c_nationkey,
             unnest(list_distinct(list_append(
               list_transform(generate_series(1, len(c_name)),
                 i -> substr(c_name, 1, i - 1) || substr(c_name, i + 1, len(c_name))),
               c_name))) AS variant
      FROM customer
    ),
    cand AS (
      SELECT DISTINCT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
                      a.c_name AS name_a, b.c_name AS name_b
      FROM vars a JOIN vars b
        ON a.variant = b.variant
       AND a.c_nationkey = b.c_nationkey
       AND a.c_custkey < b.c_custkey
    )
    SELECT cust_a, cust_b,
           CAST(levenshtein(name_a, name_b) AS INTEGER) AS edit_distance
    FROM cand
    WHERE levenshtein(name_a, name_b) <= 1
    """,
)
def dedup_levenshtein_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup with CORPUS-SCALED blocking — the production
    twin of the diagnostic `dedup_levenshtein_pairs`, returning the
    PROVABLY IDENTICAL pair set (pinned equal at small SF by
    tests/test_dedup_units.py) via FastSS deletion-neighborhood blocking
    (Bocek et al. 2007, "Fast Similarity Search in Large Dictionaries"):
    two strings at Levenshtein distance <= 1 MUST share a member of their
    1-deletion neighborhoods (distance 0: the string itself; substitution
    at i: both drop position i; indel: the shorter string IS a deletion
    variant of the longer), so a self-join on the variant string has
    guaranteed recall and the levenshtein <= 1 verify makes it exact.

    Scale posture (why this survives 100x where the nation block cannot):
    the blocking key cardinality grows ∝ n*L with the corpus, and a
    variant group only contains names within deletion distance of each
    other, so group sizes are bounded by the true near-dup degree
    (data-dependent, not n/25). The plan is the standard record-linkage
    candidate/verify split: the self-join shuffles only (custkey,
    nationkey, xxhash64(variant)) — the 8-byte HASH stands in for the
    variant string since hashing preserves equality (every true pair
    still collides) and a spurious 2^-64 collision merely adds a
    candidate the exact levenshtein verify rejects — then names join
    back onto the tiny DISTINCT candidate set only. Every stage is
    linear in the corpus; measured slope5 in SCALING.md vs the
    diagnostic's 26.5x. `array_distinct` before the explode collapses
    equal-adjacent-char duplicates (deleting either of two adjacent '0's
    yields the same variant) so the join fan-out never double-counts."""
    c = load_tables(spark, sf_dir, names=("customer",))["customer"]
    name = F.col("c_name")
    variants = F.array_distinct(
        F.array_append(
            F.transform(
                F.sequence(F.lit(1), F.length(name)),
                lambda i: F.concat(
                    name.substr(F.lit(1), i - 1),
                    name.substr(i + 1, F.length(name)),
                ),
            ),
            name,
        )
    )
    vars_df = fan_out(c).select(
        "c_custkey",
        "c_nationkey",
        F.explode(F.transform(variants, lambda v: F.xxhash64(v))).alias("vh"),
    )
    a = vars_df.select(
        F.col("c_custkey").alias("cust_a"), F.col("c_nationkey").alias("nk"), "vh"
    )
    b = vars_df.select(
        F.col("c_custkey").alias("cust_b"), F.col("c_nationkey").alias("nk"), "vh"
    )
    cand = (
        a.join(b, ["vh", "nk"])
        .filter(F.col("cust_a") < F.col("cust_b"))
        .select("cust_a", "cust_b")
        .distinct()
    )
    names = c.select("c_custkey", "c_name")
    dist = F.levenshtein("name_a", "name_b")
    return (
        cand.join(names.select(F.col("c_custkey").alias("cust_a"),
                               F.col("c_name").alias("name_a")), "cust_a")
        .join(names.select(F.col("c_custkey").alias("cust_b"),
                           F.col("c_name").alias("name_b")), "cust_b")
        .filter(dist <= 1)
        .select("cust_a", "cust_b", dist.cast("int").alias("edit_distance"))
    )


# The LSH pair query's oracle SQL, reused as a subquery by the clustering
# oracle below (registered above, so the lookup is safe at import time).
from ..plans.registry import ORACLE as _ORACLE  # noqa: E402

_CC_THRESHOLD = 0.5


@register(
    "dedup_cluster_connected_components",
    oracle=f"""
    WITH RECURSIVE
    cand AS (
      SELECT doc_a, doc_b FROM ({_ORACLE["dedup_minhash_lsh_pairs"]})
      WHERE est_jaccard >= {_CC_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS t FROM cand
      UNION ALL
      SELECT doc_b, doc_a FROM cand
    ),
    nodes AS (SELECT DISTINCT s AS node FROM edges),
    reach(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.t, r.lbl FROM reach r JOIN edges e ON e.s = r.node
      WHERE r.lbl < e.t
    )
    SELECT node AS doc_id, MIN(lbl) AS cluster_id
    FROM reach
    GROUP BY node
    """,
)
def dedup_cluster_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the MinHash-LSH
    candidate graph (est_jaccard >= 0.5), labeling every clustered doc
    with the minimum doc_id of its component — the canonical-keeper rule
    of a dedup cascade.

    Spark side: iterative min-label propagation (each round joins labels
    to the edge list and takes the min over neighbors+self) with a
    driver-side convergence check; the DuckDB oracle computes the SAME
    fixpoint with a recursive CTE, so the iteration count is verified to
    have actually converged, not just stopped. The edge list is tiny
    relative to the corpus (LSH-filtered), so each round is a small
    shuffle; at 100 TB scale the same loop runs with the alternating
    large-star/small-star optimization, checkpointed every few rounds to
    truncate lineage."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir).filter(
        F.col("est_jaccard") >= _CC_THRESHOLD
    )
    # both directions in ONE pass — a self-union would execute the whole
    # MinHash+LSH candidate pipeline once per branch (uncached plans run
    # per consumer). localCheckpoint (not persist): it also TRUNCATES the
    # logical plan, so each round below plans against a leaf instead of
    # the ever-deeper label lineage — before this, the unrolled plan of a
    # downstream consumer (curation_leakage_safe_split) carried ~800
    # Exchange nodes and Catalyst re-optimized the whole history every
    # round (guide §3.3/§5: materialize to cut planning cost).
    both = F.explode(
        F.array(
            F.struct(F.col("doc_a").alias("s"), F.col("doc_b").alias("t")),
            F.struct(F.col("doc_b").alias("s"), F.col("doc_a").alias("t")),
        )
    )
    edges = pairs.select(both.alias("e")).select("e.*").localCheckpoint()
    labels = (
        edges.select(F.col("s").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint()
    )
    for _ in range(20):
        prop = (
            edges.join(labels, edges["s"] == labels["node"])
            .select(F.col("t").alias("node"), "lbl")
        )
        # one aggregation carries BOTH the new label and the node's old
        # label (labels are monotonically non-increasing, so min-over-own
        # rows IS the old label); the convergence check is then a cheap
        # count over the checkpointed round output instead of a second
        # join job per round.
        merged = labels.withColumn("own", F.lit(True)).unionByName(
            prop.withColumn("own", F.lit(False))
        )
        agg = (
            merged.groupBy("node")
            .agg(
                F.min("lbl").alias("lbl"),
                F.min(F.when(F.col("own"), F.col("lbl"))).alias("old_lbl"),
            )
            .localCheckpoint()
        )
        changed = agg.filter(F.col("lbl") < F.col("old_lbl")).count()
        labels = agg.select("node", "lbl")
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id"))


@register(
    "dedup_shingle_containment",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    common AS (
      SELECT s.shingle FROM shingles s GROUP BY s.shingle HAVING COUNT(*) > {MAX_DOC_FREQ}
    ),
    filtered AS (
      SELECT * FROM shingles WHERE shingle NOT IN (SELECT shingle FROM common)
    ),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM filtered GROUP BY doc_id
    ),
    pair_inter AS (
      SELECT a.doc_id AS doc_contained, b.doc_id AS doc_container, COUNT(*) AS n_common
      FROM filtered a JOIN filtered b
        ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_contained, p.doc_container,
           (FLOOR(p.n_common * 1.0 / sa.n * 10000.0 + 0.5) / 10000.0) AS containment
    FROM pair_inter p
    JOIN sizes sa ON sa.doc_id = p.doc_contained
    WHERE p.n_common * 1.0 / sa.n >= 0.6
    """,
)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: |A∩B| / |A| ≥ 0.6 flags documents
    CONTAINED in another (quote farms, page-in-page scrapes, truncated
    re-crawls) that symmetric Jaccard misses when the container is much
    longer than the contained doc.

    Same sparse shared-shingle self-join + doc-frequency skew cap as
    dedup_ngram_jaccard — the only differences are the directed output
    (containment is not symmetric) and the denominator (|A| alone, so
    only ONE size join instead of two). Intersections are still computed
    once per UNORDERED pair (a < b in the join, halving the heavy
    pair-aggregate shuffle — measured 1.6× at sf0.1) and fanned out to
    both directions with an in-row explode afterwards.

    At 100 TB: identical posture to the Jaccard pass — the candidate set
    is bounded by shared-shingle co-occurrence, the frequency cap removes
    the hot keys before the shuffle, and the directed fan-out's 2× row
    count is still O(co-occurrence), never quadratic.
    """
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    # persisted (r14): same multi-consumer rationale and cold A/B as
    # dedup_ngram_jaccard above
    sh = _shingles_spark(d).persist()
    common = (
        sh.groupBy("shingle").count().filter(F.col("count") > MAX_DOC_FREQ).select("shingle")
    )
    # stop-shingle broadcast: high-frequency-vocabulary-sized, see the
    # identical join in dedup_ngram_jaccard for the bound/fallback note
    filtered = sh.join(F.broadcast(common), "shingle", "left_anti").persist()
    sizes = filtered.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = filtered.alias("a")
    b = filtered.alias("b")
    pair_once = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("lo"), F.col("b.doc_id").alias("hi"))
        .agg(F.count("*").alias("n_common"))
    )
    directed = F.explode(
        F.array(
            F.struct(
                F.col("lo").alias("doc_contained"),
                F.col("hi").alias("doc_container"),
                F.col("n_common"),
            ),
            F.struct(
                F.col("hi").alias("doc_contained"),
                F.col("lo").alias("doc_container"),
                F.col("n_common"),
            ),
        )
    )
    pair_inter = pair_once.select(directed.alias("p")).select("p.*")
    sa = sizes.alias("sa")
    containment = F.col("n_common") / F.col("sa.n")
    # sizes is corpus-cardinality (one row per doc): no broadcast hint —
    # AQE broadcasts while small, shuffle-joins at scale (same rationale as
    # dedup_ngram_jaccard).
    return (
        pair_inter.join(sa, F.col("sa.doc_id") == F.col("doc_contained"))
        .filter(containment >= 0.6)
        .select("doc_contained", "doc_container", q(containment).alias("containment"))
    )


@register(
    "dedup_cluster_keep_canonical",
    oracle=f"""
    WITH dropped AS (
      SELECT doc_id FROM (
        WITH RECURSIVE
        cand AS (
          SELECT doc_a, doc_b FROM ({_ORACLE["dedup_minhash_lsh_pairs"]})
          WHERE est_jaccard >= {_CC_THRESHOLD}
        ),
        edges AS (
          SELECT doc_a AS s, doc_b AS t FROM cand
          UNION ALL
          SELECT doc_b, doc_a FROM cand
        ),
        nodes AS (SELECT DISTINCT s AS node FROM edges),
        reach(node, lbl) AS (
          SELECT node, node FROM nodes
          UNION
          SELECT e.t, r.lbl FROM reach r JOIN edges e ON e.s = r.node
          WHERE r.lbl < e.t
        )
        SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
      ) cc
      WHERE doc_id <> cluster_id
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents d LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def dedup_cluster_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last stage of the dedup cascade: every near-dup cluster keeps
    its canonical member (minimum doc_id = the cluster label itself) and
    drops the rest; reports the per-source keep/drop ledger a curation run
    publishes. Composes the full pipeline — shingles → MinHash → LSH →
    connected components → canonical selection — and oracle-checks the
    END-TO-END result, so a regression anywhere in the cascade surfaces
    here even if each stage's own check is green.

    The drop list is component-membership-sized — usually far smaller than
    the corpus, but on heavy-dup crawls it can approach corpus cardinality,
    so it carries NO broadcast hint: AQE broadcasts it while it fits (the
    common case — documents then never shuffles) and falls back to a
    shuffle join on dup-heavy inputs instead of OOMing."""
    docs = load_tables(spark, sf_dir, names=("documents",))["documents"]
    cc = dedup_cluster_connected_components(spark, sf_dir)
    dropped = (
        cc.filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
        .withColumn("__dropped", F.lit(1))
    )
    return (
        docs.join(dropped, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce(F.col("__dropped"), F.lit(0))).cast("bigint").alias("n_dropped"),
            F.sum(F.when(F.col("__dropped").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
    )


@register(
    "dedup_repeated_passages",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    wins AS (
      SELECT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS wh
      FROM toks, unnest(generate_series(1, len(t) - 7, 4)) AS g(i)
      WHERE len(t) >= 8
    ),
    shared AS (
      SELECT wh FROM wins GROUP BY wh HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
      SELECT w.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_windows,
             CAST(SUM(CASE WHEN s.wh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared
      FROM wins w LEFT JOIN shared s ON s.wh = w.wh
      GROUP BY w.doc_id
    )
    SELECT doc_id, n_windows, n_shared,
           {q_sql("CAST(n_shared AS DOUBLE) / n_windows")} AS dup_ratio
    FROM per_doc WHERE n_shared > 0
    """,
)
def dedup_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-passage detection — exact SUBSTRING-level dedup signal:
    8-token sliding windows (stride 4) hashed per document; a window is
    'shared' when its hash occurs in ≥ 2 distinct documents, and each
    affected doc reports its shared-window fraction (the curation signal
    for cross-document boilerplate/quotation that document-level MinHash
    misses when only a passage, not the doc, is duplicated).

    Plan: windows come from one in-row sequence explode (stride 4 bounds
    the expansion at ~n_tokens/4 rows per doc); the shared-hash relation
    is built by ONE groupBy with a distinct-doc count and joined back
    LEFT — no hint, since repeated-passage cardinality approaches corpus
    scale exactly on the dup-heavy corpora where this operator matters
    (AQE broadcasts while small). Docs shorter than 8 tokens are excluded
    on both engines before the sequence is built (Spark's sequence with a
    positive step errors on an inverted range)."""
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    toks = fan_out(d).select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 8
    )
    wins = toks.select(
        "doc_id",
        F.explode(F.expr("sequence(1, size(t) - 7, 4)")).alias("i"),
        "t",
    ).select(
        "doc_id",
        F.md5(F.array_join(F.slice(F.col("t"), F.col("i"), 8), " ")).alias("wh"),
    ).persist()  # two consumers (shared census + left join): don't re-explode
    shared = (
        wins.groupBy("wh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("wh", F.lit(1).alias("__shared"))
    )
    per_doc = (
        wins.join(shared, "wh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.sum(F.coalesce(F.col("__shared"), F.lit(0))).cast("long").alias("n_shared"),
        )
    )
    return per_doc.filter(F.col("n_shared") > 0).select(
        "doc_id",
        "n_windows",
        "n_shared",
        q(F.col("n_shared").cast("double") / F.col("n_windows")).alias("dup_ratio"),
    )


@register(
    "dedup_minhash_estimation_error",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    sigs AS (
      SELECT doc_id,
             {", ".join(f"{_minhash_sql(s)} AS mh{s}" for s in range(N_SEEDS))}
      FROM shingles GROUP BY doc_id
    ),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id
    ),
    pair_ids AS (
      SELECT doc_id AS doc_a, doc_id + 1 AS doc_b
      FROM documents WHERE doc_id % 2 = 0
        AND doc_id + 1 IN (SELECT doc_id FROM documents)
    ),
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
      FROM pair_ids p
      JOIN shingles a ON a.doc_id = p.doc_a
      JOIN shingles b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      GROUP BY p.doc_a, p.doc_b
    ),
    scored AS (
      SELECT p.doc_a, p.doc_b,
             CAST(FLOOR(COALESCE(i.n_common, 0) * 1000000.0
                        / (sa.n + sb.n - COALESCE(i.n_common, 0)) + 0.5)
                  AS BIGINT) AS exact_micro,
             CAST(FLOOR(({" + ".join(f"CASE WHEN ga.mh{s} = gb.mh{s} THEN 1 ELSE 0 END" for s in range(N_SEEDS))})
                        * 1000000.0 / {N_SEEDS} + 0.5) AS BIGINT) AS est_micro
      FROM pair_ids p
      LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
      JOIN sizes sa ON sa.doc_id = p.doc_a
      JOIN sizes sb ON sb.doc_id = p.doc_b
      JOIN sigs ga ON ga.doc_id = p.doc_a
      JOIN sigs gb ON gb.doc_id = p.doc_b
    )
    SELECT COUNT(*) AS n_pairs,
           CAST(FLOOR(SUM(ABS(est_micro - exact_micro))
                      / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT)
             AS mean_abs_err_micro,
           CAST(MAX(ABS(est_micro - exact_micro)) AS BIGINT)
             AS max_abs_err_micro,
           CAST(SUM(CASE WHEN ABS(est_micro - exact_micro) <= 125000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_within_one_band
    FROM scored
    """,
)
def dedup_minhash_estimation_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured MinHash estimation error: over a deterministic pair set
    (adjacent doc ids), compare the 8-hash signature-agreement Jaccard
    estimate against the exact shingle Jaccard and report mean/max
    absolute error plus how many pairs land within one signature
    resolution step (1/8). The methodological twin of ann_recall_at_k:
    the sketch's accuracy is MEASURED in-engine, not assumed from theory.

    Both estimates are integer micro-units (exact: n∩·1e6/n∪ from BIGINT
    counts; estimate: agreements·1e6/8), so errors subtract exactly.
    Exact intersections are computed ONLY for the linear-count pair set
    (an equi-join on shingle restricted by the pair list), never all
    pairs; at corpus scale the same query audits any candidate set —
    swap pair_ids for the LSH candidates to get the production
    sketch-quality monitor.
    """
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    sh = _shingles_spark(d).persist()
    sigs = _signatures_spark(d)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    ids = d.select("doc_id")
    pair_ids = (
        d.where(F.col("doc_id") % 2 == 0)
        .select(F.col("doc_id").alias("doc_a"), (F.col("doc_id") + 1).alias("doc_b"))
        .join(ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
    )
    sha = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    shb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pair_ids.join(sha, "doc_a")
        .join(shb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    ga = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{s}").alias(f"a{s}") for s in range(N_SEEDS)],
    )
    gb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{s}").alias(f"b{s}") for s in range(N_SEEDS)],
    )
    agree = sum(
        F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        for s in range(N_SEEDS)
    )
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    scored = (
        pair_ids.join(inter, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            F.floor(nc * 1_000_000.0 / (F.col("na") + F.col("nb") - nc) + 0.5)
            .cast("bigint")
            .alias("exact_micro"),
            F.floor(agree * 1_000_000.0 / N_SEEDS + 0.5)
            .cast("bigint")
            .alias("est_micro"),
        )
    )
    err = F.abs(F.col("est_micro") - F.col("exact_micro"))
    return scored.agg(
        F.count("*").alias("n_pairs"),
        F.floor(F.sum(err) / F.count("*").cast("double") + 0.5)
        .cast("bigint")
        .alias("mean_abs_err_micro"),
        F.max(err).cast("bigint").alias("max_abs_err_micro"),
        F.sum(F.when(err <= 125_000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_within_one_band"),
    )


@register(
    "dedup_lsh_candidate_recall",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    common AS (
      SELECT shingle FROM shingles GROUP BY shingle HAVING COUNT(*) > {MAX_DOC_FREQ}
    ),
    filtered AS (
      SELECT * FROM shingles WHERE shingle NOT IN (SELECT shingle FROM common)
    ),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM filtered GROUP BY doc_id
    ),
    pair_inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM filtered a JOIN filtered b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    truth AS (
      SELECT p.doc_a, p.doc_b
      FROM pair_inter p
      JOIN sizes sa ON sa.doc_id = p.doc_a
      JOIN sizes sb ON sb.doc_id = p.doc_b
      WHERE p.n_common * 1.0 / (sa.n + sb.n - p.n_common) >= 0.2
    ),
    sigs AS (
      SELECT doc_id,
             {", ".join(f"{_minhash_sql(s)} AS mh{s}" for s in range(N_SEEDS))}
      FROM shingles GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5({' || '.join(f'mh{s}' for s in band)}) AS band_hash FROM sigs"
        for b, band in enumerate(_BANDS)
      )}
    ),
    candidates AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    hit AS (
      SELECT t.doc_a FROM truth t
      WHERE EXISTS (SELECT 1 FROM candidates c
                    WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
    )
    SELECT
      (SELECT COUNT(*) FROM truth)      AS n_truth,
      (SELECT COUNT(*) FROM candidates) AS n_candidates,
      (SELECT COUNT(*) FROM hit)        AS n_hit,
      CAST(CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN 1000000
           ELSE FLOOR((SELECT COUNT(*) FROM hit) * 1000000.0
                      / (SELECT COUNT(*) FROM truth) + 0.5) END AS BIGINT)
        AS recall_micro,
      CAST(CASE WHEN (SELECT COUNT(*) FROM candidates) = 0 THEN 1000000
           ELSE FLOOR((SELECT COUNT(*) FROM hit) * 1000000.0
                      / (SELECT COUNT(*) FROM candidates) + 0.5) END AS BIGINT)
        AS precision_micro
    """,
)
def dedup_lsh_candidate_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-set quality audit: recall and precision of the banded-LSH
    candidate pairs against the EXACT Jaccard ≥ 0.2 truth set (the
    dedup_ngram_jaccard result) — the number that justifies (or indicts)
    a banding config before a 100 TB dedup run, measured in-engine like
    ann_recall_at_k and dedup_minhash_estimation_error.

    Truth reuses the doc-frequency-capped sparse self-join; candidates
    reuse the (band_id, band_hash) bucket join; the intersection is a
    LEFT SEMI join of truth onto candidates (pair-key equi-join). All
    three sets are pair-cardinality, far below the shingle expansion
    that feeds them. Ratios are exact-integer micro-units with the
    empty-set convention recall=precision=1.
    """
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    sh = _shingles_spark(d).persist()
    common = (
        sh.groupBy("shingle")
        .count()
        .filter(F.col("count") > MAX_DOC_FREQ)
        .select("shingle")
    )
    filtered = sh.join(common, "shingle", "left_anti").persist()
    sizes = filtered.groupBy("doc_id").agg(F.count("*").alias("n"))
    fa = filtered.select(F.col("doc_id").alias("doc_a"), "shingle")
    fb = filtered.select(F.col("doc_id").alias("doc_b"), "shingle")
    pair_inter = (
        fa.join(fb, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    truth = (
        pair_inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(
            F.col("n_common") * 1.0 / (F.col("na") + F.col("nb") - F.col("n_common"))
            >= 0.2
        )
        .select("doc_a", "doc_b")
        .persist()
    )

    sigs = _signatures_spark(d)
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.md5(F.concat(*[F.col(f"mh{s}") for s in band])).alias("band_hash"),
        )
        for b, band in enumerate(_BANDS)
    ]
    bands = sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", "bb.band_id", "bb.band_hash")
    ba = bands.select(F.col("doc_id").alias("doc_a"), "band_id", "band_hash")
    bb = bands.select(F.col("doc_id").alias("doc_b"), "band_id", "band_hash")
    candidates = (
        ba.join(bb, ["band_id", "band_hash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .persist()
    )
    hit = truth.join(candidates, ["doc_a", "doc_b"], "left_semi")

    ratio = lambda num, den: F.when(den == 0, F.lit(1_000_000).cast("bigint")).otherwise(
        F.floor(num * 1_000_000.0 / den + 0.5).cast("bigint")
    )
    counts = (
        truth.agg(F.count("*").alias("n_truth"))
        .crossJoin(candidates.agg(F.count("*").alias("n_candidates")))
        .crossJoin(hit.agg(F.count("*").alias("n_hit")))
    )
    return counts.select(
        "n_truth",
        "n_candidates",
        "n_hit",
        ratio(F.col("n_hit"), F.col("n_truth")).alias("recall_micro"),
        ratio(F.col("n_hit"), F.col("n_candidates")).alias("precision_micro"),
    )


_SENS_THRESHOLDS = (20, 35, 50, 65, 80)  # Jaccard percent cut points


@register(
    "dedup_threshold_sensitivity",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    common AS (
      SELECT s.shingle FROM shingles s GROUP BY s.shingle HAVING COUNT(*) > {MAX_DOC_FREQ}
    ),
    filtered AS (
      SELECT * FROM shingles WHERE shingle NOT IN (SELECT shingle FROM common)
    ),
    sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM filtered GROUP BY doc_id
    ),
    pair_inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM filtered a JOIN filtered b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    scored AS (
      SELECT p.doc_a, p.doc_b, p.n_common, sa.n + sb.n - p.n_common AS n_union
      FROM pair_inter p
      JOIN sizes sa ON sa.doc_id = p.doc_a
      JOIN sizes sb ON sb.doc_id = p.doc_b
    ),
    thr AS (SELECT unnest([{", ".join(str(t) for t in _SENS_THRESHOLDS)}]) AS thr_pct),
    matched AS (
      SELECT t.thr_pct, s.doc_a, s.doc_b
      FROM scored s CROSS JOIN thr t
      WHERE s.n_common * 100 >= s.n_union * t.thr_pct
    ),
    pair_counts AS (
      SELECT thr_pct, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM matched GROUP BY thr_pct
    ),
    doc_counts AS (
      SELECT thr_pct, CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs_affected
      FROM (SELECT thr_pct, doc_a AS doc FROM matched
            UNION ALL SELECT thr_pct, doc_b FROM matched)
      GROUP BY thr_pct
    )
    SELECT CAST(p.thr_pct AS BIGINT) AS thr_pct, p.n_pairs, d.n_docs_affected
    FROM pair_counts p JOIN doc_counts d USING (thr_pct)
    """,
)
def dedup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup aggressiveness CURVE: near-dup pair count and affected-doc
    count at five Jaccard thresholds ({", ".join(str(t) for t in _SENS_THRESHOLDS)}%),
    from ONE shared shingle-join pass — the report a curation run consults
    before committing to a threshold (how much of the corpus does 0.5
    remove vs 0.8?). Integer cross-multiplication (100·∩ >= thr·∪) keeps
    every threshold test exact on both engines.

    Shape: the pair scoring is the SAME df-capped sparse shingle join as
    dedup_ngram_jaccard (stop-shingle cap = skew guard, never the
    quadratic cross); the 5-threshold expansion happens AFTER pairs
    collapse to (doc_a, doc_b, counts) — a 5× fan-out of the small pair
    relation, not of the shingle join. Two aggregates (pairs, distinct
    docs) share the matched relation."""
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    sh = _shingles_spark(d)
    common = (
        sh.groupBy("shingle").count().filter(F.col("count") > MAX_DOC_FREQ).select("shingle")
    )
    filtered = sh.join(F.broadcast(common), "shingle", "left_anti")
    sizes = filtered.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = filtered.alias("a")
    b = filtered.alias("b")
    pair_inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    scored = (
        pair_inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (F.col("sa.n") + F.col("sb.n") - F.col("n_common")).alias("n_union"),
        )
    )
    matched = (
        scored.select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_union",
            F.explode(
                F.array(*[F.lit(t) for t in _SENS_THRESHOLDS])
            ).alias("thr_pct"),
        )
        .filter(F.col("n_common") * 100 >= F.col("n_union") * F.col("thr_pct"))
        .persist()
    )
    pair_counts = matched.groupBy("thr_pct").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    doc_counts = (
        matched.select("thr_pct", F.explode(F.array("doc_a", "doc_b")).alias("doc"))
        .groupBy("thr_pct")
        .agg(F.count_distinct("doc").cast("bigint").alias("n_docs_affected"))
    )
    return pair_counts.join(doc_counts, "thr_pct").select(
        F.col("thr_pct").cast("bigint").alias("thr_pct"), "n_pairs", "n_docs_affected"
    )


_SIMHASH_SQL = """
    SELECT doc_id,
           string_agg(CASE WHEN weight >= 0 THEN '1' ELSE '0' END, ''
                      ORDER BY pos) AS simhash
    FROM (
      SELECT doc_id, p.pos,
             SUM(CASE WHEN (strpos('0123456789abcdef',
                                   substr(md5(token), p.pos, 1)) - 1) % 2 = 1
                      THEN 1 ELSE -1 END) AS weight
      FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
            FROM documents) toks
      CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS pos) p
      GROUP BY doc_id, p.pos
    )
    GROUP BY doc_id
"""


@register(
    "dedup_sketch_agreement",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    sigs AS (
      SELECT doc_id,
             {", ".join(f"{_minhash_sql(s)} AS mh{s}" for s in range(N_SEEDS))}
      FROM shingles GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5({' || '.join(f'mh{s}' for s in band)}) AS band_hash FROM sigs"
        for b, band in enumerate(_BANDS)
      )}
    ),
    lsh_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    sh AS ({_SIMHASH_SQL}),
    sim_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b
        ON a.simhash = b.simhash AND a.doc_id < b.doc_id
    ),
    universe AS (
      SELECT COALESCE(l.doc_a, s.doc_a) AS doc_a,
             COALESCE(l.doc_b, s.doc_b) AS doc_b,
             (l.doc_a IS NOT NULL) AS in_lsh,
             (s.doc_a IS NOT NULL) AS in_simhash
      FROM lsh_pairs l
      FULL OUTER JOIN sim_pairs s
        ON s.doc_a = l.doc_a AND s.doc_b = l.doc_b
    ),
    hot AS (
      SELECT shingle FROM shingles GROUP BY shingle HAVING COUNT(*) > {MAX_DOC_FREQ}
    ),
    filtered AS (
      SELECT * FROM shingles WHERE shingle NOT IN (SELECT shingle FROM hot)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM filtered GROUP BY doc_id),
    pair_jac AS (
      SELECT p.doc_a, p.doc_b,
             CAST(FLOOR(p.n_common * 1000000.0
                        / (sa.n + sb.n - p.n_common) + 0.5) AS BIGINT)
               AS jaccard_micro
      FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM filtered a JOIN filtered b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
      ) p
      JOIN sizes sa ON sa.doc_id = p.doc_a
      JOIN sizes sb ON sb.doc_id = p.doc_b
    )
    SELECT u.in_lsh, u.in_simhash,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(COALESCE(j.jaccard_micro, 0)) AS BIGINT) AS sum_jaccard_micro,
           CAST(MIN(COALESCE(j.jaccard_micro, 0)) AS BIGINT) AS min_jaccard_micro,
           CAST(MAX(COALESCE(j.jaccard_micro, 0)) AS BIGINT) AS max_jaccard_micro
    FROM universe u
    LEFT JOIN pair_jac j ON j.doc_a = u.doc_a AND j.doc_b = u.doc_b
    GROUP BY u.in_lsh, u.in_simhash
    """,
)
def dedup_sketch_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-vs-sketch agreement audit: which near-dup pairs does banded
    MinHash-LSH surface vs exact-SimHash-collision, refereed by the EXACT
    shingle Jaccard of every candidate pair — the decision report for
    'which sketch do we run at 100 TB' (LSH catches partial-overlap near
    dups the one-bit-flip-fragile SimHash misses; SimHash-equal catches
    token-reorder dups whose shingle sets differ). One row per agreement
    cell (in_lsh × in_simhash) with the pair count and the exact-Jaccard
    sum/min/max over the cell in integer micros — LSH-only cells carrying
    high Jaccard mass justify the more expensive sketch; if their mass
    collapsed to ~0 the cheaper SimHash would suffice.

    Scale posture: both candidate sets come from equi-joins on sketch
    keys (band hash / 16-bit signature) — never an all-pairs expansion —
    and the exact-Jaccard referee is computed ONLY for the candidate
    universe (a sketch audit at 100 TB can never afford exact truth over
    all pairs; over its own candidates it is the sparse shingle join
    this module already runs). The full-outer pair alignment and final
    cell rollup operate on pair-cardinality relations, orders of
    magnitude below corpus size."""
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    # ONE shingle expansion for the whole audit (r14): the minhash
    # signatures and the exact-Jaccard referee both consume the SAME
    # (doc_id, shingle) explode — previously _signatures_spark re-derived
    # it, paying the split+array_distinct+explode pass twice (measured
    # 1.8 s of the 9 s cold sf1 wall). `sh` is persisted below; sigs
    # aggregates from it.
    sh = _shingles_spark(d).persist()
    sigs = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle")))).alias(f"mh{s}")
            for s in range(N_SEEDS)
        ]
    ).persist()
    bands = None
    for b, band in enumerate(_BANDS):
        part = sigs.select(
            "doc_id",
            F.lit(b).alias("band_id"),
            F.md5(F.concat(*[F.col(f"mh{s}") for s in band])).alias("band_hash"),
        )
        bands = part if bands is None else bands.unionAll(part)
    ba, bb = bands.alias("ba"), bands.alias("bb")
    lsh_pairs = (
        ba.join(
            bb,
            (F.col("ba.band_id") == F.col("bb.band_id"))
            & (F.col("ba.band_hash") == F.col("bb.band_hash"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # SimHash signatures: same shuffle-free per-row bit derivation as
    # dedup_simhash (see there for the vote-parity identity)
    hs = F.transform(F.array_distinct(F.split(F.col("text"), " ")), lambda t: F.md5(t))
    hashed = fan_out(d).select("doc_id", hs.alias("hs"))
    n = F.size(F.col("hs"))

    def bit(p: int):
        odd = F.size(
            F.filter(
                F.col("hs"),
                lambda h: (F.instr(F.lit("0123456789abcdef"), F.substring(h, p, 1)) - 1)
                % 2
                == 1,
            )
        )
        return F.when(2 * odd - n >= 0, F.lit("1")).otherwise(F.lit("0"))

    # persisted: the collision self-join consumes simhashed twice —
    # uncached, the per-token md5 + 16 bit-vote filters run once per side
    simhashed = hashed.select(
        "doc_id", F.concat(*[bit(p) for p in range(1, 17)]).alias("simhash")
    ).persist()
    sa_, sb_ = simhashed.alias("sa"), simhashed.alias("sb")
    sim_pairs = sa_.join(
        sb_,
        (F.col("sa.simhash") == F.col("sb.simhash"))
        & (F.col("sa.doc_id") < F.col("sb.doc_id")),
    ).select(F.col("sa.doc_id").alias("doc_a"), F.col("sb.doc_id").alias("doc_b"))
    universe = (
        lsh_pairs.withColumn("in_l", F.lit(True))
        .join(
            sim_pairs.withColumn("in_s", F.lit(True)),
            ["doc_a", "doc_b"],
            "full_outer",
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("in_l").isNotNull().alias("in_lsh"),
            F.col("in_s").isNotNull().alias("in_simhash"),
        )
    )
    # the shingle pipeline (fan_out + split + explode) is the most
    # expensive subtree here and feeds the signature aggregate above plus
    # THREE referee consumers (sizes, fa, fb) — `sh` is persisted at its
    # definition; the filtered table is persisted too (read three times).
    # Guide §5: reuse > recompute for a hot subtree.
    hot = sh.groupBy("shingle").count().filter(F.col("count") > MAX_DOC_FREQ).select("shingle")
    filtered = sh.join(F.broadcast(hot), "shingle", "left_anti").persist()
    sizes = filtered.groupBy("doc_id").agg(F.count("*").alias("n"))
    fa, fb = filtered.alias("fa"), filtered.alias("fb")
    pair_inter = (
        fa.join(
            fb,
            (F.col("fa.shingle") == F.col("fb.shingle"))
            & (F.col("fa.doc_id") < F.col("fb.doc_id")),
        )
        .groupBy(F.col("fa.doc_id").alias("doc_a"), F.col("fb.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    za, zb = sizes.alias("za"), sizes.alias("zb")
    jac_micro = F.floor(
        F.col("n_common") * 1_000_000.0 / (F.col("za.n") + F.col("zb.n") - F.col("n_common"))
        + 0.5
    ).cast("bigint")
    pair_jac = (
        pair_inter.join(za, F.col("za.doc_id") == F.col("doc_a"))
        .join(zb, F.col("zb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", jac_micro.alias("jaccard_micro"))
    )
    return (
        universe.join(pair_jac, ["doc_a", "doc_b"], "left")
        .groupBy("in_lsh", "in_simhash")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.coalesce("jaccard_micro", F.lit(0))).cast("bigint").alias("sum_jaccard_micro"),
            F.min(F.coalesce("jaccard_micro", F.lit(0))).cast("bigint").alias("min_jaccard_micro"),
            F.max(F.coalesce("jaccard_micro", F.lit(0))).cast("bigint").alias("max_jaccard_micro"),
        )
    )


# --- substring-level exact dedup (r10) --------------------------------------

SUBSTR_K = 8       # window width (tokens) — matches dedup_repeated_passages
SUBSTR_MIN = 12    # minimum duplicated-substring length (tokens) to report


@register(
    "dedup_substring_runs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    wins AS (
      SELECT doc_id, i, md5(array_to_string(t[i:i+{SUBSTR_K - 1}], ' ')) AS wh
      FROM toks, unnest(generate_series(1, len(t) - {SUBSTR_K - 1}, 1)) AS g(i)
      WHERE len(t) >= {SUBSTR_K}
    ),
    shared AS (
      SELECT wh FROM wins GROUP BY wh HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    sw AS (
      SELECT w.doc_id, w.i FROM wins w JOIN shared s ON s.wh = w.wh
    ),
    isl AS (
      SELECT doc_id, i,
             i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS island
      FROM sw
    ),
    runs AS (
      SELECT doc_id, island, COUNT(*) + {SUBSTR_K - 1} AS span_tokens
      FROM isl GROUP BY doc_id, island
      HAVING COUNT(*) + {SUBSTR_K - 1} >= {SUBSTR_MIN}
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(MAX(span_tokens) AS BIGINT) AS max_run_tokens,
           CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
    FROM runs GROUP BY doc_id
    """,
)
def dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level EXACT dedup (Lee et al. 2022, arXiv:2107.06499
    'ExactSubstr') — the layer between document-level MinHash and the
    coarse repeated-passages fraction: per document, the MAXIMAL
    contiguous duplicated substrings of >= {SUBSTR_MIN} tokens, found
    WITHOUT materializing the paper's suffix array. A duplicated
    substring of length L >= max(K, MIN) appears as exactly L-K+1
    consecutive stride-1 K-token windows whose hashes occur in >= 2
    distinct documents, so maximal duplicated substrings are maximal
    RUNS of shared window hashes — a gaps-and-islands rank computation
    (island = i - row_number over i) that both engines express
    identically. Output per affected doc: run count, longest run, and
    total duplicated tokens (the removal mask size ExactSubstr cuts).

    Scale shape, vs the suffix array: the stride-1 window explode is one
    row per corpus TOKEN (linear, the same cardinality every tokenizing
    operator here already handles); the shared-hash census is one
    map-side-combinable groupBy on the window hash (hot boilerplate
    hashes partial-aggregate before the shuffle); the islands pass is
    one doc-partitioned sort — all linear shuffles, no n^2 pair term
    anywhere, and no 8x-corpus suffix-array materialization. The
    shared-hash join deliberately has NO broadcast hint: on the
    dup-heavy corpora where this operator earns its keep the shared set
    approaches corpus scale (AQE broadcasts it while small) — same
    reasoning as dedup_repeated_passages. Windows vs suffix array
    semantic trade: run boundaries are K-token-quantized (a dup's first
    K-1 and last K-1 tokens merge into the run), and runs fuse
    overlapping dups shared with DIFFERENT partners — both harmless for
    the removal-mask use, both documented by the paper's own windowed
    approximations."""
    from pyspark.sql import Window

    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    toks = fan_out(d).select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= SUBSTR_K
    )
    wins = toks.select(
        "doc_id",
        F.explode(F.expr(f"sequence(1, size(t) - {SUBSTR_K - 1}, 1)")).alias("i"),
        "t",
    ).select(
        "doc_id",
        "i",
        F.md5(F.array_join(F.slice(F.col("t"), F.col("i"), SUBSTR_K), " ")).alias("wh"),
    ).persist()  # two consumers (shared census + sw join): don't re-explode
    shared = (
        wins.groupBy("wh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("wh")
    )
    sw = wins.join(shared, "wh").select("doc_id", "i")
    w = Window.partitionBy("doc_id").orderBy("i")
    isl = sw.withColumn("island", F.col("i") - F.row_number().over(w))
    runs = (
        isl.groupBy("doc_id", "island")
        .agg((F.count("*") + (SUBSTR_K - 1)).alias("span_tokens"))
        .filter(F.col("span_tokens") >= SUBSTR_MIN)
    )
    return runs.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_runs"),
        F.max("span_tokens").cast("bigint").alias("max_run_tokens"),
        F.sum("span_tokens").cast("bigint").alias("dup_tokens"),
    )


# --- Incremental new-shard dedup (r13) ---------------------------------------
#
# The recurring 100 TB crawl operation none of the batch dedup ops above
# cover: a NEW shard of documents arrives and must be deduplicated against
# the EXISTING corpus without recomputing corpus-internal pairs or corpus
# signatures. The corpus's banded MinHash signature index is PERSISTED on
# disk (built once per corpus, amortized over every future shard) as a
# bucketed+sorted table on the band bucket key; the probe join then reads
# the index CO-LOCATED — zero Exchange on the corpus side, zero signature
# recompute — and only the (corpus-fraction-sized) shard pays fresh
# signature computation plus one shuffle into the index's bucket layout.
# Same build/probe economics as the persisted IVF index
# (clustering.ivf_index_path): BUILD once, PROBE many.
#
# The shard is the newest decile of doc ids (doc_id*10 >= 9*(max+1)) — a
# deterministic stand-in for "today's crawl": new documents arrive with
# fresh, higher ids. Both engines derive the boundary from the data (one
# bounded scalar: MAX(doc_id)), so the slice is identical cross-engine at
# any SF.

_SHARD_DECILES = 9        # corpus = lowest 9 deciles, shard = newest 1
_ASSIGN_MIN_EST = 0.5     # cluster-assignment bound on the minhash estimate


def _band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, mhs, bucket_key): one row per LSH band. bucket_key =
    md5(band_id | band minhashes) — unlike dedup_minhash_lsh_pairs'
    (band_id, band_hash) composite, the band id is EMBEDDED in the hash so
    the single column is a complete join key, which is what lets the
    persisted index bucket on ONE column and the probe join run
    co-located on it."""
    keys = F.array(
        *[
            F.md5(F.concat(F.lit(f"{b}|"), *[F.col(f"mh{s}") for s in band]))
            for b, band in enumerate(_BANDS)
        ]
    )
    sig_arr = F.array(*[F.col(f"mh{s}") for s in range(N_SEEDS)])
    return sigs.select(
        "doc_id", sig_arr.alias("mhs"), F.explode(keys).alias("bucket_key")
    )


@functools.cache
def lsh_shard_index(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """(table name, id bound): the persisted corpus signature index for
    ``sf_dir``, built once per (session, sf_dir). The index holds the
    CORPUS side only (doc_id*10 < 9*bound): band rows (doc_id, full
    signature, bucket_key) written as a bucketed+sorted table on
    bucket_key, so every future shard probe sort-merge-joins against it
    with no Exchange on the index side (pinned in tests/test_plans.py). The signature arrays
    ride IN the index so the probe can score est_jaccard without touching
    corpus text — the property that makes incremental dedup O(shard), not
    O(corpus)."""
    import hashlib

    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    bound = int(d.agg(F.max("doc_id")).first()[0]) + 1
    corpus = d.filter(F.col("doc_id") * 10 < _SHARD_DECILES * bound)
    rows = _band_rows(_signatures_spark(corpus))
    tbl = "lsh_sig_idx_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    path = tempfile.mkdtemp(prefix="lsh_index_", dir=scratch_root())
    (
        rows.write.mode("overwrite")
        .option("path", f"{path}/{tbl}")
        .bucketBy(8, "bucket_key")
        .sortBy("bucket_key")
        .saveAsTable(tbl)
    )
    return tbl, bound


def _incremental_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_a=corpus, doc_b=shard, est_jaccard) candidate pairs:
    shard band rows sort-merge-joined against the persisted index on
    bucket_key, minhash agreement scored from the two signature arrays
    carried by the join — shared by the pair query and the assignment
    query."""
    tbl, bound = lsh_shard_index(spark, sf_dir)
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    shard = d.filter(F.col("doc_id") * 10 >= _SHARD_DECILES * bound)
    sb = _band_rows(_signatures_spark(shard)).select(
        F.col("doc_id").alias("doc_b"), F.col("mhs").alias("mhs_b"), "bucket_key"
    )
    idx = spark.table(tbl).select(
        F.col("doc_id").alias("doc_a"), F.col("mhs").alias("mhs_a"), "bucket_key"
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("mhs_a"), F.col("mhs_b"), lambda u, v: u == v),
            lambda eq: eq,
        )
    )
    return (
        idx.hint("merge")
        .join(sb, "bucket_key")
        .select("doc_a", "doc_b", q(agree / float(N_SEEDS)).alias("est_jaccard"))
        .distinct()
    )


def _incremental_pairs_sql() -> str:
    """Shared WITH-prefix: DuckDB recomputes BOTH sides from scratch
    (signatures, band bucket keys, the id boundary, the shard-vs-corpus
    band join, minhash agreement) and ends at a CTE ``scored`` with the
    distinct (doc_a, doc_b, est_jaccard) pairs."""
    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, md5('{b}|' || {' || '.join(f'mh{s}' for s in band)}) AS bucket_key FROM sigs"
        for b, band in enumerate(_BANDS)
    )
    agree = " + ".join(
        f"CASE WHEN sa.mh{s} = sb.mh{s} THEN 1 ELSE 0 END" for s in range(N_SEEDS)
    )
    return f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    sigs AS (
      SELECT doc_id,
             {", ".join(f"{_minhash_sql(s)} AS mh{s}" for s in range(N_SEEDS))}
      FROM shingles GROUP BY doc_id
    ),
    bnd AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
    bands AS ({bands_union}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.bucket_key = b.bucket_key
      WHERE a.doc_id * 10 <  {_SHARD_DECILES} * (SELECT n FROM bnd)
        AND b.doc_id * 10 >= {_SHARD_DECILES} * (SELECT n FROM bnd)
    ),
    scored AS (
      SELECT p.doc_a, p.doc_b,
             (FLOOR(({agree}) / {N_SEEDS}.0 * 10000.0 + 0.5) / 10000.0) AS est_jaccard
      FROM pairs p
      JOIN sigs sa ON sa.doc_id = p.doc_a
      JOIN sigs sb ON sb.doc_id = p.doc_b
    )
    """


@register(
    "dedup_incremental_new_shard",
    oracle=f"""
    {{PREFIX}}
    SELECT doc_a, doc_b, est_jaccard FROM scored
    """.replace("{PREFIX}", _incremental_pairs_sql()),
)
def dedup_incremental_new_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash+LSH dedup of a NEW shard against the PERSISTED
    corpus signature index: emits new-vs-existing candidate pairs
    (doc_a = existing corpus doc, doc_b = new shard doc) with the banded
    minhash Jaccard estimate — WITHOUT recomputing corpus-internal pairs
    or corpus signatures (the index carries band bucket keys AND full
    signatures from its one-time build; see lsh_shard_index).

    Scale shape — the part that matters at 100 TB, where this op runs per
    crawl increment: corpus cost is a co-located sort-merge probe of the
    bucketed index (no Exchange, no signature recompute — pinned in
    tests/test_plans.py); shard cost is one signature pass over the NEW
    documents only plus one shuffle of shard band rows into the index's
    bucket layout. Candidate generation stays band-bucketed (never
    all-pairs); shard-internal duplicates are intentionally out of scope
    here (they are the ordinary batch job, dedup_minhash_lsh_pairs, run
    shard-locally before the merge). The oracle recomputes BOTH sides
    from the raw text, so the comparison proves the persisted index is
    byte-faithful to a fresh build."""
    return _incremental_scored(spark, sf_dir)


@register(
    "dedup_incremental_shard_assign",
    oracle=f"""
    {{PREFIX}}
    SELECT d.doc_id,
           COALESCE(MIN(s.doc_a) FILTER (WHERE s.est_jaccard >= {_ASSIGN_MIN_EST}),
                    d.doc_id) AS assigned_cluster,
           CAST(COUNT(s.doc_a) FILTER (WHERE s.est_jaccard >= {_ASSIGN_MIN_EST})
                AS BIGINT) AS n_dup_candidates
    FROM documents d
    LEFT JOIN scored s ON s.doc_b = d.doc_id
    WHERE d.doc_id * 10 >= {_SHARD_DECILES} * (SELECT n FROM bnd)
    GROUP BY d.doc_id
    """.replace("{PREFIX}", _incremental_pairs_sql()),
)
def dedup_incremental_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignment for every NEW shard document: join the shard onto
    the incremental candidate pairs (>= 0.5 = _ASSIGN_MIN_EST), assign
    each new doc to its lowest-id matching corpus document (the keeper
    convention every dedup_*_clusters op uses), or to itself when nothing
    in the corpus matches (a genuinely new cluster). n_dup_candidates
    counts the qualifying corpus matches, so downstream curation can
    distinguish 'unique', 'one clear duplicate', and 'template-cloud'
    shard docs. One output row per shard doc — including the unmatched
    majority, which is what the mix/quota samplers consume.

    The threshold compare is exact cross-engine: est_jaccard values are
    k/8 quantized through q(), all exact binary doubles, so >= 0.5 cannot
    straddle a float boundary. Scale: reuses the co-located index probe
    (see dedup_incremental_new_shard), then one output-sized aggregation
    keyed on the shard doc id."""
    _, bound = lsh_shard_index(spark, sf_dir)
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    shard_docs = d.filter(F.col("doc_id") * 10 >= _SHARD_DECILES * bound).select(
        "doc_id"
    )
    matches = (
        _incremental_scored(spark, sf_dir)
        .filter(F.col("est_jaccard") >= _ASSIGN_MIN_EST)
        .groupBy("doc_b")
        .agg(
            F.min("doc_a").alias("best"),
            F.count(F.lit(1)).cast("bigint").alias("n_m"),
        )
    )
    return (
        shard_docs.join(matches, shard_docs.doc_id == matches.doc_b, "left")
        .select(
            "doc_id",
            F.coalesce("best", "doc_id").alias("assigned_cluster"),
            F.coalesce("n_m", F.lit(0)).cast("bigint").alias("n_dup_candidates"),
        )
    )


# positional hex arithmetic shared by both engines: value of the first 8
# hex chars of an md5, summed row-wise into an order-free digest. 16^7 *
# 15 * row_count stays far under int64 even at sf1 band-row counts.
_HEX16 = "0123456789abcdef"
_HEX_POW = [16 ** (8 - i) for i in range(1, 9)]


def _row_digest_spark(s: "F.Column") -> "F.Column":
    h = F.md5(s)
    val = F.lit(0).cast("long")
    for i, p in enumerate(_HEX_POW, start=1):
        val = val + (F.instr(F.lit(_HEX16), F.substring(h, i, 1)) - 1).cast(
            "long"
        ) * F.lit(p)
    return val


def _row_digest_sql(s: str) -> str:
    h = f"md5({s})"
    return " + ".join(
        f"CAST((strpos('{_HEX16}', substr({h}, {i}, 1)) - 1) AS BIGINT) * {p}"
        for i, p in enumerate(_HEX_POW, start=1)
    )


def _index_digest_spark(rows: DataFrame) -> DataFrame:
    """16-row full-fidelity digest of a band-row set (doc_id, mhs,
    bucket_key): grouped by the bucket key's first hex char, carrying
    count / distinct-doc / id-sum / an order-free row-hash sum. Any
    single-row difference between two indexes moves at least one digest
    value with overwhelming probability."""
    s = F.concat(
        F.col("doc_id").cast("string"),
        F.lit("|"),
        F.col("bucket_key"),
        F.lit("|"),
        F.array_join(F.col("mhs"), ""),
    )
    return (
        rows.groupBy(F.substring("bucket_key", 1, 1).alias("bucket_prefix"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
            F.sum(_row_digest_spark(s)).cast("bigint").alias("digest"),
        )
    )


@functools.cache
def lsh_merged_index(spark: SparkSession, sf_dir: str) -> str:
    """The MERGED persisted signature index for ``sf_dir``: the corpus
    build (lowest 9 id deciles) plus the new shard's band rows APPENDED
    as additional bucketed files — built once per (session, sf_dir), like
    lsh_shard_index. The append goes through the same
    bucketBy/sortBy/saveAsTable spec, so Spark routes the shard rows into
    the existing 8-bucket layout as NEW files per bucket; nothing already
    on disk is rewritten (tests/test_incremental_index.py pins the
    pre-append file set byte-identical) and the catalog keeps the
    bucketed metadata, so post-merge probes still join Exchange-free."""
    import hashlib

    tbl = "lsh_merged_idx_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = tempfile.mkdtemp(prefix="lsh_merged_", dir=scratch_root())
    write_corpus_index(spark, sf_dir, tbl, f"{path}/{tbl}")
    append_shard_index(spark, sf_dir, tbl)
    return tbl


def write_corpus_index(spark: SparkSession, sf_dir: str, tbl: str, path: str) -> None:
    """Step 1 of the merge: the corpus slice's band rows as a fresh
    bucketed+sorted table (same spec as lsh_shard_index)."""
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    bound = int(d.agg(F.max("doc_id")).first()[0]) + 1
    corpus = d.filter(F.col("doc_id") * 10 < _SHARD_DECILES * bound)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        _band_rows(_signatures_spark(corpus))
        .write.mode("overwrite")
        .option("path", path)
        .bucketBy(8, "bucket_key")
        .sortBy("bucket_key")
        .saveAsTable(tbl)
    )


def append_shard_index(spark: SparkSession, sf_dir: str, tbl: str) -> None:
    """Step 2 of the merge: the shard slice's band rows appended into the
    existing bucket layout — new files per bucket, nothing rewritten."""
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    bound = int(d.agg(F.max("doc_id")).first()[0]) + 1
    shard = d.filter(F.col("doc_id") * 10 >= _SHARD_DECILES * bound)
    (
        _band_rows(_signatures_spark(shard))
        .write.mode("append")
        .bucketBy(8, "bucket_key")
        .sortBy("bucket_key")
        .saveAsTable(tbl)
    )


@register(
    "dedup_incremental_index_merge",
    oracle=f"""
    WITH shingles AS ({{SHINGLES}}),
    sigs AS (
      SELECT doc_id,
             {", ".join(f"{_minhash_sql(s)} AS mh{s}" for s in range(N_SEEDS))}
      FROM shingles GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, md5('{b}|' || {' || '.join(f'mh{s}' for s in band)}) AS bucket_key, "
        f"{' || '.join(f'mh{s}' for s in range(N_SEEDS))} AS sig_cat FROM sigs"
        for b, band in enumerate(_BANDS)
      )}
    )
    SELECT substr(bucket_key, 1, 1) AS bucket_prefix,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(SUM({_row_digest_sql("CAST(doc_id AS VARCHAR) || '|' || bucket_key || '|' || sig_cat")}) AS BIGINT) AS digest
    FROM bands
    GROUP BY 1
    """.replace("{SHINGLES}", _SHINGLES_SQL),
)
def dedup_incremental_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index MAINTENANCE for incremental dedup — the write half that
    dedup_incremental_new_shard's probe half assumes: the new shard's
    band rows are APPENDED into the persisted bucketed signature index
    (new files inside the existing 8-bucket layout; no rewrite of what's
    on disk), and the merged index is then READ BACK and digested. The
    oracle recomputes the FULL corpus-plus-shard index from raw text and
    digests identically — so the comparison proves the append-maintained
    index is row-for-row equal to a from-scratch rebuild: nothing lost,
    nothing duplicated, signatures byte-faithful.

    The digest is 16 rows (bucket-key first hex char): count, distinct
    docs, id-sum, and an order-free row-hash sum over
    md5(doc_id|bucket_key|signature) evaluated with identical positional
    hex arithmetic in both engines — a single dropped, duplicated, or
    corrupted band row moves it.

    Scale: this is the O(batch) crawl-increment operation — per shard,
    signature cost is the NEW documents only, the append shuffles just
    the shard's band rows into the bucket layout, and existing index
    files are immutable (the compaction trigger at 100 TB is file-count
    per bucket, not data rewritten). The read-back digest here is the
    audit; production probes keep joining the merged table Exchange-free
    (tests/test_incremental_index.py pins both properties)."""
    tbl = lsh_merged_index(spark, sf_dir)
    return _index_digest_spark(spark.table(tbl))


@register(
    "stream_incremental_dedup_ingest",
    oracle=f"""
    {{PREFIX}}
    SELECT doc_a, doc_b, est_jaccard FROM scored
    """.replace("{PREFIX}", _incremental_pairs_sql()),
)
def stream_incremental_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-ingestion pipeline AS A STREAM: new documents arrive in
    micro-batches (the shard decile split into 2 genuine file-source
    batches) and each batch is probed against the PERSISTED corpus
    signature index inside foreachBatch — signatures computed for the
    batch only, sort-merge-joined co-located against the bucketed index
    table, duplicate pairs appended to the sink. This is the streaming
    twin of dedup_incremental_new_shard and shares its ORACLE verbatim:
    each shard doc lands in exactly one batch, so the union of per-batch
    probes must equal the one-shot batch probe — a dropped batch, a
    double-probed file, or any divergence between the streaming and
    batch read paths of the index is a hash mismatch.

    Why foreachBatch (T1's micro-batch-apply surface) and not a stream-
    static join: the probe needs the batch side SHINGLED, signed, and
    banded before the join — a multi-stage batch transformation per
    micro-batch, exactly the shape foreachBatch exists for; the index
    side stays a catalog table so the co-located bucketed join is
    preserved batch after batch. At 100 TB this is the continuous
    ingestion posture: the crawler ships document files, each trigger
    probes only its increment, the corpus index is read-only and never
    recomputed. Output is collected to an output-sized local relation
    (pairs, not documents) so the temp sink can be reclaimed — the same
    bounded-result convention as the audit queries."""
    import os

    from pyspark.sql import Window

    from ..streaming.replay import drain, write_chunk

    tbl, bound = lsh_shard_index(spark, sf_dir)
    d = load_tables(spark, sf_dir, names=("documents",))["documents"]
    shard = d.filter(F.col("doc_id") * 10 >= _SHARD_DECILES * bound)

    with tempfile.TemporaryDirectory(prefix="doc_ingest_", dir=scratch_root()) as root:
        spool, sink, ckpt = (os.path.join(root, p) for p in ("spool", "sink", "ckpt"))
        w = Window.orderBy("doc_id")
        chunked = shard.withColumn("_chunk", F.ntile(2).over(w))
        for i in (1, 2):
            write_chunk(chunked.filter(F.col("_chunk") == i).drop("_chunk"), spool, i)

        schema = spark.read.parquet(os.path.join(spool, "chunk_0001.parquet")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(spool)
        )
        idx = spark.table(tbl).select(
            F.col("doc_id").alias("doc_a"), F.col("mhs").alias("mhs_a"), "bucket_key"
        )
        agree = F.size(
            F.filter(
                F.zip_with(F.col("mhs_a"), F.col("mhs_b"), lambda u, v: u == v),
                lambda eq: eq,
            )
        )

        def probe_batch(batch_df: DataFrame, batch_id: int) -> None:
            sb = _band_rows(_signatures_spark(batch_df)).select(
                F.col("doc_id").alias("doc_b"),
                F.col("mhs").alias("mhs_b"),
                "bucket_key",
            )
            (
                idx.hint("merge")
                .join(sb, "bucket_key")
                .select(
                    "doc_a", "doc_b", q(agree / float(N_SEEDS)).alias("est_jaccard")
                )
                .distinct()
                .write.mode("append")
                .parquet(sink)
            )

        batches = len(drain(spark, stream.writeStream.foreachBatch(probe_batch), ckpt))
        assert batches >= 2, f"expected a multi-batch ingest, got {batches}"
        res = spark.read.parquet(sink)
        return spark.createDataFrame(res.collect(), res.schema)
