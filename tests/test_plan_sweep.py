"""In-band gate for the lambda-filter plan sweep (r10 verdict task 7).

The sweep flags every registered query whose optimized plan evaluates a
higher-order lambda inside a Filter — the SURVEY 4.5 rules-move-work
failure class. Each non-diagnostic lead is timed live (wall at sf0.1 and
its slope at 5x data); this test FAILS only on out-of-band hits
(expensive, supralinear, or unmeasured), which is the check that would
have caught the r10 overlap-decontamination tax (18.7 s wall against a
5 s band) at commit time instead of bench time.
"""

from __future__ import annotations

from tests.plan_lambda_sweep import (
    SLOPE_BOUND,
    WALL_BOUND_SEC,
    classify_hits,
    filter_node_texts,
    measure_leads,
    sweep,
)

SF = "/root/testdata/sf0.01"


def test_filter_node_capture_multiline():
    """A condition wrapped across lines must not hide its lambda (the r10
    ADVICE false-negative): the node text includes continuations."""
    plan = (
        "Project [a#1]\n"
        "+- Filter (size(transform(xs#2,\n"
        "      lambdafunction(x, x)), true) > 0)\n"
        "   +- Relation [xs#2]"
    )
    nodes = filter_node_texts(plan)
    assert len(nodes) == 1
    assert "lambdafunction" in nodes[0] and "transform(" in nodes[0]
    # and the single-line form still works
    plan2 = "Filter (aggregate(xs#2, 0, lambdafunction(a, b)) > 1)\n+- Relation [xs#2]"
    assert len(filter_node_texts(plan2)) == 1


def test_classify_hits_bounds():
    """The bounds bite just above their values, a failed or missing
    measurement never passes, and diagnostics need no measurement."""
    assert (WALL_BOUND_SEC, SLOPE_BOUND) == (5.0, 7.0)
    measured = {
        "slow": {"wall": 5.01, "slope5": 3.0},
        "steep": {"wall": 1.0, "slope5": 7.01},
        "broken": RuntimeError("boom"),
        "healthy": {"wall": 4.9, "slope5": 3.0},
    }
    hits = [(name, 1) for name in (*measured, "unmeasured", "diag")]
    in_band, out_of_band = classify_hits(hits, measured, {"diag"})
    assert [line.split()[0] for line in in_band] == ["healthy", "diag"]
    assert [line.split()[0] for line in out_of_band] == [
        "slow", "steep", "broken", "unmeasured",
    ]


def test_lambda_sweep_hits_are_in_band(spark, tmp_path_factory):
    """Every lambda-filter lead in the registry must be diagnostic-tagged,
    or measured cheap (wall at sf0.1) and linear (slope at 5x data)."""
    import __spark_entry__ as entry
    from real_time_fraud_detection_system_using_big_data_analytics_spark.plans import registry

    registry.load_all()
    queries = entry.queries()
    hits, errors = sweep(spark, queries, SF)
    assert not errors, errors
    measured = measure_leads(
        spark, queries, hits, registry.DIAGNOSTIC, str(tmp_path_factory.mktemp("sf_x5"))
    )
    in_band, out_of_band = classify_hits(hits, measured, registry.DIAGNOSTIC)
    print("LAMBDA-FILTER in-band:", in_band)
    assert not out_of_band, (
        "lambda-filter leads outside the measured band (cross-check the "
        f"plan, then fix or tag): {out_of_band}"
    )
