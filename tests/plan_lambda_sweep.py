"""Diagnostic sweep: flag registered queries whose OPTIMIZED plan contains a
Filter condition embedding a higher-order lambda (transform/aggregate/filter
over an array) — the signature of the rules-move-work failure class
documented in SURVEY 4.5:

- CollapseProject can inline an expensive array expression into every
  downstream reference (r9, operators/dedup.py:61);
- InferFiltersFromGenerate + predicate pushdown can carry a synthesized
  `size(arr) > 0` below a fan-out exchange into a single-task scan stage,
  re-evaluating the whole nested transform per row on one core (r10,
  curation_decontaminate_overlap — 18.7 s for a 1.1 s job before the
  explode_outer rewrite).

A hit is a LEAD, not a verdict: the lambda-filter is only a problem when
the stage it lands in is low-parallelism AND the expression is expensive.
`measure_leads` times every non-diagnostic lead live with `obs.profile`,
at sf0.1 and on a 5x copy built by `tests/gen_sf.py`, and `classify_hits`
splits the leads into in-band (cheap and linear, or registry-tagged
diagnostic baselines) vs out-of-band (expensive, supralinear, or not
measured) — tests/test_plan_sweep.py fails only on the out-of-band set,
which is exactly the check that would have caught the r10
overlap-decontamination tax (18.7 s >> the 5 s wall band).

Usage: python tests/plan_lambda_sweep.py [sf_dir]   (sf_dir is swept; the
leads are then timed at sf0.1 and 5x sf0.1)
"""

from __future__ import annotations

import re
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests.gen_sf import SRC, build_sf

# families whose construction executes work or needs services; the sweep is
# about declarative batch plans (same exclusion rationale as test_plans.py)
SKIP_PREFIXES = (
    "stream_", "ml_", "source_", "multimodal_", "sql_scripting", "etl_",
)

# in-band limits: a lambda-filter lead is actionable only when the query is
# measurably expensive (wall at sf0.1 above the band every healthy headline
# query sits in) or measurably supralinear (wall ratio at 5x data).
WALL_BOUND_SEC = 5.0
# slope5 reads ~5 at 5x data for a genuinely LINEAR query (SCALING.md);
# the bound must sit above that or a healthy linear lambda-filter query
# gets classified out-of-band (r12 ADVICE — the old 4.0 only worked
# because every twin read under it on fixed-overhead dominance). 7.0
# leaves linear+noise in-band while still catching the quadratics
# (13.9-26.5 at 5x).
SLOPE_BOUND = 7.0
# warm samples per wall after one warm-up run; their min is the statistic
# bench.py commits
WARM_SAMPLES = 3

# a line that STARTS a new plan node: optional tree-drawing prefix
# (": ", "|  ", spaces) then a branch marker "+- " / ":- ", or the
# unprefixed root node on the first line. Lines not matching are treated
# as continuations of the previous node (wrapped conditions).
_NODE_LINE = re.compile(r"^[\s:|]*(?:\+- |:- )")


def filter_node_texts(plan: str) -> list[str]:
    """Full text of every Filter node in a plan string, continuation lines
    included — a condition that wraps across lines can no longer hide a
    lambdafunction from the detector (ADVICE r10: the old single-line
    regex only saw the first line of each node)."""
    nodes: list[list[str]] = []
    for i, line in enumerate(plan.splitlines()):
        if i == 0 or _NODE_LINE.match(line):
            nodes.append([line])
        elif nodes:
            nodes[-1].append(line)
    out = []
    for chunk in nodes:
        head = chunk[0]
        if re.match(r"^[\s:|]*(?:\+- |:- )?Filter[ (]", head):
            out.append("\n".join(chunk))
    return out


def sweep(spark, queries: dict, sf_dir: str) -> tuple[list[tuple[str, int]], list[str]]:
    """Construct every eligible query's optimized plan and count Filter
    nodes embedding a higher-order lambda. Returns (hits, errors)."""
    hits: list[tuple[str, int]] = []
    errors: list[str] = []
    for name in sorted(queries):
        if name.startswith(SKIP_PREFIXES):
            continue
        try:
            plan = (
                queries[name](spark, sf_dir)
                ._jdf.queryExecution()
                .optimizedPlan()
                .toString()
            )
        except Exception as exc:  # pragma: no cover - diagnostic tool
            errors.append(f"{name}: {str(exc)[:100]}")
            continue
        n = sum(
            1
            for node in filter_node_texts(plan)
            if "lambdafunction" in node
            and any(f in node for f in ("transform(", "aggregate(", "filter("))
        )
        if n:
            hits.append((name, n))
    return hits, errors


def measure_wall(spark, name: str, fn, sf_dir: str) -> float:
    """One warm-up run, then the min of WARM_SAMPLES warm build + exec
    walls of ``fn(spark, sf_dir)`` through a noop sink."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark import obs

    def wall() -> float:
        rec = obs.profile(spark, name, fn, sf_dir)
        return rec["build_s"] + rec["exec_s"]

    wall()
    return min(wall() for _ in range(WARM_SAMPLES))


def measure_leads(
    spark, queries: dict, hits: list[tuple[str, int]], diagnostic: set[str], work_dir: str
) -> dict[str, dict[str, float] | Exception]:
    """Live evidence for every non-diagnostic lead: ``{"wall": s, "slope5":
    wall(5x) / wall}`` with wall taken at sf0.1 and the 5x copy built under
    ``work_dir``, or the exception that stopped the measurement."""
    leads = [name for name, _ in hits if name not in diagnostic]
    big_dir = build_sf(5, work_dir) if leads else None
    out: dict[str, dict[str, float] | Exception] = {}
    for name in leads:
        try:
            wall = measure_wall(spark, name, queries[name], SRC)
            big = measure_wall(spark, name, queries[name], big_dir)
            out[name] = {"wall": wall, "slope5": big / wall}
        except Exception as exc:
            out[name] = exc
    return out


def classify_hits(
    hits: list[tuple[str, int]],
    measured: dict[str, dict[str, float] | Exception],
    diagnostic: set[str],
) -> tuple[list[str], list[str]]:
    """Split sweep hits into (in_band, out_of_band). A hit is in-band when
    it is a registry-tagged diagnostic baseline, or when its measured wall
    is under WALL_BOUND_SEC and its slope5 under SLOPE_BOUND. A hit with no
    measurement, or whose measurement raised, is out-of-band: the lead
    cannot be dismissed without evidence."""
    in_band: list[str] = []
    out_of_band: list[str] = []
    for name, n in hits:
        if name in diagnostic:
            in_band.append(f"{name} ({n} filters; diagnostic baseline)")
            continue
        m = measured.get(name)
        if m is None:
            out_of_band.append(f"{name} ({n} filters; UNMEASURED)")
        elif isinstance(m, Exception):
            out_of_band.append(
                f"{name} ({n} filters; measurement raised {type(m).__name__}: {str(m)[:100]})"
            )
        elif m["slope5"] > SLOPE_BOUND:
            out_of_band.append(
                f"{name} ({n} filters; slope5 {m['slope5']:.2f} > {SLOPE_BOUND})"
            )
        elif m["wall"] > WALL_BOUND_SEC:
            out_of_band.append(
                f"{name} ({n} filters; wall {m['wall']:.2f}s > {WALL_BOUND_SEC}s)"
            )
        else:
            in_band.append(
                f"{name} ({n} filters; wall {m['wall']:.2f}s, slope5 {m['slope5']:.2f})"
            )
    return in_band, out_of_band


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry
    from real_time_fraud_detection_system_using_big_data_analytics_spark import get_session
    from real_time_fraud_detection_system_using_big_data_analytics_spark.plans import registry

    spark = get_session("plan-lambda-sweep")
    queries = entry.queries()
    hits, errors = sweep(spark, queries, sf_dir)
    for e in errors:
        print("ERR", e)
    with tempfile.TemporaryDirectory() as work_dir:
        measured = measure_leads(spark, queries, hits, registry.DIAGNOSTIC, work_dir)
    in_band, out_of_band = classify_hits(hits, measured, registry.DIAGNOSTIC)
    for line in in_band:
        print("LAMBDA-FILTER in-band:", line)
    for line in out_of_band:
        print("LAMBDA-FILTER OUT-OF-BAND:", line)
    print(
        f"swept {len(queries)} queries, {len(hits)} leads "
        f"({len(in_band)} in-band, {len(out_of_band)} out-of-band)"
    )
    spark.stop()
    return 1 if out_of_band else 0


if __name__ == "__main__":
    raise SystemExit(main())
