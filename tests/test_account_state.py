"""Stateful account-profile operator (streaming/account_state.py).

Round 6 replaced the protobuf-gated transformWithStateInPandas exhibit with
an applyInPandasWithState implementation of the same semantics — these
tests now EXECUTE the replay (no environment skip) and pin both the
end-to-end stream==batch equality and the per-batch fold contract.
"""

from __future__ import annotations

from pathlib import Path

import pandas as pd
import pytest


def test_account_profile_matches_batch_groupby(spark):
    """availableNow replay's final keyed state == batch GROUP BY, exact
    integer equality on the cents-quantized totals."""
    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.tables import (
        load_tables,
    )
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.stateful_queries import (
        stream_account_profile,
    )

    sf = "/root/testdata/sf0.001"
    got = {r["user_id"]: r for r in stream_account_profile(spark, sf).collect()}
    ev = load_tables(spark, sf, names=("events",))["events"]
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    want = {
        r["user_id"]: r
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents).alias("total_value_cents"),
            F.max(cents).alias("max_value_cents"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for uid, row in want.items():
        assert got[uid]["n_events"] == row["n_events"]
        # exact integer equality — cents are quantized per-row pre-sum
        assert got[uid]["total_value_cents"] == row["total_value_cents"]
        assert got[uid]["max_value_cents"] == row["max_value_cents"]


def test_profile_fold_contract():
    """Per-batch fold: cumulative (count, sum cents, max cents) across
    successive invocations with carried state. Pure unit check — no
    streaming query."""
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.account_state import (
        _profile_fn,
    )

    class FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    st = FakeState()
    batch1 = pd.DataFrame({"value": [1.0, 2.0, 3.0]})
    (out1,) = list(_profile_fn((7,), iter([batch1]), st))
    assert out1["n_events"].iloc[0] == 3
    assert out1["total_value_cents"].iloc[0] == 600
    assert out1["max_value_cents"].iloc[0] == 300
    assert st.get == (3, 600, 300)

    batch2 = pd.DataFrame({"value": [10.0]})
    (out2,) = list(_profile_fn((7,), iter([batch2]), st))
    assert out2["n_events"].iloc[0] == 4
    assert out2["total_value_cents"].iloc[0] == 1600
    assert out2["max_value_cents"].iloc[0] == 1000

    # two Arrow batches in one call (one trigger): folded as one frame,
    # so one row per key per trigger, and it is the cumulative state
    batch3 = pd.DataFrame({"value": [0.5]})
    batch4 = pd.DataFrame({"value": [20.0, 0.25]})
    (out34,) = list(_profile_fn((7,), iter([batch3, batch4]), st))
    assert list(out34.iloc[0]) == [7, 7, 3675, 2000]
    assert st.get == (7, 3675, 2000)


def test_state_schema_widening_fails_loud(spark, tmp_path):
    """Ops footgun guard (r9, invited by the statestore read-back surface):
    restarting a stateful query from an existing checkpoint with a WIDENED
    state schema must fail LOUDLY at query start — Spark's state schema
    check must reject the checkpoint, not silently decode old state rows
    into the new layout. If this ever starts passing silently, the
    documented migration path (new checkpoint + backfill replay,
    streaming/statestore.py docstring) is being bypassed."""
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupStateTimeout

    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.account_state import (
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        _profile_fn,
    )

    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id bigint, value double"
    spark.createDataFrame([(1, 10.0), (2, 5.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(indir)

    def run(state_schema, fn):
        stream = spark.readStream.schema(schema).parquet(indir)
        profiles = stream.groupBy("user_id").applyInPandasWithState(
            fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        q = (
            profiles.writeStream.outputMode("append")
            .format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(STATE_SCHEMA, _profile_fn)  # seed the checkpoint with 3-field state

    widened = T.StructType(
        list(STATE_SCHEMA.fields) + [T.StructField("extra", T.LongType())]
    )

    def widened_fn(key, pdfs, state):
        n, total, mx, extra = (
            state.get if state.exists else (0, 0, -(1 << 62), 0)
        )
        for pdf in pdfs:
            n += len(pdf)
        state.update((n, total, mx, extra))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value_cents": [total],
                "max_value_cents": [mx],
            }
        )

    spark.createDataFrame([(1, 1.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(indir)
    with pytest.raises(Exception) as exc_info:
        run(widened, widened_fn)
    msg = str(exc_info.value)
    assert "state" in msg.lower() and "schema" in msg.lower(), msg


def test_key_batches_fold_in_event_order_past_max_records(spark, sf_dir, tmp_path):
    """One key's rows arrive in reverse event order within one trigger,
    split over several Arrow batches by a lowered
    ``maxRecordsPerBatch``: the order-dependent velocity and CUSUM steps
    must still equal their registry oracles, because the driver folds the
    key's batches as one frame before the step sorts it."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from tests.oracle_harness import TABLES, compare

    import __spark_entry__ as entry

    sf = Path(sf_dir)
    events = pq.read_table(sf / "events.parquet")
    hot = pc.mode(events["user_id"])[0]["mode"].as_py()
    one_key = events.filter(pc.equal(events["user_id"], hot)).sort_by(
        [("ts", "descending"), ("event_id", "descending")]
    )
    assert one_key.num_rows > 4 * 8
    pq.write_table(one_key, tmp_path / "events.parquet")
    for t in TABLES:
        if t != "events":
            (tmp_path / f"{t}.parquet").symlink_to(sf / f"{t}.parquet")

    queries, oracles = entry.queries(), entry.oracle_sql()
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "8")
    try:
        for name in ("stream_velocity_stateful", "stream_cusum_drift_stateful"):
            rep = compare(spark, queries[name], oracles[name], str(tmp_path))
            assert rep["row_match"] and rep["col_match"] and rep["value_match"], (
                name,
                rep["first_diff"],
            )
    finally:
        spark.conf.set(conf, prev)


def test_step_frame_has_no_ts_and_is_in_event_order(spark, sf_dir, tmp_path):
    """A spy step run through ``keyed_state_stream`` over one chunk whose
    rows arrive in reverse event order, with every key split over several
    Arrow batches by a lowered ``maxRecordsPerBatch``: each call sees the
    key's whole trigger as one frame, without the watermark's ``ts``
    column, sorted by ``(ts_us, event_id)``."""
    import numpy as np
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.account_state import (
        keyed_state_fn,
        keyed_state_stream,
    )
    from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.replay import (
        run_to_memory,
        spool_stream,
        write_chunks,
    )

    spy_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("pos", T.LongType()),
            T.StructField("frame_rows", T.LongType()),
            T.StructField("columns", T.StringType()),
        ]
    )

    def spy(state, pdf):
        n = len(pdf)
        out = {
            "event_id": pdf["event_id"].to_numpy(np.int64),
            "ts_us": pdf["ts_us"].to_numpy(np.int64),
            "pos": np.arange(n, dtype=np.int64),
            "frame_rows": np.full(n, n, dtype=np.int64),
            "columns": [",".join(pdf.columns)] * n,
        }
        return out, (state[0] + 1,)

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    write_chunks(
        events.orderBy(F.col("ts").desc(), F.col("event_id").desc()).withColumn(
            "_chunk", F.lit(1)
        ),
        str(tmp_path),
    )
    # the file really holds the events in reverse order, or the sort below
    # would be checked against input that was already in order
    written = pq.read_table(tmp_path / "chunk_0001.parquet", columns=["ts", "event_id"])
    keys = list(zip(written["ts"].to_pylist(), written["event_id"].to_pylist()))
    assert keys == sorted(keys, reverse=True) != sorted(keys)
    prepared = (
        spool_stream(spark, str(tmp_path))
        .select("user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "ts")
        .withWatermark("ts", "1 hour")
    )
    stream = keyed_state_stream(
        prepared,
        keyed_state_fn(spy, (0,), spy_schema),
        spy_schema,
        T.StructType([T.StructField("calls", T.LongType())]),
    )
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "8")
    try:
        rows = run_to_memory(stream, "append")[0].collect()
    finally:
        spark.conf.set(conf, prev)

    assert len(rows) == events.count()
    assert {r["columns"] for r in rows} == {"user_id,event_id,ts_us"}
    by_key = {}
    for r in rows:
        by_key.setdefault(r["user_id"], []).append(r)
    for key, frame in by_key.items():
        # one trigger, so one call per key, larger than one Arrow batch
        assert {r["frame_rows"] for r in frame} == {len(frame)}, key
        assert len(frame) > 8, key
        seen = [(r["ts_us"], r["event_id"]) for r in sorted(frame, key=lambda r: r["pos"])]
        assert seen == sorted(seen), key
