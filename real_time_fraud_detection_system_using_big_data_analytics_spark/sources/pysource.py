"""Custom Python DataSource (PySpark 4 ``pyspark.sql.datasource`` API) —
the modern extension point for sources the built-in readers don't cover
(SaaS APIs, bespoke binary formats, synthetic generators).

The reference ingests only CSV/Kafka/Postgres; this module adds the
engine capability of wiring an ARBITRARY Python reader into Catalyst as
a first-class table: ``spark.read.format("synthetic_events")`` after one
``spark.dataSource.register`` call. The demo source is a deterministic
synthetic-events generator whose formula is SQL-expressible, so the
registry query over it is DuckDB-oracle-checked like any parquet-backed
query — proving the rows really flow through the DataSource plumbing
(schema resolution, partition planning, per-partition iteration) and not
through a side channel.

Scale posture: ``partitions()`` is the parallelism contract — the driver
plans one InputPartition per range slice and each executor generates its
slice independently (no driver-side materialization, no skew: equal-width
id ranges). Every ``read()`` in this module (batch AND stream) yields
pyarrow RecordBatches, the vectorized path — tuple-yielding Python
sources are the slow path, same rule as UDFs. ``pushFilters`` is
implemented (r9): id-range predicates prune InputPartitions before any
executor runs (the fixed-width shards act like partitioned files and the
predicate drops whole shards), and event_type equality is evaluated
inside the vectorized generator. Requires
``spark.sql.python.filterPushdown.enabled=true`` — Spark refuses to plan
a pushFilters-implementing reader without it, so the register helpers
set it on the session.

One-reader-per-load contract: Spark builds a fresh reader for each
``.load()`` relation and mutates it in-place during ``pushFilters``
planning, so two queries that must see different filters need separate
``.load()`` calls (reusing one DataFrame for a filtered and an
unfiltered query would let the pushed state leak between plans — this
is the documented "allowed to modify self" side-effect contract).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


class SyntheticEventsDataSource(DataSource):
    """Deterministic synthetic transaction-event source.

    Options: ``n_rows`` (total rows, default 10000), ``n_partitions``
    (parallelism, default 8). Row k (0-based): user_id = k % 97,
    event_type cycles over 5 types by k % 5, value = (k * 31 % 9000 +
    100) / 10 — pure integer arithmetic, reproducible in any engine.
    """

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return (
            "event_id bigint, user_id bigint, event_type string, value double"
        )

    def reader(self, schema) -> "SyntheticEventsReader":
        return SyntheticEventsReader(
            int(self.options.get("n_rows", 10000)),
            int(self.options.get("n_partitions", 8)),
        )


_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def _make_batch(start: int, end: int, type_eq: str | None = None):
    """One Arrow RecordBatch for id range [start, end) — shared by the
    batch and stream readers so both stay on the vectorized path."""
    import numpy as np
    import pyarrow as pa

    k = np.arange(start, end, dtype=np.int64)
    et = np.array(_EVENT_TYPES)[(k % 5)]
    if type_eq is not None:
        mask = et == type_eq
        k, et = k[mask], et[mask]
    return pa.RecordBatch.from_arrays(
        [
            pa.array(k),
            pa.array(k % 97),
            pa.array(et, type=pa.string()),
            pa.array((k * 31 % 9000 + 100) / 10.0),
        ],
        names=["event_id", "user_id", "event_type", "value"],
    )


class SyntheticEventsReader(DataSourceReader):
    """Batch reader with filter pushdown.

    ``pushFilters`` accepts (fully evaluates, never re-yields):

    - ``event_id`` range predicates (=, <, <=, >, >=) → intersected into
      ``[lo, hi)`` and applied as PARTITION PRUNING: ``partitions()``
      plans the same fixed-width shards an unfiltered read would (step =
      ceil(n_rows / n_partitions), the on-disk layout analogue) and
      drops every shard outside the surviving range, so pruned shards
      never reach an executor;
    - ``event_type = 'x'`` → a vectorized mask inside ``read()`` (the
      generator "natively supports" it, the API's stated criterion).

    Everything else is yielded back for Spark to evaluate post-scan.
    """

    def __init__(self, n_rows: int, n_partitions: int) -> None:
        self.n_rows = n_rows
        self.n_partitions = max(1, min(n_partitions, n_rows or 1))
        self.lo = 0
        self.hi = n_rows
        self.type_eq: str | None = None

    def pushFilters(self, filters):
        for f in filters:
            if f.attribute == ("event_id",) and isinstance(
                f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
            ) and isinstance(f.value, int):
                v = int(f.value)
                if isinstance(f, EqualTo):
                    self.lo, self.hi = max(self.lo, v), min(self.hi, v + 1)
                elif isinstance(f, GreaterThan):
                    self.lo = max(self.lo, v + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, v)
                elif isinstance(f, LessThan):
                    self.hi = min(self.hi, v)
                else:  # LessThanOrEqual
                    self.hi = min(self.hi, v + 1)
            elif (
                isinstance(f, EqualTo)
                and f.attribute == ("event_type",)
                and isinstance(f.value, str)
                and self.type_eq is None
            ):
                self.type_eq = f.value
            else:
                yield f  # unsupported → Spark evaluates it post-scan

    def partitions(self) -> list[_RangePartition]:
        if self.n_rows <= 0 or self.hi <= self.lo:
            # empty source or contradictory pushed range: one degenerate
            # partition whose read() yields a 0-row batch (ADVICE r8:
            # the old step formula raised range(0,0,0) on n_rows=0)
            return [_RangePartition(0, 0)]
        step = (self.n_rows + self.n_partitions - 1) // self.n_partitions
        out = []
        for s in range(0, self.n_rows, step):
            a, b = max(s, self.lo), min(s + step, self.hi)
            if a < b:
                out.append(_RangePartition(a, b))
        return out or [_RangePartition(0, 0)]

    def read(self, partition: _RangePartition):
        yield _make_batch(partition.start, partition.end, self.type_eq)


def register_python_datasource(spark) -> None:
    """Idempotently register the custom source with the session and
    enable Python-source filter pushdown (Spark errors out on a
    pushFilters-implementing reader when the conf is false)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        spark.dataSource.register(SyntheticEventsDataSource)
    except Exception as exc:  # already registered in this session
        if "already" not in str(exc).lower():
            raise


# --- registry entries ---------------------------------------------------

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ..plans.registry import register  # noqa: E402


@register(
    "source_python_datasource",
    oracle="""
    WITH gen AS (
      SELECT k,
             k % 97 AS user_id,
             ['view','click','purchase','signup','error'][(k % 5) + 1]
               AS event_type,
             k * 31 % 9000 + 100 AS deci
      FROM (SELECT unnest(generate_series(0, 9999)) AS k)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(deci) AS BIGINT) AS sum_deci
    FROM gen GROUP BY event_type
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource end to end (PySpark 4 datasource API):
    register the source, plan a 10k-row read across 8 InputPartitions
    (Arrow RecordBatch path), and aggregate per event type. The DuckDB
    oracle regenerates the deterministic formula with generate_series —
    a value match proves schema resolution, partition planning, and
    per-partition Arrow iteration all delivered exactly the declared
    rows. value is re-quantized to its integer deci-units (the
    generator's native grid) so the group sums are exact BIGINTs."""
    register_python_datasource(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n_rows", "10000")
        .option("n_partitions", "8")
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.round(F.col("value") * 10).cast("long")).cast("bigint").alias("sum_deci"),
    )


@register(
    "source_pushdown_partition_prune",
    oracle="""
    WITH gen AS (
      SELECT k,
             ['view','click','purchase','signup','error'][(k % 5) + 1]
               AS event_type,
             k * 31 % 9000 + 100 AS deci
      FROM (SELECT unnest(generate_series(0, 9999)) AS k)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(deci) AS BIGINT) AS sum_deci,
           CAST(2 AS INT) AS n_pruned_partitions
    FROM gen WHERE k >= 7500 AND event_type = 'purchase'
    """,
)
def source_pushdown_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushdown through the Python DataSource, value-checked AND
    plan-checked in one hash: ``event_id >= 7500`` reaches
    ``pushFilters`` and prunes the 8 fixed-width shards down to the 2
    that intersect [7500, 10000) — the pinned ``n_pruned_partitions``
    column is the LIVE InputPartition count of the filtered scan
    (``.rdd.getNumPartitions()``), so a regression that stops pruning
    (e.g. dropping pushFilters, or planning shards after filtering)
    flips the hash. ``event_type = 'purchase'`` is pushed too and
    evaluated by the generator's vectorized mask, so a value match also
    proves pushed-filter semantics are exact (n = 500 rows only exists
    if BOTH filters were applied exactly once). 100 TB shape: this is
    the JDBC-predicate / parquet-row-group prune pattern for arbitrary
    Python-wrapped backends."""
    register_python_datasource(spark)
    filtered = (
        spark.read.format("synthetic_events")
        .option("n_rows", "10000")
        .option("n_partitions", "8")
        .load()
        .filter((F.col("event_id") >= 7500) & (F.col("event_type") == "purchase"))
    )
    n_parts = filtered.rdd.getNumPartitions()  # planned (pruned) InputPartitions
    return filtered.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.round(F.col("value") * 10).cast("long")).cast("bigint").alias("sum_deci"),
        F.lit(n_parts).cast("int").alias("n_pruned_partitions"),
    )


# --- streaming variant (custom DataSourceStreamReader) -----------------

_STREAM_ROWS = 5000
_STREAM_CHUNK = 1000


class SyntheticEventsStreamDataSource(DataSource):
    """Streaming twin of the synthetic source: a custom
    DataSourceStreamReader with genuine offset management — initial /
    latest offsets, per-range partition planning, commit — so the full
    Structured Streaming source contract (not just the batch reader) is
    exercised through the Python API. The source is FINITE (offsets stop
    advancing at n_rows), which makes an availableNow replay terminate
    deterministically: exactly rows [0, n_rows) in chunk-sized
    InputPartitions, replayable for recovery because generation depends
    only on the offset range."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events_stream"

    def schema(self) -> str:
        return (
            "event_id bigint, user_id bigint, event_type string, value double"
        )

    def streamReader(self, schema) -> "SyntheticEventsStreamReader":
        return SyntheticEventsStreamReader()


class SyntheticEventsStreamReader(DataSourceStreamReader):
    """Offset = {"offset": next_unread_row}. Spark calls
    partitions(start, end) for each micro-batch's offset range; read()
    regenerates the rows for one range slice (pure function of the
    range, so checkpoint recovery re-reads identical data). read()
    yields one Arrow RecordBatch per range slice — same vectorized path
    as the batch twin (r9; the old per-row tuple yield was the
    package's only row-at-a-time Python loop)."""

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def latestOffset(self) -> dict:
        return {"offset": _STREAM_ROWS}

    def partitions(self, start: dict, end: dict) -> list[_RangePartition]:
        lo, hi = int(start["offset"]), int(end["offset"])
        return [
            _RangePartition(p, min(p + _STREAM_CHUNK, hi))
            for p in range(lo, hi, _STREAM_CHUNK)
        ] or [_RangePartition(lo, lo)]

    def read(self, partition: _RangePartition):
        yield _make_batch(partition.start, partition.end)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


def register_python_stream_datasource(spark) -> None:
    try:
        spark.dataSource.register(SyntheticEventsStreamDataSource)
    except Exception as exc:
        if "already" not in str(exc).lower():
            raise


@register(
    "stream_python_datasource",
    oracle="""
    WITH gen AS (
      SELECT k,
             ['view','click','purchase','signup','error'][(k % 5) + 1]
               AS event_type,
             k * 31 % 9000 + 100 AS deci
      FROM (SELECT unnest(generate_series(0, 4999)) AS k)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(deci) AS BIGINT) AS sum_deci
    FROM gen GROUP BY event_type
    """,
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING Python data source end to end: readStream from
    the offset-managed synthetic source (availableNow over the finite
    offset range — 5 chunk partitions in the planned batch, each read
    as one Arrow RecordBatch), aggregate in complete mode, and compare
    the final state against the DuckDB regeneration of the formula. A
    value match proves the streaming source contract round-trips
    through the Python API: offset planning, range partitioning,
    per-partition vectorized regeneration, commit."""
    from ..streaming.replay import run_to_memory

    register_python_stream_datasource(spark)
    stream = spark.readStream.format("synthetic_events_stream").load()
    agg = stream.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.round(F.col("value") * 10).cast("long")).cast("bigint").alias(
            "sum_deci"
        ),
    )
    return run_to_memory(agg, "complete")[0]


# --- writer variant (custom DataSourceArrowWriter) ---------------------


class _FileCommit(WriterCommitMessage):
    """Per-task commit message: the temp file this task staged."""

    def __init__(self, tmp_name: str, n_rows: int) -> None:
        self.tmp_name = tmp_name
        self.n_rows = n_rows


class SyntheticEventsSinkDataSource(DataSource):
    """Writable twin of the synthetic source: a custom
    ``DataSourceArrowWriter`` implementing the FULL two-phase commit
    protocol — per-task staging to temp files, driver-side ``commit``
    that atomically renames every staged file into place and stamps
    ``_SUCCESS``, ``abort`` that removes the staged files. Bytes are
    parquet via pyarrow (the Arrow batches Spark hands the writer go to
    disk without row conversion), so the task write is the vectorized
    path end to end — same rule as the readers in this module.

    Scale posture: one staged file per task (no driver data movement —
    only 32-byte commit messages reach ``commit``), rename-publish is
    the same atomic-visibility pattern as etl_wap_publish; on an object
    store the rename becomes a manifest swap, the protocol shape is
    unchanged. Local-FS demo: tasks and driver share a filesystem
    (true on local[n]; a cluster sink would stage to the shared store).
    """

    @classmethod
    def name(cls) -> str:
        return "synthetic_events_sink"

    def schema(self) -> str:
        return (
            "event_id bigint, user_id bigint, event_type string, value double"
        )

    def writer(self, schema, overwrite: bool) -> "ParquetStagingWriter":
        return ParquetStagingWriter(self.options["path"], overwrite)


class ParquetStagingWriter(DataSourceArrowWriter):
    def __init__(self, path: str, overwrite: bool) -> None:
        self.path = path
        self.overwrite = overwrite

    def write(self, iterator):
        """Executor-side: stream this task's Arrow batches into ONE
        staged parquet file; report its name (never its data) back."""
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.path, exist_ok=True)
        tmp_name = f"_tmp-{uuid.uuid4().hex}.parquet"
        writer = None
        n = 0
        for batch in iterator:
            if writer is None:
                writer = pq.ParquetWriter(
                    os.path.join(self.path, tmp_name), batch.schema
                )
            writer.write_table(pa.Table.from_batches([batch]))
            n += batch.num_rows
        if writer is None:  # empty task: stage an empty marker-free file? no — skip
            return _FileCommit("", 0)
        writer.close()
        return _FileCommit(tmp_name, n)

    def commit(self, messages):
        """Driver-side publish: staged files become part-files in ONE
        rename pass (each rename atomic on a POSIX FS), then _SUCCESS.
        Deterministic part numbering = task order, so re-runs produce
        identical layouts."""
        import os

        if self.overwrite:
            for f in os.listdir(self.path):
                if f.startswith("part-") or f == "_SUCCESS":
                    os.remove(os.path.join(self.path, f))
        k = 0
        for m in messages:
            if m is None or not m.tmp_name:
                continue
            os.rename(
                os.path.join(self.path, m.tmp_name),
                os.path.join(self.path, f"part-{k:05d}.parquet"),
            )
            k += 1
        with open(os.path.join(self.path, "_SUCCESS"), "w") as fh:
            fh.write("")

    def abort(self, messages):
        import os

        for m in messages:
            if m is None or not m.tmp_name:
                continue
            try:
                os.remove(os.path.join(self.path, m.tmp_name))
            except FileNotFoundError:
                pass


def register_python_sink_datasource(spark) -> None:
    try:
        spark.dataSource.register(SyntheticEventsSinkDataSource)
    except Exception as exc:
        if "already" not in str(exc).lower():
            raise


@register(
    "source_python_datasource_write_roundtrip",
    oracle="""
    WITH gen AS (
      SELECT k,
             k % 97 AS user_id,
             ['view','click','purchase','signup','error'][(k % 5) + 1]
               AS event_type,
             k * 31 % 9000 + 100 AS deci
      FROM (SELECT unnest(generate_series(0, 9999)) AS k)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(deci) AS BIGINT) AS sum_deci,
           CAST(8 AS INT) AS n_part_files
    FROM gen GROUP BY event_type
    """,
)
def source_python_datasource_write_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The WRITE half of the Python DataSource surface (the readers'
    missing twin until r9): 10k synthetic rows flow source → Catalyst →
    custom ArrowWriter (8 tasks stage 8 parquet files) → two-phase
    rename commit → native parquet read-back → aggregate. The pinned
    ``n_part_files`` column is the LIVE count of committed part files,
    so a value match proves the commit protocol published exactly one
    file per task and no staged temp survived; the per-type sums prove
    the Arrow batches hit disk losslessly. Fresh temp dir per run —
    re-entrant, nothing cached between rounds."""
    import os
    import tempfile

    from ..session import scratch_root

    register_python_datasource(spark)
    register_python_sink_datasource(spark)
    out = tempfile.mkdtemp(prefix="pysink_", dir=scratch_root())
    df = (
        spark.read.format("synthetic_events")
        .option("n_rows", "10000")
        .option("n_partitions", "8")
        .load()
    )
    df.write.format("synthetic_events_sink").mode("overwrite").save(out)
    n_parts = len([f for f in os.listdir(out) if f.startswith("part-")])
    assert os.path.exists(os.path.join(out, "_SUCCESS")), "commit did not publish"
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.round(F.col("value") * 10).cast("long")).cast("bigint").alias("sum_deci"),
        F.lit(n_parts).cast("int").alias("n_part_files"),
    )


# --- streaming writer (custom DataSourceStreamArrowWriter) -------------


class SyntheticEventsStreamSinkDataSource(DataSource):
    """Streaming-sink quadrant of the Python DataSource matrix (batch
    read / stream read / batch write / STREAM WRITE — all four covered
    as of r9): a custom ``DataSourceStreamArrowWriter`` with per-epoch
    two-phase commit AND an idempotence ledger. Each micro-batch stages
    one parquet file per task; ``commit(messages, batchId)`` renames
    them to ``batch-<id>-part-<k>.parquet`` and appends the batch id to
    the ``_batches`` ledger in one atomic rename — and if the batch id
    is ALREADY in the ledger (checkpoint-recovery replay after a crash
    between sink commit and offset commit), the staged files are
    dropped instead of re-published. That ledger check is what turns
    Structured Streaming's at-least-once sink contract into
    exactly-once file output — the same idea as the built-in file
    sink's _spark_metadata log, here reimplemented explicitly through
    the Python API."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events_stream_sink"

    def schema(self) -> str:
        return (
            "event_id bigint, user_id bigint, event_type string, value double"
        )

    def streamWriter(self, schema, overwrite: bool) -> "ParquetEpochStreamWriter":
        return ParquetEpochStreamWriter(self.options["path"])


class ParquetEpochStreamWriter(DataSourceStreamArrowWriter):
    def __init__(self, path: str) -> None:
        self.path = path

    def _ledger(self) -> set[int]:
        import os

        try:
            with open(os.path.join(self.path, "_batches")) as fh:
                return {int(x) for x in fh.read().split() if x.strip()}
        except FileNotFoundError:
            return set()

    def write(self, iterator):
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.path, exist_ok=True)
        tmp_name = f"_tmp-{uuid.uuid4().hex}.parquet"
        writer = None
        n = 0
        for batch in iterator:
            if writer is None:
                writer = pq.ParquetWriter(
                    os.path.join(self.path, tmp_name), batch.schema
                )
            writer.write_table(pa.Table.from_batches([batch]))
            n += batch.num_rows
        if writer is None:
            return _FileCommit("", 0)
        writer.close()
        return _FileCommit(tmp_name, n)

    def commit(self, messages, batchId: int) -> None:
        import os

        staged = [m for m in messages if m is not None and m.tmp_name]
        if batchId in self._ledger():
            # replayed epoch: the data is already published — drop the
            # re-staged files, publish nothing twice (exactly-once)
            for m in staged:
                try:
                    os.remove(os.path.join(self.path, m.tmp_name))
                except FileNotFoundError:
                    pass
            return
        for k, m in enumerate(staged):
            os.rename(
                os.path.join(self.path, m.tmp_name),
                os.path.join(self.path, f"batch-{batchId:05d}-part-{k:05d}.parquet"),
            )
        # ledger append via write-temp + atomic rename (a torn append on
        # crash must not corrupt earlier entries)
        ledger = sorted(self._ledger() | {batchId})
        tmp = os.path.join(self.path, "_batches.tmp")
        with open(tmp, "w") as fh:
            fh.write("\n".join(str(b) for b in ledger) + "\n")
        os.rename(tmp, os.path.join(self.path, "_batches"))

    def abort(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            if m is None or not m.tmp_name:
                continue
            try:
                os.remove(os.path.join(self.path, m.tmp_name))
            except FileNotFoundError:
                pass


def register_python_stream_sink_datasource(spark) -> None:
    try:
        spark.dataSource.register(SyntheticEventsStreamSinkDataSource)
    except Exception as exc:
        if "already" not in str(exc).lower():
            raise


@register(
    "stream_python_datasource_sink_roundtrip",
    oracle="""
    WITH gen AS (
      SELECT k,
             ['view','click','purchase','signup','error'][(k % 5) + 1]
               AS event_type,
             k * 31 % 9000 + 100 AS deci
      FROM (SELECT unnest(generate_series(0, 4999)) AS k)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(deci) AS BIGINT) AS sum_deci
    FROM gen GROUP BY event_type
    """,
)
def stream_python_datasource_sink_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-to-stream through BOTH custom Python DataSource halves:
    readStream from the offset-managed synthetic stream source,
    writeStream into the epoch-committing Python Arrow sink
    (availableNow), then read the published parquet back natively and
    aggregate. A value match proves the streaming write protocol end to
    end — per-task Arrow staging, per-epoch rename commit, ledger
    idempotence — delivered exactly the declared 5000 rows, no
    duplicate epoch and no lost task. The ledger file must list every
    committed batch id; tests/test_pysource.py additionally pins the
    replay-idempotence path directly."""
    import os
    import tempfile

    from ..session import scratch_root
    from ..streaming.replay import drain

    register_python_stream_datasource(spark)
    register_python_stream_sink_datasource(spark)
    stream = spark.readStream.format("synthetic_events_stream").load()
    with tempfile.TemporaryDirectory(prefix="pystream_sink_", dir=scratch_root()) as d:
        out, ckpt = os.path.join(d, "out"), os.path.join(d, "ckpt")
        drain(
            spark,
            stream.writeStream.format("synthetic_events_stream_sink").option("path", out),
            ckpt,
        )
        back = spark.read.parquet(out + "/batch-*.parquet")
        result = back.groupBy("event_type").agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.round(F.col("value") * 10).cast("long")).cast("bigint").alias(
                "sum_deci"
            ),
        )
        return spark.createDataFrame(result.collect(), result.schema)
