"""PySpark-native analytics engine with the capabilities of the reference
fraud-detection application (Nanashibi/Real-time-Fraud-detection-system-
using-Big-Data-Analytics), re-expressed Spark-first.

Layout:
- ``session``    — SparkSession factory (AQE, UTC, sane shuffle defaults)
- ``sources``    — table/file/jdbc/kafka readers & writers
- ``plans``      — query registry (queries + DuckDB oracle SQL) + explain utils
- ``operators``  — relational operator library (filters, aggs, joins, windows,
                   set ops, dedup, similarity, text analysis)
- ``functions``  — scalar/vector helper expressions
- ``ml``         — fraud-detection ML pipeline parity (MLlib)
- ``streaming``  — Structured Streaming layer (sources, windows, state)
- ``multimodal`` — binary-column (image/audio) plumbing with stubbed codecs
- ``obs``        — in-session profiling: job-group stage totals, build /
                   Catalyst / exec split of one query
"""

from .session import get_session
from .sources.tables import TABLE_NAMES, load_tables

# Wire up a vendored protobuf runtime (if one exists on this host) BEFORE
# any SparkSession is built: the TWS state client's python-worker side
# needs google.protobuf on PYTHONPATH at JVM-launch time, and every
# harness imports this package before creating its session. No-op where
# protobuf is properly installed or no vendored copy exists; the TWS
# query registration re-verifies against the live JVM's env either way
# (streaming/tws.py).
from .session import bootstrap_vendored_protobuf as _pb_boot

try:  # pragma: no cover - best-effort environment shim
    _pb_boot()
except Exception:
    pass

__all__ = ["get_session", "load_tables", "TABLE_NAMES"]
