"""True larger-SF testdata generator (r9 verdict task 3).

Builds a complete 10-table sf0.5 dataset — 5x the sf0.1 row counts with
the driver's cardinality ratios (region/nation fixed, everything else
linear) — so the FULL oracle gate and the bench can run at a genuinely
larger scale, answering what the x-multiplier slope twins cannot: does
the Spark-vs-DuckDB agreement hold, and do plan decisions (AQE
broadcasts, skew handling) stay sane, at 5x the rows.

Construction (distribution-faithful; the same recipes built the old
x1/x2/x5 slope twins, which calibrated within the host-noise band of the
real sf0.1):

- region, nation: copied verbatim (fixed dimensions at every SF);
- supplier/part: replicated with per-replica KEY offsets that match the
  lineitem offsets exactly, so every FK edge stays valid and join
  fan-outs / degree distributions are scale-invariant;
- orders/lineitem: key-offset replication (build_tpch);
- customer: keys offset like o_custkey, names regenerated from the new
  key (build_customer);
- events: replicated with event_id and user_id offsets, ts/type/value/
  props untouched — the time span stays one month and per-user
  interarrival stays constant (users grow with data, the realistic
  growth mode for an event stream);
- documents: NEW text from sf0.1's empirical word-frequency and
  doc-length distributions, exact dups injected at the measured rate
  (verbatim replication would fabricate dup pairs and LSH buckets);
- embeddings: per-label Gaussian fit to sf0.1, label mix empirical.

Usage:  python tests/gen_sf.py [mult] [out_dir]
Default mult=5, out_dir=/tmp/testdata_sf0.5. Writes a _complete.json
marker; reruns are no-ops if the marker exists.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np

SRC = "/root/testdata/sf0.1"


def build_documents(con, out: str, mult: int, rng: np.random.Generator) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = con.sql(f"SELECT * FROM '{SRC}/documents.parquet'").df()
    words = np.concatenate([t.split(" ") for t in src["text"]])
    vocab, counts = np.unique(words, return_counts=True)
    word_p = counts / counts.sum()
    lens = np.array([len(t.split(" ")) for t in src["text"]])
    langs, lang_c = np.unique(src["lang"], return_counts=True)
    srcs, src_c = np.unique(src["source"], return_counts=True)

    n = len(src) * mult
    n_dups = max(1, round(8 * mult))  # sf0.1 measured: 8 dup docs / 5000
    out_lens = rng.choice(lens, size=n)
    texts = [
        " ".join(rng.choice(vocab, size=k, p=word_p)) for k in out_lens
    ]
    # duplicate injection: last n_dups docs copy earlier ones verbatim
    for i in range(n_dups):
        texts[n - 1 - i] = texts[int(rng.integers(0, n - n_dups))]
    tbl = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(
                rng.choice(langs, size=n, p=lang_c / lang_c.sum()), type=pa.string()
            ),
            "source": pa.array(
                rng.choice(srcs, size=n, p=src_c / src_c.sum()), type=pa.string()
            ),
            "n_chars": pa.array(
                np.array([len(t) for t in texts], dtype=np.int64)
            ),
        }
    )
    pq.write_table(tbl, os.path.join(out, "documents.parquet"))
    return n


def build_embeddings(con, out: str, mult: int, rng: np.random.Generator) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = con.sql(f"SELECT * FROM '{SRC}/embeddings.parquet'").df()
    mat = np.stack(src["embedding"].to_numpy())
    labels = src["label"].to_numpy()
    n = len(src) * mult
    uniq, lab_c = np.unique(labels, return_counts=True)
    out_labels = rng.choice(uniq, size=n, p=lab_c / lab_c.sum()).astype(np.int32)
    vecs = np.empty((n, mat.shape[1]), dtype=np.float32)
    for lab in uniq:
        m = mat[labels == lab]
        mask = out_labels == lab
        vecs[mask] = rng.normal(
            m.mean(axis=0), m.std(axis=0) + 1e-6, size=(mask.sum(), mat.shape[1])
        ).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(out_labels, type=pa.int32()),
        }
    )
    pq.write_table(tbl, os.path.join(out, "embeddings.parquet"))
    return n


def build_tpch(con, out: str, mult: int) -> None:
    ok, ck = con.sql(
        f"SELECT MAX(o_orderkey)+1, MAX(o_custkey)+1 FROM '{SRC}/orders.parquet'"
    ).fetchone()
    pk, sk = con.sql(
        f"SELECT MAX(l_partkey)+1, MAX(l_suppkey)+1 FROM '{SRC}/lineitem.parquet'"
    ).fetchone()
    con.sql(
        f"""
        COPY (
          SELECT o_orderkey + r.r*{ok} AS o_orderkey,
                 o_custkey + r.r*{ck} AS o_custkey,
                 o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
          FROM '{SRC}/orders.parquet', range({mult}) r(r)
        ) TO '{out}/orders.parquet' (FORMAT parquet)
        """
    )
    con.sql(
        f"""
        COPY (
          SELECT l_orderkey + r.r*{ok} AS l_orderkey,
                 l_partkey + r.r*{pk} AS l_partkey,
                 l_suppkey + r.r*{sk} AS l_suppkey,
                 l_linenumber, l_quantity, l_extendedprice, l_discount,
                 l_tax, l_returnflag, l_linestatus, l_shipdate
          FROM '{SRC}/lineitem.parquet', range({mult}) r(r)
        ) TO '{out}/lineitem.parquet' (FORMAT parquet)
        """
    )
    build_customer(con, out, mult)


def build_customer(con, out: str, mult: int) -> None:
    """Customer twin for the levenshtein queries: keys offset like orders'
    o_custkey, and c_name REGENERATED from the new key ('Customer#' ||
    lpad(key, 9, '0') — verified to hold for 100% of the source rows), so
    the per-capita near-dup structure is scale-invariant. Verbatim name
    replication would duplicate every name mult times and grow the TRUE
    pair output ~mult² — the slope would then measure output blowup, not
    algorithm scaling."""
    ck = con.sql(f"SELECT MAX(o_custkey)+1 FROM '{SRC}/orders.parquet'").fetchone()[0]
    con.sql(
        f"""
        COPY (
          SELECT c_custkey + r.r*{ck} AS c_custkey,
                 'Customer#' || lpad(CAST(c_custkey + r.r*{ck} AS VARCHAR), 9, '0')
                   AS c_name,
                 c_nationkey, c_acctbal, c_mktsegment
          FROM '{SRC}/customer.parquet', range({mult}) r(r)
        ) TO '{out}/customer.parquet' (FORMAT parquet)
        """
    )


def _replicate_keyed(con, out: str, mult: int, table: str, key: str, passthrough: list[str]) -> None:
    base = con.sql(f"SELECT MAX({key})+1 FROM '{SRC}/{table}.parquet'").fetchone()[0]
    cols = ", ".join([f"{key} + r.r*{base} AS {key}"] + passthrough)
    con.sql(
        f"""
        COPY (
          SELECT {cols}
          FROM '{SRC}/{table}.parquet', range({mult}) r(r)
        ) TO '{out}/{table}.parquet' (FORMAT parquet)
        """
    )


def build_sf(mult: int = 5, out: str = "/tmp/testdata_sf0.5") -> str:
    marker = os.path.join(out, "_complete.json")
    if os.path.exists(marker):
        return out
    import duckdb

    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    rng = np.random.default_rng(1042 + mult)
    t0 = time.time()

    for t in ("region", "nation"):
        shutil.copyfile(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")

    # dimension offsets MUST equal the fact-side offsets in build_tpch
    # (it derives them the same way: MAX(key)+1 over the same sf0.1 files;
    # build_tpch writes the customer table itself)
    _replicate_keyed(con, out, mult, "supplier", "s_suppkey",
                     ["s_name", "s_nationkey", "s_acctbal"])
    _replicate_keyed(con, out, mult, "part", "p_partkey",
                     ["p_name", "p_brand", "p_type", "p_size", "p_retailprice"])
    build_tpch(con, out, mult)

    eid, uid = con.sql(
        f"SELECT MAX(event_id)+1, MAX(user_id)+1 FROM '{SRC}/events.parquet'"
    ).fetchone()
    con.sql(
        f"""
        COPY (
          SELECT event_id + r.r*{eid} AS event_id, ts,
                 user_id + r.r*{uid} AS user_id,
                 event_type, value, props
          FROM '{SRC}/events.parquet', range({mult}) r(r)
        ) TO '{out}/events.parquet' (FORMAT parquet)
        """
    )

    nd = build_documents(con, out, mult, rng)
    ne = build_embeddings(con, out, mult, rng)
    with open(marker, "w") as fh:
        json.dump(
            {"mult": mult, "src": SRC, "docs": nd, "vecs": ne,
             "gen_sec": round(time.time() - t0, 1)},
            fh,
        )
    return out


if __name__ == "__main__":
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/testdata_sf0.5"
    print(build_sf(mult, out))
