"""Arrow-side vector-math kernels: the order-preserving numpy twins of the
interpreted higher-order folds in operators/similarity.py and
operators/clustering.py (r13 verdict task 1).

Why this exists: the engine's distance/cosine expressions are sequential
left-to-right IEEE-double folds (``F.aggregate(zip_with(a, b, x*y), 0.0,
acc+v)``) because that exact operation order is what DuckDB's
``list_dot_product`` executes, making every ranking bit-identical
cross-engine. Spark evaluates higher-order lambdas INTERPRETED (no
whole-stage codegen), so at scale the folds dominate the ANN family's wall
(SPARKWALL r13: ann_int8_rerank ratio 4.83 at 10x data — the scoring pass
is ~N*Q folds of 64 interpreted lambda steps each).

These kernels compute the SAME folds vectorized over rows: for each vector
position i (left to right), ``acc += a[:, i] * b[:, i]`` performs exactly
one IEEE multiply and one IEEE add per row — the numpy temporaries make FMA
contraction impossible, and the JVM fold likewise never contracts (HotSpot
only fuses via an explicit Math.fma). Per ROW the accumulation order is
therefore identical to the fold, element for element, so every double —
and every ranking, tie-break and rounded output derived from it — is
bit-identical to the expression form. tests/test_arrowvec.py pins this
equivalence on real corpus data with A/B tests against the expressions.

Boundary discipline (guide §4.1/§4.2): callers select ONLY the columns a
kernel needs before mapInArrow (the node is opaque to column pruning), and
the bounded-query scorers cut each batch to its local top-k per query
inside numpy — the same superset-safety argument as the partial
WindowGroupLimit: a row outside its own batch's top-k (total order: score
desc, id asc — strict, ids are unique) cannot be in the global top-k, so
the JVM window above sees a superset of the true top-k and computes
identical final rows while the Python->JVM transfer stays O(k x Q) per
batch instead of O(N x Q).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame


def seq_dot_driver(a: Sequence[float], b: Sequence[float]) -> float:
    """Driver-side sequential fold (same as clustering._seq_dot)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def list_to_mat(col: "pa.Array | pa.ChunkedArray") -> np.ndarray:
    """Arrow list<float|double> column -> (n, d) float64 matrix.

    flatten() honors the list offsets (slices the child array), so this is
    valid on any batch slice; float32 -> float64 widening is exact."""
    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    n = len(arr)
    if n == 0:
        return np.zeros((0, 0))
    vals = arr.flatten().to_numpy(zero_copy_only=False)
    if vals.size % n:
        raise ValueError("ragged embedding lists")
    return np.ascontiguousarray(
        vals.reshape(n, vals.size // n).astype(np.float64, copy=False)
    )


def fold_dot_nm(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(n, d) x (m, d) -> (n, m): per-dimension left-to-right fold.
    acc[r, c] accumulates A[r, i] * B[c, i] for i = 0..d-1 in order —
    element-for-element the expression `_fold_dot(a, b)` evaluates."""
    n, d = A.shape
    acc = np.zeros((n, B.shape[0]))
    for i in range(d):
        acc += A[:, i, None] * B[None, :, i]
    return acc


def fold_self_dot(A: np.ndarray) -> np.ndarray:
    """(n, d) -> (n,): sequential fold of x*x (the `_norm` fold, unsquare-rooted)."""
    n, d = A.shape
    acc = np.zeros(n)
    for i in range(d):
        acc += A[:, i] * A[:, i]
    return acc


def fold_norm(A: np.ndarray) -> np.ndarray:
    """sqrt of the sequential self-dot — bit-identical to `_norm` (IEEE
    sqrt is correctly rounded in both engines)."""
    return np.sqrt(fold_self_dot(A))


def _dist_matrix(E: np.ndarray, C: np.ndarray, cc: np.ndarray) -> np.ndarray:
    """Squared-L2 via the dot identity in the exact expression order:
    (e.e - 2*(e.c)) + c.c — same associativity as `_candidates`."""
    ee = fold_self_dot(E)
    ec = fold_dot_nm(E, C)
    return ee[:, None] - 2.0 * ec + cc[None, :]


def _centroid_arrays(centroids: list[list[float]]) -> tuple[np.ndarray, np.ndarray]:
    C = np.asarray(centroids, dtype=np.float64)
    cc = np.array([seq_dot_driver(c, c) for c in centroids], dtype=np.float64)
    return C, cc


def probe_cells_driver(
    q_vecs: Sequence[Sequence[float]], centroids: list[list[float]], n: int
) -> list[list[int]]:
    """Driver-side twin of assign_top_cells for a collected bounded query
    set: the n nearest centroid ids per query, nearest first (same
    _dist_matrix + stable argsort as the kernel, so bit-identical to the
    probe_cells column the kernel would append)."""
    E = np.asarray(q_vecs, dtype=np.float64)
    C, cc = _centroid_arrays(centroids)
    D = _dist_matrix(E, C, cc)
    order = np.argsort(D, axis=1, kind="stable")[:, :n]
    return [list(map(int, row)) for row in order]


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "e",
    keep: tuple[str, ...] | None = None,
) -> DataFrame:
    """Arrow twin of clustering.with_assignment: appends ``best`` =
    struct(d double, cid int) of the nearest centroid (ties -> lowest cid,
    argmin returns the first minimum — same as array_min over (d, cid)
    structs). Map-only, like the expression it replaces; ``keep`` bounds
    what crosses the boundary back (default: every input column)."""
    keep_cols = list(keep) if keep is not None else [f.name for f in df.schema.fields]
    in_cols = list(dict.fromkeys(keep_cols + [vec_col]))
    src = df.select(*in_cols)
    C, cc = _centroid_arrays(centroids)

    fields = [src.schema[c] for c in keep_cols]
    import pyspark.sql.types as T

    out_schema = T.StructType(
        fields
        + [
            T.StructField(
                "best",
                T.StructType(
                    [
                        T.StructField("d", T.DoubleType(), False),
                        T.StructField("cid", T.IntegerType(), False),
                    ]
                ),
                False,
            )
        ]
    )

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            if batch.num_rows == 0:
                continue
            E = list_to_mat(batch.column(batch.schema.get_field_index(vec_col)))
            D = _dist_matrix(E, C, cc)
            cid = np.argmin(D, axis=1)
            d = D[np.arange(len(cid)), cid]
            best = pa.StructArray.from_arrays(
                [pa.array(d, pa.float64()), pa.array(cid.astype(np.int32), pa.int32())],
                names=["d", "cid"],
            )
            cols = [
                batch.column(batch.schema.get_field_index(c)) for c in keep_cols
            ] + [best]
            yield pa.RecordBatch.from_arrays(cols, names=keep_cols + ["best"])

    return src.mapInArrow(kernel, out_schema)


def assign_top_cells(
    df: DataFrame,
    centroids: list[list[float]],
    n: int,
    vec_col: str = "e",
    keep: tuple[str, ...] | None = None,
) -> DataFrame:
    """Appends ``probe_cells`` = the n nearest centroid ids, nearest first
    (stable argsort of the distance row = array_sort over (d, cid)
    structs: ties by cid) — the query-side probe list for nprobe>1 IVF."""
    if not 1 <= n <= len(centroids):
        raise ValueError(
            f"assign_top_cells: n={n} must be between 1 and the number of "
            f"centroids ({len(centroids)})"
        )
    keep_cols = list(keep) if keep is not None else [f.name for f in df.schema.fields]
    in_cols = list(dict.fromkeys(keep_cols + [vec_col]))
    src = df.select(*in_cols)
    C, cc = _centroid_arrays(centroids)

    import pyspark.sql.types as T

    out_schema = T.StructType(
        [src.schema[c] for c in keep_cols]
        + [T.StructField("probe_cells", T.ArrayType(T.IntegerType(), False), False)]
    )

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            if batch.num_rows == 0:
                continue
            E = list_to_mat(batch.column(batch.schema.get_field_index(vec_col)))
            D = _dist_matrix(E, C, cc)
            order = np.argsort(D, axis=1, kind="stable")[:, :n].astype(np.int32)
            cells = pa.FixedSizeListArray.from_arrays(
                pa.array(order.reshape(-1), pa.int32()), n
            ).cast(pa.list_(pa.int32()))
            cols = [
                batch.column(batch.schema.get_field_index(c)) for c in keep_cols
            ] + [cells]
            yield pa.RecordBatch.from_arrays(cols, names=keep_cols + ["probe_cells"])

    return src.mapInArrow(kernel, out_schema)


def _score_matrix(
    E: np.ndarray, QM: np.ndarray, qn: np.ndarray | None, metric: str
) -> np.ndarray:
    """(n, d) corpus block x (Q, d) query matrix -> (n, Q) scores in the
    exact expression order of the JVM form it replaces:

    - cosine:  fold_dot / (q_norm * row_norm)  (`_dot / (q_norm * e_norm)`)
    - dot:     the raw fold dot
    - l2sq:    (q.q - 2*(q.e)) + e.e  (the `_pq_dist_sql` operand order)
    """
    S = fold_dot_nm(E, QM)
    if metric == "cosine":
        en = fold_norm(E)
        S = S / (qn[None, :] * en[:, None])
    elif metric == "l2sq":
        ee = fold_self_dot(E)
        qq = qn  # caller passes the query self-dots here
        S = qq[None, :] - 2.0 * S + ee[:, None]
    return S


def score_bounded_queries(
    corpus: DataFrame,
    q_ids: Sequence[int],
    q_vecs: Sequence[Sequence[float]],
    k: int | None,
    vec_col: str,
    id_col: str = "vec_id",
    out_col: str = "cosine_raw",
    q_id_col: str = "q_id",
    metric: str = "cosine",
    ascending: bool = False,
    exclude_self: bool = True,
    keep: tuple[str, ...] = (),
    match_col: str | None = None,
    match_vals: Sequence[int] | None = None,
    match_op: str = "eq",
    q_cells: Sequence[Sequence[int]] | None = None,
    cell_col: str = "cell",
    row_norm_col: str | None = None,
    assign_centroids: list[list[float]] | None = None,
    cell_out: str | None = None,
) -> DataFrame:
    """Score every corpus row against a BOUNDED driver-held query set (the
    `_BF_QMAX` pattern, or the broadcast-sized %100 sample the IVF probes
    use) inside one Arrow pass, emitting (q_id, id [, keep...], score).

    metric='cosine': fold-dot / (q_norm * row_norm), both norms computed
    with the same sequential fold as `_norm` (query norms on the driver,
    row norms per batch) — bit-identical to the expression form.
    metric='dot': the raw fold dot. metric='l2sq': the dot-identity
    squared L2 in `_pq_dist_sql` operand order (set ascending=True).

    Per-query candidate restriction (the filtered-ANN / IVF-probe shapes):
    ``match_col``+``match_vals`` keeps rows whose integer column == (or
    != with match_op='ne') the query's value; ``q_cells`` keeps rows whose
    ``cell_col`` is in the query's probe-cell list (the IVF equi-join,
    evaluated as a mask). With ``assign_centroids`` the kernel derives the
    row's cell ITSELF (the same argmin as assign_cells) instead of reading
    a column — assignment, probe masking, scoring and the top-k cut fuse
    into ONE pass over the scan; ``cell_out`` emits the derived cell as a
    bigint output column.

    With ``k`` set, each batch is cut to its local top-k per query under
    the total order (score asc/desc, id asc) BEFORE crossing back to the
    JVM — a strict superset of the global top-k (see module docstring), so
    the row_number window above this node returns identical rows. If any
    score is non-finite the batch is emitted uncut (ordering of non-finite
    doubles is engine-specific; the JVM window then decides, exactly as
    before)."""
    QM = np.asarray(q_vecs, dtype=np.float64)
    qid_arr = np.asarray(q_ids, dtype=np.int64)
    if metric == "cosine":
        qn = np.array([np.sqrt(seq_dot_driver(v, v)) for v in q_vecs])
    elif metric == "l2sq":
        qn = np.array([seq_dot_driver(v, v) for v in q_vecs])
    else:
        qn = None
    mvals = np.asarray(match_vals, dtype=np.int64) if match_vals is not None else None
    cell_sets = [np.asarray(sorted(c), dtype=np.int64) for c in q_cells] if q_cells else None
    if assign_centroids is not None:
        Cm, ccm = _centroid_arrays(assign_centroids)
    else:
        Cm = ccm = None

    extra_in = [
        c
        for c in (
            match_col,
            cell_col if (q_cells and Cm is None) else None,
            row_norm_col,
        )
        if c
    ]
    in_cols = list(dict.fromkeys([id_col, *keep, *extra_in, vec_col]))
    src = corpus.select(*in_cols)

    import pyspark.sql.types as T

    out_schema = T.StructType(
        [
            T.StructField(q_id_col, T.LongType(), False),
            src.schema[id_col],
        ]
        + [src.schema[c] for c in keep]
        + ([T.StructField(cell_out, T.LongType(), False)] if cell_out else [])
        + [T.StructField(out_col, T.DoubleType(), False)]
    )
    names = [q_id_col, id_col, *keep] + ([cell_out] if cell_out else []) + [out_col]

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            nrows = batch.num_rows
            if nrows == 0 or len(qid_arr) == 0:
                continue
            ids_col = batch.column(batch.schema.get_field_index(id_col))
            ids = ids_col.to_numpy(zero_copy_only=False)
            mcol = (
                batch.column(batch.schema.get_field_index(match_col))
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
                if match_col
                else None
            )
            E = list_to_mat(batch.column(batch.schema.get_field_index(vec_col)))
            if Cm is not None:
                D = _dist_matrix(E, Cm, ccm)
                ccol = np.argmin(D, axis=1).astype(np.int64)
            elif cell_sets is not None:
                ccol = (
                    batch.column(batch.schema.get_field_index(cell_col))
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
            else:
                ccol = None
            if metric == "cosine" and row_norm_col:
                # use the plan's own stored norm column (e.g. a persisted
                # index's e_norm) instead of re-deriving it — identical
                # values when the stored column is healthy, and keeps the
                # stored-norm-drift tripwire semantics of the probe
                en = batch.column(
                    batch.schema.get_field_index(row_norm_col)
                ).to_numpy(zero_copy_only=False)
                S = fold_dot_nm(E, QM) / (qn[None, :] * en[:, None])
            else:
                S = _score_matrix(E, QM, qn, metric)
            row_take: list[np.ndarray] = []
            q_take: list[np.ndarray] = []
            cut = k is not None and np.isfinite(S).all()
            for qi in range(len(qid_arr)):
                col = S[:, qi]
                mask = np.ones(nrows, dtype=bool)
                if exclude_self:
                    mask &= ids != qid_arr[qi]
                if mcol is not None:
                    mask &= (mcol == mvals[qi]) if match_op == "eq" else (mcol != mvals[qi])
                if ccol is not None and cell_sets is not None:
                    mask &= np.isin(ccol, cell_sets[qi])
                valid = np.flatnonzero(mask)
                if valid.size == 0:
                    continue
                if cut and valid.size > k:
                    key = col[valid] if ascending else -col[valid]
                    sel = np.lexsort((ids[valid], key))[:k]
                    valid = valid[sel]
                row_take.append(valid)
                q_take.append(np.full(valid.size, qi, dtype=np.int64))
            if not row_take:
                continue
            rows = np.concatenate(row_take)
            qs = np.concatenate(q_take)
            take_idx = pa.array(rows, pa.int64())
            cols = [
                pa.array(qid_arr[qs], pa.int64()),
                ids_col.take(take_idx),
            ]
            for c in keep:
                cols.append(batch.column(batch.schema.get_field_index(c)).take(take_idx))
            if cell_out:
                cols.append(pa.array(ccol[rows], pa.int64()))
            cols.append(pa.array(S[rows, qs], pa.float64()))
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return src.mapInArrow(kernel, out_schema)


def score_bounded_two_metrics(
    corpus: DataFrame,
    q_ids: Sequence[int],
    q_vecs: Sequence[Sequence[float]],
    k: int,
    vec_col: str,
    trunc_dims: int,
    id_col: str = "vec_id",
    out_cols: tuple[str, str] = ("c_full", "c_trunc"),
    q_id_col: str = "q_id",
) -> DataFrame:
    """Full-dim AND truncated-prefix cosine per (query, row) in one pass
    (ann_dim_truncation_recall). Each batch keeps the UNION of the
    per-order top-k sets per query.

    Safety of the union cut for the downstream `rn_full <= k AND
    rn_trunc <= k` count: for any kept row X with computed rank <= k in an
    order, every cut row above X in that order implies >= k kept rows above
    X from the cut row's own batch (they were that batch's top-k, all
    ranking above the cut row and hence above X) — so computed rank <= k
    iff true rank <= k, and cut rows all have true rank > k in both orders
    (each contributes 0 to the count). Non-finite scores disable the cut
    for the batch, as in score_bounded_queries."""
    QM = np.asarray(q_vecs, dtype=np.float64)
    qid_arr = np.asarray(q_ids, dtype=np.int64)
    qn_full = np.array([np.sqrt(seq_dot_driver(v, v)) for v in q_vecs])
    qn_trunc = np.array(
        [np.sqrt(seq_dot_driver(v[:trunc_dims], v[:trunc_dims])) for v in q_vecs]
    )

    src = corpus.select(id_col, vec_col)

    import pyspark.sql.types as T

    out_schema = T.StructType(
        [
            T.StructField(q_id_col, T.LongType(), False),
            src.schema[id_col],
            T.StructField(out_cols[0], T.DoubleType(), False),
            T.StructField(out_cols[1], T.DoubleType(), False),
        ]
    )
    names = [q_id_col, id_col, *out_cols]

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            nrows = batch.num_rows
            if nrows == 0 or len(qid_arr) == 0:
                continue
            ids_col = batch.column(batch.schema.get_field_index(id_col))
            ids = ids_col.to_numpy(zero_copy_only=False)
            E = list_to_mat(batch.column(batch.schema.get_field_index(vec_col)))
            S_full = _score_matrix(E, QM, qn_full, "cosine")
            Et = np.ascontiguousarray(E[:, :trunc_dims])
            S_trunc = _score_matrix(Et, QM[:, :trunc_dims], qn_trunc, "cosine")
            cut = np.isfinite(S_full).all() and np.isfinite(S_trunc).all()
            row_take: list[np.ndarray] = []
            q_take: list[np.ndarray] = []
            for qi in range(len(qid_arr)):
                valid = np.flatnonzero(ids != qid_arr[qi])
                if valid.size == 0:
                    continue
                if cut and valid.size > k:
                    top_f = valid[np.lexsort((ids[valid], -S_full[valid, qi]))[:k]]
                    top_t = valid[np.lexsort((ids[valid], -S_trunc[valid, qi]))[:k]]
                    valid = np.union1d(top_f, top_t)
                row_take.append(valid)
                q_take.append(np.full(valid.size, qi, dtype=np.int64))
            if not row_take:
                continue
            rows = np.concatenate(row_take)
            qs = np.concatenate(q_take)
            cols = [
                pa.array(qid_arr[qs], pa.int64()),
                ids_col.take(pa.array(rows, pa.int64())),
                pa.array(S_full[rows, qs], pa.float64()),
                pa.array(S_trunc[rows, qs], pa.float64()),
            ]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return src.mapInArrow(kernel, out_schema)


def pq_encode(
    df: DataFrame,
    books: list[list[list[float]]],
    vec_col: str = "e",
    keep: tuple[str, ...] | None = None,
    out_col: str = "codes",
) -> DataFrame:
    """Arrow twin of the PQ encode expression (`F.array(*[array_min(
    _pq_candidates(books[m], slice)) ...])`): per subspace m, the
    dot-identity distance (sub.sub - 2*(sub.book)) + book.book to each of
    the PQ_KSUB codewords, argmin (first minimum = lowest cid, exactly
    array_min's (d, cid) struct tie-break), emitted as one array<int>."""
    m_books = len(books)
    subdim = len(books[0][0])
    Cs = [np.asarray(b, dtype=np.float64) for b in books]
    ccs = [
        np.array([seq_dot_driver(c, c) for c in b], dtype=np.float64) for b in books
    ]
    keep_cols = list(keep) if keep is not None else [f.name for f in df.schema.fields]
    in_cols = list(dict.fromkeys(keep_cols + [vec_col]))
    src = df.select(*in_cols)

    import pyspark.sql.types as T

    out_schema = T.StructType(
        [src.schema[c] for c in keep_cols]
        + [T.StructField(out_col, T.ArrayType(T.IntegerType(), False), False)]
    )

    def kernel(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            E = list_to_mat(batch.column(batch.schema.get_field_index(vec_col)))
            codes = np.empty((n, m_books), dtype=np.int32)
            for m in range(m_books):
                sub = np.ascontiguousarray(E[:, m * subdim : (m + 1) * subdim])
                D = _dist_matrix(sub, Cs[m], ccs[m])
                codes[:, m] = np.argmin(D, axis=1)
            codes_arr = pa.FixedSizeListArray.from_arrays(
                pa.array(codes.reshape(-1), pa.int32()), m_books
            ).cast(pa.list_(pa.int32()))
            cols = [
                batch.column(batch.schema.get_field_index(c)) for c in keep_cols
            ] + [codes_arr]
            yield pa.RecordBatch.from_arrays(cols, names=keep_cols + [out_col])

    return src.mapInArrow(kernel, out_schema)


def cell_pair_cosines(
    bucketed: DataFrame,
    vec_col: str,
    id_col: str = "vec_id",
    cell_col: str = "cell",
    mode: str = "lt",
    k: int | None = None,
    out_cols: tuple[str, str, str] = ("vec_a", "vec_b", "cosine_raw"),
) -> DataFrame:
    """Within-cell pair cosines via ONE grouped Arrow pass (guide §8:
    every vector crosses the boundary once; the quadratic pair expansion
    happens inside numpy per cell) — replacing the two-sided cell
    self-join + interpreted per-pair fold. The per-pair double is the
    fold dot over both vectors divided by (a_norm * b_norm), norms from
    the same sequential fold as `_norm` — bit-identical to the expression
    form (same A/B family as the bounded scorers).

    mode='lt': emit each unordered pair once, (smaller id, larger id,
    cosine) — the `a.vec_id < b.vec_id` join spelling. mode='ne': emit
    every ordered pair (src, dst, cosine); with ``k``, cut each src to
    its top-k under the exact (cosine desc, dst asc) total order — group
    rows are sorted by id first so a stable argsort's positional
    tie-break IS the id tie-break; all of a src's candidates live in its
    own group, so the cut is exact, and a non-finite score disables the
    cut for the group (the JVM window above then decides, as before)."""
    src = bucketed.select(cell_col, id_col, vec_col)

    import pyspark.sql.types as T

    out_schema = T.StructType(
        [
            T.StructField(out_cols[0], T.LongType(), False),
            T.StructField(out_cols[1], T.LongType(), False),
            T.StructField(out_cols[2], T.DoubleType(), False),
        ]
    )

    def kernel(tbl: pa.Table) -> pa.Table:
        n = tbl.num_rows
        empty = pa.table(
            {
                out_cols[0]: pa.array([], pa.int64()),
                out_cols[1]: pa.array([], pa.int64()),
                out_cols[2]: pa.array([], pa.float64()),
            }
        )
        if n < 2:
            return empty
        ids = tbl.column(id_col).to_numpy(zero_copy_only=False)
        E = list_to_mat(tbl.column(vec_col))
        order = np.argsort(ids)
        ids = ids[order]
        E = np.ascontiguousarray(E[order])
        nrm = fold_norm(E)
        S = fold_dot_nm(E, E) / (nrm[:, None] * nrm[None, :])
        if mode == "lt":
            ai, bi = np.triu_indices(n, k=1)  # rows sorted by id: i<j <=> id_i<id_j
            return pa.table(
                {
                    out_cols[0]: pa.array(ids[ai], pa.int64()),
                    out_cols[1]: pa.array(ids[bi], pa.int64()),
                    out_cols[2]: pa.array(S[ai, bi], pa.float64()),
                }
            )
        # mode == 'ne'
        if k is not None and np.isfinite(S).all() and n - 1 > k:
            Sm = S.copy()
            np.fill_diagonal(Sm, -np.inf)
            keep = np.argsort(-Sm, axis=1, kind="stable")[:, :k]
            ai = np.repeat(np.arange(n), k)
            bi = keep.reshape(-1)
        else:
            ai, bi = np.nonzero(~np.eye(n, dtype=bool))
        return pa.table(
            {
                out_cols[0]: pa.array(ids[ai], pa.int64()),
                out_cols[1]: pa.array(ids[bi], pa.int64()),
                out_cols[2]: pa.array(S[ai, bi], pa.float64()),
            }
        )

    return src.groupBy(cell_col).applyInArrow(kernel, out_schema)


def collect_query_vectors(
    df: DataFrame, id_col: str, vec_col: str
) -> tuple[list[int], list[list[float]]]:
    """Driver collect of a BOUNDED query side (the established K x dim /
    bitmap convention: O(Q<=64) rows), ordered by id for determinism.
    The sort happens on the driver — an orderBy would add a range-
    partitioning exchange (a whole extra stage) to sort a handful of rows
    (measured: 0.24 s -> 0.07 s for the collect job at sf0.1)."""
    rows = df.select(id_col, vec_col).collect()
    rows.sort(key=lambda r: r[0])
    return [int(r[0]) for r in rows], [list(r[1]) for r in rows]
