"""Similarity search over embedding columns (array<float>).

  cosine_topk          brute-force exact top-k vs one query vector — the
                       correctness baseline; dot products run JVM-side via
                       higher-order functions (zip_with/aggregate)
  cosine_self_join     exact near-duplicate pairs above a cosine threshold
                       (block-nested join; small/medium corpora)
  lsh_ann_topk         random-hyperplane LSH: signature equi-join shrinks
                       the candidate set, then exact re-rank — the scale
                       path (bucket sizes, not n², bound the work)
  ivf_topk             IVF: deterministic centroid sample (+ optional
                       distributed k-means refinement), broadcast-matrix
                       Arrow argmin assignment, probe nprobe cells

Hyperplanes/centroids are derived deterministically from a seed (hash-based
pseudo-random, no RNG state) so results are reproducible at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tag_spark.session import local_frame


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm (or is
    NULL). try_divide, not `/`: under ANSI mode one all-zero embedding —
    a padding artifact or failed encoder row, inevitable somewhere in a
    100 TB corpus — would otherwise kill the whole job with
    DIVIDE_BY_ZERO (caught by the generated-corpus fuzz). NULL cos_sim
    sorts last under the DESC orderings every consumer uses (Spark and
    DuckDB both default NULLS LAST on DESC) and fails every >= threshold
    filter, so zero vectors are never retrieved."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _lit_vec(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def cosine_topk(df: DataFrame, query_vec: list[float], k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine vs a literal query vector. One scan; the sort
    is a TakeOrderedAndProject (never a full global sort)."""
    q = _lit_vec(query_vec)
    return (
        df.select(F.col(id_col), F.round(cosine(F.col(vec_col), q), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def _cosine_topk_batch_jvm(
    df: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """Expression-based batched top-k (fallback): broadcast crossJoin + HOF
    cosine + per-query window. Exact for any id type / ragged dims."""
    qx = queries.select(F.col(query_id_col).alias("qid"), F.col(query_vec_col).alias("qv"))
    cand = df.crossJoin(F.broadcast(qx)).select(
        "qid", F.col(id_col), F.round(cosine(F.col("qv"), F.col(vec_col)), 6).alias("cos_sim")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(F.col("qid").alias(query_id_col), id_col, "cos_sim")
    )


def cosine_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Exact batched top-k — the brute-force baseline the ANN indexes are
    measured against.

    Arrow-kernel implementation (guide §4.2): the query matrix is collected
    once (the query set is small by contract — the previous shape broadcast
    it anyway) and corpus partitions stream through ``mapInArrow``; each
    batch computes every dot product with a STRICT per-dimension left fold
    (acc starts at 0.0 and adds x_d·q_d in element order — bit-identical
    IEEE arithmetic to the JVM zip_with/aggregate fold), zero/NULL/ragged
    vectors yield NULL exactly like ``cosine``, and ROUNDING STAYS IN
    CATALYST (F.round on the kernel's raw doubles), so the result is
    byte-identical to the expression path (asserted in tests). Each batch
    emits only rows that can still reach the global rounded top-k
    (raw >= batch k-th best − 2 rounding quanta — an excluded row is then
    strictly below k surviving rows even after rounding), so the final
    exact window runs on ~k rows per (query, partition) instead of
    n·n_queries. Falls back to the expression path for non-integral id
    columns or a ragged/NULL-bearing query set; a corpus batch containing
    a NULL id is emitted unpruned (still exact)."""
    id_t = df.schema[id_col].dataType.simpleString()
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    if id_t not in ("bigint", "int") or qid_t not in ("bigint", "int"):
        return _cosine_topk_batch_jvm(df, queries, k, id_col, vec_col, query_id_col, query_vec_col)
    qrows = queries.select(F.col(query_id_col).alias("qid"), F.col(query_vec_col).alias("qv")).collect()
    dims = {len(r["qv"]) for r in qrows if r["qv"] is not None}
    if (
        len(qrows) == 0
        or len(dims) != 1
        or any(r["qv"] is None for r in qrows)
        or any(r["qid"] is None for r in qrows)
    ):
        return _cosine_topk_batch_jvm(df, queries, k, id_col, vec_col, query_id_col, query_vec_col)
    import numpy as np

    dim = dims.pop()
    qids = [int(r["qid"]) for r in qrows]
    Q = np.array([[float(x) for x in r["qv"]] for r in qrows], dtype=np.float64)
    # query norms with the same sequential fold the JVM _norm performs
    qn = np.zeros(len(qids), dtype=np.float64)
    for d in range(dim):
        qn += Q[:, d] * Q[:, d]
    qn = np.sqrt(qn)

    def kernel(batches):
        import pyarrow as pa

        out_schema = pa.schema([("qid", pa.int64()), ("vid", pa.int64()), ("cos_raw", pa.float64())])
        nq = len(qids)
        qid_arr = np.asarray(qids, dtype=np.int64)
        for b in batches:
            ids = b.column(0).to_pylist()
            vecs = b.column(1).to_pylist()
            if any(i is None for i in ids):
                # NULL ids break the int64 fast path and the id-ordered null
                # caps — emit this batch UNPRUNED (exact; the downstream
                # window handles it like the expression path would)
                o_qid, o_vid, o_cos = [], [], []
                for i, v in enumerate(vecs):
                    ok = v is not None and len(v) == dim and not any(t is None for t in v)
                    if ok:
                        x = [float(t) for t in v]
                        xn1 = 0.0
                        for t in x:
                            xn1 = xn1 + t * t
                        xn1 = float(np.sqrt(xn1))  # same correctly-rounded sqrt as JVM Math.sqrt
                    for j in range(nq):
                        c = None
                        if ok:
                            acc1 = 0.0
                            for d in range(dim):
                                acc1 = acc1 + x[d] * Q[j, d]
                            den1 = qn[j] * xn1
                            c = (acc1 / den1) if den1 != 0.0 else None
                        o_qid.append(qids[j])
                        o_vid.append(ids[i])
                        o_cos.append(c)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(o_qid, type=pa.int64()),
                        pa.array(o_vid, type=pa.int64()),
                        pa.array(o_cos, type=pa.float64()),
                    ],
                    schema=out_schema,
                )
                continue
            good_idx, bad_idx = [], []
            for i, v in enumerate(vecs):
                # a NULL element inside the vector NULLs the whole cosine on
                # the JVM path (null product poisons the fold) — same here
                ok = v is not None and len(v) == dim and not any(t is None for t in v)
                (good_idx if ok else bad_idx).append(i)
            o_qid, o_vid, o_cos = [], [], []
            if good_idx:
                X = np.array([vecs[i] for i in good_idx], dtype=np.float64)
                gids = np.asarray([ids[i] for i in good_idx], dtype=np.int64)
                # strict left fold per (row, query): bit-identical to the
                # JVM aggregate fold (0.0 + x0*q0 + x1*q1 + ...)
                acc = np.zeros((len(good_idx), nq), dtype=np.float64)
                xn = np.zeros(len(good_idx), dtype=np.float64)
                for d in range(dim):
                    xd = X[:, d]
                    acc += xd[:, None] * Q[None, :, d]
                    xn += xd * xd
                xn = np.sqrt(xn)
                den = qn[None, :] * xn[:, None]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = acc / den
                nullm = den == 0.0  # try_divide semantics: /0 -> NULL
                for j in range(nq):
                    cj = cos[:, j]
                    okm = ~nullm[:, j]
                    vals = cj[okm]
                    if len(vals) > k:
                        thr = np.partition(vals, len(vals) - k)[len(vals) - k] - 2e-6
                        keep = okm & (cj >= thr)
                    else:
                        keep = okm
                    kept = np.nonzero(keep)[0]
                    o_qid.append(np.full(len(kept), qid_arr[j], dtype=np.int64))
                    o_vid.append(gids[kept])
                    o_cos.append(cj[kept])
                    # NULL-cosine rows (zero norms) can still reach the
                    # top-k when a query has < k real candidates; the k
                    # smallest ids per batch dominate any others
                    nulls = np.nonzero(nullm[:, j])[0]
                    if len(nulls):
                        nids = np.sort(gids[nulls])[:k]
                        o_qid.append(np.full(len(nids), qid_arr[j], dtype=np.int64))
                        o_vid.append(nids)
                        o_cos.append(np.full(len(nids), np.nan))
            if bad_idx:
                # ragged/NULL corpus vectors -> NULL cosine for every query
                bids = sorted(int(ids[i]) for i in bad_idx if ids[i] is not None)[:k]
                for j in range(nq):
                    o_qid.append(np.full(len(bids), qid_arr[j], dtype=np.int64))
                    o_vid.append(np.asarray(bids, dtype=np.int64))
                    o_cos.append(np.full(len(bids), np.nan))
            if not o_qid:
                continue
            qv_all = np.concatenate(o_qid)
            vid_all = np.concatenate(o_vid)
            cos_all = np.concatenate(o_cos)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qv_all, type=pa.int64()),
                    pa.array(vid_all, type=pa.int64()),
                    pa.array(cos_all, type=pa.float64(), from_pandas=True),  # NaN -> NULL
                ],
                schema=out_schema,
            )

    raw = df.select(F.col(id_col).cast("long"), F.col(vec_col)).mapInArrow(
        kernel, "qid long, vid long, cos_raw double"
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.col("vid"))
    return (
        raw.select("qid", "vid", F.round(F.col("cos_raw"), 6).alias("cos_sim"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("qid").cast(qid_t).alias(query_id_col),
            F.col("vid").cast(id_t).alias(id_col),
            "cos_sim",
        )
    )


def _collect_query_matrix(queries: DataFrame, query_id_col: str, query_vec_col: str, dim: int):
    """Collect the (small-by-contract) query set as (qid_type, id list,
    float64 matrix) for the Arrow rerank kernels. Returns None when the
    fast path's preconditions fail — non-integral query ids, an empty set,
    or any NULL / ragged / NULL-element query vector — in which case the
    caller uses its expression-based JVM shape (whose lazy semantics those
    edge cases already define)."""
    import math

    qid_t = queries.schema[query_id_col].dataType.simpleString()
    if qid_t not in ("bigint", "int"):
        return None
    qrows = queries.select(F.col(query_id_col).alias("qid"), F.col(query_vec_col).alias("qv")).collect()
    # NaN query elements also bail to the JVM expression path: SQL NaN
    # ordering (NaN sorts above every number, NaN >= 0 is TRUE) diverges
    # from numpy comparison semantics, so the JVM path stays the single
    # definition of NaN behavior for signatures, probes and cosines
    if not qrows or any(
        r["qid"] is None
        or r["qv"] is None
        or len(r["qv"]) != dim
        or any(t is None or math.isnan(t) for t in r["qv"])
        for r in qrows
    ):
        return None
    import numpy as np

    qids = [int(r["qid"]) for r in qrows]
    Q = np.array([[float(x) for x in r["qv"]] for r in qrows], dtype=np.float64)
    return qid_t, qids, Q


def _rerank_topk_arrow(
    cand: DataFrame,
    qids: list[int],
    Q,
    k: int,
    id_col: str,
    query_id_col: str,
    id_t: str,
    qid_t: str,
) -> DataFrame:
    """Exact cosine re-rank + per-query top-k over candidate rows
    (qid long, vid long, v array) against a collected query matrix — the
    shared tail of the ANN batch paths (guide §4.2). Byte-identical to the
    expression shape ``round(cosine(qv, v), 6)`` + window: dot products and
    norms use the STRICT per-dimension left fold (acc + x_d·q_d in element
    order — the JVM zip_with/aggregate arithmetic), zero-norm → NULL
    (try_divide), NULL/ragged/NULL-element corpus vectors → NULL, and
    rounding stays in Catalyst. Per (batch, qid) only rows that can still
    reach the global rounded top-k are emitted (raw >= batch k-th best − 2
    rounding quanta: an excluded row is strictly below k same-batch rows
    even after 6dp rounding), plus the k id-smallest NULL-cosine rows; a
    batch containing NULL candidate ids is emitted unpruned (still exact,
    and the window's asc-NULLS-FIRST id ordering matches the JVM path)."""
    import numpy as np

    dim = Q.shape[1]
    # query norms with the same sequential fold the JVM _norm performs
    qn = np.zeros(len(qids), dtype=np.float64)
    for d in range(dim):
        qn += Q[:, d] * Q[:, d]
    qn = np.sqrt(qn)
    order = np.argsort(np.asarray(qids, dtype=np.int64), kind="stable")
    sq = np.asarray(qids, dtype=np.int64)[order]
    Qs = Q[order]
    qns = qn[order]

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        out_schema = pa.schema([("qid", pa.int64()), ("vid", pa.int64()), ("cos_raw", pa.float64())])

        def row_cos(v, jrow):
            # strict left fold, one row — identical arithmetic to the
            # vectorized path and the JVM fold
            if v is None or len(v) != dim or any(t is None for t in v):
                return None
            acc1 = 0.0
            xn1 = 0.0
            for d in range(dim):
                x = float(v[d])
                acc1 = acc1 + x * Qs[jrow, d]
                xn1 = xn1 + x * x
            den1 = qns[jrow] * float(np.sqrt(xn1))
            return (acc1 / den1) if den1 != 0.0 else None

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            qcol, vidcol, vcol = b.column(0), b.column(1), b.column(2)
            qid_np = qcol.to_numpy(zero_copy_only=False).astype(np.int64)
            pos = np.searchsorted(sq, qid_np)  # every qid exists: cand came from an equi-join on the query set
            if vidcol.null_count > 0:
                # NULL candidate ids break the int64 path and the id-ordered
                # null caps — emit this batch UNPRUNED (exact; the window
                # handles it like the expression path would)
                vids = vidcol.to_pylist()
                vecs = vcol.to_pylist()
                cos_l = [row_cos(vecs[i], pos[i]) for i in range(n)]
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([int(q) for q in qid_np], type=pa.int64()),
                        pa.array(vids, type=pa.int64()),
                        pa.array(cos_l, type=pa.float64()),
                    ],
                    schema=out_schema,
                )
                continue
            vid_np = vidcol.to_numpy(zero_copy_only=False).astype(np.int64)
            Qrow = Qs[pos]
            qn_row = qns[pos]
            cos = None
            lens = pc.list_value_length(vcol)
            if vcol.null_count == 0 and pc.min(lens).as_py() == dim and pc.max(lens).as_py() == dim:
                flat = vcol.flatten()
                if flat.null_count == 0:
                    X = flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(n, dim)
                    # strict left fold per row: acc = ((0 + x0·q0) + x1·q1) + ...
                    acc = np.zeros(n, dtype=np.float64)
                    xn = np.zeros(n, dtype=np.float64)
                    for d in range(dim):
                        xd = X[:, d]
                        acc += xd * Qrow[:, d]
                        xn += xd * xd
                    xn = np.sqrt(xn)
                    den = qn_row * xn
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = np.where(den == 0.0, np.nan, acc / den)
            if cos is None:
                # NULL/ragged/NULL-element corpus vectors in this batch:
                # row-wise with identical arithmetic, NULL (NaN) where the
                # JVM zip_with/try_divide would be NULL
                vecs = vcol.to_pylist()
                cos = np.full(n, np.nan, dtype=np.float64)
                for i in range(n):
                    c = row_cos(vecs[i], pos[i])
                    if c is not None:
                        cos[i] = c
            o_qid, o_vid, o_cos = [], [], []
            for u in np.unique(qid_np):
                sel = np.nonzero(qid_np == u)[0]
                cj = cos[sel]
                vj = vid_np[sel]
                okm = ~np.isnan(cj)
                vals = cj[okm]
                if len(vals) > k:
                    thr = np.partition(vals, len(vals) - k)[len(vals) - k] - 2e-6
                    keep = okm & (cj >= thr)
                else:
                    keep = okm
                kept = np.nonzero(keep)[0]
                o_qid.append(np.full(len(kept), u, dtype=np.int64))
                o_vid.append(vj[kept])
                o_cos.append(cj[kept])
                # NULL-cosine rows can still reach the top-k when a query
                # has < k real candidates; the k id-smallest per batch
                # dominate any others (same NULL key, smaller tie-break id)
                nulls = np.nonzero(~okm)[0]
                if len(nulls):
                    nids = np.sort(vj[nulls])[:k]
                    o_qid.append(np.full(len(nids), u, dtype=np.int64))
                    o_vid.append(nids)
                    o_cos.append(np.full(len(nids), np.nan))
            if not o_qid:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(o_qid), type=pa.int64()),
                    pa.array(np.concatenate(o_vid), type=pa.int64()),
                    pa.array(np.concatenate(o_cos), type=pa.float64(), from_pandas=True),  # NaN -> NULL
                ],
                schema=out_schema,
            )

    raw = cand.mapInArrow(kernel, "qid long, vid long, cos_raw double")
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.col("vid"))
    return (
        raw.select("qid", "vid", F.round(F.col("cos_raw"), 6).alias("cos_sim"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("qid").cast(qid_t).alias(query_id_col),
            F.col("vid").cast(id_t).alias(id_col),
            "cos_sim",
        )
    )


def cosine_self_join(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact pairs with cosine ≥ threshold (id_a < id_b). O(n²/2) compare —
    use lsh_ann_topk buckets first at scale; this is the oracle baseline."""
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# driver reads at most this many parquet footers itself; above it the
# footer reads run as ONE distributed job over the file list (at 100 TB /
# ~10^5-10^6 files a sequential driver loop is minutes of dead time; the
# real fix at that scale is the table format's manifest row counts — the
# checkpoint manifest / Iceberg snapshot — which this mirrors)
_DRIVER_FOOTER_LIMIT = 64

# optimized-plan nodes that cannot change the row count of the underlying
# scan. Anything else (Filter, Limit/GlobalLimit, Sample, Join, Union,
# Deduplicate, Aggregate, ...) means footer counts are NOT the df's count —
# a whitelist, because the blacklist version silently overcounted on
# Limit/Sample/Join inputs.
_COUNT_SAFE_NODES = frozenset({"Project", "Relation"})


def _plan_is_pure_scan(plan: str) -> bool:
    for line in plan.splitlines():
        node = line.strip().lstrip("+-: ").split(" ", 1)[0].split("[", 1)[0]
        if node and node not in _COUNT_SAFE_NODES:
            return False
    return True


def _scan_row_count(df: DataFrame) -> int:
    """Row count for partition SIZING: when df is a pure parquet scan
    (optimized plan contains ONLY row-count-preserving nodes — Project /
    Relation), read it from the file footers instead of running a full-scan
    count job — at 100 TB the footers are metadata the table already paid
    for (same reason Iceberg keeps row counts in its manifests). Footers
    are read on the driver up to _DRIVER_FOOTER_LIMIT files, then as one
    distributed job over the file list (never a sequential driver loop over
    10^5 files). Falls back to count() for transformed inputs, non-local
    storage, or any surprise."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        files = df.inputFiles()
        if files and _plan_is_pure_scan(plan) and all(f.endswith(".parquet") for f in files):
            from urllib.parse import unquote, urlparse

            paths = []
            for f in files:
                u = urlparse(f)
                if u.scheme not in ("file", ""):
                    raise ValueError("non-local path; fall back to a count job")
                paths.append(unquote(u.path))
            if len(paths) <= _DRIVER_FOOTER_LIMIT:
                import pyarrow.parquet as pq

                return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
            return _distributed_footer_count(df.sparkSession, paths)
    except Exception:
        pass
    return df.count()


def _distributed_footer_count(spark, paths: list[str]) -> int:
    """Footer row counts as ONE Spark job: ship the path list, each task
    reads ~_DRIVER_FOOTER_LIMIT footers, a single sum comes back. Driver
    work is O(len(paths)) string handling only — no per-file driver I/O."""
    import pandas as pd  # noqa: F401

    def _counts(it):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in it:
            yield pd.DataFrame({"n": [sum(pq.ParquetFile(p).metadata.num_rows for p in pdf["path"])]})

    files_df = local_frame(spark, [(p,) for p in paths], "path string")
    n_tasks = max(1, -(-len(paths) // _DRIVER_FOOTER_LIMIT))
    row = files_df.repartition(n_tasks).mapInPandas(_counts, "n long").agg(F.sum("n").alias("n")).first()
    return int(row["n"])


def _hyperplane(dim: int, plane_idx: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane from integer hashing
    (splitmix-style), reproducible across engines and runs."""
    out = []
    for j in range(dim):
        z = (plane_idx * 1_000_003 + j * 97 + seed * 7_919) & 0xFFFFFFFFFFFFFFFF
        z = (z ^ (z >> 30)) * 0xBF58476D1CE4E5B9 & 0xFFFFFFFFFFFFFFFF
        z = (z ^ (z >> 27)) * 0x94D049BB133111EB & 0xFFFFFFFFFFFFFFFF
        z ^= z >> 31
        out.append((z / 2**64) * 2.0 - 1.0)
    return out


def lsh_signature(vec_col: Column, dim: int, n_planes: int = 16, seed: int = 42) -> Column:
    """n_planes sign bits packed into a long."""
    bits = []
    for p in range(n_planes):
        h = _lit_vec(_hyperplane(dim, p, seed))
        bits.append(F.when(_dot(vec_col, h) >= 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(F.lit(0).cast("long")))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig.bitwiseOR(b)
    return sig


def _table_signatures(df: DataFrame, dim: int, id_col: str, vec_col: str, n_planes: int, n_tables: int, seed: int) -> DataFrame:
    """(id, t, sig) for every table — ONE scan computes all tables' signatures
    (per-table scans would re-read and re-hash the source n_tables times)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.array(*[lsh_signature(F.col(vec_col), dim, n_planes, seed + t * 101) for t in range(n_tables)])
        ).alias("t", "sig"),
    )


def _query_signatures(query_vec: list[float], n_planes: int, n_tables: int, seed: int) -> list[tuple[int, int]]:
    """Driver-side (t, sig) pairs for a query vector, same planes as the index."""
    dim = len(query_vec)
    out = []
    for t in range(n_tables):
        qsig = 0
        for p in range(n_planes):
            h = _hyperplane(dim, p, seed + t * 101)
            if sum(a * b for a, b in zip(query_vec, h)) >= 0:
                qsig |= 1 << p
        out.append((t, qsig))
    return out


class LshAnnIndex:
    """Persisted random-hyperplane LSH index. Build ONCE: one scan computes
    every table's signature per vector, encoded as a single
    ``array<long>`` column (entry t = t·2^n_planes | sig) on the cached
    (id, vector, sigs) table. A query is then ONE job: filter
    ``arrays_overlap(sigs, query_sigs)`` — a bucket-membership test — and
    exact-cosine-rerank only the survivors (~n·n_tables/2^n_planes rows).

    This replaces the round-1 shape that recomputed n_tables×n_planes
    hyperplane dot products over the FULL corpus per query (measured 19×
    slower than brute force). A first rework as a separate (id, t, sig)
    table + semi-join lost too: its build-side scan is O(n·n_tables) rows
    and the broadcast adds a second job. At cluster scale the same encoded
    column lives ON the stored table (or is bucket-partitioned); the query
    stays a single pruned scan.

    Parameter tradeoff: recall grows with n_tables, candidate pruning with
    n_planes (bucket hit rate per table ≈ match_p^n_planes). The defaults
    (8 planes × 8 tables) PRUNE — a random vector passes the bucket filter
    with p ≈ 1-(1-2^-8·…)^8, a small fraction of the corpus — at the cost
    of recall for weak neighbors. Oracle call sites that must equal the
    exact top-k pass recall-complete parameters (2 planes × 16 tables:
    miss ≈ 0.65^16 ≈ 1e-3 even at cos ≈ 0.28) explicitly."""

    def __init__(
        self,
        df: DataFrame,
        dim: int,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_planes: int = 8,
        n_tables: int = 8,
        seed: int = 42,
    ):
        self.id_col, self.dim, self.n_planes, self.n_tables, self.seed = id_col, dim, n_planes, n_tables, seed
        # right-size partitions at build time: query latency on a cached
        # index is dominated by task scheduling, not compute — ~100k vectors
        # per task keeps a small index a 1-2 task job while large corpora
        # keep full parallelism. Sizing reads parquet footers when the
        # input is a pure scan (no count job; see _scan_row_count).
        n_parts = max(1, -(-_scan_row_count(df) // 100_000))
        self.indexed = self._signed(df, id_col, vec_col).repartition(n_parts).persist()
        # lean exploded (enc, id) pairs for the batched join path — 16 bytes
        # per entry, persisted once so batch queries skip the array explode
        self.pairs = self.indexed.select(F.explode("sigs").alias("enc"), "id").persist()

    def _sigs_expr_df(self, df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
        """Expression-shaped (id, v, sigs) — the semantics oracle for
        _signed, kept for the byte-identity tests: n_tables × n_planes
        hyperplane literal arrays folded through interpreted zip_with /
        aggregate HOFs. Measured: ~4 s build+first-query on a 2 000-vector
        corpus (≈4 M interpreted per-element lambdas) and scaling linearly
        with corpus size — which is why the build path uses the Arrow
        kernel instead."""
        enc = [
            (
                F.lit(t << self.n_planes).cast("long")
                + lsh_signature(F.col(vec_col), self.dim, self.n_planes, self.seed + t * 101)
            )
            for t in range(self.n_tables)
        ]
        return df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), F.array(*enc).alias("sigs"))

    def _signed(self, df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
        """(id, v, sigs) with every table's encoded signature computed in
        ONE ``mapInArrow`` pass (guide §4.2). Bit-identical to the
        expression shape (_sigs_expr_df, asserted in tests): per plane the
        dot is the STRICT per-dimension left fold acc + x_d·h_d over the
        exact hyperplane doubles the expression path inlines (float
        corpus values widen to float64 identically on both sides), and the
        sign test replicates Spark SQL comparison semantics — a NaN dot
        sets the bit (SQL NaN sorts above every number, so NaN >= 0 is
        TRUE), a NULL dot (NULL/ragged/NULL-element vector: zip_with pads
        with NULL and the fold poisons) leaves the bit unset. Replaces a
        plan carrying n_tables × n_planes 64-double literal arrays through
        interpreted HOFs — eval cost was ~1 µs per vector element PER
        PLANE, the measured bulk of index builds at every corpus size."""
        import numpy as np

        dim, n_planes, n_tables, seed = self.dim, self.n_planes, self.n_tables, self.seed
        HP = np.array(
            [[_hyperplane(dim, p, seed + t * 101) for p in range(n_planes)] for t in range(n_tables)],
            dtype=np.float64,
        )
        id_t = df.schema[id_col].dataType.simpleString()
        v_t = df.schema[vec_col].dataType.simpleString()

        def kernel(batches):
            import pyarrow as pa
            import pyarrow.compute as pc

            for b in batches:
                n = b.num_rows
                if n == 0:
                    continue
                vcol = b.column(1)
                sigs = np.zeros((n, n_tables), dtype=np.int64)
                lens = pc.list_value_length(vcol)
                flat_ok = (
                    vcol.null_count == 0
                    and lens.null_count == 0
                    and pc.min(lens).as_py() == dim
                    and pc.max(lens).as_py() == dim
                )
                if flat_ok:
                    flat = vcol.flatten() if hasattr(vcol, "flatten") else vcol.values
                    flat_ok = flat.null_count == 0
                    if flat_ok:
                        X = flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(n, dim)
                if flat_ok:
                    for t in range(n_tables):
                        for p in range(n_planes):
                            acc = np.zeros(n, dtype=np.float64)
                            h = HP[t, p]
                            for d in range(dim):
                                acc += X[:, d] * h[d]
                            bit = (acc >= 0) | np.isnan(acc)
                            sigs[:, t] |= bit.astype(np.int64) << p
                else:
                    # NULL/ragged/NULL-element rows: their dot is NULL on the
                    # expression path -> bit unset; rows that are clean
                    # compute the same strict fold row-wise
                    vecs = vcol.to_pylist()
                    for i, v in enumerate(vecs):
                        if v is None or len(v) != dim or any(x is None for x in v):
                            continue
                        for t in range(n_tables):
                            for p in range(n_planes):
                                acc1 = 0.0
                                h = HP[t, p]
                                for d in range(dim):
                                    acc1 = acc1 + float(v[d]) * h[d]
                                if acc1 >= 0 or np.isnan(acc1):
                                    sigs[i, t] |= 1 << p
                sigs += np.arange(n_tables, dtype=np.int64)[None, :] << n_planes
                offsets = pa.array(np.arange(0, (n + 1) * n_tables, n_tables, dtype=np.int32))
                sig_arr = pa.ListArray.from_arrays(offsets, pa.array(sigs.reshape(-1), type=pa.int64()))
                yield pa.RecordBatch.from_arrays([b.column(0), vcol, sig_arr], names=["id", "v", "sigs"])

        return df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).mapInArrow(
            kernel, f"id {id_t}, v {v_t}, sigs array<bigint>"
        )

    def topk(self, query_vec: list[float], k: int = 10) -> DataFrame:
        qenc = [(t << self.n_planes) | s for t, s in _query_signatures(query_vec, self.n_planes, self.n_tables, self.seed)]
        q = _lit_vec(query_vec)
        return (
            self.indexed.filter(F.arrays_overlap(F.col("sigs"), F.array(*[F.lit(e).cast("long") for e in qenc])))
            .select(F.col("id").alias(self.id_col), F.round(cosine(F.col("v"), q), 6).alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.col(self.id_col))
            .limit(k)
        )

    def _candidate_pairs(self, queries: DataFrame, query_id_col: str, query_vec_col: str) -> DataFrame:
        """Lean (qid, id) candidates: query signatures from the same plane
        expressions, one equi-join on the encoded (table, signature) key,
        dedup. Candidates stay LEAN through the dedup shuffle — vectors are
        attached only afterwards (shuffling 64-float vectors per candidate
        row would dominate the join at scale)."""
        enc = [
            (F.lit(t << self.n_planes).cast("long") + lsh_signature(F.col(query_vec_col), self.dim, self.n_planes, self.seed + t * 101))
            for t in range(self.n_tables)
        ]
        qx = queries.select(F.col(query_id_col).alias("qid"), F.explode(F.array(*enc)).alias("enc"))
        return qx.join(self.pairs, "enc").dropDuplicates(["qid", "id"])

    def topk_batch(self, queries: DataFrame, k: int = 10, query_id_col: str = "query_id", query_vec_col: str = "embedding") -> DataFrame:
        """Batched ANN — top-k for EVERY query vector in one job, the actual
        pipeline shape (\"for each new document, find its neighbors\"). Work
        scales with bucket overlap (~n·n_queries·n_tables/2^n_planes
        cosines), not n·n_queries. The candidate re-rank runs in the shared
        Arrow kernel (_rerank_topk_arrow — byte-identical to the expression
        path, asserted in tests): the interpreted HOF cosine was the
        measured 200k-batch bottleneck, and AQE sizes the lean candidate
        join's partitions by shuffle BYTES, leaving the per-row compute on
        a handful of tasks. Falls back to the expression shape for
        non-integral ids or a NULL/ragged query set."""
        qm = _collect_query_matrix(queries, query_id_col, query_vec_col, self.dim)
        id_t = dict(self.indexed.dtypes)["id"]
        if qm is None or id_t not in ("bigint", "int"):
            return self._topk_batch_jvm(queries, k, query_id_col, query_vec_col)
        qid_t, qids, Q = qm
        # query signatures computed DRIVER-SIDE from the already-collected
        # matrix (the same strict per-dimension left fold as the JVM
        # lsh_signature expression — bit-identical IEEE doubles, asserted in
        # tests). The expression shape inlined n_tables × n_planes
        # hyperplane literal arrays (~4k literal doubles at 8×8×64) into an
        # interpreted HOF subtree whose planning+eval cost ~2.5 s PER CALL
        # for a 67-row query set — the measured bulk of the batched LSH
        # query (guide §7.2: plan size is a real cost; §4.1: the work is 67
        # rows, not a distributed job). A ≤ n_queries·n_tables-row literal
        # frame replaces it; candidate generation is otherwise unchanged.
        import numpy as np

        nq = len(qids)
        enc_rows = []
        for t in range(self.n_tables):
            sig = np.zeros(nq, dtype=np.int64)
            for p in range(self.n_planes):
                h = _hyperplane(self.dim, p, self.seed + t * 101)
                acc = np.zeros(nq, dtype=np.float64)
                for d in range(self.dim):
                    acc += Q[:, d] * h[d]
                sig |= (acc >= 0).astype(np.int64) << p
            base = t << self.n_planes
            enc_rows += [(int(q), int(base | s)) for q, s in zip(qids, sig)]
        qx = local_frame(queries.sparkSession, enc_rows, "qid long, enc long")
        cand = (
            qx.join(self.pairs, "enc")
            .dropDuplicates(["qid", "id"])
            .join(self.indexed.select("id", "v"), "id")
            .select(F.col("qid").cast("long"), F.col("id").cast("long").alias("vid"), F.col("v"))
        )
        return _rerank_topk_arrow(cand, qids, Q, k, self.id_col, query_id_col, id_t, qid_t)

    def _topk_batch_jvm(self, queries: DataFrame, k: int, query_id_col: str, query_vec_col: str) -> DataFrame:
        """Expression-based batch (fallback): broadcast the query vectors
        onto the candidates, HOF cosine, per-query window. Exact for any id
        type / ragged dims."""
        pairs = self._candidate_pairs(queries, query_id_col, query_vec_col)
        qv = queries.select(F.col(query_id_col).alias("qid"), F.col(query_vec_col).alias("qv"))
        cand = (
            pairs.join(F.broadcast(qv), "qid")
            .join(self.indexed.select("id", "v"), "id")
            .select("qid", "id", F.round(cosine(F.col("qv"), F.col("v")), 6).alias("cos_sim"))
        )
        w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.col("id"))
        return (
            cand.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .select(F.col("qid").alias(query_id_col), F.col("id").alias(self.id_col), "cos_sim")
        )

    def unpersist(self) -> None:
        self.indexed.unpersist()
        self.pairs.unpersist()


def lsh_ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    index: LshAnnIndex | None = None,
) -> DataFrame:
    """ANN top-k through an LshAnnIndex (built here if not supplied —
    callers issuing repeated queries should build the index once). Recall
    grows with n_tables; candidate count ~ n·n_tables/2^n_planes. The
    defaults (8 planes × 8 tables, the 200k-bench configuration) actually
    PRUNE the candidate set; oracle call sites that must equal exact top-k
    pass recall-complete parameters (2 planes × 16 tables) explicitly —
    see the LshAnnIndex docstring for the tradeoff."""
    idx = index or LshAnnIndex(df, len(query_vec), id_col, vec_col, n_planes, n_tables, seed)
    return idx.topk(query_vec, k)


def lsh_neardup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicate PAIRS at scale: vectors sharing a full
    random-hyperplane signature in any of n_tables tables become candidates
    (equi-join per table on the signature — bucket sizes, not n², bound the
    join), then exact cosine verifies. For cosine ≥ 0.9 the angle is ≤ 26°,
    so P(same 8-bit signature) = (1-26/180)^8 ≈ 0.28 per table →
    1-(1-0.28)^6 ≈ 0.86 recall with 6 tables; raise n_tables for more."""
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # ONE pass computes every table's signature; candidates come from a
    # single equi-join on (table, signature)
    sigs = _table_signatures(df, dim, id_col, vec_col, n_planes, n_tables, seed)
    a, b = sigs.alias("a"), sigs.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t")) & (F.col("a.sig") == F.col("b.sig")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def _sample_centroids(df: DataFrame, n_cells: int, id_col: str, vec_col: str) -> "object":
    """Initial centroids = deterministic hash-sample of the corpus (the
    n_cells ids with smallest md5(id) — a reproducible 'random' sample an
    independent SQL engine can replay, unlike xxhash64). Returns an
    (n_cells, dim) float64 numpy matrix; row index IS the cell id."""
    import numpy as np

    sampled = (
        df.select(F.col(id_col), F.col(vec_col))
        .withColumn("__h", F.md5(F.col(id_col).cast("string")))
        .orderBy("__h", F.col(id_col))
        .limit(n_cells)
        .collect()
    )
    return np.array([[float(x) for x in r[vec_col]] for r in sampled], dtype=np.float64)


def _direct_d2(xb, M):
    """Squared L2 distances in the DIRECT form sum((x_i - c_i)^2) — the ONE
    distance formula every IVF path shares (assignment, single-query probe,
    batched probe) and the same form the DuckDB oracles compute. The
    expanded form |x|^2 - 2x·c + |c|^2 is faster (BLAS matmul) but suffers
    catastrophic cancellation when a vector sits near a centroid, so a
    near-tie cell assignment could flip vs the oracle / vs probe_cells and
    cascade through every Lloyd round. Determinism beats the constant
    factor here; callers chunk rows to bound the (rows × cells × dim)
    intermediate."""
    return ((xb[:, None, :] - M[None, :, :]) ** 2).sum(axis=2)


def _assign_udf(df: DataFrame, centroids, out_type: str = "int", nprobe: int | None = None):
    """Vectorized nearest-centroid via a BROADCAST numpy matrix + chunked
    Arrow batches — the assignment cost per row is a vectorized row-vs-
    matrix distance against the shared matrix, independent of how the
    expression tree would have grown. The round-2 shape inlined every
    centroid as a literal array expression (O(n_cells) plan size per row —
    fine at 16 cells, hopeless at the 10^3-10^5 cells a 100 TB corpus
    needs); precompute once + broadcast, don't inline — same move as the
    reference's CRC table built once at init (reference ogg.go:20-40).
    Distances use the direct form shared with probe_cells (_direct_d2) so
    assignment, probe and the SQL oracle can never disagree on a near-tie.

    ``nprobe=None`` returns the argmin cell (int); ``nprobe=k`` returns the
    k nearest cells as array<int> ordered by (distance, cell) — ties resolve
    to the LOWEST cell both ways (np.argmin / stable argsort take the first
    minimum), matching an ``ORDER BY dist, cell`` oracle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    bc = df.sparkSession.sparkContext.broadcast(C)

    def _assign(vecs):
        M = bc.value
        X = np.array(vecs.tolist(), dtype=np.float64)
        # chunk rows so the (rows x n_cells x dim) direct-form intermediate
        # stays ~16 MB even at 10^5 cells (Arrow hands us up to 10k rows
        # per batch)
        step = max(1, 2_000_000 // max(1, M.shape[0] * M.shape[1]))
        if nprobe is None:
            out = np.empty(len(X), dtype=np.int32)
        else:
            out = np.empty((len(X), min(nprobe, M.shape[0])), dtype=np.int32)
        for s in range(0, len(X), step):
            d2 = _direct_d2(X[s : s + step], M)
            if nprobe is None:
                out[s : s + step] = np.argmin(d2, axis=1)
            else:
                out[s : s + step] = np.argsort(d2, axis=1, kind="stable")[:, : out.shape[1]]
        if nprobe is None:
            return pd.Series(out)
        return pd.Series(list(out))

    _assign.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return pandas_udf(_assign, out_type)


def assign_cells(df: DataFrame, centroids, vec_col: str = "embedding", cell_col: str = "cell") -> DataFrame:
    """One pass assigning every vector to its L2-nearest centroid (ties ->
    lowest cell, matching an ``ORDER BY dist, cell LIMIT 1`` oracle)."""
    return df.withColumn(cell_col, _assign_udf(df, centroids)(F.col(vec_col)))


def _round6_half_up(x: float) -> float:
    """Round to 6 decimals with the semantics Spark's F.round(d, 6) uses:
    HALF_UP on the shortest decimal representation of the double (Python
    repr == Java Double.toString shortest form). Keeps the Lloyd means
    bit-compatible with the pre-rework Spark-side rounding and the DuckDB
    oracle's round()."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(float(x))).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def kmeans_refine(df: DataFrame, centroids, iters: int = 1, vec_col: str = "embedding"):
    """Lloyd (k-means) refinement of the sampled centroids, fully
    distributed: each iteration is one assignment pass (broadcast argmin)
    fused with ONE Arrow partial-sum pass — every partition emits at most
    n_cells rows of (cell, count, float64 vector sum), a tiny shuffle on
    cell merges the partials, and only the (n_cells × dim) mean matrix
    reaches the driver. The earlier shape built one
    ``avg(element_at(vec, i))`` aggregate expression PER COORDINATE — fine
    at dim 64, thousands of expressions per round at production embedding
    dims (768-3072); the partial-sum pass is dim-independent in plan size.
    Means are ROUNDED TO 6 DECIMALS each iteration so an independent SQL
    engine replays bit-identical centroids (FP summation-order drift is cut
    at every round instead of compounding); a cell that loses all members
    keeps its previous centroid (same rule as the oracle's LEFT JOIN +
    coalesce)."""
    import numpy as np

    cent = np.asarray(centroids, dtype=np.float64)
    n_cells, dim = cent.shape
    for _ in range(max(0, iters)):
        a = assign_cells(df, cent, vec_col).select(F.col("cell"), F.col(vec_col).alias("__v"))

        def _partial(it):
            import numpy as np
            import pandas as pd

            cnt = np.zeros(n_cells, dtype=np.int64)
            s = np.zeros((n_cells, dim), dtype=np.float64)
            for pdf in it:
                cells = pdf["cell"].to_numpy()
                X = np.array(pdf["__v"].tolist(), dtype=np.float64)
                np.add.at(s, cells, X)
                cnt += np.bincount(cells, minlength=n_cells)
            nz = np.nonzero(cnt)[0]
            yield pd.DataFrame({"cell": nz.astype("int32"), "n": cnt[nz], "s": list(s[nz])})

        def _merge(pdf):
            import numpy as np
            import pandas as pd

            S = np.array(pdf["s"].tolist(), dtype=np.float64).sum(axis=0)
            return pd.DataFrame({"cell": [int(pdf["cell"].iloc[0])], "n": [int(pdf["n"].sum())], "s": [S]})

        partials = a.mapInPandas(_partial, "cell int, n long, s array<double>")
        rows = partials.groupBy("cell").applyInPandas(_merge, "cell int, n long, s array<double>").collect()
        nxt = cent.copy()
        for r in rows:
            n = r["n"]
            nxt[r["cell"]] = [_round6_half_up(v / n) for v in r["s"]]
        cent = nxt
    return cent


def _fs_write_text(spark, path: str, text: str) -> None:
    """Write a small text file through the Hadoop FileSystem API so index
    metadata lands on whatever FS the parquet itself uses (local, HDFS,
    S3A) — local os.path/open would silently break on non-local paths.
    Written to a temp sibling then renamed: a crash mid-write must never
    leave truncated JSON at the final path (readers additionally guard the
    parse and treat unparseable meta as stale). Rename is attempted FIRST
    (overwrite semantics where the FS gives them — POSIX rename does);
    only if the FS refuses rename-onto-existing do we delete then retry,
    which narrows the no-meta crash window to that one FS family and the
    instant between the two calls — documented: a crash there loses the
    previous valid meta and readers rebuild, never read garbage."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    tmp = jvm.org.apache.hadoop.fs.Path(path + "._tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, p):
        fs.delete(p, False)
        if not fs.rename(tmp, p):
            raise IOError(f"rename {tmp} -> {p} failed")


def _fs_read_text(spark, path: str) -> str | None:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _fs_exists(spark, path: str) -> bool:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def _corpus_digest(df: DataFrame, id_col: str, vec_col: str) -> tuple[int, int]:
    """Order-insensitive corpus identity: (row count, sum of per-row
    bounded hashes). ADDITIVE over disjoint shards — digest(old ∪ new) =
    digest(old) + digest(new) componentwise — which is what makes
    append_shard able to advance the index fingerprint without rescanning
    the standing corpus. The sum accumulates as decimal(38,0): 10^12 rows
    of 2^31-bounded values reach ~2^71, which would overflow a LONG sum
    (an ANSI-mode error at exactly the scale this engine targets);
    decimal(38,0) holds ~10^26 such rows."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.pmod(F.xxhash64(F.col(id_col).cast("string"), F.col(vec_col).cast("string")), F.lit(1 << 31)).cast(
                "decimal(38,0)"
            )
        ).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def _ivf_fingerprint(n: int, h: int, n_cells: int, kmeans_iters: int) -> str:
    import hashlib
    import json

    return hashlib.sha1(json.dumps([n, h, n_cells, kmeans_iters]).encode()).hexdigest()


class IvfIndex:
    """Persisted IVF index. Build ONCE: md5-sample initial centroids,
    optionally refine them with ``kmeans_iters`` distributed Lloyd rounds,
    assign every vector to its nearest cell through the broadcast-matrix
    argmin (see _assign_udf — NO per-centroid literal expressions), and
    materialize the assignment parquet PARTITIONED BY cell — a probe is
    then a partition-pruned read of nprobe/n_cells of the data (the scan's
    PartitionFilters prove it). Without a path the assignment is cached in
    memory instead (the filter still touches only matching rows, but no
    storage-level pruning).

    Scale shape: the centroid matrix is ≤ n_cells·dim·8 bytes (50 MB even
    at 10^5 cells × 64 dims) broadcast once; a Lloyd round is one scan +
    one map-side-combined agg; nothing else ever reaches the driver.
    Refined centroids are persisted in the meta file, so re-opening a
    fresh index over unchanged data skips the Lloyd passes entirely."""

    def __init__(
        self,
        df: DataFrame,
        n_cells: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        path: str | None = None,
        kmeans_iters: int = 0,
    ):
        import json

        import numpy as np

        self.id_col, self.vec_col, self.n_cells, self.kmeans_iters = id_col, vec_col, n_cells, kmeans_iters
        self.path = path
        self._spark = spark = df.sparkSession
        if path is not None:
            # the on-disk assignment is only valid for THE data that built
            # it: a stale directory (same path, different corpus) would be
            # probed with mismatched cells or stale vectors silently. The
            # fingerprint covers the WHOLE corpus through the additive
            # (count, bounded-hash-sum) digest — an appended or re-embedded
            # vector always changes it (the md5-smallest centroid sample
            # usually would not, and being a pure function of the corpus it
            # adds nothing, so it is deliberately NOT part of the
            # fingerprint: that is what lets append_shard advance it
            # without rescanning the standing corpus).
            # fresh-build fast path: when no committed index exists at the
            # path (no _SUCCESS), a build is certain — overlap the two
            # independent driver-blocking jobs (corpus digest + centroid
            # sample) from a 2-thread pool so the sample's tasks back-fill
            # the digest's straggler tail (guide §2.6). When _SUCCESS
            # exists the sample may not be needed at all (fresh meta skips
            # it), so the jobs stay sequential and nothing speculative runs.
            init = None
            if not _fs_exists(spark, f"{path}/_SUCCESS"):
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=2) as pool:
                    fut_digest = pool.submit(_corpus_digest, df, id_col, vec_col)
                    fut_sample = pool.submit(_sample_centroids, df, n_cells, id_col, vec_col)
                    self._n, self._h = fut_digest.result()
                    init = fut_sample.result()
            else:
                self._n, self._h = _corpus_digest(df, id_col, vec_col)
            fp = _ivf_fingerprint(self._n, self._h, n_cells, kmeans_iters)
            # meta I/O goes through the Hadoop FS API (like table_snapshot),
            # so the index works wherever the parquet lives — not local-only
            meta_path = f"{path}/_ivf_centroids.json"
            try:
                meta_text = _fs_read_text(spark, meta_path) if _fs_exists(spark, f"{path}/_SUCCESS") else None
                meta = json.loads(meta_text) if meta_text else None
            except Exception:
                # unreadable (checksum mismatch after a torn write) or
                # truncated/corrupt meta = stale index -> rebuild, never a
                # permanently wedged path raising on every open
                meta = None
            if meta is not None and meta.get("fingerprint") == fp and "centroids" in meta:
                self.centroids = np.asarray(meta["centroids"], dtype=np.float64)
            else:
                if init is None:
                    init = _sample_centroids(df, n_cells, id_col, vec_col)
                self.centroids = kmeans_refine(df, init, kmeans_iters, vec_col)
                # repartition BY CELL before the partitioned write: without
                # it every shuffle partition writes a sliver into every
                # cell dir (measured 32 files/cell x 256 cells = 8k tiny
                # files; a 16-cell probe scheduled 512 scan tasks and took
                # 5s instead of sub-second). One file per cell here; at
                # real scale cap file size with
                # spark.sql.files.maxRecordsPerFile instead of more files.
                assign_cells(df, self.centroids, vec_col).repartition(F.col("cell")).write.mode(
                    "overwrite"
                ).partitionBy("cell").parquet(path)
                self._write_meta(fp)
            self.assigned = spark.read.parquet(path)
        else:
            init = _sample_centroids(df, n_cells, id_col, vec_col)
            self.centroids = kmeans_refine(df, init, kmeans_iters, vec_col)
            self.assigned = assign_cells(df, self.centroids, vec_col).persist()

    def _write_meta(self, fingerprint: str) -> None:
        import json

        _fs_write_text(
            self._spark,
            f"{self.path}/_ivf_centroids.json",
            json.dumps(
                {
                    "fingerprint": fingerprint,
                    "n_cells": self.n_cells,
                    "kmeans_iters": self.kmeans_iters,
                    "n": self._n,
                    "h": self._h,
                    "centroids": self.centroids.tolist(),
                }
            ),
        )

    def assign_shard(self, new_df: DataFrame) -> DataFrame:
        """Incremental ingest, read-only: assign a NEW shard of vectors to
        this index's FROZEN centroids — one broadcast-argmin pass over just
        the new rows, no corpus recompute. The daily-pipeline shape
        ("index what arrived today against the standing corpus"),
        mirroring minhash_lsh_pairs_incremental for signatures; reference
        analog: cmd/check re-walks only what you point it at
        (cmd/check/main.go:77-99)."""
        return assign_cells(new_df, self.centroids, self.vec_col)

    def append_shard(self, new_df: DataFrame) -> None:
        """Incremental ingest, persisted: append the new shard's assignment
        to the cell-partitioned parquet and advance the corpus fingerprint
        ADDITIVELY (see _corpus_digest) — a later IvfIndex over the full
        appended corpus computes the same (n, h) and fast-paths to these
        frozen centroids instead of rebuilding. Centroids deliberately do
        NOT drift on append (probes must stay consistent with every
        partition already written); rebuild when drift warrants it."""
        if self.path is None:
            raise ValueError("append_shard requires a path-backed index")
        assign_cells(new_df, self.centroids, self.vec_col).repartition(F.col("cell")).write.mode(
            "append"
        ).partitionBy("cell").parquet(self.path)
        dn, dh = _corpus_digest(new_df, self.id_col, self.vec_col)
        self._n += dn
        self._h += dh
        self._write_meta(_ivf_fingerprint(self._n, self._h, self.n_cells, self.kmeans_iters))
        self.assigned = self._spark.read.parquet(self.path)

    def probe_cells(self, query_vec: list[float], nprobe: int) -> list[int]:
        import numpy as np

        q = np.asarray(query_vec, dtype=np.float64)
        # SAME direct-form distance as _assign_udf (shared helper): the
        # single-query probe, the batched probe and the assignment can
        # never pick different cells for the same vector
        d2 = _direct_d2(q[None, :], self.centroids)[0]
        order = np.lexsort((np.arange(len(d2)), d2))  # (dist, cell) asc — lowest cell wins ties
        return [int(c) for c in order[:nprobe]]

    def topk(self, query_vec: list[float], k: int = 10, nprobe: int = 4) -> DataFrame:
        q = _lit_vec(query_vec)
        cells = self.probe_cells(query_vec, nprobe)
        return (
            self.assigned.filter(F.col("cell").isin(cells))
            .select(F.col(self.id_col), F.round(cosine(F.col(self.vec_col), q), 6).alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.col(self.id_col))
            .limit(k)
        )

    def topk_batch(self, queries: DataFrame, k: int = 10, nprobe: int = 4, query_id_col: str = "query_id", query_vec_col: str = "embedding") -> DataFrame:
        """Batched IVF probe: each query computes its nprobe nearest cells
        through the same broadcast-matrix argsort as probe_cells (ties ->
        lowest cell), explodes to (qid, cell), equi-joins the assignment
        table on cell, exact-reranks inside the probed cells only —
        nprobe/n_cells of the n·n_queries work. The round-2 shape built a
        sorted n_cells-struct array EXPRESSION per query row — the same
        literal blowup the assignment had; one Arrow batch replaces it.
        The re-rank runs in the shared Arrow kernel (_rerank_topk_arrow,
        byte-identical to the expression path — the interpreted HOF cosine
        was the measured per-candidate bottleneck); falls back to the
        expression shape for non-integral ids or a NULL/ragged query set."""
        qm = _collect_query_matrix(queries, query_id_col, query_vec_col, int(self.centroids.shape[1]))
        id_t = dict(self.assigned.dtypes).get(self.id_col)
        if qm is None or id_t not in ("bigint", "int"):
            return self._topk_batch_jvm(queries, k, nprobe, query_id_col, query_vec_col)
        qid_t, qids, Q = qm
        # probe cells computed DRIVER-SIDE from the already-collected query
        # matrix — the IDENTICAL numpy ops as _assign_udf's nprobe path
        # (_direct_d2 + stable argsort, ties -> lowest cell), so the cell
        # set per query cannot differ; this drops the pandas-UDF probe job
        # (Python worker spin-up + Arrow round-trip for a ≤ n_queries-row
        # input) from every batched call (guide §4.1: don't ship 67 rows to
        # a Python worker when the matrix is already on the driver)
        import numpy as np

        d2 = _direct_d2(Q, self.centroids)
        order = np.argsort(d2, axis=1, kind="stable")[:, : min(nprobe, self.centroids.shape[0])]
        qx_rows = [(int(q), int(c)) for q, cells in zip(qids, order) for c in cells]
        qx = local_frame(queries.sparkSession, qx_rows, "qid long, cell int")
        cand = self.assigned.join(F.broadcast(qx), "cell").select(
            F.col("qid").cast("long"),
            F.col(self.id_col).cast("long").alias("vid"),
            F.col(self.vec_col).alias("v"),
        )
        return _rerank_topk_arrow(cand, qids, Q, k, self.id_col, query_id_col, id_t, qid_t)

    def _topk_batch_jvm(self, queries: DataFrame, k: int, nprobe: int, query_id_col: str, query_vec_col: str) -> DataFrame:
        """Expression-based batch (fallback): the query vector rides the
        broadcast (qid, cell) pairs, HOF cosine, per-query window. Exact
        for any id type / ragged dims."""
        qv = F.col(query_vec_col)
        probe = _assign_udf(queries, self.centroids, out_type="array<int>", nprobe=nprobe)(qv)
        qx = queries.select(F.col(query_id_col).alias("qid"), qv.alias("qv"), F.explode(probe).alias("cell"))
        cand = self.assigned.join(F.broadcast(qx), "cell").select(
            "qid", F.col(self.id_col), F.round(cosine(F.col("qv"), F.col(self.vec_col)), 6).alias("cos_sim")
        )
        w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.col(self.id_col))
        return (
            cand.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .select(F.col("qid").alias(query_id_col), self.id_col, "cos_sim")
        )


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: IvfIndex | None = None,
    path: str | None = None,
    kmeans_iters: int = 0,
) -> DataFrame:
    """Probe the nprobe nearest cells to the query, exact re-rank inside.
    Builds an IvfIndex if not supplied — callers issuing repeated queries
    should build it once (optionally materialized at ``path`` for real
    partition pruning)."""
    idx = index or IvfIndex(df, n_cells, id_col, vec_col, path=path, kmeans_iters=kmeans_iters)
    return idx.topk(query_vec, k, nprobe)
