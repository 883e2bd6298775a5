"""Similarity search over embedding columns (array<float>).

Exact brute-force top-k on scalar-quantized dot products (integer sums:
order-independent, bit-reproducible in any engine — the oracle contract),
plus a sign-LSH bucketed approximate variant as the scale path.

At 100 TB the exact path is the per-bucket kernel of the LSH/IVF variant,
not a global cross join: candidates are bounded by bucket occupancy and
the shuffle key is the bucket id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _quantized_flat(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, i, xq): posexploded, scalar-quantized to int (x1000)."""
    return emb.select(
        F.col(id_col), F.posexplode(vec_col).alias("i", "x")
    ).withColumn("xq", F.round(F.col("x").cast("double") * 1000.0).cast("long")).drop("x")


def topk_dot(
    emb: DataFrame,
    queries: DataFrame | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors by quantized dot product (self-join when
    ``queries`` is None means every % 50 == 0 id is a query — the driver
    fixture; pass an explicit queries frame in real use)."""
    flat = _quantized_flat(emb, id_col, vec_col)
    if queries is None:
        q = flat.filter(F.col(id_col) % 50 == 0)
    else:
        q = _quantized_flat(queries, id_col, vec_col)
    q = q.select(F.col(id_col).alias("query_id"), "i", F.col("xq").alias("qx"))
    dots = (
        q.join(flat, "i")
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.sum(F.col("qx") * F.col("xq")).alias("dot"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("neighbor_id").asc())
    return (
        dots.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot")
    )


def topk_dot_kernel(
    emb: DataFrame,
    queries: DataFrame | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shard_rows: int = 65_536,
) -> DataFrame:
    """Exact top-k neighbors by quantized dot product — the scale-safe
    plan. Bit-identical to ``topk_dot`` (same quantization, same
    (dot desc, id asc) total order; the dimension-explode SQL formulation
    stays the DuckDB oracle spec) but executes as ``mapInPandas``
    passes over the corpus with the query matrix broadcast: per-partition
    NumPy dot products + partial top-k, then a k-row-per-query global
    merge. The explode-join formulation materializes
    |queries| x |corpus| x dim rows into a shuffle — a factored cross
    product that dies at 100x; here nothing shuffles but the
    <= k x partitions partial winners.

    Quantization runs JVM-side (``F.transform`` + the shared
    ``_quantize``) so rounding parity with the oracle is byte-exact; the
    kernel only ever does integer arithmetic on the quantized values
    (via float64 matmul when magnitudes stay under 2^53 — exact — else
    int64).

    The query side is collected, sharded and broadcast by the shared
    ``_corpus_topk_pass`` (``shard_rows`` queries per corpus pass); this
    kernel adds only the unmasked dot score.
    """
    from .spread import scan_spread

    corpus = scan_spread(_cid_vecs(emb, id_col, vec_col))
    qsrc = (
        corpus.filter(F.col("__cid") % 50 == 0)
        if queries is None
        else _cid_vecs(queries, id_col, vec_col)
    )
    return _corpus_topk_pass(
        corpus,
        qsrc,
        k,
        lambda qids, Q: Q,
        lambda cid, X, Q: _guarded_matmul(Q, X),
        shard_rows=shard_rows,
    )


def lsh_sign(table: int, bit: int, dim: int) -> int:
    """Rademacher ±1 entry of the seeded projection matrix: parity of the
    first hex digit of md5("{table}_{bit}_{dim}"). Deterministic and
    engine-portable — the DuckDB oracle inlines the identical matrix."""
    import hashlib

    return 1 if int(hashlib.md5(f"{table}_{bit}_{dim}".encode()).hexdigest()[0], 16) % 2 == 0 else -1


def probe_masks(n_bits: int, radius: int) -> list[int]:
    """All XOR masks with popcount <= radius (multi-probe LSH: also search
    buckets within Hamming ``radius`` of the query's bucket)."""
    return [m for m in range(1 << n_bits) if bin(m).count("1") <= radius]


def _quantize(x):
    return F.round(x.cast("double") * 1000.0).cast("long")


def sign_lsh_buckets(
    emb: DataFrame,
    n_tables: int = 4,
    n_bits: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, embedding, table, bucket): one row per (vector, hash table).

    Each of ``n_tables`` independent tables hashes the vector with
    ``n_bits`` signed random projections r_b (seeded Rademacher ±1 rows,
    ``lsh_sign``); bit b of the bucket = [<x_quantized, r_b> > 0]. The
    projections are pure column expressions (zip_with + aggregate over a
    sign-literal array): zero shuffle, zero UDF, one scan (tables emitted
    via posexplode of an array, not a per-table union). Integer quantized
    dot products make bucket ids bit-reproducible in the DuckDB oracle.
    """
    bucket_exprs = []
    for t in range(n_tables):
        bucket = None
        for b in range(n_bits):
            sarr = F.array(
                *[F.lit(lsh_sign(t, b, d)).cast("long") for d in range(dim)]
            )
            dot = F.aggregate(
                F.zip_with(F.col(vec_col), sarr, lambda x, s: _quantize(x) * s),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
            term = F.when(dot > 0, F.lit(1 << b)).otherwise(F.lit(0))
            bucket = term if bucket is None else bucket + term
        bucket_exprs.append(bucket.cast("int"))
    return emb.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(F.array(*bucket_exprs)).alias("table", "bucket"),
    )


def sign_lsh_buckets_kernel(
    emb: DataFrame,
    n_tables: int = 4,
    n_bits: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table, bucket): bit-identical buckets to ``sign_lsh_buckets``
    computed by a broadcast sign matrix + ``mapInPandas`` NumPy kernel
    instead of column expressions.

    The expression form embeds n_tables x n_bits x dim sign literals into
    the plan — 1,536 nodes at dim=64 (fine), ~150k at real embedding dims
    (768-1536), where Catalyst planning of the literal trees, not
    execution, becomes the bottleneck. Here the plan carries ONE
    mapInPandas node regardless of dim; the (T*B, dim) ±1 matrix ships as
    a broadcast. Quantization stays JVM-side (``F.transform`` +
    ``_quantize``) for byte-exact oracle parity; the matmul is exact
    float64 BLAS while magnitudes stay under 2^53, else int64 — the
    ``topk_dot_kernel`` discipline. The expression form remains the
    DuckDB oracle spec; parity at dim=64 is regression-tested."""
    import numpy as np
    import pandas as pd

    S = np.array(
        [
            [lsh_sign(t, b, d) for d in range(dim)]
            for t in range(n_tables)
            for b in range(n_bits)
        ],
        dtype=np.int64,
    )
    pw = 1 << np.arange(n_bits, dtype=np.int64)
    qv = emb.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: _quantize(x)).alias("__xq"),
    )
    bc = emb.sparkSession.sparkContext.broadcast(S)

    def run(batches):
        S = bc.value
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            D = _guarded_matmul(_decode_vecs(pdf["__xq"]), S)
            bits = (D > 0).astype(np.int64).reshape(n, n_tables, n_bits)
            buckets = (bits * pw[None, None, :]).sum(axis=2).astype(np.int32)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf["__id"].to_numpy(np.int64), n_tables),
                    "table": np.tile(np.arange(n_tables, dtype=np.int32), n),
                    "bucket": buckets.reshape(-1),
                }
            )

    return qv.mapInPandas(run, schema=f"{id_col} long, table int, bucket int")


def _buckets_keyed(
    emb: DataFrame,
    n_tables: int,
    n_bits: int,
    dim: int,
    id_col: str,
    vec_col: str,
    kernel: bool | None,
) -> DataFrame:
    """(id, table, bucket) via the expression form or the broadcast
    kernel. ``kernel=None`` auto-selects: expressions under dim<=128
    (whole-stage codegen, zero Python), the kernel above (where the
    literal trees would dominate planning)."""
    if kernel is None:
        kernel = dim > 128
    if kernel:
        return sign_lsh_buckets_kernel(emb, n_tables, n_bits, dim, id_col, vec_col)
    return sign_lsh_buckets(emb, n_tables, n_bits, dim, id_col, vec_col).select(
        F.col(id_col), "table", "bucket"
    )


def ivf_assign(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: (id, centroid_id, l2q) — each vector joins
    its nearest coarse centroid by exact quantized L2, ties broken by the
    smaller centroid id.

    Centroids are the ``n_centroids`` smallest-id vectors (a deterministic
    'training' that both engines reproduce — k-means would converge to an
    engine-dependent float fixpoint and break the oracle). The centroid
    table broadcasts; assignment is one zip_with expression per row pair —
    no shuffle beyond the broadcast join and the per-id argmin aggregate.
    """
    cents = emb.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("__cv")
    )
    l2q = F.aggregate(
        F.zip_with(
            vec_col, "__cv", lambda a, b: (_quantize(a) - _quantize(b)) * (_quantize(a) - _quantize(b))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    d = emb.crossJoin(F.broadcast(cents)).withColumn("__d", l2q)
    return (
        d.groupBy(id_col)
        .agg(F.min(F.struct(F.col("__d"), F.col("centroid_id"))).alias("__m"))
        .select(
            id_col,
            F.col("__m.centroid_id").alias("centroid_id"),
            F.col("__m.__d").alias("l2q"),
        )
    )


# masked-out score: below every real integer dot / negated distance
_NEG = -(1 << 63)


def _guarded_matmul(A, B):
    """Exact integer A @ B.T for (n, dim) int64 operands: float64 BLAS
    while every product times the inner dim stays under 2^53 (exact in
    IEEE double — the ``topk_dot_kernel`` discipline), else int64."""
    import numpy as np

    amax = int(np.abs(A).max()) if A.size else 0
    bmax = int(np.abs(B).max()) if B.size else 0
    dim = A.shape[1] if A.ndim == 2 else 0
    if amax * bmax * dim < (1 << 53):
        return (A.astype(np.float64) @ B.T.astype(np.float64)).astype(np.int64)
    return A @ B.T


def _np_partial_topk(D, qids, cid, k):
    """Per-query partial top-k under (dot desc, id asc) over a masked dot
    matrix (invalid pairs already set to ``_NEG``). NEG entries can
    dominate a row, so they are dropped BEFORE the threshold partition (a
    NEG threshold would let NEG entries crowd real candidates out of the
    truncation). Returns (query_id, neighbor_id, dot) arrays or None."""
    import numpy as np

    out_q, out_n, out_d = [], [], []
    nq = D.shape[0]
    for qi in range(nq):
        row = D[qi]
        valid = np.flatnonzero(row != _NEG)
        if valid.size == 0:
            continue
        kk = min(k, valid.size)
        vr = row[valid]
        thresh = np.partition(vr, valid.size - kk)[valid.size - kk]
        keep = valid[vr >= thresh]
        keep = keep[np.lexsort((cid[keep], -row[keep]))][:kk]
        out_q.append(np.full(keep.size, qids[qi], dtype=np.int64))
        out_n.append(cid[keep])
        out_d.append(row[keep])
    if not out_q:
        return None
    return (
        np.concatenate(out_q),
        np.concatenate(out_n),
        np.concatenate(out_d),
    )


def _merge_topk_partials(
    parts: list[DataFrame], k: int, out_col: str = "dot", negate: bool = False
) -> DataFrame:
    """Global (dot desc, id asc) row_number merge over the per-partition
    partial winners. The ascending-metric families (ADC / SQ8 distances)
    ride the same merge by negating the metric in their kernels;
    ``negate=True`` flips it back on output (dot desc == distance asc,
    ties id asc either way)."""
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    out_val = (-F.col("dot")).cast("long") if negate else F.col("dot")
    return (
        merged.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", out_val.alias(out_col))
    )


def _decode_vecs(s):
    """(n, dim) int64 matrix from a pandas Series of equal-length integer
    arrays: the Arrow -> Python vector decode every corpus pass, codebook
    and query collect goes through. ``tolist`` is kept on purpose: on the
    object-of-ndarray Series ``mapInPandas`` hands over it beat
    ``np.stack`` and ``np.vstack`` by about 2x (10k x 64 batch); the
    zero-copy Arrow ``flatten().reshape`` route needs ``mapInArrow``."""
    import numpy as np

    return np.array(s.tolist(), dtype=np.int64)


def _sq_dists(A, B):
    """(nA, nB) exact integer squared L2 of every A row against every B
    row: |a|^2 - 2 a.b + |b|^2 over the guarded matmul."""
    return (
        (A * A).sum(axis=1)[:, None]
        - 2 * _guarded_matmul(A, B)
        + (B * B).sum(axis=1)[None, :]
    )


def _nearest_list(X, C):
    """Position of each X row's nearest C row (coarse list or codebook
    entry). C is sorted by its id, so argmin's first-minimum rule IS the
    (l2, id) struct-min tie rule of the join formulations."""
    return _sq_dists(X, C).argmin(axis=1)


def _probe_mask(Q, C, ids, nprobe):
    """(nq, n_lists) bool: each query's ``nprobe`` nearest coarse lists —
    row_number over (l2 asc, centroid_id asc) <= nprobe."""
    import numpy as np

    d2 = _sq_dists(Q, C)
    mask = np.zeros(d2.shape, dtype=bool)
    npb = min(nprobe, len(ids))
    for i in range(len(Q)):
        mask[i, np.lexsort((ids, d2[i]))[:npb]] = True
    return mask


def _corpus_topk_pass(
    corpus: DataFrame,
    qsrc: DataFrame,
    k: int,
    prepare,
    score,
    *,
    out_col: str = "dot",
    negate: bool = False,
    shard_rows: int = 65_536,
) -> DataFrame:
    """The one corpus pass under every exact and approximate top-k kernel.

    ``corpus`` and ``qsrc`` are (``__cid`` long, ``__xq`` array<long>)
    frames, quantized JVM-side. The query side is driver-collected, but
    gated by a count first (the ``dedup_apply`` pattern): above
    ``shard_rows`` queries it is processed in ``ceil(n_q / shard_rows)``
    deterministic id-sharded chunks (``pmod(id, n_shards)``). Each shard,
    sorted by id, is decoded to ``(qids, Q)`` and broadcast together with
    its family payload ``prepare(qids, Q)`` (probe mask, bucket mask, ADC
    tables, shortlist index). Per Arrow batch of the corpus,
    ``score(cid, X, payload)`` returns the (nq, nb) int64 score matrix —
    higher is better, pairs outside the family's candidate set already
    ``_NEG``; self matches are masked here and ``_np_partial_topk`` keeps
    the exact (score desc, id asc) partial winners. Ascending metrics
    return their negation and pass ``negate=True`` to flip it back under
    ``out_col``.

    Driver and executor memory never hold more than one shard's payload:
    every shard's partial result is materialized (eager localCheckpoint)
    before its broadcast is destroyed, so a long-lived session does not
    accumulate query-matrix copies either. Shards partition the query
    set, so the one global ``_merge_topk_partials`` over their union is
    the byte-exact union of per-shard exact answers. A shard with no
    queries, or whose ``prepare`` returns None (no candidate is possible:
    no coarse lists, an empty codebook), costs no corpus pass; with no
    shard left the result is the empty frame of the same schema.

    Crossover: a query set costs ``ceil(n_q / shard_rows)`` full corpus
    passes, and each Arrow batch (``maxRecordsPerBatch`` = 10,000 in
    ``session.get_spark``) builds a score matrix of up to
    ``shard_rows x 10,000`` int64 values — 65,536 x 10,000 x 8 B, about
    5.2 GB per task at the default. The float64 product inside
    ``_guarded_matmul`` roughly doubles that peak. Raising ``shard_rows``
    trades passes for per-task memory linearly; no gate bounds it yet.
    """
    import math

    import numpy as np
    import pandas as pd

    schema = "query_id long, neighbor_id long, dot long"
    n_q = qsrc.count()
    n_shards = max(1, math.ceil(n_q / shard_rows))
    sc = corpus.sparkSession.sparkContext

    def make_run(bc):
        def run(batches):
            qids, payload = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                cid = pdf["__cid"].to_numpy(np.int64)
                D = score(cid, _decode_vecs(pdf["__xq"]), payload)
                D[qids[:, None] == cid[None, :]] = _NEG  # never match self
                got = _np_partial_topk(D, qids, cid, k)
                if got is not None:
                    yield pd.DataFrame(
                        {"query_id": got[0], "neighbor_id": got[1], "dot": got[2]}
                    )

        return run

    parts = []
    for s in range(n_shards):
        shard = qsrc if n_shards == 1 else qsrc.filter(
            F.pmod(F.col("__cid"), F.lit(n_shards)) == s
        )
        q_pdf = shard.toPandas().sort_values("__cid", kind="stable")
        if not len(q_pdf):
            continue
        qids = q_pdf["__cid"].to_numpy(np.int64)
        payload = prepare(qids, _decode_vecs(q_pdf["__xq"]))
        if payload is None:
            continue
        bc = sc.broadcast((qids, payload))
        # materialize the <= k x partitions partial winners, then release
        # the shard's broadcast — nothing downstream re-reads it
        part = corpus.mapInPandas(make_run(bc), schema=schema).localCheckpoint(
            eager=True
        )
        bc.destroy()
        parts.append(part)
    if not parts:
        parts = [corpus.sparkSession.createDataFrame([], schema)]
    return _merge_topk_partials(parts, k, out_col=out_col, negate=negate)


def _ivf_topk_kernel(
    emb: DataFrame,
    cents: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
    shard_rows: int = 65_536,
    _corpus: DataFrame | None = None,
) -> DataFrame:
    """Executor kernel shared by the IVF rescores: ONE corpus pass per
    query shard. Coarse assignment (argmin quantized L2 against the
    broadcast codebook, ties to the smaller centroid id), the per-query
    probe mask, and the exact quantized-dot partial top-k all run in
    NumPy inside ``mapInPandas``; nothing shuffles but <= k x partitions
    partial winners into the global merge window.

    Byte-identical to the candidate-join formulation
    (``ivf_ann_topk_join``): same quantization, same
    (l2 asc, centroid_id asc) probe order, same (dot desc, id asc) total
    order — parity is pytest-pinned and the DuckDB oracle gates the
    registry entries. The join formulation shipped every
    (query, candidate) pair through two vector re-attach joins and a
    per-pair zip_with aggregate — with nprobe/n_centroids = 1/2 of the
    corpus that is a half cross join (218 s at sf1); here the same dots
    are one BLAS matmul per batch.

    ``cents``: (centroid_id, __cv array<long>) — already quantized.
    Queries (the % 50 == 0 fixture sample) go through the shared
    ``_corpus_topk_pass``, like ``topk_dot_kernel``.
    """
    import numpy as np

    from .spread import scan_spread

    c_pdf = cents.toPandas().sort_values("centroid_id", kind="stable")
    cent_ids = c_pdf["centroid_id"].to_numpy(np.int64)
    C = _decode_vecs(c_pdf["__cv"])
    corpus = _corpus if _corpus is not None else scan_spread(
        _cid_vecs(emb, id_col, vec_col)
    )

    def prepare(qids, Q):
        if not len(C):
            return None  # no coarse lists -> no probes -> no candidates
        return Q, _probe_mask(Q, C, cent_ids, nprobe)

    def score(cid, X, payload):
        Q, mask = payload
        D = _guarded_matmul(Q, X)
        D[~mask[:, _nearest_list(X, C)]] = _NEG
        return D

    return _corpus_topk_pass(
        corpus, corpus.filter(F.col("__cid") % 50 == 0), k, prepare, score,
        shard_rows=shard_rows,
    )


def ivf_ann_topk(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: queries probe their ``nprobe`` nearest coarse lists and
    rescore candidates with the exact quantized dot (the other classic ANN
    scale path next to sign-LSH; candidates bounded by the probed lists'
    occupancy). Deterministic end to end -> exact DuckDB oracle.

    Executes as the masked ``_ivf_topk_kernel`` corpus pass (r8: the
    candidate-join formulation, kept as ``ivf_ann_topk_join`` and pinned
    byte-identical in pytest, shipped every (query, candidate) pair
    through two vector joins — quadratic in probed-list occupancy)."""
    cents = _quantized_vecs(
        emb.filter(F.col(id_col) < n_centroids), id_col, vec_col, "__cv"
    ).withColumnRenamed(id_col, "centroid_id")
    return _ivf_topk_kernel(emb, cents, k, nprobe, id_col, vec_col)


def ivf_ann_topk_join(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Candidate-join formulation of ``ivf_ann_topk`` — the oracle-shaped
    reference the kernel is parity-tested against (not a query path)."""
    assigned = ivf_assign(emb, n_centroids, id_col, vec_col)
    cents = emb.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("__cv")
    )
    q = emb.filter(F.col(id_col) % 50 == 0).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    l2q = F.aggregate(
        F.zip_with(
            "__qv", "__cv", lambda a, b: (_quantize(a) - _quantize(b)) * (_quantize(a) - _quantize(b))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("__d").asc(), F.col("centroid_id").asc())
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("__d", l2q)
        .withColumn("__pr", F.row_number().over(wp))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "centroid_id")
    )
    cand = (
        probes.join(assigned.select(id_col, "centroid_id"), "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"))
    )
    qv = emb.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qe"))
    nv = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__ne"))
    dot = F.aggregate(
        F.zip_with("__qe", "__ne", lambda a, b: _quantize(a) * _quantize(b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("neighbor_id").asc())
    return (
        cand.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .withColumn("dot", dot)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot")
    )


def _quantized_vecs(emb: DataFrame, id_col: str, vec_col: str, out: str) -> DataFrame:
    """(id, out: array<long>): whole vector scalar-quantized JVM-side."""
    return emb.select(
        F.col(id_col), F.transform(F.col(vec_col), lambda x: _quantize(x)).alias(out)
    )


def _cid_vecs(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(__cid, __xq): the quantized corpus/query frame the corpus passes
    and Lloyd rounds read."""
    return _quantized_vecs(emb, id_col, vec_col, "__xq").select(
        F.col(id_col).alias("__cid"), "__xq"
    )


def _assign_to(vecs: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """(id, centroid_id): argmin quantized L2 against a broadcast centroid
    table (cents: centroid_id, __cv array<long>), ties to smaller id."""
    l2 = F.aggregate(
        F.zip_with("__xq", "__cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        vecs.crossJoin(F.broadcast(cents))
        .withColumn("__d", l2)
        .groupBy(id_col)
        .agg(F.min(F.struct(F.col("__d"), F.col("centroid_id"))).alias("__m"))
        .select(id_col, F.col("__m.centroid_id").alias("centroid_id"))
    )


def ivf_train_lloyd(
    emb: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _corpus: DataFrame | None = None,
) -> DataFrame:
    """IVF coarse 'training': ``iters`` Lloyd rounds in pure integer
    arithmetic from the deterministic smallest-id seeds. Each round
    reassigns every vector to its nearest centroid (quantized L2, ties to
    the smaller centroid id) and recomputes centroids as the per-dimension
    truncated integer mean (``div`` — DuckDB ``//`` matches Spark's
    toward-zero truncation on negatives, verified). Deterministic end to
    end -> the oracle unrolls the identical rounds in SQL; no
    engine-dependent float fixpoint. Lists that lose all members vanish
    (both engines drop them identically via the inner join).

    Returns (centroid_id, __cv array<long>). Executes as the shared
    ``_lloyd_rounds`` corpus-pass kernel (r8, the m=1 case of the PQ
    training): one pass per round with map-side partial sums instead of
    the assignment join -> re-attach join -> posexplode aggregate chain
    (~10 shuffle stages per round); the join formulation survives as
    ``ivf_train_lloyd_join``, pytest-pinned byte-identical."""
    import numpy as np

    from .spread import scan_spread

    spark = emb.sparkSession
    corpus = _corpus if _corpus is not None else scan_spread(
        _cid_vecs(emb, id_col, vec_col)
    ).localCheckpoint(eager=True)
    seeds_pdf = (
        corpus.filter(F.col("__cid") < n_centroids)
        .toPandas()
        .sort_values("__cid", kind="stable")
    )
    codes0 = seeds_pdf["__cid"].to_numpy(np.int64)
    if not len(codes0):
        return spark.createDataFrame([], "centroid_id long, __cv array<long>")
    S0 = _decode_vecs(seeds_pdf["__xq"])
    dim = S0.shape[1]
    books = _lloyd_rounds(corpus, {0: (codes0, S0)}, iters, dim)
    rows = [
        (int(code), [int(v) for v in C[j]])
        for s in sorted(books)
        for j, code in enumerate(books[s][0])
        for C in [books[s][1]]
    ]
    return spark.createDataFrame(rows, "centroid_id long, __cv array<long>")


def ivf_train_lloyd_join(
    emb: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Join formulation of ``ivf_train_lloyd`` — the oracle-shaped
    reference the corpus-pass kernel is parity-tested against."""
    vecs = _quantized_vecs(emb, id_col, vec_col, "__xq")
    cents = emb.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"),
        F.transform(F.col(vec_col), lambda x: _quantize(x)).alias("__cv"),
    )
    for _ in range(iters):
        assigned = _assign_to(vecs, cents, id_col)
        comp = (
            assigned.join(vecs, id_col)
            .select("centroid_id", F.posexplode("__xq").alias("d", "xq"))
            .groupBy("centroid_id", "d")
            .agg(F.sum("xq").alias("__s"), F.count(F.lit(1)).alias("__c"))
            .withColumn("cq", F.expr("CAST(div(__s, __c) AS BIGINT)"))
        )
        cents = comp.groupBy("centroid_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "cq"))), lambda s: s["cq"]
            ).alias("__cv")
        )
    return cents


def ivf_lloyd_ann_topk(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN over Lloyd-refined coarse lists: with centroids that
    actually track the data, the same nprobe buys more recall per scanned
    candidate than seed-vector lists (the VERDICT-flagged weakness of the
    seed-only variant). Probing, assignment and the exact quantized-dot
    rescore run in the shared masked ``_ivf_topk_kernel`` (r8; the join
    formulation survives as ``ivf_lloyd_ann_topk_join`` for parity)."""
    from .spread import scan_spread

    corpus = scan_spread(_cid_vecs(emb, id_col, vec_col)).localCheckpoint(eager=True)
    cents = ivf_train_lloyd(
        emb, n_centroids, iters, id_col, vec_col, _corpus=corpus
    )
    return _ivf_topk_kernel(
        emb, cents, k, nprobe, id_col, vec_col, _corpus=corpus
    )


def ivf_lloyd_ann_topk_join(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Candidate-join formulation of ``ivf_lloyd_ann_topk`` — the
    parity-test reference (not a query path; uses the join training so
    the topk parity pin covers training parity transitively)."""
    cents = ivf_train_lloyd_join(emb, n_centroids, iters, id_col, vec_col)
    vecs = _quantized_vecs(emb, id_col, vec_col, "__xq")
    assigned = _assign_to(vecs, cents, id_col)
    l2 = F.aggregate(
        F.zip_with("__xq", "__cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("__d").asc(), F.col("centroid_id").asc()
    )
    probes = (
        vecs.filter(F.col(id_col) % 50 == 0)
        .select(F.col(id_col).alias("query_id"), "__xq")
        .crossJoin(F.broadcast(cents))
        .withColumn("__d", l2)
        .withColumn("__pr", F.row_number().over(wp))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "centroid_id")
    )
    cand = (
        probes.join(assigned.select(id_col, "centroid_id"), "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"))
    )
    qv = emb.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qe"))
    nv = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__ne"))
    dot = F.aggregate(
        F.zip_with("__qe", "__ne", lambda a, b: _quantize(a) * _quantize(b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .withColumn("dot", dot)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot")
    )


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold_q: int = 320_000,
    n_tables: int = 4,
    n_bits: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel_buckets: bool | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: (a < b, quantized dot >= threshold)
    restricted to pairs sharing at least one LSH bucket — the candidate
    restriction IS the operator's deterministic spec (mirrored by the
    oracle), which is how near-dup dedup runs at scale: the bucket join
    bounds pair generation, the integer-dot rescore is exact.

    threshold_q is in quantized units: unit-norm embeddings x1000 make a
    dot of 1e6 ~= cosine 1.0, so 320_000 ~= cos 0.32.
    """
    keyed = _buckets_keyed(emb, n_tables, n_bits, dim, id_col, vec_col, kernel_buckets)
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("vec_a"), F.col(f"b.{id_col}").alias("vec_b")
        )
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("__ea"))
    vb = emb.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("__eb"))
    dot = F.aggregate(
        F.zip_with("__ea", "__eb", lambda x, y: _quantize(x) * _quantize(y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("dot", dot)
        .filter(F.col("dot") >= threshold_q)
        .select("vec_a", "vec_b", "dot")
    )


def _lsh_topk_kernel(
    emb: DataFrame,
    queries: DataFrame | None,
    k: int,
    n_tables: int,
    n_bits: int,
    probe_radius: int,
    dim: int,
    id_col: str,
    vec_col: str,
    shard_rows: int = 65_536,
) -> DataFrame:
    """Executor kernel for the multi-probe sign-LSH top-k: ONE corpus
    pass per query shard. Corpus bucket codes (the
    ``sign_lsh_buckets_kernel`` matmul, parity-pinned vs the expression
    form), the per-query (table, probed-bucket) membership mask and the
    exact quantized-dot partial top-k all run in NumPy inside
    ``mapInPandas``. A (query, corpus) pair is valid iff SOME table's
    corpus bucket is within Hamming ``probe_radius`` of the query's
    bucket — exactly the candidate set of the (table, bucket) join +
    distinct in ``ann_lsh_topk_join``, without materializing it. On the
    uniform fixture that candidate set approaches |Q| x |corpus| (the
    LSH worst case), which is why the join + two vector re-attaches grew
    superlinearly; the masked matmul pays the same dots at BLAS speed
    and shuffles only <= k x partitions partial winners."""
    import numpy as np

    S = np.array(
        [
            [lsh_sign(t, b, d) for d in range(dim)]
            for t in range(n_tables)
            for b in range(n_bits)
        ],
        dtype=np.int64,
    )
    pw = 1 << np.arange(n_bits, dtype=np.int64)
    pmasks = np.array(probe_masks(n_bits, probe_radius), dtype=np.int64)
    n_buckets = 1 << n_bits

    def buckets(M):
        # bit b of table t = [<x_q, r_tb> > 0] — the sign_lsh_buckets
        # contract, byte-identical (test_round4_fixes parity)
        G = _guarded_matmul(M, S)
        bits = (G > 0).astype(np.int64).reshape(len(M), n_tables, n_bits)
        return (bits * pw[None, None, :]).sum(axis=2)

    corpus = _cid_vecs(emb, id_col, vec_col)
    if queries is None:
        qsrc = corpus.filter(F.col("__cid") % 50 == 0)
    else:
        qsrc = _cid_vecs(queries, id_col, vec_col)

    def prepare(qids, Q):
        # (nq, T, n_buckets): the query's probed buckets per table
        qb = buckets(Q)
        mask = np.zeros((len(qids), n_tables, n_buckets), dtype=bool)
        rows = np.arange(len(qids))
        for m in pmasks:
            for t in range(n_tables):
                mask[rows, t, qb[:, t] ^ m] = True
        return Q, mask

    def score(cid, X, payload):
        Q, mask = payload
        code = buckets(X)  # (nb, T)
        valid = np.zeros((len(Q), len(cid)), dtype=bool)
        for t in range(n_tables):
            valid |= mask[:, t, code[:, t]]
        D = _guarded_matmul(Q, X)
        D[~valid] = _NEG
        return D

    return _corpus_topk_pass(corpus, qsrc, k, prepare, score, shard_rows=shard_rows)


def ann_lsh_topk(
    emb: DataFrame,
    k: int = 5,
    n_tables: int = 4,
    n_bits: int = 6,
    probe_radius: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    queries: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: multi-table multi-probe sign-LSH candidates,
    exact quantized-dot rescore (same kernel/quantization as ``topk_dot``
    so recall is measured apples-to-apples).

    Executes as the masked ``_lsh_topk_kernel`` corpus pass (r8), whose
    in-task bucket codes are the ``sign_lsh_buckets_kernel`` matmul
    (bucket parity with the expression form is pinned in
    test_round4_fixes; the join formulation survives as
    ``ann_lsh_topk_join`` and the result is pinned byte-identical)."""
    return _lsh_topk_kernel(
        emb, queries, k, n_tables, n_bits, probe_radius, dim, id_col, vec_col
    )


def ann_lsh_topk_join(
    emb: DataFrame,
    k: int = 5,
    n_tables: int = 4,
    n_bits: int = 6,
    probe_radius: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    queries: DataFrame | None = None,
    kernel_buckets: bool | None = None,
) -> DataFrame:
    """Candidate-join formulation of ``ann_lsh_topk`` — the oracle-shaped
    parity-test reference (not a query path).

    Scale path: candidates are bounded by (tables x probes x bucket
    occupancy); the only shuffles are the (table, bucket) candidate join
    and the id-keyed vector re-attach. On clustered real-world embeddings
    the candidate fraction drops exponentially with n_bits; the uniform
    fixture is the worst case (documented in BENCH notes) — the default
    (4 tables, 6 bits, radius 2) holds recall@5 >= 0.95 there.

    ``kernel_buckets`` picks the bucket implementation (None = auto by
    dim, see ``_buckets_keyed``): expression buckets stay JVM-codegen at
    dim<=128; the broadcast-matrix kernel keeps planning O(1) in dim.
    """
    keyed = _buckets_keyed(emb, n_tables, n_bits, dim, id_col, vec_col, kernel_buckets)
    if queries is None:
        q = keyed.filter(F.col(id_col) % 50 == 0)
    else:
        q = _buckets_keyed(
            queries, n_tables, n_bits, dim, id_col, vec_col, kernel_buckets
        )
    probes = q.select(
        F.col(id_col).alias("query_id"),
        "table",
        F.explode(
            F.array(*[F.lit(m) for m in probe_masks(n_bits, probe_radius)])
        ).alias("mask"),
        F.col("bucket").alias("qbucket"),
    ).select(
        "query_id", "table", F.col("qbucket").bitwiseXOR(F.col("mask")).alias("bucket")
    )
    # candidate id pairs, deduped across tables/probes BEFORE the vector
    # re-attach (distinct on two ids, never on arrays)
    cand = (
        probes.join(keyed, ["table", "bucket"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"))
        .distinct()
    )
    qvec = (queries if queries is not None else emb).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qe")
    )
    nvec = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__ne"))
    dot = F.aggregate(
        F.zip_with("__qe", "__ne", lambda a, b: _quantize(a) * _quantize(b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.join(qvec, "query_id")
        .join(nvec, "neighbor_id")
        .withColumn("dot", dot)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot")
    )


def embedding_contamination(
    train: DataFrame,
    eval_vecs: DataFrame,
    threshold_q: int = 320_000,
    n_tables: int = 4,
    n_bits: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kernel_buckets: bool | None = None,
) -> DataFrame:
    """Embedding-space decontamination: per eval vector, how many TRAIN
    vectors exceed ``threshold_q`` quantized cosine similarity — the
    semantic leak check that catches paraphrased/near-duplicate eval
    items exact n-gram matching misses. Candidates are restricted to
    shared sign-LSH buckets across the two corpora (the deterministic
    spec, mirrored by the oracle) and rescored with the exact integer
    dot. Returns (id, n_train_neardups, max_dot, contaminated) for EVERY
    eval vector, zero-filled (max_dot null when clean)."""
    tr = _buckets_keyed(
        train, n_tables, n_bits, dim, id_col, vec_col, kernel_buckets
    ).select(F.col(id_col).alias("tr_id"), "table", "bucket")
    ev = _buckets_keyed(
        eval_vecs, n_tables, n_bits, dim, id_col, vec_col, kernel_buckets
    ).select(F.col(id_col).alias("ev_id"), "table", "bucket")
    cand = ev.join(tr, ["table", "bucket"]).select("ev_id", "tr_id").distinct()
    va = eval_vecs.select(F.col(id_col).alias("ev_id"), F.col(vec_col).alias("__ea"))
    vb = train.select(F.col(id_col).alias("tr_id"), F.col(vec_col).alias("__eb"))
    dot = F.aggregate(
        F.zip_with("__ea", "__eb", lambda x, y: _quantize(x) * _quantize(y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    hits = (
        cand.join(va, "ev_id")
        .join(vb, "tr_id")
        .withColumn("dot", dot)
        .filter(F.col("dot") >= threshold_q)
        .groupBy("ev_id")
        .agg(
            F.count(F.lit(1)).alias("n_train_neardups"),
            F.max("dot").alias("max_dot"),
        )
    )
    return (
        eval_vecs.select(F.col(id_col).alias("ev_id"))
        .distinct()
        .join(hits, "ev_id", "left")
        .select(
            F.col("ev_id").alias(id_col),
            F.coalesce("n_train_neardups", F.lit(0)).alias("n_train_neardups"),
            "max_dot",
            (F.coalesce("n_train_neardups", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


def _subvectors(
    emb: DataFrame, m: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, s, __sv array<long>): the vector scalar-quantized and split
    into ``m`` contiguous subspaces (one row per subspace). The dimension
    is read from one row (metadata-scale driver action, same counted
    pattern as the kNN stats); slicing happens JVM-side."""
    first = emb.select(vec_col).first()
    if first is None:
        raise ValueError("pq: empty embedding table")
    dim = len(first[0])
    if m < 1 or dim % m:
        raise ValueError(f"pq: m={m} must divide dim={dim}")
    sd = dim // m
    q = _quantized_vecs(emb, id_col, vec_col, "__xq")
    return q.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.slice("__xq", s * sd + 1, sd) for s in range(m)])
        ).alias("s", "__sv"),
    )


def _pq_assign(sub: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """(id, s, code): per-subspace argmin quantized L2 against the
    broadcast codebook (ties to the smaller code — struct-min order)."""
    l2 = F.aggregate(
        F.zip_with("__sv", "__cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        sub.join(F.broadcast(cents), "s")
        .withColumn("__d", l2)
        .groupBy(id_col, "s")
        .agg(F.min(F.struct(F.col("__d"), F.col("code"))).alias("__m"))
        .select(id_col, "s", F.col("__m.code").alias("code"))
    )


def _lloyd_rounds(corpus, books: dict, iters: int, sd: int) -> dict:
    """Shared integer Lloyd refinement over per-subspace codebooks
    (``{s: (codes sorted asc, C (ks, sd) int64)}``): each round is ONE
    corpus pass — in-task NumPy argmin assignment against the broadcast
    books plus map-side partial (s, code, ds) sums — and only
    partitions x m x k x sd partial rows (metadata-scale) reach the
    driver, where the exact truncated integer means are combined.
    IVF coarse training is the m=1 case (sd = full dim)."""
    import numpy as np
    import pandas as pd

    sc = corpus.sparkSession.sparkContext

    def make_run(bc):
        def run(batches):
            bks = bc.value
            acc = {
                s: (
                    np.zeros((len(cs), C.shape[1]), dtype=np.int64),
                    np.zeros(len(cs), dtype=np.int64),
                )
                for s, (cs, C) in bks.items()
            }
            for pdf in batches:
                if not len(pdf):
                    continue
                X = _decode_vecs(pdf["__xq"])
                for s, (cs, C) in bks.items():
                    Xs = X[:, s * sd:(s + 1) * sd]
                    idx = _nearest_list(Xs, C)
                    t, c = acc[s]
                    np.add.at(t, idx, Xs)
                    np.add.at(c, idx, 1)
            rows = []
            for s, (cs, _C) in bks.items():
                t, c = acc[s]
                for j in np.flatnonzero(c):
                    for ds_i in range(t.shape[1]):
                        rows.append((s, int(cs[j]), ds_i, int(t[j, ds_i]), int(c[j])))
            yield pd.DataFrame(
                rows, columns=["s", "code", "ds", "t", "c"]
            ) if rows else pd.DataFrame(
                {"s": [], "code": [], "ds": [], "t": [], "c": []}
            ).astype({"s": "int32", "code": "int64", "ds": "int32",
                      "t": "int64", "c": "int64"})

        return run

    for _ in range(iters):
        if not books:
            break
        bc = sc.broadcast(books)
        partial = corpus.mapInPandas(
            make_run(bc), schema="s int, code long, ds int, t long, c long"
        ).toPandas()
        bc.destroy()
        agg = partial.groupby(["s", "code", "ds"], sort=True)[["t", "c"]].sum()
        new_books: dict = {}
        for s in sorted({ix[0] for ix in agg.index}):
            g = agg.loc[s]
            codes_s = np.array(sorted({ix[0] for ix in g.index}), dtype=np.int64)
            C_s = np.zeros((len(codes_s), sd), dtype=np.int64)
            for j, code in enumerate(codes_s):
                gc = g.loc[code]
                t = gc["t"].to_numpy(np.int64)
                c = gc["c"].to_numpy(np.int64)
                # Spark/DuckDB div truncates toward zero; numpy // floors
                q = np.abs(t) // c
                C_s[j] = np.where(t < 0, -q, q)
            new_books[int(s)] = (codes_s, C_s)
        books = new_books
    return books


def pq_train(
    emb: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _corpus: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization codebooks: per subspace ``s``, ``k_codes``
    centroids refined by ``iters`` integer Lloyd rounds from the
    deterministic smallest-id seeds — the PQ analogue of
    ``ivf_train_lloyd`` and deterministic end to end for the same reason
    (truncated integer means, ties to the smaller code; the oracle
    unrolls identical rounds in SQL). Returns (s, code, __cv array<long>).

    Scale shape (r8): each round is ONE corpus pass — in-task NumPy
    assignment against the broadcast codebook plus map-side partial
    (s, code, ds) sums, so only partitions x m x k_codes x (dim/m)
    partial rows (metadata-scale) ever reach the driver, where the exact
    integer means are combined. The join formulation (broadcast assign
    join -> re-attach join -> posexplode aggregate, ~10 shuffle stages
    per round on what is always a tiny aggregate) survives as
    ``pq_train_join``, pytest-pinned byte-identical."""
    import numpy as np

    from .spread import scan_spread

    first = emb.select(vec_col).first()
    if first is None:
        raise ValueError("pq: empty embedding table")
    dim = len(first[0])
    if m < 1 or dim % m:
        raise ValueError(f"pq: m={m} must divide dim={dim}")
    sd = dim // m
    spark = emb.sparkSession
    corpus = _corpus if _corpus is not None else scan_spread(
        _cid_vecs(emb, id_col, vec_col)
    ).localCheckpoint(eager=True)
    seeds_pdf = (
        corpus.filter(F.col("__cid") < k_codes)
        .toPandas()
        .sort_values("__cid", kind="stable")
    )
    codes0 = seeds_pdf["__cid"].to_numpy(np.int64)
    S0 = _decode_vecs(seeds_pdf["__xq"])
    # {s: (codes sorted asc, C (ks, sd))} — code == seed id, so the
    # code-ascending row order encodes the (distance, code) tie rule
    books = (
        {s: (codes0, S0[:, s * sd:(s + 1) * sd]) for s in range(m)}
        if len(codes0)
        else {}
    )
    books = _lloyd_rounds(corpus, books, iters, sd)

    rows = [
        (int(s), int(code), [int(v) for v in C[j]])
        for s in sorted(books)
        for j, code in enumerate(books[s][0])
        for C in [books[s][1]]
    ]
    return spark.createDataFrame(rows, "s int, code long, __cv array<long>")


def pq_train_join(
    emb: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _sub: DataFrame | None = None,
) -> DataFrame:
    """Join formulation of ``pq_train`` — the oracle-shaped reference the
    corpus-pass kernel is parity-tested against (not a query path)."""
    sub = _sub if _sub is not None else _subvectors(emb, m, id_col, vec_col)
    cents = sub.filter(F.col(id_col) < k_codes).select(
        "s", F.col(id_col).alias("code"), F.col("__sv").alias("__cv")
    )
    for _ in range(iters):
        a = _pq_assign(sub, cents, id_col)
        comp = (
            a.join(sub, [id_col, "s"])
            .select("s", "code", F.posexplode("__sv").alias("ds", "xq"))
            .groupBy("s", "code", "ds")
            .agg(F.sum("xq").alias("__t"), F.count(F.lit(1)).alias("__c"))
            .withColumn("cq", F.expr("CAST(div(__t, __c) AS BIGINT)"))
        )
        cents = comp.groupBy("s", "code").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ds", "cq"))), lambda x: x["cq"]
            ).alias("__cv")
        ).localCheckpoint(eager=True)
    return cents


def _pq_artifacts(
    emb: DataFrame,
    m: int,
    k_codes: int,
    iters: int,
    id_col: str,
    vec_col: str,
    need_codes: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """(sub, codebook, codes) computed ONCE and threaded through every PQ
    entry point. Each public fn used to re-derive _subvectors (a
    driver-side .first() per call) and re-run pq_train from scratch, so
    the training lineage was recomputed several times per query.

    ``need_codes=False`` skips materializing the subvector frame and the
    corpus code table entirely and instead returns
    ``(corpus, cents, None)`` — the spread + checkpointed quantized
    corpus (``__cid``, ``__xq``) that training just scanned, so the ADC
    kernels and the rescore pass reuse ONE materialization instead of
    re-deriving (and re-spreading) the corpus per stage. The ADC kernels
    re-derive each batch's codes in-task from those quantized vectors
    (byte-identical argmin); only ``pq_encode`` and the join reference
    formulations still pay the subvector explode + assignment pass."""
    from .spread import scan_spread

    corpus = scan_spread(_cid_vecs(emb, id_col, vec_col)).localCheckpoint(eager=True)
    # the codebook lands driver-side from pq_train's corpus-pass rounds
    # (m x k rows, already materialized as a local-data frame)
    cents = pq_train(emb, m, k_codes, iters, id_col, vec_col, _corpus=corpus)
    if not need_codes:
        return corpus, cents, None
    # the sub frame is re-read by the code assignment; spread the
    # single-row-group fixture scan to the session parallelism and pin
    # it (n x m narrow rows)
    sub = scan_spread(_subvectors(emb, m, id_col, vec_col)).localCheckpoint(
        eager=True
    )
    codes = _pq_assign(sub, cents, id_col).localCheckpoint(eager=True)
    return sub, cents, codes


def _pq_books(cents: DataFrame) -> dict:
    """Driver-side per-subspace codebooks from a (s, code, __cv) frame:
    ``{s: (codes sorted asc (ks,), C (ks, sd) int64)}`` — m x k_codes
    rows, always metadata-scale. Code-ascending row order makes NumPy's
    first-minimum ``argmin`` the exact ``_pq_assign`` (distance, code)
    struct-min tie rule."""
    import numpy as np

    pdf = cents.toPandas().sort_values(["s", "code"], kind="stable")
    books = {}
    for s, g in pdf.groupby("s", sort=True):
        books[int(s)] = (
            g["code"].to_numpy(np.int64),
            _decode_vecs(g["__cv"]),
        )
    return books


def _adc_lut(books: dict, Q, sd: int) -> dict:
    """Per-subspace ADC lookup tables for a query matrix: ``{s: (nq, ks)
    exact integer L2 of the query subvector vs every codebook entry}`` —
    the same values as the broadcast ``qd`` frame of the join
    formulation, computed once per query shard."""
    return {
        s: _sq_dists(Q[:, s * sd:(s + 1) * sd], C)
        for s, (_codes, C) in books.items()
    }


def _pq_adc_topk_kernel(
    emb: DataFrame,
    pq_cents: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    coarse_cents: DataFrame | None = None,
    nprobe: int | None = None,
    shard_rows: int = 65_536,
    _corpus: DataFrame | None = None,
) -> DataFrame:
    """Executor kernel shared by the PQ ADC scans (``pq_ann_topk`` and,
    with ``coarse_cents``/``nprobe``, ``ivf_pq_ann_topk``): ONE corpus
    pass per query shard. Per batch the corpus vectors' PQ codes are
    re-derived in NumPy (per-subspace argmin against the broadcast
    codebook — byte-identical to ``_pq_assign``), ADC distances come
    from ``m`` lookups into the shard's precomputed query tables, the
    optional IVF probe mask zeroes out non-probed lists, and the partial
    top-k under (adc asc, neighbor asc) rides the shared negated-metric
    machinery. Nothing shuffles but <= k x partitions partial winners.

    The join formulation shipped every corpus code row against every
    query's lookup row (|corpus| x m x |queries| joined rows — 64 M at
    sf1 before the aggregate); here the same sums are ``m`` fancy-indexed
    adds per batch. Parity with the ``*_join`` references is
    pytest-pinned and the DuckDB oracle gates the registry entries."""
    import numpy as np

    from .spread import scan_spread

    books = _pq_books(pq_cents)
    sd = next(iter(books.values()))[1].shape[1] if books else 0
    C_coarse = None
    if coarse_cents is not None:
        c_pdf = coarse_cents.toPandas().sort_values("centroid_id", kind="stable")
        coarse_ids = c_pdf["centroid_id"].to_numpy(np.int64)
        C_coarse = _decode_vecs(c_pdf["__cv"])
    corpus = _corpus if _corpus is not None else scan_spread(
        _cid_vecs(emb, id_col, vec_col)
    )

    def prepare(qids, Q):
        # an empty codebook (no seed ids below k_codes) empties the join
        # form's qd frame, and no coarse lists means no probes: either
        # way there is no candidate
        if not books or (C_coarse is not None and not len(C_coarse)):
            return None
        mask = None if C_coarse is None else _probe_mask(
            Q, C_coarse, coarse_ids, nprobe
        )
        return _adc_lut(books, Q, sd), mask

    def score(cid, X, payload):
        lut, mask = payload
        D = -sum(
            lut[s][:, _nearest_list(X[:, s * sd:(s + 1) * sd], C)]
            for s, (_codes, C) in books.items()
        )
        if mask is not None:
            D[~mask[:, _nearest_list(X, C_coarse)]] = _NEG
        return D

    return _corpus_topk_pass(
        corpus, corpus.filter(F.col("__cid") % 50 == 0), k, prepare, score,
        out_col="adc", negate=True, shard_rows=shard_rows,
    )


def _rescore_shortlist_kernel(
    emb: DataFrame,
    short: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    out_col: str = "dot",
    _corpus: DataFrame | None = None,
) -> DataFrame:
    """Exact quantized-dot re-ranking of a per-query shortlist via ONE
    corpus pass: the (query_id, neighbor_id) shortlist (|queries| x
    shortlist rows — always bounded) and the query vectors ride the
    shared ``_corpus_topk_pass`` broadcast; each batch computes the dot
    matrix masked to the shortlist pairs. Replaces the two vector
    re-attach joins + per-pair zip_with aggregate of the join
    formulation — same values, no corpus shuffle. Shortlists never hold
    the query itself, so the pass's self mask removes nothing here."""
    import numpy as np

    from .spread import scan_spread

    pairs = short.select("query_id", "neighbor_id").toPandas()
    pair_q = pairs["query_id"].to_numpy(np.int64)
    pair_n = pairs["neighbor_id"].to_numpy(np.int64)
    corpus = _corpus if _corpus is not None else scan_spread(
        _cid_vecs(emb, id_col, vec_col)
    )
    qsrc = corpus.filter(F.col("__cid").isin(sorted({int(q) for q in pair_q})))

    def prepare(qids, Q):
        # the shard's shortlist as (query row, neighbor id) pairs
        keep = np.isin(pair_q, qids)
        return Q, np.searchsorted(qids, pair_q[keep]), pair_n[keep]

    def score(cid, X, payload):
        Q, rows, nbrs = payload
        # batch column of each shortlisted neighbor (corpus ids are unique)
        order = np.argsort(cid)
        col = order[np.searchsorted(cid, nbrs, sorter=order).clip(max=len(cid) - 1)]
        hit = cid[col] == nbrs
        valid = np.zeros((len(Q), len(cid)), dtype=bool)
        valid[rows[hit], col[hit]] = True
        D = _guarded_matmul(Q, X)
        D[~valid] = _NEG
        return D

    return _corpus_topk_pass(corpus, qsrc, k, prepare, score, out_col=out_col)


def pq_encode(
    emb: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ compression: every vector reduced to ``m`` codebook codes —
    (vec_id, s, code), m rows per vector. With m=8, k=16 a 64-float
    embedding becomes 8 nibbles: the 64x memory cut that makes
    billion-scale ANN fit executor memory. Codes are what downstream ADC
    scans shuffle — never the vectors."""
    return _pq_artifacts(emb, m, k_codes, iters, id_col, vec_col)[2]


def pq_ann_topk(
    emb: DataFrame,
    k: int = 5,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _artifacts: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ top-k: queries (the % 50 == 0 fixture
    sample) precompute one exact L2 table against every codebook entry
    (nq x m x k_codes ints — broadcast), then every database vector's
    distance is m TABLE LOOKUPS summed over its codes, never a
    dim-length dot. Returns (query_id, neighbor_id, rank, adc) ranked by
    ADC distance ascending, neighbor id ascending.

    This is the classic IVF-PQ leaf scan shape (Jégou et al., TPAMI
    2011): at 100 TB the codes table is the only thing scanned, the
    lookup tables ride the broadcast, and the aggregate is map-side
    partial — no full-dimension vectors move after encoding.

    Executes as the ``_pq_adc_topk_kernel`` corpus pass (r8): the join
    formulation (kept as ``pq_ann_topk_join``, pytest-pinned
    byte-identical) shipped |corpus| x m x |queries| joined rows into
    the ADC aggregate — 64 M rows at sf1 for a 20k-vector corpus."""
    corpus, cents, _codes = _artifacts or _pq_artifacts(
        emb, m, k_codes, iters, id_col, vec_col, need_codes=False
    )
    return _pq_adc_topk_kernel(emb, cents, k, id_col, vec_col, _corpus=corpus)


def pq_ann_topk_join(
    emb: DataFrame,
    k: int = 5,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _artifacts: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Broadcast-join formulation of ``pq_ann_topk`` — the oracle-shaped
    reference the kernel is parity-tested against (not a query path)."""
    sub, cents, codes = _artifacts or _pq_artifacts(
        emb, m, k_codes, iters, id_col, vec_col
    )

    l2 = F.aggregate(
        F.zip_with("__sv", "__cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    qd = (
        sub.filter(F.col(id_col) % 50 == 0)
        .select(F.col(id_col).alias("query_id"), "s", "__sv")
        .join(F.broadcast(cents), "s")
        .select("query_id", "s", "code", l2.alias("qd"))
    )
    adc = (
        codes.join(F.broadcast(qd), ["s", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.sum("qd").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc")
    )


def pq_ann_rescored(
    emb: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _artifacts: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Two-stage PQ retrieval — the shape PQ is actually deployed in: the
    ADC scan produces a ``shortlist`` per query (cheap, codes-only), then
    ONLY the shortlist is rescored with the exact quantized dot product
    (full vectors touched for shortlist x queries rows, not the corpus).
    Returns (query_id, neighbor_id, rank, dot) — top-``k`` by exact dot.

    At 32 bits/vector pure ADC is deliberately lossy; rescoring restores
    recall while the corpus-sized pass still never moves a vector
    (measured in bench.py's ann family). Both stages execute as masked
    corpus-pass kernels (r8); the join formulation survives as
    ``pq_ann_rescored_join`` for parity."""
    arts = _artifacts or _pq_artifacts(
        emb, m, k_codes, iters, id_col, vec_col, need_codes=False
    )
    short = pq_ann_topk(
        emb, k=shortlist, m=m, k_codes=k_codes, iters=iters,
        id_col=id_col, vec_col=vec_col, _artifacts=arts,
    ).select("query_id", "neighbor_id")
    return _rescore_shortlist_kernel(
        emb, short, k, id_col, vec_col, _corpus=arts[0]
    )


def pq_ann_rescored_join(
    emb: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _artifacts: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Join formulation of ``pq_ann_rescored`` — the oracle-shaped
    reference the kernel pair is parity-tested against."""
    short = pq_ann_topk_join(
        emb, k=shortlist, m=m, k_codes=k_codes, iters=iters,
        id_col=id_col, vec_col=vec_col, _artifacts=_artifacts,
    ).select("query_id", "neighbor_id")
    qv = emb.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qe"))
    nv = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__ne"))
    dot = F.aggregate(
        F.zip_with("__qe", "__ne", lambda a, b: _quantize(a) * _quantize(b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        short.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .withColumn("dot", dot)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot")
    )


def _sq8_flat(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, d, xq): one row per dimension of the integer-quantized
    vector (the shared x1000 rounding every ANN family trains on)."""
    return _quantized_vecs(emb, id_col, vec_col, "__xq").select(
        F.col(id_col), F.posexplode("__xq").alias("d", "xq")
    )


def _sq8_stats(flat: DataFrame) -> DataFrame:
    """Per-dim (mn, span) trained on the corpus itself — dim-count rows,
    always broadcast. span floors at 1 so constant dims encode to 0."""
    return flat.groupBy("d").agg(
        F.min("xq").alias("mn"),
        F.greatest(F.max("xq") - F.min("xq"), F.lit(1).cast("long")).alias("span"),
    )


def sq8_encode(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Scalar quantization (SQ8) — the third classic ANN compression next
    to sign-LSH and PQ: every dimension compresses to ONE byte against
    per-dim [min, max] corpus statistics,
    ``code = ((xq - mn_d) * 255) div max(span_d, 1)`` (exact integer,
    codes in [0, 255] by construction). 4x memory cut with no codebook
    training — the standard faiss SQ8 baseline that often beats PQ on
    recall at equal bytes for low-dim embeddings.

    Plan: the stats are one dim-count aggregate (broadcast everywhere);
    encoding is a pure column expression after one posexplode — no
    iteration, no shuffle beyond the 64-row stats. Returns
    (vec_id, d, code)."""
    flat = _sq8_flat(emb, id_col, vec_col)
    stats = _sq8_stats(flat)
    return flat.join(F.broadcast(stats), "d").select(
        id_col,
        "d",
        (((F.col("xq") - F.col("mn")) * 255) / F.col("span"))
        .cast("long")
        .alias("code"),
    )


def sq8_ann_topk(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shard_rows: int = 65_536,
) -> DataFrame:
    """Asymmetric SQ8 ANN top-k: queries (the % 50 == 0 fixture sample,
    same as the PQ gates) keep their exact quantized values; database
    vectors are DEQUANTIZED from their byte codes
    (``dq = mn_d + (code * span_d) div 255``) and scored by integer L2.
    Returns (query_id, neighbor_id, rank, adist) ranked by approximate
    distance ascending, neighbor id ascending.

    Executes as ONE corpus pass per query shard (r8): the per-dim
    (mn, span) stats are a 64-row aggregate collected to the driver, the
    encode/decode round-trip and the exact integer L2 run as NumPy array
    ops per batch, and only <= k x partitions partial winners shuffle
    into the global merge. The per-dimension broadcast-join formulation
    (kept as ``sq8_ann_topk_join``, pytest-pinned) materialized
    |corpus| x |queries| x dim joined rows — 512 M at sf1. Integer
    divisions are floor-exact in both paths: operands are non-negative
    and quotients sit far from representable-double boundaries."""
    import numpy as np

    from .spread import scan_spread

    flat = _sq8_flat(emb, id_col, vec_col)
    stats_pdf = _sq8_stats(flat).toPandas().sort_values("d", kind="stable")
    d = stats_pdf["d"].to_numpy(np.int64)
    dim = int(d.max(initial=-1)) + 1
    mn = np.zeros(dim, dtype=np.int64)
    span = np.ones(dim, dtype=np.int64)
    mn[d] = stats_pdf["mn"].to_numpy(np.int64)
    span[d] = stats_pdf["span"].to_numpy(np.int64)
    corpus = scan_spread(_cid_vecs(emb, id_col, vec_col))

    def score(cid, X, Q):
        # encode -> decode round-trip, exactly the join form's
        # integer expressions (non-negative floor divisions)
        code = ((X - mn[None, :]) * 255) // span[None, :]
        dq = mn[None, :] + (code * span[None, :]) // 255
        return -_sq_dists(Q, dq)

    return _corpus_topk_pass(
        corpus, corpus.filter(F.col("__cid") % 50 == 0), k,
        lambda qids, Q: Q, score,
        out_col="adist", negate=True, shard_rows=shard_rows,
    )


def sq8_ann_topk_join(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension broadcast-join formulation of ``sq8_ann_topk`` —
    the oracle-shaped reference the kernel is parity-tested against."""
    flat = _sq8_flat(emb, id_col, vec_col)
    stats = _sq8_stats(flat)
    deq = (
        flat.join(F.broadcast(stats), "d")
        .select(
            F.col(id_col),
            "d",
            (
                F.col("mn")
                + (
                    (((F.col("xq") - F.col("mn")) * 255) / F.col("span"))
                    .cast("long")
                    * F.col("span")
                    / F.lit(255)
                ).cast("long")
            ).alias("dq"),
        )
    )
    q = flat.filter(F.col(id_col) % 50 == 0).select(
        F.col(id_col).alias("query_id"), "d", "xq"
    )
    dist = (
        deq.join(F.broadcast(q), "d")
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(
            F.sum(
                (F.col("xq") - F.col("dq")) * (F.col("xq") - F.col("dq"))
            ).alias("adist")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        dist.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adist")
    )


def ivf_pq_ann_topk(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 8,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _artifacts: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF-PQ — the billion-scale composite (Jégou et al., the faiss
    ``IVFxPQy`` default): queries probe their ``nprobe`` nearest coarse
    lists (bounding the candidate set by list occupancy, exactly as
    ``ivf_ann_topk``), and candidates are scored by PQ asymmetric
    distance (m table lookups against the query's precomputed L2 table,
    exactly as ``pq_ann_topk``) — never a full-dimension dot. Both
    trainings are the deterministic integer procedures the standalone
    gates already pin, so the composite stays oracle-exact.

    Scale shape: the probe decides WHERE to look (I/O bound — only
    nprobe/n_centroids of the codes table is touched; with the codes
    snapshot clustered by centroid_id the scan prunes by file stats),
    the ADC decides HOW CHEAPLY (CPU bound — 8 byte lookups per
    candidate). Returns (query_id, neighbor_id, rank, adc).

    Executes as the masked ``_pq_adc_topk_kernel`` corpus pass (r8):
    probe mask + in-task coarse assignment + ADC lookups, byte-identical
    to the candidate-join formulation (kept as
    ``ivf_pq_ann_topk_join``, pytest-pinned)."""
    corpus, cents, _codes = _artifacts or _pq_artifacts(
        emb, m, k_codes, iters, id_col, vec_col, need_codes=False
    )
    coarse = corpus.filter(F.col("__cid") < n_centroids).select(
        F.col("__cid").alias("centroid_id"), F.col("__xq").alias("__cv")
    )
    return _pq_adc_topk_kernel(
        emb, cents, k, id_col, vec_col, coarse_cents=coarse, nprobe=nprobe,
        _corpus=corpus,
    )


def ivf_pq_ann_topk_join(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 8,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _artifacts: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Candidate-join formulation of ``ivf_pq_ann_topk`` — the
    oracle-shaped reference the kernel is parity-tested against."""
    assigned = ivf_assign(emb, n_centroids, id_col, vec_col)
    cents = emb.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("__cv")
    )
    q = emb.filter(F.col(id_col) % 50 == 0).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    l2q = F.aggregate(
        F.zip_with(
            "__qv", "__cv",
            lambda a, b: (_quantize(a) - _quantize(b)) * (_quantize(a) - _quantize(b)),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("__d").asc(), F.col("centroid_id").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("__d", l2q)
        .withColumn("__pr", F.row_number().over(wp))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "centroid_id")
    )
    cand = (
        probes.join(assigned.select(id_col, "centroid_id"), "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"))
    )

    sub, pq_cents, codes_raw = _artifacts or _pq_artifacts(
        emb, m, k_codes, iters, id_col, vec_col
    )
    codes = codes_raw.select(F.col(id_col).alias("neighbor_id"), "s", "code")
    l2 = F.aggregate(
        F.zip_with("__sv", "__cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    qd = (
        sub.filter(F.col(id_col) % 50 == 0)
        .select(F.col(id_col).alias("query_id"), "s", "__sv")
        .join(F.broadcast(pq_cents), "s")
        .select("query_id", "s", "code", l2.alias("qd"))
    )
    adc = (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(qd), ["query_id", "s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("qd").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc")
    )


def ivf_pq_ann_rescored(
    emb: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    n_centroids: int = 16,
    nprobe: int = 8,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ with exact re-ranking — the full deployment composite
    (faiss ``IVFPQR``): the IVF probe bounds WHERE to look, the ADC scan
    produces a cheap ``shortlist`` per query from codes alone, and only
    the shortlist is rescored with the exact quantized dot product.
    Returns (query_id, neighbor_id, rank, dot) — top-``k`` by exact dot,
    ties to the smaller neighbor id.

    Raw ADC recall is ceiling-bound by the 32-bit code budget (0.38@5 on
    the clustered fixture); rescoring restores it to near-exact while the
    corpus-sized pass still touches only codes — full vectors move for
    shortlist x queries rows. All three trainings are the deterministic
    integer procedures the standalone gates pin, so the composite stays
    oracle-exact end to end. Both stages execute as masked corpus-pass
    kernels (r8); the join formulation survives as
    ``ivf_pq_ann_rescored_join`` for parity."""
    arts = _pq_artifacts(emb, m, k_codes, iters, id_col, vec_col, need_codes=False)
    short = ivf_pq_ann_topk(
        emb, k=shortlist, n_centroids=n_centroids, nprobe=nprobe, m=m,
        k_codes=k_codes, iters=iters, id_col=id_col, vec_col=vec_col,
        _artifacts=arts,
    ).select("query_id", "neighbor_id")
    return _rescore_shortlist_kernel(
        emb, short, k, id_col, vec_col, _corpus=arts[0]
    )


def ivf_pq_ann_rescored_join(
    emb: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    n_centroids: int = 16,
    nprobe: int = 8,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Join formulation of ``ivf_pq_ann_rescored`` — the oracle-shaped
    reference the kernel pair is parity-tested against."""
    arts = _pq_artifacts(emb, m, k_codes, iters, id_col, vec_col)
    short = ivf_pq_ann_topk_join(
        emb, k=shortlist, n_centroids=n_centroids, nprobe=nprobe, m=m,
        k_codes=k_codes, iters=iters, id_col=id_col, vec_col=vec_col,
        _artifacts=arts,
    ).select("query_id", "neighbor_id")
    qv = emb.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qe"))
    nv = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__ne"))
    dot = F.aggregate(
        F.zip_with("__qe", "__ne", lambda a, b: _quantize(a) * _quantize(b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        short.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .withColumn("dot", dot)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot")
    )


def semantic_drift(
    emb: DataFrame,
    res: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lat: str = "lat",
    lon: str = "lon",
    q_scale: int = 1000,
) -> DataFrame:
    """Semantic-terrain smoothness: for every rook-adjacent pair of
    occupied cells, the L1 distance between the cells' MEAN embeddings
    as the exact cross-multiplied rational

        drift_num = sum_dim |s1_d * n2 - s2_d * n1|,  drift_den = n1 * n2

    over round(x * q_scale) integer-quantized components (the engine's
    standard embedding quantization — float vector means are
    aggregation-order dependent; integer sums are not). High drift
    between neighbors marks semantic boundaries (land-use edges, domain
    shifts); a smooth field says embeddings respect geography. Returns
    (tile_a, tile_b, n_a, n_b, drift_num, drift_den).

    Plan: one posexplode pass to (cell, dim) integer sums (map-side
    combined; 64 x occupied-cells output), the frame pinned (it feeds
    both pair sides), a 2-offset rook fan and one equi-join on
    (cell, dim) — never a vector shuffle, never a float sum."""
    from pyspark.sql import functions as F

    from ..functions.cells import tile_key_col

    res_n = 1 << res
    flat = emb.select(
        tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    ).select(
        "tile", "dim",
        F.round(F.col("x").cast("double") * q_scale).cast("long").alias("xq"),
    )
    sums = (
        flat.groupBy("tile", "dim")
        .agg(F.sum("xq").alias("s"), F.count(F.lit(1)).alias("nv"))
        .localCheckpoint(eager=True)
    )
    ix = (F.col("tile") / F.lit(res_n)).cast("long")
    iy = F.col("tile") % F.lit(res_n)
    off = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx, dy in ((1, 0), (0, 1))
            ]
        )
    ).alias("o")
    fan = sums.select("tile", "dim", "s", "nv", off).select(
        ((ix + F.col("o.dx")) * F.lit(res_n) + (iy + F.col("o.dy"))).alias("ntile"),
        (ix + F.col("o.dx")).alias("nx"),
        (iy + F.col("o.dy")).alias("ny"),
        F.col("tile").alias("tile_a"),
        "dim",
        F.col("s").alias("s1"),
        F.col("nv").alias("n1"),
    ).filter(
        (F.col("nx") >= 0) & (F.col("nx") < res_n)
        & (F.col("ny") >= 0) & (F.col("ny") < res_n)
    )
    nbr = sums.select(
        F.col("tile").alias("ntile"),
        "dim",
        F.col("s").alias("s2"),
        F.col("nv").alias("n2"),
    )
    pairs = fan.join(nbr, ["ntile", "dim"], "inner")
    return (
        pairs.groupBy(
            F.col("tile_a"), F.col("ntile").alias("tile_b")
        )
        .agg(
            F.max("n1").alias("n_a"),
            F.max("n2").alias("n_b"),
            F.sum(
                F.abs(F.col("s1") * F.col("n2") - F.col("s2") * F.col("n1"))
            ).alias("drift_num"),
        )
        .select(
            "tile_a", "tile_b", "n_a", "n_b", "drift_num",
            (F.col("n_a") * F.col("n_b")).alias("drift_den"),
        )
    )


def semantic_outliers(
    emb: DataFrame,
    res: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lat: str = "lat",
    lon: str = "lon",
    q_scale: int = 1000,
) -> DataFrame:
    """Semantic outlier cells — the global complement of
    ``semantic_drift``: each occupied cell's L1 deviation of its mean
    embedding from the corpus mean, as the exact cross-multiplied
    rational sum_dim |s_c * N - S_g * n_c| over (n_c * N). The cells a
    curation pass inspects first: imagery that does not look like its
    geography (sensor faults, mislabeled batches, spam uploads).
    Returns (tile, nv, anom_num, anom_den).

    Plan: the same pinned (cell, dim) integer-sum frame, one
    dim-rollup for the global sums (broadcast single-dim frame), one
    equi-join on dim and a cell rollup — no vector shuffles."""
    from pyspark.sql import functions as F

    from ..functions.cells import tile_key_col

    flat = emb.select(
        tile_key_col(F.col(lat), F.col(lon), res).alias("tile"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    ).select(
        "tile", "dim",
        F.round(F.col("x").cast("double") * q_scale).cast("long").alias("xq"),
    )
    sums = (
        flat.groupBy("tile", "dim")
        .agg(F.sum("xq").alias("s"), F.count(F.lit(1)).alias("nv"))
        .localCheckpoint(eager=True)
    )
    glob = sums.groupBy("dim").agg(
        F.sum("s").alias("sg"), F.sum("nv").alias("ng")
    )
    j = sums.join(F.broadcast(glob), "dim")
    return (
        j.groupBy("tile")
        .agg(
            F.max("nv").alias("nv"),
            F.sum(
                F.abs(F.col("s") * F.col("ng") - F.col("sg") * F.col("nv"))
            ).alias("anom_num"),
            F.max(F.col("nv") * F.col("ng")).alias("anom_den"),
        )
    )


def embedding_dim_stats(
    emb: DataFrame, vec_col: str = "embedding", q_scale: int = 1000
) -> DataFrame:
    """Per-dimension moment statistics of the embedding corpus — the
    whitening / feature-scaling pre-pass every ANN and clustering
    family assumes: count, exact integer sum, variance NUMERATOR
    n * sum(x^2) - sum(x)^2 (divide by n^2 for the population
    variance), and min/max, all over round(x * q_scale) quantized
    components (the engine's standard embedding quantization — float
    moment sums are aggregation-order dependent; integer sums are
    not). A zero var_num flags a dead dimension; extreme max/min flag
    clipping. Returns (dim, n, s, var_num, min_q, max_q).

    Plan: one posexplode pass to a map-side-combined per-dim rollup —
    output is dim-bounded (one row per dimension) regardless of corpus
    size; no joins, no vector shuffle."""
    from pyspark.sql import functions as F

    flat = emb.select(F.posexplode(F.col(vec_col)).alias("dim", "x")).select(
        "dim",
        F.round(F.col("x").cast("double") * q_scale).cast("long").alias("xq"),
    )
    return (
        flat.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xq").alias("s"),
            F.sum(F.col("xq") * F.col("xq")).alias("__sq"),
            F.min("xq").alias("min_q"),
            F.max("xq").alias("max_q"),
        )
        .select(
            "dim", "n", "s",
            (F.col("n") * F.col("__sq") - F.col("s") * F.col("s")).alias(
                "var_num"
            ),
            "min_q", "max_q",
        )
    )


def embedding_norm_audit(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_scale: int = 1000,
    tail_milli: int = 10,
) -> DataFrame:
    """Per-vector NORM outlier audit — the cheap pre-filter every
    embedding pipeline runs before ANN indexing: a near-zero norm means
    a dead/failed encode, an extreme norm distorts inner-product search
    (and collapses IVF cells). Computes the exact integer quantized
    squared norm norm2_q = sum(round(x*q_scale)^2) per vector, ranks
    vectors by (norm2_q, id) — the engine's deterministic total order —
    and flags the bottom and top ``tail_milli`` per-mille by EXACT rank
    (1000*rank // n, never an interpolated percentile). Returns
    (id, norm2_q, rank, n, is_outlier) with rank 1-based ascending.

    Plan: one F.aggregate fold per vector (JVM-side, no explode, no
    UDF), then the exact rank via ``range_ranked`` (r8): range
    repartition + per-partition offsets instead of the single-task
    global window the operator used to carry — the rank input is
    (id, norm2_q) pairs only, never vectors, and ``n`` comes from the
    offset pass (the construction-time ``ranked.count()`` re-evaluation
    is gone with it)."""
    if not 0 < tail_milli < 500:
        raise ValueError(f"tail_milli must be in (0, 500), got {tail_milli}")
    from .rank import range_ranked

    norm2 = F.aggregate(
        F.expr(
            f"transform({vec_col}, v -> "
            f"CAST(round(CAST(v AS DOUBLE) * {q_scale}.0) AS BIGINT))"
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v * v,
    )
    scored = emb.select(F.col(id_col).alias("id"), norm2.alias("norm2_q"))
    ranked, n = range_ranked(scored, ["norm2_q", "id"], "rank")
    lo = tail_milli * n // 1000
    hi = n - lo
    return ranked.select(
        "id", "norm2_q", F.col("rank").cast("long"),
        F.lit(n).cast("long").alias("n"),
        F.when(
            (F.col("rank") <= lo) | (F.col("rank") > hi), F.lit(1)
        ).otherwise(F.lit(0)).cast("int").alias("is_outlier"),
    )
