"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exact baseline; the LSH variant
(random-hyperplane signatures → bucket join) is the 100 TB path: it
replaces the O(|Q|·|C|) cross product with a bucket-equality join whose
cost is O(rows · n_tables) plus small intra-bucket rankings.

Cross-engine determinism: dot products and norms are a strict LEFT FOLD
in float64 — ``fl(...fl(fl(0+x1·y1)+x2·y2)...)`` — on BOTH engines
(Spark ``aggregate`` and DuckDB ``list_reduce`` evaluate in array
order, and the vectorized numpy kernel accumulates dimension-by-
dimension, which is elementwise the same IEEE operation sequence).
Identical op sequence → bit-identical doubles → rankings agree without
rounding fudges, at double speed instead of Decimal128 speed.

The Spark builders (``dot_exact``, ``norm``, ``hyperplane_signature``)
take column NAMES and build one parsed SQL expression each; ``*_sql``
functions are their DuckDB mirrors.

Reference has no similarity search; this is a capability extension
(BASELINE.json north star) sized for the ``embeddings`` table.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from terra_bonobo_nodes_spark.sqltext import ident

_HYPERPLANE_SEED = "tbns-hyperplane-v1"


def dot_exact_sparksql(a: str, b: str) -> str:
    """Spark-SQL text of :func:`dot_exact` over two SQL expressions."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> cast(x as double) * cast(y as double)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def dot_exact(a: str, b: str) -> Column:
    """Deterministic dot product of two float-array columns, named by
    ``a`` and ``b``: float64 left fold (same bit pattern on every engine
    that folds in array order). Built as ONE parsed expression — one
    py4j round-trip instead of one per Column op."""
    return F.expr(dot_exact_sparksql(f"`{a}`", f"`{b}`"))


def dot_exact_sql(a: str, b: str) -> str:
    """DuckDB mirror of :func:`dot_exact` — list_reduce folds left; the
    prepended 0.0 reproduces Spark's aggregate() seed exactly."""
    return (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(list_zip({a}, {b}), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))), "
        "(acc, x) -> acc + x)"
    )


def _norm_sparksql(a: str) -> str:
    return f"sqrt({dot_exact_sparksql(a, a)})"


def norm(a: str) -> Column:
    """Euclidean norm of the float-array column named ``a``, same left
    fold as dot_exact, as one parsed expression. Precomputed once per
    row by the join operators — cosine then costs ONE dot product per
    pair instead of three (bit-identical result)."""
    return F.expr(_norm_sparksql(f"`{a}`"))


def norm_sql(a: str) -> str:
    return f"sqrt({dot_exact_sql(a, a)})"


def _top_k(scored: DataFrame, k: int, query_id_col: str, *carry: str) -> DataFrame:
    """Each query's ``k`` best neighbors of ``scored`` (query id,
    ``neighbor_id``, the ``carry`` columns, ``cos_sim``) with their
    1-based ``rank``: cosine descending, ties to the lower neighbor id.
    One parsed window expression, so the tail costs a few py4j round
    trips."""
    q = ident(query_id_col)
    return scored.selectExpr(
        q,
        "neighbor_id",
        *map(ident, carry),
        "cos_sim",
        f"row_number() OVER (PARTITION BY {q} ORDER BY cos_sim DESC, neighbor_id ASC) AS `rank`",
    ).where(f"`rank` <= {int(k)}")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_query_rows: int = 10_000,
) -> DataFrame:
    """Exact cosine top-k, vectorized: the (small) query set ships to
    every task as a numpy matrix; corpus partitions stream through ONE
    ``mapInPandas`` pass that scores an Arrow batch against all queries
    at once and emits only its per-batch top-k candidates. The global
    rank is a window over |Q|·k·n_batches rows — the corpus is never
    shuffled and never leaves its scan partitioning.

    The query side is collect()ed to the driver BY CONTRACT — that is
    what makes the corpus side shuffle-free — so its size is the
    driver-memory/broadcast hazard. ``max_query_rows`` fails fast above
    the cap (same fail-fast discipline as ``interval_point_join``'s
    ``max_buckets_per_interval``); for query sets genuinely larger than
    that, this degenerates into all-pairs work — use
    :func:`lsh_ann_topk` / :func:`ivf_ann_topk` instead.

    Bit-for-bit oracle parity: the kernel accumulates dimension-by-
    dimension (``acc += C[:, d] * Q[j, d]``), which performs, per pair,
    exactly the IEEE left-fold op sequence of :func:`dot_exact` /
    :func:`dot_exact_sql`. Ties break on neighbor id ascending.
    """
    cols = [ident(id_col), ident(vec_col)]
    q_rows = queries.selectExpr(*cols).limit(max_query_rows + 1).collect()
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"brute_force_topk: query side exceeds max_query_rows="
            f"{max_query_rows}; it is collected to the driver and scored "
            "against every corpus row, so a large query set belongs in "
            "lsh_ann_topk/ivf_ann_topk (or raise the cap explicitly)"
        )
    if not q_rows:
        # schema must match the non-empty path, which types both id
        # columns from the CORPUS id column (ADVICE_r05: hardcoding
        # `long` made the empty-query schema diverge for non-bigint ids)
        id_type = corpus.schema[id_col].dataType.simpleString()
        schema = (
            f"{query_id_col} {id_type}, neighbor_id {id_type}, "
            "cos_sim double, rank int"
        )
        return corpus.sparkSession.createDataFrame([], schema)
    q_ids = [r[0] for r in q_rows]
    qm = np.array([[float(x) for x in r[1]] for r in q_rows], dtype=np.float64)

    def _fold_dots(cm: "np.ndarray", qm_: "np.ndarray") -> "np.ndarray":
        # (n_corpus, n_query) dots via a left fold over dimensions:
        # bit-identical to scalar ((0 + x1·y1) + x2·y2) + ...
        acc = np.zeros((cm.shape[0], qm_.shape[0]), dtype=np.float64)
        for d in range(cm.shape[1]):
            acc += cm[:, d : d + 1] * qm_[None, :, d]
        return acc

    def _fold_norms(m: "np.ndarray") -> "np.ndarray":
        acc = np.zeros(m.shape[0], dtype=np.float64)
        for d in range(m.shape[1]):
            acc += m[:, d] * m[:, d]
        return np.sqrt(acc)

    qn = _fold_norms(qm)
    q_id_arr = np.array(q_ids)
    kk = int(k)

    def score_batches(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.array(
                [[float(x) for x in v] for v in pdf[vec_col]], dtype=np.float64
            )
            c_ids = pdf[id_col].to_numpy()
            cn = _fold_norms(cm)
            cos = _fold_dots(cm, qm) / (qn[None, :] * cn[:, None])
            out_q, out_n, out_c = [], [], []
            for j in range(len(q_ids)):
                col = cos[:, j]
                keep = c_ids != q_id_arr[j]
                cand_ids, cand_cos = c_ids[keep], col[keep]
                # per-batch partial top-k (global top-k is a subset)
                order = np.lexsort((cand_ids, -cand_cos))[:kk]
                out_q.extend([q_ids[j]] * len(order))
                out_n.extend(cand_ids[order])
                out_c.extend(cand_cos[order])
            yield pd.DataFrame(
                {query_id_col: out_q, "neighbor_id": out_n, "cos_sim": out_c}
            )

    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{query_id_col} {id_type}, neighbor_id {id_type}, cos_sim double"
    )
    scored = corpus.selectExpr(*cols).mapInPandas(score_batches, out_schema)
    return _top_k(scored, k, query_id_col)


def hyperplanes(n_planes: int, dim: int, table: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1), md5-derived —
    identical constants on driver, executors, and in oracle SQL.
    ``table`` picks an independent family for multi-table LSH (table 0
    keeps the original seeds, which the oracle SQL embeds)."""
    planes = []
    for p in range(n_planes):
        row = []
        suffix = "" if table == 0 else f"-t{table}"
        for d in range(dim):
            h = hashlib.md5(
                f"{_HYPERPLANE_SEED}{suffix}-{p}-{d}".encode()
            ).hexdigest()
            row.append((int(h[:8], 16) % 2000001 - 1000000) / 1000000.0)
        planes.append(row)
    return planes


def hyperplane_signature(vec: str, planes: list[list[float]]) -> Column:
    """Sign-bit signature of the float-array column named ``vec``: bit
    p = 1 iff vec · plane_p >= 0. Packed into a bigint (n_planes <= 63).
    Built as ONE parsed expression: building it op by op would walk
    n_planes × dim literals over py4j (~0.3-5 ms each). repr()
    round-trips every plane weight exactly, so the parsed literals are
    the exact doubles."""
    v = f"`{vec}`"
    terms = []
    for p, plane in enumerate(planes):
        lits = "array(" + ", ".join(f"{w!r}D" for w in plane) + ")"
        d = dot_exact_sparksql(v, lits)
        terms.append(
            f"CASE WHEN {d} >= 0 THEN CAST({1 << p} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
        )
    return F.expr(" + ".join(terms))


def _cell_assign_udf(centroids: list[list[float]]):
    """Arrow-batched nearest-centroid assignment. The codebook ships to
    executors as a closure-captured numpy matrix (k×dim — tiny); each
    Arrow batch is scored with one vectorized distance computation.
    Deterministic tie-break = lowest centroid index (``np.argmin``
    returns the first minimum). This replaces a Catalyst expression of
    k×dim literals whose codegen time dwarfed the actual math."""
    C = np.asarray(centroids, dtype=np.float64)  # (k, dim)
    cn = (C * C).sum(axis=1)

    @F.pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="int32")
        X = np.array([np.asarray(v, dtype=np.float64) for v in vs])
        # argmin_k |x-c|^2 = argmin_k (|c|^2 - 2 x·c); |x|^2 is constant per row
        d = cn[None, :] - 2.0 * (X @ C.T)
        return pd.Series(np.argmin(d, axis=1).astype("int32"))

    return assign


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Public nearest-centroid assignment: one Arrow-batched scan adds
    ``out_col`` (int cell index) to every row. The codebook travels as
    a closure-captured k×dim numpy matrix — broadcast-sized by
    construction. Used by IVF search (:func:`ivf_topk`) and semantic
    dedup (:mod:`llm.semdedup`)."""
    return df.withColumn(out_col, _cell_assign_udf(centroids)(F.col(vec_col)))


def _probe_cells_udf(centroids: list[list[float]], n_probe: int):
    """Arrow-batched n_probe-nearest-cells (for the query side); stable
    argsort keeps the lowest-index tie-break."""
    C = np.asarray(centroids, dtype=np.float64)
    cn = (C * C).sum(axis=1)
    np_ = int(n_probe)

    @F.pandas_udf("array<int>")
    def probes(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="object")
        X = np.array([np.asarray(v, dtype=np.float64) for v in vs])
        d = cn[None, :] - 2.0 * (X @ C.T)
        order = np.argsort(d, axis=1, kind="stable")[:, :np_].astype("int32")
        return pd.Series(list(order))

    return probes


def ivf_train(
    corpus: DataFrame,
    n_clusters: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 65536,
) -> list[list[float]]:
    """Deterministic k-means coarse quantizer (the IVF codebook).

    Trains on a bounded, deterministic sample — the ``sample_size``
    lowest-id vectors (``orderBy.limit`` compiles to TakeOrdered: a
    map-side partial top-k, no global sort) — with Lloyd iterations in
    numpy on the driver. Sample-based codebook training is the standard
    IVF construction (FAISS trains on ~256 vectors/centroid); the full
    corpus is only ever touched by the single distributed *assignment*
    pass in :func:`ivf_topk`. Init = first n_clusters sampled vectors;
    empty clusters keep their previous centroid; ties go to the lowest
    centroid index."""
    rows = (
        corpus.select(vec_col)
        .orderBy(F.col(id_col))
        .limit(int(sample_size))
        .collect()
    )
    if len(rows) < n_clusters:
        # A k-means codebook over fewer vectors than clusters is
        # undefined; on an empty corpus np.array([]) is 1-D and the
        # centroid math below would die deep in numpy with AxisError
        # (the r08 empty-input-sweep defect). Fail fast and typed.
        raise ValueError(
            f"ivf_train: corpus sample has {len(rows)} vectors but "
            f"n_clusters={n_clusters} — IVF needs at least one vector "
            "per cluster (empty corpus?)"
        )
    X = np.array([np.asarray(r[0], dtype=np.float64) for r in rows])
    if X.ndim != 2:
        # scalars or ragged lists build an object array (ndim 1) and the
        # centroid math dies deep in numpy — same opaque-AxisError class
        # as the empty-corpus case above; fail typed instead.
        raise ValueError(
            f"ivf_train: {vec_col!r} values are not fixed-length numeric "
            "arrays (scalar column or ragged vectors?)"
        )
    C = X[:n_clusters].copy()
    for _ in range(iterations):
        cn = (C * C).sum(axis=1)
        assign = np.argmin(cn[None, :] - 2.0 * (X @ C.T), axis=1)
        for c in range(n_clusters):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C.tolist()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_clusters: int = 8,
    n_probe: int = 2,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: k-means codebook → corpus partitioned by
    nearest centroid → each query probes its n_probe nearest cells.

    100 TB shape: training reads only a bounded sample (TakeOrdered —
    no global sort, no full pass); the corpus is touched by ONE
    distributed assignment pass (Arrow-batched numpy argmin); search
    joins on the cluster id (n_clusters distinct keys — at real scale
    use √N clusters and hash-partition the corpus by cell, giving each
    query a targeted scan of n_probe/n_clusters of the data). Scoring
    reuses the exact left-fold cosine, so results are a strict subset
    of brute-force results."""
    if centroids is None:
        centroids = ivf_train(corpus, n_clusters, iterations, id_col, vec_col)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        norm(vec_col).alias("_cn"),
        _cell_assign_udf(centroids)(F.col(vec_col)).alias("_cell"),
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_qvec"),
        norm(vec_col).alias("_qn"),
        F.explode(
            _probe_cells_udf(centroids, n_probe)(F.col(vec_col))
        ).alias("_cell"),
    )
    scored = (
        c.join(F.broadcast(q), "_cell")
        .where(F.col("neighbor_id") != F.col(query_id_col))
        .dropDuplicates([query_id_col, "neighbor_id"])
        .select(
            query_id_col,
            "neighbor_id",
            (
                dot_exact("_qvec", "_cvec")
                / (F.col("_qn") * F.col("_cn"))
            ).alias("cos_sim"),
        )
    )
    return _top_k(scored, k, query_id_col)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 12,
    n_tables: int = 1,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: join on equal hyperplane signature bucket, rank
    within bucket. Recall tuning is the standard AND/OR construction:
    n_planes ANDs bits within a table (bigger → smaller buckets, lower
    recall, less compute); n_tables ORs independent tables (candidate =
    collides in ANY table). 100 TB shape: (table, bucket) is a shuffle
    key with ~n_tables·2^n_planes values — both sides hash-partition on
    it; no cross product ever materializes; candidates are deduped
    before scoring so each pair is scored once.
    """
    if dim is None:
        dim = len(queries.select(vec_col).first()[0])
    tables = [hyperplanes(n_planes, dim, t) for t in range(n_tables)]

    def with_buckets(df: DataFrame, idc: str, vec_alias: str, n_alias: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(idc),
            F.col(vec_col).alias(vec_alias),
            norm(vec_col).alias(n_alias),
            F.posexplode(
                F.array(
                    *[
                        hyperplane_signature(vec_col, planes)
                        for planes in tables
                    ]
                )
            ).alias("_tbl", "_bucket"),
        )

    c = with_buckets(corpus, "neighbor_id", "_cvec", "_cn")
    q = with_buckets(queries, query_id_col, "_qvec", "_qn")
    candidates = (
        c.join(F.broadcast(q), ["_tbl", "_bucket"])
        .where(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", "_qvec", "_cvec", "_qn", "_cn")
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    scored = candidates.select(
        query_id_col,
        "neighbor_id",
        (
            dot_exact("_qvec", "_cvec")
            / (F.col("_qn") * F.col("_cn"))
        ).alias("cos_sim"),
    )
    return _top_k(scored, k, query_id_col)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q",
    scale_col: str = "scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = 127 / max|x|``,
    ``q_i = floor(x_i * scale + 0.5)`` (explicit half-up — the same
    closed form evaluates identically in the DuckDB oracle, unlike the
    engines' round() tie conventions). At 100 TB of float32 embeddings
    this is the standard 4x memory/IO shrink for the ANN corpus side;
    dequantization is ``q / scale`` with per-dim error <= 0.5/scale.
    All-zero vectors get scale 0 and all-zero codes. Pure column
    expressions over arrays — no shuffle, no Python."""
    v = F.col(vec_col)
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(max_abs > 0.0, F.lit(127.0) / max_abs).otherwise(F.lit(0.0))
    out = df.withColumn(scale_col, scale)
    q = F.transform(
        v,
        lambda x: F.floor(x.cast("double") * F.col(scale_col) + F.lit(0.5))
        .cast("int"),
    )
    return out.withColumn(q_col, q)


def quantized_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    coarse_k: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_query_rows: int = 10_000,
) -> DataFrame:
    """Two-stage retrieval: int8 coarse scoring, exact float re-rank.

    Stage 1 streams the corpus through ONE mapInPandas pass that
    quantizes each Arrow batch on the fly (the same
    ``floor(x * 127/max|x| + 0.5)`` closed form as
    :func:`quantize_embeddings`) and scores it against the quantized
    query matrix with INTEGER dot products — exact, order-independent
    arithmetic, so the coarse candidate cut is bit-reproducible on any
    engine and any partitioning (float coarse scores would make the
    candidate set partition-dependent at the boundary). Each batch
    emits only its local top-``coarse_k`` per query; a window keeps the
    global ``coarse_k``.

    Stage 2 re-ranks ONLY the ``|Q|·coarse_k`` survivors: an equi-join
    back to the float corpus (the small candidate side broadcasts into
    the scan) and the deterministic ``dot_exact`` fold for the true
    cosine, ranked to ``k``.

    This is the standard memory-bound ANN layout at 100 TB: the int8
    corpus is 4x smaller than float32 (scan half of stage 1) and the
    expensive float pass touches a vanishing fraction of rows. Recall
    loss comes only from quantization error at the coarse boundary —
    bounded, and pinned by a pytest against brute force.

    Ties break (score DESC, id ASC) at BOTH stages, so results are
    engine- and partitioning-independent end to end.
    """
    q_rows = queries.select(id_col, vec_col).limit(max_query_rows + 1).collect()
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"quantized_rerank_topk: query side exceeds max_query_rows="
            f"{max_query_rows} (collected to the driver by contract; see "
            "brute_force_topk)"
        )
    if not q_rows:
        # same empty-path schema contract as brute_force_topk: id
        # columns typed from the corpus, matching the non-empty path
        id_type = corpus.schema[id_col].dataType.simpleString()
        schema = (
            f"{query_id_col} {id_type}, neighbor_id {id_type}, "
            "coarse_score long, cos_sim double, rank int"
        )
        return corpus.sparkSession.createDataFrame([], schema)

    def _quantize(m: "np.ndarray") -> "np.ndarray":
        max_abs = np.abs(m).max(axis=1)
        scale = np.where(max_abs > 0.0, 127.0 / np.where(max_abs > 0.0, max_abs, 1.0), 0.0)
        return np.floor(m * scale[:, None] + 0.5).astype(np.int64)

    q_ids = [r[0] for r in q_rows]
    qm = np.array([[float(x) for x in r[1]] for r in q_rows], dtype=np.float64)
    qq = _quantize(qm)
    q_id_arr = np.array(q_ids)
    ck = int(coarse_k)

    def coarse_batches(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.array(
                [[float(x) for x in v] for v in pdf[vec_col]], dtype=np.float64
            )
            c_ids = pdf[id_col].to_numpy()
            cq = _quantize(cm)
            scores = cq @ qq.T  # int64 exact
            out_q, out_n, out_s = [], [], []
            for j in range(len(q_ids)):
                col = scores[:, j]
                keep = c_ids != q_id_arr[j]
                cand_ids, cand_s = c_ids[keep], col[keep]
                order = np.lexsort((cand_ids, -cand_s))[:ck]
                out_q.extend([q_ids[j]] * len(order))
                out_n.extend(cand_ids[order])
                out_s.extend(cand_s[order])
            yield pd.DataFrame(
                {
                    query_id_col: out_q,
                    "neighbor_id": out_n,
                    "coarse_score": np.array(out_s, dtype=np.int64),
                }
            )

    id_type = corpus.schema[id_col].dataType.simpleString()
    coarse_schema = (
        f"{query_id_col} {id_type}, neighbor_id {id_type}, coarse_score long"
    )
    coarse = corpus.select(id_col, vec_col).mapInPandas(coarse_batches, coarse_schema)
    wc = Window.partitionBy(query_id_col).orderBy(
        F.col("coarse_score").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        coarse.withColumn("_crank", F.row_number().over(wc))
        .where(F.col("_crank") <= coarse_k)
        .drop("_crank")
    )

    # stage 2: exact re-rank of the survivors only
    nvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv")
    )
    qvec = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("_qv")
    )
    joined = (
        nvec.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qvec), query_id_col)
    )
    cos = dot_exact("_qv", "_nv") / (norm("_qv") * norm("_nv"))
    return _top_k(joined.withColumn("cos_sim", cos), k, query_id_col, "coarse_score")
