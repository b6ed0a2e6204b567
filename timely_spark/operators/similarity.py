"""Similarity search over embedding columns (``array<float>``).

Two tiers (BASELINE.json extension set):

- ``cosine_topk``      — exact brute-force top-k: broadcast the (small)
  query set against the corpus; the dot product is a ``zip_with`` +
  ``aggregate`` column expression (JVM-side, no Python). At 100 TB the
  corpus side stays partition-parallel and nothing shuffles except the
  final per-query top-k (a tiny aggregate).
- ``lsh_topk``         — random-hyperplane LSH: bucket corpus + queries by
  sign bits of seeded hyperplanes, probe only matching buckets. The
  hyperplanes derive from xxhash64 of (dim index, plane index) — fully
  deterministic, no stored model.
- ``ivf_topk``         — IVF-style: coarse centroids from a seeded sample,
  probe the nearest ``nprobe`` cells (the scale path when buckets skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: (x * x).cast("double")), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine_similarity_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _centroid_scored_expr(cents, vec_col: str, id_col: str):
    """The inlined-centroid (cos, negid) struct array rendered as ONE
    SQL expression (r12, guide §5 the driver): the Column form built
    k × dim literal nodes plus k HOF cosine trees through per-node
    py4j calls — measured seconds of pure driver time per call on the
    registry shapes (the retrieval wide-plan finding; same fix). The
    string reproduces the exact ops: `_dot`/`_norm`'s
    AGGREGATE/ZIP_WITH/TRANSFORM folds verbatim, D-suffixed
    repr-shortest double literals (bit-identical parse), ROUND(..., 6)
    before the argmax."""

    def cos_sql(vals) -> str:
        arr = "array(" + ", ".join(repr(float(x)) + "D" for x in vals) + ")"
        dot = (
            f"AGGREGATE(ZIP_WITH({vec_col}, {arr},"
            " (x, y) -> CAST((x * y) AS DOUBLE)), 0.0D,"
            " (acc, v) -> acc + v)"
        )
        na = (
            f"SQRT(AGGREGATE(TRANSFORM({vec_col},"
            " x -> CAST((x * x) AS DOUBLE)), 0.0D, (acc, v) -> acc + v))"
        )
        nb = (
            f"SQRT(AGGREGATE(TRANSFORM({arr},"
            " x -> CAST((x * x) AS DOUBLE)), 0.0D, (acc, v) -> acc + v))"
        )
        return f"ROUND({dot} / ({na} * {nb}), 6)"

    parts = ", ".join(
        f"named_struct('cos', {cos_sql(row[vec_col])},"
        f" 'negid', {-int(row[id_col])})"
        for row in cents
    )
    return F.expr(f"array({parts})")


def cosine_scores_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Every (query, corpus) cosine as ONE Arrow stage with the query
    matrix riding the task closure (r13; the adc_scores_arrow sibling).

    The JVM form crossJoined the corpus against a query broadcast —
    every scored row materialized BOTH dim-float arrays in unsafe row
    format before three interpreted HOF folds (dot + two norms, ~3*dim
    interpreted ops/row) consumed them. Here the corpus vectors cross
    the boundary once as Arrow batches and the scoring is dim
    vectorized ops per batch.

    BITWISE-identical cosines to ``cosine_similarity_col``: the input
    element type is preserved (float32 corpora multiply in float32 and
    widen to double exactly like the JVM's ``(x*y).cast("double")``),
    the dot/norm accumulators add per-dimension in index order (the
    aggregate fold's order), np.sqrt == Math.sqrt (IEEE correctly
    rounded), and the division takes ``dot / (norm_a * norm_b)`` with
    the same parenthesization. Parity is test-pinned with no tolerance.

    Queries must be small (driver-collected — the same contract the
    broadcast form had).
    """
    import numpy as np

    qrows = queries.select(F.col(query_id_col), F.col(vec_col)).collect()
    qids = np.array([int(r[0]) for r in qrows], dtype=np.int64)
    Qm64 = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    dim = Qm64.shape[1]

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy())
            ids = pdf[id_col].to_numpy()
            Qx = Qm64.astype(X.dtype)  # exact round trip for float32
            n, nq = len(ids), len(qids)
            dot = np.zeros((n, nq))
            xn = np.zeros(n)
            qn = np.zeros(nq)
            for d in range(dim):
                # element-type multiply, double accumulate, d-order —
                # exactly the JVM fold
                dot += np.multiply.outer(X[:, d], Qx[:, d])
                xn += X[:, d] * X[:, d]
                qn += Qx[:, d] * Qx[:, d]
            cos = dot / (np.sqrt(xn)[:, None] * np.sqrt(qn)[None, :])
            yield pd.DataFrame(
                {
                    query_id_col: np.tile(qids, n),
                    id_col: np.repeat(ids, nq),
                    "cosine": cos.reshape(-1),
                }
            )

    return corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        score, f"{query_id_col} long, {id_col} long, cosine double"
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query. Queries must be small (broadcast).

    Output: (query_id, vec_id, cosine) with rank<=k; ties broken by id
    so results are deterministic. r13: scoring is the Arrow stage
    (cosine_scores_arrow — bitwise-identical cosines, parity
    test-pinned); the top-k window is unchanged.
    """
    scored = cosine_scores_arrow(
        corpus, queries, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    ).filter(F.col(id_col) != F.col(query_id_col))
    return per_query_topk(
        scored, k, "cosine", query_id_col, id_col
    ).select(query_id_col, id_col, "cosine", "rank")



TOPK_SALT_BUCKETS = 64  # the result is exact for any salt count


def salted_topk(
    df: DataFrame, k: int, group_col: str, order: list, salt_col: str
) -> DataFrame:
    """The one exact two-phase top-k per ``group_col`` under the total
    ``order``, without a group-wide window.

    ``Window.partitionBy(group)`` funnels EVERY candidate for a group
    into one task — corpus-sized for brute-force/PQ scans or a giant
    cluster, a straggler at scale. Phase 1 ranks within (group,
    ``salt_col``-hash salt) slices and keeps k per slice; phase 2 ranks
    the surviving <= k * TOPK_SALT_BUCKETS rows per group. The ordering
    is total, so the output is EXACTLY the single-window result —
    oracle-checked via emb_knn. Returns the input columns plus an int
    ``rank``, filtered to rank <= k.
    """
    salt = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(TOPK_SALT_BUCKETS))
    w1 = Window.partitionBy(group_col, "__salt").orderBy(*order)
    w2 = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn("__salt", salt)
        .withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .drop("__salt", "__r1")
    )


def per_query_topk(df, k, score_col, query_id_col="query_id", id_col="vec_id"):
    """Top-k per query by (``score_col`` desc, ``id_col`` asc)."""
    order = [F.desc(score_col), F.col(id_col)]
    return salted_topk(df, k, query_id_col, order, id_col)


def hyperplane_weights(
    spark, dim: int, planes: int, tables: int = 1
) -> list[list[list[float]]]:
    """The LSH hyperplane weight tensor ``[table][plane][dim]`` — the
    SAME xxhash64-derived pseudo-uniforms the inline per-row expression
    computes, hoisted to driver-side constants by one tiny JVM job
    (``tables*planes*dim`` rows, collected once per operator call).

    r12 (guide §1.2 per-row work): the inline form re-evaluated
    ``xxhash64(d, p)`` per ROW per element — planes*tables*dim = 4096
    hashes per corpus row at the registry's 4x16x64 operating point,
    the measured dominant cost of ``emb_knn_lsh``. The hoisted tensor
    binds as ONE nested-array ``F.lit`` (a single Literal node — the
    bloom-bitset idiom), NOT per-weight literal expressions: the
    literal-weights formulation with 4096 expression NODES was A/B'd
    and rejected (2x slower end-to-end, analysis/codegen dominated —
    OPTIMIZATION_r12.md §6). Derivation is kept bit-identical by
    computing the weights with the JVM's own xxhash64 over the same
    INT (d, p) inputs and the same double cast/divide."""
    n = tables * planes
    rows = (
        spark.range(n * dim)
        .selectExpr(
            f"CAST(id DIV {dim} AS INT) AS p",
            f"CAST(id % {dim} AS INT) AS d",
        )
        .selectExpr(
            "p",
            "d",
            "CAST(xxhash64(d, p) AS DOUBLE)"
            " / CAST(9.223372036854775808E18 AS DOUBLE) AS w",
        )
        .collect()
    )
    out = [
        [[0.0] * dim for _ in range(planes)] for _ in range(tables)
    ]
    for r in rows:
        out[r["p"] // planes][r["p"] % planes][r["d"]] = r["w"]
    return out


def _hyperplane_sign_bits(
    vec_col, dim: int, planes: int, table: int = 0, weights=None
) -> "F.Column":
    """LSH bucket id: sign bits of `planes` pseudo-random hyperplanes.

    Hyperplane p's weight for dimension d = a deterministic pseudo-uniform
    in [-1, 1) derived from xxhash64(d, p) — no RNG state, reproducible on
    any cluster. ``table`` offsets the plane indices so each hash table
    draws independent hyperplanes.

    ``weights``: this table's precomputed ``[plane][dim]`` weight matrix
    (``hyperplane_weights(...)[table]``) — the r12 fast path every
    corpus-sized caller uses: the per-element work drops from an
    xxhash64 + divide to one array lookup, with the plane loop unrolled
    driver-side (planes is 4-8) instead of a nested HOF. ``None`` keeps
    the self-contained inline-hash form (the equivalence baseline the
    parity test pins the fast path against)."""
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    if weights is not None:
        wlit = F.lit(weights)  # ONE Literal node holding planes*dim doubles
        dots = [
            F.aggregate(
                F.zip_with(
                    vec,
                    F.element_at(wlit, i + 1),
                    lambda x, w: x.cast("double") * w,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            for i in range(planes)
        ]
        bucket = F.lit(0).cast("long")
        for d in dots:
            bucket = bucket * 2 + F.when(d >= 0, 1).otherwise(0)
        return bucket
    lo = table * planes
    plane_idx = F.sequence(F.lit(lo), F.lit(lo + planes - 1))
    dim_idx = F.sequence(F.lit(0), F.lit(dim - 1))

    def weight(d, p):
        h = F.xxhash64(d, p)
        return (h.cast("double") / F.lit(float(2**63))).cast("double")

    def plane_dot(p):
        return F.aggregate(
            F.zip_with(
                vec,
                dim_idx,
                lambda x, d: x.cast("double") * weight(d, p),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    bits = F.transform(
        plane_idx, lambda p: F.when(plane_dot(p) >= 0, 1).otherwise(0)
    )
    # fold sign bits into a bucket id: acc*2 + bit
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc * 2 + b)


def lsh_buckets_arrow(
    df: DataFrame,
    weights: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    parallelism: int | None = None,
) -> DataFrame:
    """(id, vec, __buckets array<long>) — the corpus-side LSH bucket
    computation as ONE Arrow-batched numpy stage (r12, guide §4 + the
    r9 landmine rule: float candidate math past the expression-tree
    budget goes to Arrow numpy stages).

    Why not the JVM expression: the inline fold recomputes
    ``xxhash64(d, p)`` per row per element (tables*planes*dim = 4096
    hashes/row at the 4x16x64 registry point — the measured dominant
    cost of ``emb_knn_lsh``), and BOTH literal-hoisting forms were
    A/B'd and rejected (per-weight literals AND nested ``F.lit`` each
    build multi-thousand-node CreateArray trees whose analysis/codegen
    exceeds the execution cost — OPTIMIZATION_r12.md §6/§9).

    Bit-identical by construction: the numpy accumulation loops over
    dimensions IN ORDER (``acc = acc + X[:,d] * w[d]``), each step an
    IEEE-754 double op — exactly the left fold the JVM ``aggregate``
    evaluates — and the weights come from ``hyperplane_weights`` (the
    JVM's own xxhash64). The parity test pins exploded (id, table,
    bucket) equality against the inline expression on real embeddings.

    ``parallelism``: explicit pre-stage repartition width (defaults to
    ``sparkContext.defaultParallelism``) — a single-file parquet scan
    would otherwise feed ONE Python worker; explicit N keeps AQE from
    coalescing the small local frame back to one task. At production
    scale the scan already carries enough partitions; pass ``None``
    semantics stay scale-adaptive (cores on local, cluster cores on a
    real deployment).
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    n_par = parallelism or spark.sparkContext.defaultParallelism
    Wnp = np.asarray(weights, dtype=np.float64)  # [tables][planes][dim]
    tables, planes, dim = Wnp.shape
    id_type = dict(df.dtypes)[id_col]
    out_schema = (
        f"{id_col} {id_type}, {vec_col} array<double>, __buckets array<long>"
    )

    def emit(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(
                np.float64, copy=False
            )
            buckets = np.zeros((n, tables), dtype=np.int64)
            for t in range(tables):
                acc_b = np.zeros(n, dtype=np.int64)
                for p in range(planes):
                    acc = np.zeros(n, dtype=np.float64)
                    w = Wnp[t, p]
                    for d in range(dim):
                        # in-order IEEE double fold == the JVM aggregate
                        acc = acc + X[:, d] * w[d]
                    acc_b = acc_b * 2 + (acc >= 0).astype(np.int64)
                buckets[:, t] = acc_b
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "__buckets": list(buckets),
                }
            )

    return (
        df.select(id_col, vec_col)
        .repartition(n_par, F.col(id_col))
        .mapInPandas(emit, out_schema)
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    planes: int = 8,
    tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: compare only vectors sharing an LSH bucket with
    the query in at least one hash table.

    With p planes the corpus splits into 2^p buckets per table; expected
    candidate set shrinks ~2^p-fold. ``tables`` is the standard
    OR-amplification: L independent tables lift recall from q to
    1-(1-q)^L at L× the candidate cost — the knob to turn when a single
    table's recall is too low (random high-dim corpora especially).
    """

    def buckets(vc):
        return F.array(
            *[_hyperplane_sign_bits(vc, dim, planes, table=t) for t in range(tables)]
        )

    # corpus side: Arrow numpy bucket stage (bit-identical to the inline
    # expression — see lsh_buckets_arrow); the query side stays the
    # self-contained JVM form, it is probe-batch-sized
    W = hyperplane_weights(corpus.sparkSession, dim, planes, tables)
    c = (
        lsh_buckets_arrow(corpus, W, id_col=id_col, vec_col=vec_col)
        .select(id_col, vec_col, F.posexplode("__buckets"))
        .select(
            id_col,
            vec_col,
            F.col("pos").alias("__t"),
            F.col("col").alias("__bucket"),
        )
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            F.posexplode(buckets(vec_col)),
        ).select(
            query_id_col, "__qvec", F.col("pos").alias("__t"), F.col("col").alias("__bucket")
        )
    )
    joined = (
        c.join(q, ["__t", "__bucket"])
        .filter(F.col(id_col) != F.col(query_id_col))
        # a pair can collide in several tables; score it once
        .dropDuplicates([query_id_col, id_col])
    )
    sim = cosine_similarity_col(F.col(vec_col), F.col("__qvec"))
    return per_query_topk(
        joined.withColumn("cosine", sim), k, "cosine", query_id_col, id_col
    ).select(query_id_col, id_col, "cosine", "rank")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    ncells: int = 64,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus to ``ncells`` centroids
    (deterministic corpus sample as centroids), probe ``nprobe`` nearest
    cells per query.

    The centroid table is tiny -> broadcast both assignment joins; the
    corpus is scanned once to assign cells (cacheable as a materialized
    index column at scale).
    """
    # deterministic 'centroids': the ncells corpus vectors with the
    # smallest xxhash64(id) — a seeded reservoir without randomness
    cent = (
        corpus.select(F.col(id_col).alias("cell_id"), F.col(vec_col).alias("cvec"))
        .orderBy(F.xxhash64(F.col("cell_id")))
        .limit(ncells)
    )
    centb = F.broadcast(cent)

    # corpus cell assignment: argmax cosine over centroids (broadcast join)
    ca = corpus.select(id_col, vec_col).crossJoin(centb)
    sim_c = cosine_similarity_col(F.col(vec_col), F.col("cvec"))
    wc = Window.partitionBy(id_col).orderBy(F.desc("__sim"), F.col("cell_id"))
    assigned = (
        ca.withColumn("__sim", sim_c)
        .withColumn("__r", F.row_number().over(wc))
        .filter(F.col("__r") == 1)
        .select(id_col, vec_col, "cell_id")
    )
    # query probes: nprobe nearest cells
    qa = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec")
    ).crossJoin(centb)
    sim_q = cosine_similarity_col(F.col("__qvec"), F.col("cvec"))
    wq = Window.partitionBy(query_id_col).orderBy(F.desc("__sim"), F.col("cell_id"))
    probes = (
        qa.withColumn("__sim", sim_q)
        .withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= nprobe)
        .select(query_id_col, "__qvec", "cell_id")
    )
    joined = assigned.join(F.broadcast(probes), "cell_id").filter(
        F.col(id_col) != F.col(query_id_col)
    )
    sim = cosine_similarity_col(F.col(vec_col), F.col("__qvec"))
    return per_query_topk(
        joined.withColumn("cosine", sim), k, "cosine", query_id_col, id_col
    ).select(query_id_col, id_col, "cosine", "rank")


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One deterministic Lloyd ASSIGNMENT step — the coarse-quantizer
    building block shared by IVF indexing and embedding-space cluster
    dedup. Centroids are the k lowest-id vectors (seeded, model-free);
    every vector is assigned to its nearest centroid by cosine (ties ->
    lowest centroid id).

    Scale shape: the k centroid vectors are collected once (a k-row
    driver seam, like the reference coordinator's query planning) and
    inlined as literal arrays, so assignment is a pure column expression
    over the scan — NO corpus-keyed shuffle, no crossJoin row blowup;
    the only Exchange aggregates k output rows. Cosines round to 6
    before the argmax/mean so float association order can't flip a
    boundary (same discipline as emb_knn's oracle ranking).

    Output: (centroid_id, n_assigned, mean_cosine).
    """
    # centroids = the k LOWEST ids PRESENT (not `id < k`: callers feed
    # pre-filtered frames — screen survivors, hash ids — whose id space
    # need not contain 0..k-1; on the dense-id registry corpus the two
    # selections are identical). Deterministic for any id space.
    cents = (
        emb.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    )
    if not cents:
        # empty input: no clusters, no prunes — an empty result, not an
        # np.stack crash
        return emb.sparkSession.createDataFrame(
            [],
            f"{id_col} long, centroid_id long, dup_of long, cosine double",
        )
    # ONE rendered SQL expression instead of k x dim py4j literal nodes
    # (r12 — see _centroid_scored_expr)
    scored = _centroid_scored_expr(cents, vec_col, id_col)
    # array_max on (cos, negid): max cosine, then max(-id) = min id
    return (
        _assignments(emb, scored)
        .select("centroid_id", "cos")
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            (
                F.round(
                    F.sum(F.col("cos").cast("decimal(38,10)"))
                    / F.count(F.lit(1)),
                    4,
                ).cast("double")
            ).alias("mean_cosine"),
        )
    )


def _assignments(emb: DataFrame, scored) -> DataFrame:
    """Per-vector nearest-centroid rows (keeps all input columns)."""
    best = F.array_max(scored)
    return emb.select(
        "*",
        (-best["negid"]).alias("centroid_id"),
        best["cos"].alias("cos"),
    )


def cluster_capped_sample(
    emb: DataFrame,
    k: int = 8,
    cap: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Diversity-aware subsampling: keep at most ``cap`` vectors per
    coarse k-means cluster (the cluster-balanced selection step of
    DCLM/SemDeDup-style pipelines — a raw quality rank over-samples the
    densest region of embedding space; capping per cluster preserves
    coverage of the tails at a fixed budget).

    Assignment reuses the deterministic Lloyd step (centroids = the k
    lowest-id vectors, inlined as literals — assignment is a pure
    column expression, no corpus-keyed shuffle). Within each cluster
    the keep rank is HASH-FAIR: ordered by the md5-prefix of the id
    (the dual-engine hash idiom, so the DuckDB oracle reproduces the
    exact kept set), id tie-break — a deterministic uniform sample of
    the cluster rather than a quality-correlated one. The rank runs as
    the salted two-phase window (:func:`salted_topk`), so one giant
    cluster never funnels the corpus through a single window partition.

    Output: (id, centroid_id, cos, rank) — kept rows only, rank
    1..cap within the cluster."""
    cents = emb.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    if not cents:
        return emb.sparkSession.createDataFrame(
            [], f"{id_col} long, centroid_id long, cos double, rank long"
        )
    # ONE rendered SQL expression instead of k x dim py4j literal nodes
    # (r12 — see _centroid_scored_expr)
    scored = _centroid_scored_expr(cents, vec_col, id_col)
    a = _assignments(emb, scored).select(
        F.col(id_col),
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.col("cos"),
    )
    rk = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    order = [F.col("__rk"), F.col(id_col)]
    ranked = salted_topk(a.withColumn("__rk", rk), cap, "centroid_id", order, id_col)
    return ranked.select(
        id_col, "centroid_id", "cos", F.col("rank").cast("long").alias("rank")
    )


def semantic_dedup(
    emb: DataFrame,
    k: int = 8,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style embedding-space dedup: coarse k-means clustering,
    then exact cosine pruning WITHIN each cluster only (Abbas et al.
    2023's cluster-then-prune recipe). A vector is a duplicate when a
    LOWER-id vector in its cluster is above ``threshold``; the kept
    representative is the lowest such id — fully deterministic.

    Scale shape: assignment is the shuffle-free centroid-literal column
    expression of :func:`kmeans_assign`; the only join is the
    within-cluster self-join, whose cost is sum(|cluster|^2) — bounded
    by k (at 100 TB, k grows with the corpus so clusters stay ~1e4
    vectors, the published SemDeDup operating point), never the
    corpus-squared blowup of a global pair join.

    Output: (vec_id, centroid_id, dup_of, cosine) — one row per PRUNED
    vector, cosine to its keeper rounded to 4.
    """
    import numpy as np
    import pandas as pd

    # centroids = the k LOWEST ids PRESENT (not `id < k`: callers feed
    # pre-filtered frames — screen survivors, hash ids — whose id space
    # need not contain 0..k-1; on the dense-id registry corpus the two
    # selections are identical). Deterministic for any id space.
    cents = (
        emb.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    )
    if not cents:
        # empty input: no clusters, no prunes — an empty result, not an
        # np.stack crash
        return emb.sparkSession.createDataFrame(
            [],
            f"{id_col} long, centroid_id long, dup_of long, cosine double",
        )
    # centroid matrix rides the task closure (k x d floats — tiny),
    # NOT a k*d-literal Catalyst expression: at k=32 the literal tree's
    # per-query analysis cost dwarfed the actual execution
    cmat = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in cents])
    cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
    cent_ids = np.array([int(r[id_col]) for r in cents], dtype=np.int64)

    def assign(it):
        for pdf in it:
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            sims = np.round(mat @ cmat.T, 6)
            # centroids are id-ordered, argmax returns the FIRST max:
            # ties break to the lowest centroid id, like the oracle's
            # ORDER BY cos DESC, cid
            pdf = pdf[[id_col, vec_col]].copy()
            pdf["centroid_id"] = cent_ids[sims.argmax(axis=1)]
            yield pdf

    asg = emb.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} long, {vec_col} array<double>, centroid_id long"
    )

    out_schema = (
        f"{id_col} long, centroid_id long, dup_of long, cosine double"
    )

    def cluster_prune(pdf: "pd.DataFrame") -> "pd.DataFrame":
        """Within ONE cluster: normalized GEMM gives every pairwise
        cosine at once (the vectorized math emb_near_dup's blocked GEMM
        established); round to 6 then threshold/argmin, matching the
        Catalyst/oracle arithmetic."""
        import numpy as np

        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        mat = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        sims = np.round(mat @ mat.T, 6)
        rows = []
        cid = int(pdf["centroid_id"].iloc[0])
        for ai in range(1, len(ids)):
            hits = np.nonzero(sims[ai, :ai] >= threshold)[0]
            if hits.size:
                bi = int(hits[0])  # ids sorted: first hit = lowest id
                rows.append(
                    (int(ids[ai]), cid, int(ids[bi]), round(float(sims[ai, bi]), 4))
                )
        return pd.DataFrame(
            rows, columns=[id_col, "centroid_id", "dup_of", "cosine"]
        )

    return asg.groupBy("centroid_id").applyInPandas(cluster_prune, out_schema)


# ---------------------------------------------------------------- product quantization


def pq_train_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 16,
    ksub: int = 64,
    sample: int = 2048,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train PQ codebooks: per-subspace k-means over a deterministic
    corpus sample (smallest xxhash64(id) — the IVF centroid idiom, no
    stored model / no RNG). Returns an ``m x ksub x dim//m`` numpy array.

    The sample collect is the PQ training seam — identical in role to
    FAISS's ``train()``; at 100 TB the sample is still ``sample`` rows.
    Vectors are L2-normalized first so ADC inner products approximate
    cosine.

    Model-shipping contract (pinned by
    test_pq_codebook_plan_size_contract): the returned codebooks must
    ride task CLOSURES (pq_encode) or a k-row broadcast DataFrame
    (pq_topk's LUTs) — never Catalyst literal expression trees. A
    ``dim*ksub*m``-literal tree costs seconds of ANALYSIS per query and
    approaches Catalyst expression limits as the model grows (the
    semantic_dedup centroid fix, same failure mode).
    """
    import numpy as np

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    rows = (
        corpus.select(F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(sample)
        .collect()
    )
    X = np.array([r[0] for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    if len(X) < ksub:
        raise ValueError(f"sample {len(X)} smaller than ksub {ksub}")
    dsub = dim // m
    # r13 (guide §1.2 per-task work; the task is the DRIVER): the d2
    # TEMPORARIES were the measured hotspot of the r12 form (allocating
    # three sample x ksub float64 arrays per iteration x m subspaces —
    # ~2 GB of allocation traffic per build at (m,ksub)=(16,256), 2.0 s
    # of the 2.9 s build; add.at was 0.03 s). One preallocated buffer
    # now carries the distance matrix through matmul(out=) + in-place
    # broadcasts, and the centroid sums use row-order weighted
    # bincounts. BITWISE equivalence to the r12 form, term by term:
    # (g*-2.0 + x2) + c2 == (x2 - 2.0*g) + c2 in IEEE (negation and
    # addition commutation are exact), and np.bincount(weights=...)
    # accumulates in row order — the same order np.add.at did. Pinned
    # by the train-identity test against the inlined original loop;
    # interleaved A/B (5 reps each, same session): 0.91 s -> 0.31 s.
    books = []
    buf = np.empty((len(X), ksub))
    for s in range(m):
        Xs = np.ascontiguousarray(X[:, s * dsub : (s + 1) * dsub])
        C = Xs[:ksub].copy()  # deterministic init: sample is hash-ordered
        # ||x||^2 is constant across iterations; hoist it (r12)
        x2 = (Xs**2).sum(1)[:, None]
        for _ in range(iters):
            np.matmul(Xs, C.T, out=buf)
            buf *= -2.0
            buf += x2
            buf += (C**2).sum(1)[None, :]
            assign = buf.argmin(1)
            cnt = np.bincount(assign, minlength=ksub)
            sums = np.stack(
                [
                    np.bincount(assign, weights=Xs[:, j], minlength=ksub)
                    for j in range(dsub)
                ],
                axis=1,
            )
            nz = cnt > 0
            C[nz] = sums[nz] / cnt[nz, None]
        books.append(C)
    return np.stack(books)


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` sub-codebook indices (Arrow-batched
    numpy argmin — this is the compression pass: dim floats -> m bytes,
    the reason PQ scales where raw vectors don't)."""
    import pandas as pd  # noqa: F401 (mapInPandas contract)

    m, ksub, dsub = codebooks.shape
    dim = m * dsub
    schema = f"{id_col} long, codes array<int>"
    books = codebooks  # captured; broadcast by task serialization (small)

    def encode(batches):
        import numpy as np

        for pdf in batches:
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                Xs = X[:, s * dsub : (s + 1) * dsub]
                d2 = ((Xs[:, None, :] - books[s][None, :, :]) ** 2).sum(-1)
                codes[:, s] = d2.argmin(1)
            yield pdf[[id_col]].assign(codes=list(codes))

    return corpus.select(id_col, vec_col).mapInPandas(encode, schema)


def adc_scores_arrow(
    codes_df: DataFrame,
    lut_rows: list,
    m: int,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    cell_col: str | None = None,
    ncells: int | None = None,
) -> DataFrame:
    """(query_id, id, adc_score) for every (query, candidate) pair as
    ONE Arrow stage with the LUT tensor riding the task closure.

    The r12 JVM form shipped the per-query LUT through the join output:
    every scored ROW materialized its m x ksub double array in unsafe
    row format (~32 KB/row at (16,256) — ~3 GB of row churn for a 100k
    crossJoin at sf0.1) before an interpreted zip_with/aggregate fold
    consumed it. Here the codes table ships ONCE (id [+ cell] + m ints
    per row) and the scoring is m vectorized gathers per query — the
    emb_knn_lsh r12 precedent (float candidate math past the
    expression-tree budget goes to Arrow). Measured: crossJoin+HOF
    1.25 s -> 0.27 s on the sf0.1 pq row's scoring stage.

    BITWISE-identical scores: the accumulator starts at 0.0 and adds
    the per-subspace LUT values in subspace order — exactly the
    ``F.aggregate(zip_with(...), 0.0, acc + v)`` left fold, one IEEE
    double add per term (parity pinned in tests against the HOF form).

    ``lut_rows``: (query_id, luts) tuples, or (query_id, probe_cells,
    luts) when ``cell_col`` is given — then only rows whose cell is in
    the query's probe list score (the IVF pruning contract, applied as
    a boolean gather instead of a broadcast join).
    """
    import numpy as np

    qids = np.array([int(r[0]) for r in lut_rows], dtype=np.int64)
    LUT = np.array([r[-1] for r in lut_rows], dtype=np.float64)
    probe = None
    if cell_col is not None:
        probe = np.zeros((len(lut_rows), int(ncells)), dtype=bool)
        for qi, r in enumerate(lut_rows):
            probe[qi, list(r[1])] = True
    cols = [id_col] + ([cell_col] if cell_col else []) + ["codes"]

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            Cm = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            ids = pdf[id_col].to_numpy()
            cells = pdf[cell_col].to_numpy() if probe is not None else None
            out_q, out_i, out_s = [], [], []
            for qi in range(len(qids)):
                if probe is not None:
                    sel = probe[qi][cells]
                    Cs, ids_s = Cm[sel], ids[sel]
                else:
                    Cs, ids_s = Cm, ids
                if len(ids_s) == 0:
                    continue
                acc = np.zeros(len(ids_s))
                for s in range(m):
                    acc = acc + LUT[qi, s][Cs[:, s]]
                out_q.append(np.full(len(ids_s), qids[qi]))
                out_i.append(ids_s)
                out_s.append(acc)
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    query_id_col: np.concatenate(out_q),
                    id_col: np.concatenate(out_i),
                    "adc_score": np.concatenate(out_s),
                }
            )

    return codes_df.select(*cols).mapInPandas(
        score, f"{query_id_col} long, {id_col} long, adc_score double"
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    m: int = 16,
    ksub: int = 64,
    sample: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ-ADC approximate top-k (Jegou et al. 2011): corpus compressed to
    ``m`` byte-ish codes, queries scored against codes via per-subspace
    lookup tables (asymmetric distance computation).

    Scale story: the scan side touches only the code column (m ints vs
    dim floats — 32x smaller at dim=64/m=8), and scoring is m
    ``element_at`` lookups per candidate, JVM-side. Composes with IVF
    cell pruning for the full FAISS-style index; here the LUT join is a
    broadcast crossJoin like brute force, isolating the PQ contract.

    Output: (query_id, vec_id, adc_score, rank) — adc_score approximates
    cosine (vectors L2-normalized before encoding/LUT build).
    """
    import numpy as np

    books = pq_train_codebooks(
        corpus, dim, m=m, ksub=ksub, sample=sample, id_col=id_col, vec_col=vec_col
    )
    codes = pq_encode(corpus, books, id_col=id_col, vec_col=vec_col)

    qrows = queries.select(F.col(query_id_col), F.col(vec_col)).collect()
    dsub = dim // m
    lut_rows = []
    for r in qrows:
        qv = np.asarray(r[vec_col], dtype=np.float64)
        qv /= max(float(np.linalg.norm(qv)), 1e-12)
        # r12: one matvec per subspace replaces ksub np.dot calls; the
        # per-entry Python round(.., 9) is kept and the rounded LUTs are
        # verified identical to the dot-loop's on the real embeddings
        # (see ann_index.IvfPqIndex.topk — same contract, same check)
        luts = [
            [
                round(float(v), 9)
                for v in books[s] @ qv[s * dsub : (s + 1) * dsub]
            ]
            for s in range(m)
        ]
        lut_rows.append((r[query_id_col], luts))
    # r13: the crossJoin+HOF scoring becomes one Arrow stage (see
    # adc_scores_arrow — scores bitwise identical, parity test-pinned)
    scored = adc_scores_arrow(
        codes, lut_rows, m, id_col=id_col, query_id_col=query_id_col
    ).filter(F.col(id_col) != F.col(query_id_col))
    return per_query_topk(
        scored, k, "adc_score", query_id_col, id_col
    ).select(query_id_col, id_col, "adc_score", "rank")


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    m: int = 16,
    ksub: int = 64,
    ncells: int = 64,
    nprobe: int = 16,
    sample: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF + PQ composed (FAISS IVFADC shape): one Arrow pass assigns
    each vector its coarse cell AND its PQ code, queries probe their
    ``nprobe`` nearest cells, candidates score via ADC lookup tables.

    This is the full 100 TB ANN architecture: the scan side carries
    (cell, m-int code) per vector; the cell join prunes the corpus
    ~ncells/nprobe-fold before any scoring; scoring is m lookups
    JVM-side. Plan: scan -> mapInPandas encode -> broadcast cell join ->
    window top-k — one Python stage, one broadcast, one shuffle.

    Simplification vs FAISS: codes quantize the raw (normalized) vector,
    not the cell residual — recall is slightly lower at equal m but no
    per-cell codebooks are needed. Centroids/codebooks/probes all derive
    deterministically (hash-ordered sample, no RNG).

    r12: train/encode/score live on ``ann_index.IvfPqIndex`` (the
    persistent-lifecycle home — save/load/append); this entry point is
    the in-session build-then-query composition, plan unchanged.
    """
    from .ann_index import IvfPqIndex

    idx = IvfPqIndex.build(
        corpus, dim, m=m, ksub=ksub, ncells=ncells, sample=sample,
        id_col=id_col, vec_col=vec_col,
    )
    return idx.topk(queries, k=k, nprobe=nprobe, query_id_col=query_id_col)


def ivfpq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    rerank: int = 8,
    m: int = 16,
    ksub: int = 64,
    ncells: int = 64,
    nprobe: int = 16,
    sample: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVFADC + exact refine (the FAISS ``IVFPQ,Refine`` shape): the
    quantized index prunes to ``k * rerank`` candidates per query by
    ADC, then ONLY those candidates re-score against their full vectors
    in exact cosine — quantization error affects candidate SELECTION,
    never the final ordering, so recall approaches brute force at a
    scan cost that stays index-shaped.

    Scale: the candidate set is |Q| * k * rerank rows — it broadcasts;
    the full-vector fetch is a broadcast semi-join against the corpus
    (map-side prune inside the scan stage, no corpus shuffle), and the
    exact scoring touches candidates only. With ``nprobe=ncells`` and
    ``k * rerank >= |corpus|`` the output equals exact brute-force
    top-k (pinned by test).

    Choosing ``nprobe``: at test-corpus sizes the registry row runs
    nprobe == ncells (full ADC sweep — still m-lookups-per-vector
    cheap; the row's demonstrated pruning is the k*rerank exact
    re-score cut). At production scale ncells grows ~sqrt(|corpus|)
    (FAISS practice) while nprobe stays O(tens), so the probed
    fraction shrinks back toward nprobe/ncells — the knob trades a
    linear ADC term for recall only while the corpus is small.
    """
    from .ann_index import IvfPqIndex

    idx = IvfPqIndex.build(
        corpus, dim, m=m, ksub=ksub, ncells=ncells, sample=sample,
        id_col=id_col, vec_col=vec_col,
    )
    return idx.rerank_topk(
        corpus, queries, k=k, rerank=rerank, nprobe=nprobe,
        query_id_col=query_id_col,
    )


# ---------------------------------------------------------------- PCA projection


def pca_components(
    corpus: DataFrame,
    dim: int,
    r: int = 8,
    sample: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train a PCA basis on a deterministic hash-ordered sample (the
    PQ/IVF training seam — fixed-size regardless of corpus scale).

    Returns (mean, components r x dim, explained_variance_ratio). Signs
    are canonicalized (largest-|x| coefficient positive) so the basis is
    unique — eigenvectors are otherwise sign-ambiguous across BLAS
    builds.
    """
    import numpy as np

    rows = (
        corpus.select(F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(sample)
        .collect()
    )
    X = np.array([row[0] for row in rows], dtype=np.float64)
    mu = X.mean(0)
    Xc = X - mu
    cov = (Xc.T @ Xc) / max(len(X) - 1, 1)
    w, V = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:r]
    comps = V[:, order].T.copy()
    for i in range(r):
        j = int(np.abs(comps[i]).argmax())
        if comps[i][j] < 0:
            comps[i] = -comps[i]
    evr = (w[order] / max(float(w.sum()), 1e-300)).tolist()
    return mu, comps, evr


def pca_project(
    corpus: DataFrame,
    mean,
    components,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Project vectors onto the PCA basis — mean and components inlined
    as array literals, each coordinate a zip_with/aggregate dot product:
    pure JVM column expressions, zero shuffle, zero Python (the
    kmeans_assign centroid-literal idiom; at r=8 x dim=64 the literal
    budget is ~1/4 of the k-means case the plan audit already clears).

    Output: (id, pc0..pc{r-1}) — the compressed representation used for
    whitening, visualization pre-reduction, or cheap pre-filtering in
    front of exact cosine.
    """
    mu_lit = F.array(*[F.lit(float(x)) for x in mean])
    centered = F.zip_with(
        F.col(vec_col), mu_lit, lambda a, b: a.cast("double") - b
    )
    cols = []
    for i, comp in enumerate(components):
        c_lit = F.array(*[F.lit(float(x)) for x in comp])
        dot = F.aggregate(
            F.zip_with(centered, c_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        cols.append(F.round(dot, round_to).alias(f"pc{i}"))
    return corpus.select(F.col(id_col), *cols)


def pair_alignment(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.0,
) -> DataFrame:
    """CLIP-style image-text ALIGNMENT filter over paired embeddings —
    the LAION curation primitive: an (image, caption) pair survives only
    if the two modalities' embeddings agree (cosine >= threshold).

    Pairing convention matches the repo's media->caption fixtures
    (media_caption_dedup): consecutive ids (2k, 2k+1) form one pair —
    2k is the image-encoder vector, 2k+1 the text-encoder vector. In a
    real pipeline both columns come from model inference upstream; this
    operator is the Spark-side filter those scores feed.

    Scale shape: one sort-merge join on the derived ``pair_id`` int key
    (both sides shuffle once, vectors ride the shuffle exactly one
    time), cosine entirely JVM-side (zip_with/aggregate — no Python
    stage), then a row-local threshold. At 100 TB the cost is one
    corpus-linear co-partition; when the upstream writer bucket-sorts
    by pair_id the Exchange disappears the same way the series-bucketed
    store kills the rate window's shuffle.

    Output: (pair_id, image_id, caption_id, alignment, keep).
    """
    pid = (F.col(id_col) / 2).cast("long").alias("pair_id")
    img = emb.filter(F.col(id_col) % 2 == 0).select(
        pid, F.col(id_col).alias("image_id"), F.col(vec_col).alias("__iv")
    )
    cap = emb.filter(F.col(id_col) % 2 == 1).select(
        pid, F.col(id_col).alias("caption_id"), F.col(vec_col).alias("__cv")
    )
    cos = cosine_similarity_col(F.col("__iv"), F.col("__cv"))
    return (
        img.join(cap, "pair_id")
        .select(
            "pair_id",
            "image_id",
            "caption_id",
            F.round(cos, 4).alias("alignment"),
            (cos >= F.lit(threshold)).alias("keep"),
        )
    )


# ------------------------------------------------- text -> embedding


def _hashed_sums(
    df: DataFrame, dim: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, __s0..__s{dim-1}): the raw INTEGER ±1 sums under the shared
    md5-sign projection — the engine-exact layer both the normalized
    embedding and the integer-arithmetic consumers
    (:func:`semantic_decontaminate`) build on. Zero-token docs are
    absent (no explode rows); callers restore them as needed.

    The guard lives HERE so every consumer inherits it: bits 32+ of
    the 32-bit md5 prefix are always 0, so an unguarded dim > 32 would
    silently add +n_tokens coordinates shared by every doc — a large
    common component that inflates cosines between unrelated docs."""
    if not 1 <= dim <= 32:
        raise ValueError(f"dim must be in 1..32, got {dim}")
    from .text import tokens

    h = F.conv(F.substring(F.md5("__t"), 1, 8), 16, 10).cast("long")
    ex = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__t")
    ).select(id_col, h.alias("__h"))
    # r12: rendered SQL aggregates (one F.expr each) — the per-node
    # Column form cost driver seconds across this function's many
    # consumers (the retrieval wide-plan finding); trees identical
    return ex.groupBy(id_col).agg(
        *[
            F.expr(f"sum(1 - 2 * (shiftright(__h, {d}) & 1))").alias(
                f"__s{d}"
            )
            for d in range(dim)
        ]
    )


def hashed_text_embedding(
    df: DataFrame,
    dim: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic signed-random-projection text embedding — the
    in-container stand-in for a model embedder (the multimodal-stub
    pattern: real Spark plumbing, deterministic fake weights), closing
    the text -> vector seam so the ANN / SemDeDup stack runs end-to-end
    from raw documents. Each token contributes ±1 per dimension (sign
    bit ``d`` of its md5 32-bit prefix — the clf_bucket md5 idiom, so
    the DuckDB oracle is engine-exact); the per-doc sums L2-normalize.
    This is classic feature-hashing / SimHash-style projection: near-
    identical token multisets land at near-identical vectors, cosine
    degrades smoothly with token edits.

    Scale shape: ONE corpus-linear token explode carrying (id, 32-bit
    int), ONE groupBy(id) with ``dim`` plain conditional sums (codegen,
    map-side combinable) — no HOF re-evaluation, no text in the
    shuffle, no driver state. ``dim`` <= 32 (one md5 prefix's sign
    budget; a wider variant would chain further md5 chunks).

    Output: (id, embedding array<double> L2-normalized, norm2 long —
    the EXACT integer squared norm of the raw ±1 sums; zero-token docs
    emit the zero vector with norm2 0).
    """
    sums = _hashed_sums(df, dim, text_col, id_col)  # guards dim 1..32
    # r12: rendered SQL (one F.expr each) — the per-node Column form
    # cost driver seconds per call (the retrieval wide-plan finding);
    # trees identical (_bal_sql balanced bracketing, CASE == when/
    # otherwise, explicit casts)
    norm2 = F.expr(
        _bal_sql([f"(__s{d} * __s{d})" for d in range(dim)])
    )
    emb = F.expr(
        "array("
        + ", ".join(
            f"CASE WHEN __norm2 > 0 THEN CAST(__s{d} AS DOUBLE)"
            " / SQRT(CAST(__norm2 AS DOUBLE)) ELSE 0.0D END"
            for d in range(dim)
        )
        + ")"
    )
    out = sums.withColumn("__norm2", norm2).select(
        F.col(id_col),
        emb.alias("embedding"),
        F.col("__norm2").cast("long").alias("norm2"),
    )
    # zero-token docs never reach the explode: restore them as zeros
    zeros = F.array(*[F.lit(0.0) for _ in range(dim)])
    base = df.select(F.col(id_col))
    return (
        base.join(out, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("embedding", zeros).alias("embedding"),
            F.coalesce("norm2", F.lit(0)).cast("long").alias("norm2"),
        )
    )


def _sums_sql(dim: int) -> str:
    """The DuckDB twin of :func:`_hashed_sums`' aggregate list — ONE
    definition of the md5-sign layer on the SQL side too, so the two
    oracle consumers (:func:`hashed_text_embedding_sql`,
    :func:`semantic_decontaminate_sql`) can never drift from each
    other (the same reason the Python side refactored onto
    _hashed_sums)."""
    sign = "CAST(from_hex(substr(md5(t), 1, 8)) AS BIT)::UINTEGER"
    return ", ".join(
        f"sum(1 - 2 * CAST((({sign}) >> {d}) & 1 AS BIGINT)) AS s{d}"
        for d in range(dim)
    )


def hashed_text_embedding_sql(
    dim: int = 32, c: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB equivalent of :func:`hashed_text_embedding`'s per-doc sums
    and norm (oracle side; emits norm2 + the first coords as columns is
    the CALLER's shaping)."""
    from .text import TOKENS_SQL

    toks = TOKENS_SQL.format(c=c)
    sums = _sums_sql(dim)
    norm2 = " + ".join(f"s{d}*s{d}" for d in range(dim))
    return f"""
WITH tok AS (SELECT {id_col}, unnest({toks}) AS t FROM documents),
s AS (SELECT {id_col}, {sums} FROM tok GROUP BY 1),
alldocs AS (SELECT {id_col} FROM documents)
SELECT alldocs.{id_col},
       {', '.join(f'coalesce(s.s{d}, 0) AS s{d}' for d in range(dim))},
       CAST(coalesce({norm2}, 0) AS BIGINT) AS norm2
FROM alldocs LEFT JOIN s USING ({id_col})"""


def _bal_sum(cols):
    """Sum Columns as a BALANCED Add tree (depth log2 n), not the
    left-deep chain `sum(...)` builds. Catalyst's commutative-chain
    canonicalization rebuilds subtrees without sharing, so a depth-32
    chain canonicalizes in O(2^32) — observed as a driver OOM the
    first time an AQE equi-join plan containing the chain was
    canonicalized for stage reuse. Integer addition is associative, so
    the result is bit-identical either way."""
    items = list(cols)
    if not items:
        return F.lit(0)
    while len(items) > 1:
        items = [
            items[i] + items[i + 1] if i + 1 < len(items) else items[i]
            for i in range(0, len(items), 2)
        ]
    return items[0]


def _bal_sql(parts: list[str]) -> str:
    """:func:`_bal_sum` for SQL-string rendering (r12): balanced
    parenthesization, so the parser builds the SAME shallow Add tree
    the Column form did — a plain joined chain parses left-deep and
    re-opens the canonicalization cliff. Lives here next to its Column
    twin; retrieval imports it (one definition of the bracketing)."""
    n = len(parts)
    if n == 1:
        return parts[0]
    return (
        "(" + _bal_sql(parts[: n // 2]) + " + " + _bal_sql(parts[n // 2:]) + ")"
    )


def _tau_pq(threshold: float) -> tuple[int, int]:
    """tau² as the exact fraction p/q of the DECIMAL threshold — the
    single definition both decontamination paths (broadcast and
    blocked) derive their integer predicate from."""
    from fractions import Fraction

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    frac = Fraction(str(threshold)) ** 2
    return frac.numerator, frac.denominator


def _integer_hit(dot, n1, n2, p: int, q: int):
    """The shared EXACT-INTEGER contamination predicate over raw ±1 sum
    vectors: cos(s, b) >= tau  <=>  dot > 0 AND q·dot² >= p·n1·n2 (with
    tau² = p/q). decimal(38,0) headroom: |s_d| <= n_tokens, so dot, n1,
    n2 <= dim·T² and q·dot² <= q·dim²·T⁴ — long overflows near T ~ 55k
    tokens at dim 32; exact decimals never do. Used verbatim by BOTH
    :func:`semantic_decontaminate` (broadcast) and
    :func:`semantic_decontaminate_blocked` (cell-probe) — the verdict
    layer cannot drift between the two regimes."""
    dec = "decimal(38,0)"
    return (
        (dot > 0)
        & (
            F.lit(q).cast(dec) * dot.cast(dec) * dot.cast(dec)
            >= F.lit(p).cast(dec) * n1.cast(dec) * n2.cast(dec)
        )
        & (n2 > 0)
    )


def semantic_decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    threshold: float = 0.8,
    dim: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag corpus docs whose
    hashed-embedding cosine against ANY benchmark doc clears
    ``threshold`` — the screen for PARAPHRASED leakage that n-gram
    decontamination (``dedup.decontaminate``: exact 8-gram set-join)
    structurally misses. Token-multiset similarity survives the
    reorderings and light edits that break every 8-gram, and the
    signed-projection embedding is a function of the token multiset.

    The flag is decided in EXACT INTEGER arithmetic, never floats:
    with s, b the raw ±1 sum vectors (integers) and n1 = |s|², n2 = |b|²
    (integer squared norms),

        cos(s, b) >= tau  <=>  dot > 0  and  q·dot² >= p·n1·n2

    where tau² = p/q as an exact fraction of the DECIMAL threshold
    (0.8 -> 16/25). Both engines evaluate the same integer predicate,
    so there is no float knife-edge anywhere — the DuckDB oracle
    recomputes the identical sums (hashed_text_embedding's engine-exact
    md5-sign layer) and the identical comparison.

    Scale: |bench| is benchmark-sized (bounded); the pair stage is a
    broadcast cross join — corpus-linear at dim·|bench| integer
    multiply-adds per doc, no corpus shuffle beyond the one sum
    aggregation. For benchmark suites too large to broadcast, use
    :func:`semantic_decontaminate_blocked` — the cell-probe regime
    (EXACTLY the same output, proven complete by the angular triangle
    inequality) — the same trade the Bloom regime makes for the
    n-gram path.

    Output: one row per corpus doc — (id, n_bench_hits, contaminated).
    Zero-token docs (norm 0) never flag. ``threshold`` must be in
    (0, 1]: the integer equivalence uses a STRICT dot > 0 (so norm-0
    vectors never divide by zero), which at tau = 0 would diverge from
    ">= threshold" for exactly-orthogonal pairs.
    """
    p, q = _tau_pq(threshold)

    # squared norms are per-ROW constants: compute them once per doc /
    # bench row BEFORE the pair join, not dim multiply-adds per PAIR
    # (Catalyst cannot hoist a subexpression across a join)
    # r12: rendered SQL sums (one F.expr each, _bal_sql bracketing) —
    # same trees as the per-node Column form at a fraction of the
    # driver construction cost
    def with_norm2(df_, prefix, out):
        n = F.expr(
            _bal_sql([f"({prefix}{d} * {prefix}{d})" for d in range(dim)])
        )
        return df_.withColumn(out, n)

    ds = with_norm2(
        _hashed_sums(docs, dim, text_col, id_col), "__s", "__n1"
    )
    bs = with_norm2(
        _hashed_sums(bench, dim, text_col, id_col).select(
            *[F.col(f"__s{d}").alias(f"__b{d}") for d in range(dim)]
        ),
        "__b",
        "__n2",
    )
    dot = F.expr(
        _bal_sql([f"(__s{d} * __b{d})" for d in range(dim)])
    )
    pairs = ds.crossJoin(F.broadcast(bs)).select(
        F.col(id_col),
        _integer_hit(dot, F.col("__n1"), F.col("__n2"), p, q).alias("__hit"),
    )
    hits = pairs.groupBy(id_col).agg(
        F.sum(F.col("__hit").cast("long")).alias("n_bench_hits")
    )
    return _hits_shape(docs, hits, id_col)


def _hits_shape(docs: DataFrame, hits: DataFrame, id_col: str) -> DataFrame:
    """Shared output shaping for both decontamination regimes: restore
    every corpus doc (zero-token docs never reach the hit stage) with
    hit count 0 -> contaminated false."""
    return (
        docs.select(F.col(id_col))
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bench_hits", F.lit(0)).alias("n_bench_hits"),
            (F.coalesce("n_bench_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )



def _decon_cell_index(bs, dim: int, ncells: int, lloyd_iters: int = 0):
    """Build the benchmark cell index for the blocked decontamination
    regime: returns (b_assigned persisted DataFrame, cent C x dim unit
    ndarray, radii {cell: max angle}), or None for an empty/all-zero
    benchmark. ``bs`` is the renamed, zero-norm-filtered sums frame.

    Seed centroids are the ncells lowest-xxhash64 bench vectors
    (ivf_topk's deterministic reservoir); ``lloyd_iters`` optional
    spherical-k-means refinements recompute each centroid as the
    normalized mean of its members' unit vectors and reassign — purely
    an EFFICIENCY knob: any centroid set is a valid index (the radius
    bound adapts), so the exactness proof is untouched; tighter cells
    mean smaller radii mean fewer probed cells per corpus doc.

    The float assignment is an Arrow-vectorized numpy GEMM (the
    emb_near_dup blocked-GEMM precedent) rather than a Catalyst column
    tree: ncells*dim multiply-adds as wide expressions blow past the
    JVM's 64 KB codegen method limit when fused into the sum
    aggregate's output (observed at ncells=16, dim=32 — interpreted
    fallback, ~6x slower). Integer norms ride along as exact int64.

    The returned index is persist()ed and materialized: it is consumed
    at least twice (radius collect + candidate join), and the cached
    InMemoryRelation LEAF keeps Catalyst constraint propagation from a
    heap-exhausting blowup when the candidate join's other side is
    also a mapInPandas output over the 33-column sum aggregate (driver
    OOM at 8g on a 500-doc corpus, getAllValidConstraints in the
    stack; either side alone plans fine). persist, not
    localCheckpoint: the .rdd conversion inside localCheckpoint
    replans the Python-stage query down the same blowing-up path."""
    import numpy as np

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    cent_rows = (
        bs.orderBy(F.xxhash64(F.col("__bid")), F.col("__bid"))
        .limit(ncells)
        .collect()
    )
    if not cent_rows:
        return None
    cent = np.array(
        [[float(r[f"__b{d}"]) for d in range(dim)] for r in cent_rows],
        dtype=np.float64,
    )
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    b_cols = [f"__b{d}" for d in range(dim)]
    b_schema = StructType(
        bs.schema.fields
        + [
            StructField("__n2", LongType()),
            StructField("__cell", IntegerType()),
            StructField("__ang", DoubleType()),
        ]
    )
    if lloyd_iters > 0:
        # refinements re-scan the bench sums once per iteration — cache
        # them so iterations read the materialized frame
        bs = bs.persist()

    def assign(cent_t):
        def assign_fn(batches):
            for pdf in batches:
                Mi = pdf[b_cols].to_numpy(dtype=np.int64)
                M = Mi.astype(np.float64)
                dots = M @ cent_t
                # argmax: first occurrence -> lowest cell id on ties
                cell = dots.argmax(axis=1)
                best = dots[np.arange(len(pdf)), cell]
                n2 = (Mi * Mi).sum(axis=1)  # exact int64 squared norm
                pdf = pdf.copy()
                pdf["__n2"] = n2
                pdf["__cell"] = cell.astype("int32")
                pdf["__ang"] = np.arccos(
                    np.clip(
                        best / np.sqrt(n2.astype(np.float64)), -1.0, 1.0
                    )
                )
                yield pdf

        return bs.mapInPandas(assign_fn, b_schema)

    for _ in range(lloyd_iters):
        means = (
            assign(cent.T)
            .groupBy("__cell")
            .agg(
                *[
                    F.avg(
                        F.col(f"__b{d}")
                        / F.sqrt(F.col("__n2").cast("double"))
                    ).alias(f"m{d}")
                    for d in range(dim)
                ]
            )
            .collect()
        )
        new_cent = cent.copy()
        for r in means:
            v = np.array([r[f"m{d}"] for d in range(dim)], dtype=np.float64)
            nrm = float(np.linalg.norm(v))
            if nrm > 0:
                new_cent[r["__cell"]] = v / nrm
            # zero mean (perfect cancellation) or empty cell: keep the
            # previous centroid — still a valid index point
        cent = new_cent

    b_assigned = assign(cent.T).persist()
    b_assigned.count()
    radii = {
        r["__cell"]: r["phi"]
        for r in b_assigned.groupBy("__cell")
        .agg(F.max("__ang").alias("phi"))
        .collect()
    }
    return b_assigned, cent, radii


def _decon_probes(ds, cent, radii, theta_tau: float, eps: float, id_col: str):
    """Corpus probe stage: one (doc, cell) row per cell whose probe
    bound admits the doc — cell c qualifies iff angle(s, c) <=
    theta_tau + phi_c + eps, evaluated as dot >= cos(A_c)·sqrt(n1)
    (A_c >= pi probes unconditionally); cells nobody was assigned to
    are never probed. Probe constants are driver floats; eps covers
    their rounding. Arrow numpy GEMM for the same codegen-limit reason
    as the assignment stage; exact int64 norms ride along."""
    import math

    import numpy as np

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    dim = cent.shape[1]
    s_cols = [f"__s{d}" for d in range(dim)]
    probed = sorted(radii.items())
    probe_ids = np.array([j for j, _ in probed], dtype=np.int32)
    cos_a = np.array(
        [
            -2.0  # below any cosine -> always probe
            if theta_tau + phi + eps >= math.pi
            else math.cos(theta_tau + phi + eps)
            for _, phi in probed
        ],
        dtype=np.float64,
    )
    probe_t = cent.T[:, [j for j, _ in probed]]

    def probe_fn(batches):
        for pdf in batches:
            Mi = pdf[s_cols].to_numpy(dtype=np.int64)
            M = Mi.astype(np.float64)
            n1 = (Mi * Mi).sum(axis=1)  # exact int64 squared norm
            dots = M @ probe_t
            mask = dots >= np.outer(np.sqrt(n1.astype(np.float64)), cos_a)
            mask &= (n1 > 0)[:, None]
            ri, cj = np.nonzero(mask)
            out = pdf.iloc[ri].copy()
            out["__n1"] = n1[ri]
            out["__cell"] = probe_ids[cj]
            yield out

    s_schema = StructType(
        ds.schema.fields
        + [StructField("__n1", LongType()), StructField("__cell", IntegerType())]
    )
    return ds.mapInPandas(probe_fn, s_schema)


def semantic_decontaminate_blocked(
    docs: DataFrame,
    bench: DataFrame,
    threshold: float = 0.8,
    dim: int = 32,
    ncells: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    lloyd_iters: int = 0,
) -> DataFrame:
    """:func:`semantic_decontaminate` for benchmark suites too large to
    broadcast — the large-benchmark regime the Bloom path provides for
    n-gram decontamination (VERDICT r8 top-next #1). Output is
    BYTE-IDENTICAL to the broadcast path, not approximately: candidate
    generation is EXACTLY complete (proof below) and the verdict is the
    same shared :func:`_integer_hit` integer predicate, so the two
    regimes cannot disagree on any row.

    Blocking: an IVF-style cell probe with a per-cell radius bound.
    The ``ncells`` benchmark vectors with the smallest xxhash64(id)
    serve as deterministic centroids (the ivf_topk seeding idiom); every
    non-zero benchmark vector is assigned to its max-dot centroid, and
    each cell records its angular radius phi_c = max angle(b, c) over
    members. A corpus doc probes cell c iff

        angle(s, c) <= acos(tau) + phi_c + eps        (eps = 1e-6 rad)

    evaluated as dot(s, c_unit) >= cos(A_c) * sqrt(n1) with A_c a
    per-cell driver constant (A_c >= pi probes unconditionally).

    EXACTNESS: angle() = acos(cosine) is the geodesic metric on the
    unit sphere — a true metric, so the triangle inequality holds. For
    any pair with cos(s, b) >= tau and b in cell c:

        angle(s, c) <= angle(s, b) + angle(b, c) <= acos(tau) + phi_c

    hence s probes c, the pair is generated, and _integer_hit decides
    it exactly as the broadcast path would. Candidates the probe
    over-generates are killed by the same predicate. eps absorbs the
    double-rounding of the probe constants (~1e-13 rad, six orders
    below the margin); the verdict itself never touches a float.

    Why not SimHash sign-bucket banding (the documented-but-unbuilt r8
    sketch): at tau = 0.8 the per-bit sign-agreement probability for
    correlated hashed embeddings is ~1 - acos(0.8)/pi ~ 0.795, so a
    band of width w collides with probability 0.795^w (w=16 -> 0.025)
    — recall at the tau boundary demands hundreds of bands while
    narrow bands (w <= 4) collide on ~2 random cells per pair and
    regenerate the cross join. Worse, no Hamming bound is COMPLETE for
    the tau band: one dominant coordinate keeps cos >= tau with every
    other sign flipped, so banding could only ever offer a recall
    argument. The cell-probe bound is exact, with the same
    corpus-linear probe cost.

    Scale: the benchmark side is never broadcast and never crossed with
    the corpus — bench flows through one sum aggregation, one tiny
    centroid collect (ncells rows), one Arrow GEMM assignment pass and
    one radius aggregation (ncells rows); the corpus pays its one sum
    aggregation plus ONE Arrow-batch numpy GEMM per partition (the
    emb_near_dup blocked-GEMM idiom — a wide Catalyst column tree here
    would blow the 64 KB codegen method limit and fall back to
    interpreted eval, measured 6x slower), then ONLY the qualifying
    (doc, cell) rows shuffle into a cell-keyed equi-join against the
    benchmark cells (AQE handles cell skew). Candidate volume is sum
    over probed cells of |cell| — bounded by geometry, degrading toward
    the cross join only if every doc aims at every cell (an
    unclustered-benchmark worst case that stays corpus-linear)."""
    # NOTE on expression shape (now enforced inside DeconIndex.screen):
    # the squared norms are NOT built as 32-term Catalyst Add chains
    # here (the broadcast path's form). Under this path's equi-join +
    # AQE planning, canonicalization of large commutative Add chains
    # (CommutativeExpression.orderCommutative) blows the driver heap —
    # observed OOM at 8g on a 500-doc corpus. The norms are instead
    # computed EXACTLY in the Arrow stages as int64 (coordinates are
    # bounded by token count, so the sums stay far below 2^63), and the
    # only norm logic in SQL is a non-commutative `greatest` zero-norm
    # guard.
    #
    # r12: the benchmark-side structure (cell-assigned sums + centroids
    # + radii) lives on ann_index.DeconIndex — the persistent-lifecycle
    # home (a daily loop screens a growing corpus against a FROZEN
    # benchmark; DeconIndex.save/load reuses the index across runs).
    # This entry point is the in-session build-then-screen composition,
    # plan unchanged.
    from .ann_index import DeconIndex

    idx = DeconIndex.build(
        bench, threshold=threshold, dim=dim, ncells=ncells,
        text_col=text_col, id_col=id_col, lloyd_iters=lloyd_iters,
    )
    return idx.screen(docs)


def semantic_decontaminate_sql(
    bench_pred: str,
    threshold: float = 0.8,
    dim: int = 32,
    c: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle for :func:`semantic_decontaminate` over the
    ``documents`` view with the benchmark subset selected by
    ``bench_pred`` (a SQL predicate on documents). Recomputes the SAME
    integer sums and the SAME p/q integer comparison — value-exact."""
    from fractions import Fraction

    from .text import TOKENS_SQL

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    frac = Fraction(str(threshold)) ** 2
    p, q = frac.numerator, frac.denominator
    toks = TOKENS_SQL.format(c=c)
    sums = _sums_sql(dim)
    dot = " + ".join(f"ds.s{d} * bs.s{d}" for d in range(dim))
    n1 = " + ".join(f"ds.s{d} * ds.s{d}" for d in range(dim))
    n2 = " + ".join(f"bs.s{d} * bs.s{d}" for d in range(dim))
    dec = "DECIMAL(38,0)"
    return f"""
WITH tok AS (SELECT {id_col}, unnest({toks}) AS t FROM documents),
ds AS (SELECT {id_col}, {sums} FROM tok GROUP BY 1),
bt AS (SELECT {id_col}, unnest({toks}) AS t FROM documents
       WHERE {bench_pred}),
bs AS (SELECT {id_col} AS bid, {sums} FROM bt GROUP BY 1),
hits AS (
  SELECT ds.{id_col},
         sum(CASE WHEN ({dot}) > 0
                   AND CAST({q} AS {dec}) * CAST(({dot}) AS {dec})
                       * CAST(({dot}) AS {dec})
                       >= CAST({p} AS {dec}) * CAST(({n1}) AS {dec})
                          * CAST(({n2}) AS {dec})
                   AND ({n2}) > 0
             THEN 1 ELSE 0 END) AS n_bench_hits
  FROM ds CROSS JOIN bs GROUP BY 1)
SELECT d.{id_col},
       CAST(coalesce(h.n_bench_hits, 0) AS BIGINT) AS n_bench_hits,
       coalesce(h.n_bench_hits, 0) > 0 AS contaminated
FROM (SELECT {id_col} FROM documents) d
LEFT JOIN hits h USING ({id_col})"""
