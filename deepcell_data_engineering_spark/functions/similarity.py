"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Query set × corpus via broadcast cross join (queries are few), cosine
  via built-in higher-order functions, per-query top-k via one
  row_number window. No Python in the plan.
- ``srp_buckets`` + ``lsh_topk``: the scale path — sign-random-projection
  LSH. Hyperplanes are derived deterministically from md5 (no RNG state,
  reproducible across engines/runs). Candidates = same-bucket vectors
  only; at 1000 executors the bucket join replaces the O(n·q) scan with a
  shuffle on bucket keys. Recall is tunable by (n_planes, n_tables).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deepcell_data_engineering_spark.functions.dedup import cosine_expr
from deepcell_data_engineering_spark.session import local_frame


def _as_double(df: DataFrame, vec_col: str) -> DataFrame:
    return df.withColumn(
        vec_col, F.transform(F.col(vec_col), lambda x: x.cast("double"))
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors per query (self-matches excluded)."""
    c = _as_double(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vc")
    )
    q = _as_double(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("vq")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_expr(F.col("vq"), F.col("vc")).alias("_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("_sim", 6).alias("cosine"),
        )
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: unit-normal components
    seeded from (seed, plane, dim) via numpy — computed once on the
    driver, shipped as literals (tiny)."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _unit_rows_literal(rows: list[list[float]]) -> str:
    """One 2-D ``array(array(...))`` SQL literal of unit-normalized rows.

    The k separate ``aggregate(zip_with(...))`` strings this replaces made
    the analyzed expression tree O(k x dim) PER SCORE REFERENCE (and the
    argmax form referenced scores twice), which showed up as ~12 s of
    plan analysis/codegen on cold k-means runs. A single nested literal
    plus one shared ``transform`` lambda keeps the scoring tree O(1) in k
    — same map-only physical plan, a fraction of the compile cost."""
    import math

    parts = []
    for vec in rows:
        fv = [float(x) for x in vec]
        nrm = math.sqrt(sum(x * x for x in fv)) or 1.0
        parts.append("array(" + ",".join(f"{x / nrm!r}d" for x in fv) + ")")
    return "array(" + ",".join(parts) + ")"


def _dot_scores_expr(vec_col: str, cmat: str) -> str:
    """Score vector: dot(vec, unit_centroid_i) for every centroid row of
    ``cmat``, via one transform lambda (cosine argmax == dot-with-unit-
    centroid argmax; the common 1/|v| factor preserves order)."""
    return (
        f"transform({cmat}, c -> aggregate(zip_with({vec_col}, c,"
        f" (a, b) -> a * b), 0d, (acc, s) -> acc + s))"
    )


def srp_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    seed: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Sign-random-projection bucket id per vector: bit i = sign of
    dot(v, plane_i). One narrow projection (plus a widen-repartition when
    the scan arrives single-partition: the n_planes x dim dot products
    per row are the cost, not the scan)."""
    from deepcell_data_engineering_spark.plans.layout import spread

    planes = _hyperplanes(dim, n_planes, seed)
    v = _as_double(spread(df), vec_col)
    bucket = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        arr = F.array(*[F.lit(float(w)) for w in plane])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), arr, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << i).cast("bigint")).otherwise(0)
    return v.select(F.col(id_col), F.col(vec_col), bucket.alias("bucket"))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    seed: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's SRP bucket,
    then exact cosine + window top-k on the (much smaller) candidate set."""
    cb = srp_buckets(corpus, dim, n_planes, seed, vec_col, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vc"), "bucket"
    )
    qb = srp_buckets(queries, dim, n_planes, seed, vec_col, id_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("vq"), "bucket"
    )
    scored = (
        cb.join(qb, on="bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_expr(F.col("vq"), F.col("vc")).alias("_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("_sim", 6).alias("cosine"))
    )


# beyond this many centroid floats, inlining literals bloats the plan;
# switch to the broadcast-join assignment
_INLINE_LIMIT = 8192


def kmeans_fit(
    df: DataFrame,
    n_clusters: int = 8,
    max_iter: int = 5,
    tol: float = 1e-6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Lloyd's k-means over an embedding column — the IVF centroid
    trainer (see ivf_topk) and the engine's representative ITERATIVE
    algorithm: centroids live on the driver (k x dim floats — tiny),
    and each iteration is ONE distributed pass over the corpus: a
    broadcast nearest-centroid assignment (cosine, ties to the smaller
    centroid id — identical to ivf_assign) plus a per-dimension avg
    aggregate built from fixed column expressions (no explode, no
    Python; one shuffle of k x dim partial aggregates per iteration).

    Deterministic: init = the n_clusters lowest-id vectors, no RNG.
    Stops early when no centroid moves more than ``tol`` (squared L2).
    Returns (centroid_id, embedding array<double>, n_assigned).

    Assignment strategy: for small models (k x dim <= ``_INLINE_LIMIT``)
    the unit-normalized centroids are inlined as literal arrays and the
    nearest id is ``array_position(scores, array_max(scores))`` — no
    join, no window, and the only shuffle per iteration is k x dim
    partial-avg rows. For big models it falls back to the broadcast-join
    assignment (ivf_assign's shape), which scales in k x dim but
    shuffles the scored rows."""
    from pyspark import StorageLevel

    # Iterative algorithm: every Lloyd pass re-scans the working set, so
    # persist the narrow (id, vec) projection once — the standard Spark
    # posture for iterative ML (MLlib's KMeans warns when its input is
    # uncached). MEMORY_AND_DISK spills rather than OOMs at scale.
    # No element-wise double cast here: float inputs widen exactly inside
    # the dot (zip_with against double literals) and avg expressions, so
    # results are bit-identical and the cached working set stays at the
    # parquet float width (half the memory, one less projection).
    v = df.select(id_col, vec_col).persist(StorageLevel.MEMORY_AND_DISK)
    # one driver action seeds init centroids AND dim/emptiness — a
    # separate head() job doubled the cold-start job count
    centroids = [
        list(r[0])
        for r in v.orderBy(id_col).limit(n_clusters).select(vec_col).collect()
    ]
    if not centroids:
        v.unpersist()
        raise ValueError("kmeans_fit: empty input")
    dim = len(centroids[0])
    counts: dict[int, int] = {}
    inline = n_clusters * dim <= _INLINE_LIMIT

    for _ in range(max_iter):
        if inline:
            # cosine argmax == dot-with-unit-centroid argmax; first max
            # wins -> ties break to the smaller centroid id, matching
            # ivf_assign. One 2-D literal + one transform lambda (see
            # _unit_rows_literal) keeps plan analysis O(1) in k; scores
            # materialize in their own projection so the argmax step
            # references a column, not two copies of the k-wide tree.
            cmat = _unit_rows_literal(centroids)
            assigned = v.selectExpr(
                vec_col,
                f"{_dot_scores_expr(vec_col, cmat)} AS _scores",
            ).selectExpr(
                vec_col,
                "cast(array_position(_scores, array_max(_scores)) - 1"
                " as int) as centroid_id",
            )
        else:
            c_df = local_frame(
                v.sparkSession,
                [(i, c) for i, c in enumerate(centroids)],
                "centroid_id INT, vcent ARRAY<DOUBLE>",
            )
            assigned = ivf_assign(
                v, c_df.withColumnRenamed("centroid_id", id_col)
                .withColumnRenamed("vcent", vec_col),
                vec_col, id_col, nprobe=1,
            )
        mean_arr = (
            "array(" + ",".join(f"avg({vec_col}[{i}])" for i in range(dim)) + ")"
        )
        stats = (
            assigned.groupBy("centroid_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.expr(mean_arr).alias("mean_vec"),
            )
            .collect()
        )
        new_centroids = list(centroids)
        counts = {r["centroid_id"]: int(r["n"]) for r in stats}
        for r in stats:  # empty clusters keep their previous centroid
            new_centroids[r["centroid_id"]] = [float(x) for x in r["mean_vec"]]
        shift = max(
            sum((a - b) ** 2 for a, b in zip(old, new))
            for old, new in zip(centroids, new_centroids)
        )
        centroids = new_centroids
        if shift <= tol:
            break

    v.unpersist()
    return local_frame(
        df.sparkSession,
        [(i, c, counts.get(i, 0)) for i, c in enumerate(centroids)],
        f"centroid_id INT, {vec_col} ARRAY<DOUBLE>, n_assigned BIGINT",
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 1,
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its ``nprobe``
    nearest centroids by cosine (ties -> smaller centroid id).

    For small models (k x dim <= ``_INLINE_LIMIT``) the unit-normalized
    centroids are inlined as literal arrays — kmeans_fit's trick,
    extended to top-nprobe: scoring and selection happen inside per-row
    array expressions (sort negated-score structs, slice nprobe), so
    the plan is MAP-ONLY — no k-fold row blowup, no window shuffle.
    Cosine argmax == dot with the unit centroid (the common 1/|v|
    factor preserves order); ties break to the smaller centroid id via
    the struct's position field. Big models fall back to the broadcast
    crossJoin + window."""
    from deepcell_data_engineering_spark.plans.layout import spread

    c = _as_double(centroids, vec_col).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("vcent")
    )
    crows = c.collect()  # k rows — always driver-tiny
    dim = len(crows[0]["vcent"]) if crows else 0
    v = _as_double(spread(df), vec_col)
    if crows and len(crows) * dim <= _INLINE_LIMIT:
        crows = sorted(crows, key=lambda r: r["centroid_id"])
        ids_lit = (
            "array(" + ",".join(f"{int(r['centroid_id'])}L" for r in crows) + ")"
        )
        cmat = _unit_rows_literal([list(r["vcent"]) for r in crows])
        scores = _dot_scores_expr(vec_col, cmat)
        picked = (
            "slice(array_sort(transform(_scores,"
            f" (s, i) -> named_struct('ns', -s, 'idx', i))), 1, {nprobe})"
        )
        return (
            v.selectExpr(id_col, vec_col, f"{scores} AS _scores")
            .selectExpr(id_col, vec_col, f"explode({picked}) AS _pick")
            .selectExpr(
                id_col,
                vec_col,
                f"element_at({ids_lit}, _pick.idx + 1) AS centroid_id",
            )
        )
    scored = v.crossJoin(F.broadcast(c)).select(
        id_col, vec_col, "centroid_id",
        cosine_expr(F.col(vec_col), F.col("vcent")).alias("_cs"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_cs").desc(), F.col("centroid_id"))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= nprobe)
        .select(id_col, vec_col, "centroid_id")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 8,
    nprobe: int = 2,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k — the ANN scale path alongside SRP-LSH.

    Default centroids are the ``n_centroids`` lowest-id corpus vectors
    (deterministic, no RNG — keeps the oracle SQL-expressible); pass
    ``centroids=kmeans_fit(corpus, ...)`` for trained lists with tighter
    recall. Corpus vectors live in exactly one inverted list (nprobe=1);
    queries probe their ``nprobe`` nearest lists; exact cosine + window
    top-k runs on the union of probed lists only. At scale the candidate
    join shuffles on centroid_id instead of scanning the corpus per
    query, and each list is a co-partitioned bucket."""
    if centroids is None:
        centroids = corpus.orderBy(id_col).limit(n_centroids)
    else:
        centroids = centroids.select(
            F.col("centroid_id").alias(id_col), vec_col
        )
    inv = ivf_assign(corpus, centroids, vec_col, id_col, nprobe=1).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vc"), "centroid_id"
    )
    probes = ivf_assign(queries, centroids, vec_col, id_col, nprobe=nprobe).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("vq"), "centroid_id"
    )
    scored = (
        inv.join(probes, on="centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            cosine_expr(F.col("vq"), F.col("vc")).alias("_sim"),
        )
        # a (query, neighbor) pair can appear via several probed lists
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("_sim").alias("_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("_sim", 6).alias("cosine"))
    )


def cluster_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    n_centroids: int = 32,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scorer: str = "jvm",
    dim: int | None = None,
) -> DataFrame:
    """Semantic (embedding-cosine) near-duplicate pairs, cluster-scoped:
    the scale path of embedding dedup. Vectors are coarse-quantized into
    inverted lists (deterministic lowest-id centroids, like ivf_topk's
    default) and exact cosine runs only within shared lists — the
    all-pairs join of the brute-force path (embedding_neardup_pairs)
    becomes an equi-join on centroid_id, quadratic only per list (size
    n_centroids to taste: ~N/list_target). ``nprobe`` > 1 multi-assigns
    each vector so near-dups straddling a list boundary still meet in
    at least one list (the standard multi-probe recall fix); duplicate
    co-occurrences collapse in a max aggregate.

    Perf: the expensive step is the per-pair dot product (interpreted
    higher-order lambdas), so the plan minimizes dot evaluations, not
    just join size: the list self-join emits bare id pairs, duplicate
    co-occurrences (a pair sharing several probed lists) collapse in a
    DISTINCT while still narrow, and only then are unit-normalized
    vectors attached — so every unique pair pays for exactly one dot.
    Normalization happens once per vector (cosine_expr's dot/(|a|·|b|)
    form would recompute both norms per pair).

    ``scorer``: 'jvm' (default) evaluates the dot with built-in
    higher-order functions — bit-identical to the DuckDB oracle (both
    engines left-fold), which is what the hash gate checks; 'numpy'
    scores each Arrow batch with a vectorized einsum — ~5-10x faster on
    wide vectors, at the cost of SIMD/pairwise summation whose last ulp
    can differ from the left-fold (tests pin agreement to 1e-9, the
    oracle-gated query keeps 'jvm').

    ``dim``: when the (fixed) vector dimensionality is known, the jvm
    dot unrolls into ``a[0]*b[0] + a[1]*b[1] + ...`` — plain projection
    arithmetic that runs inside whole-stage codegen, unlike the
    higher-order aggregate/zip_with form, which is interpreted per
    element. Left-to-right association is IDENTICAL to the fold
    (((a0b0 + a1b1) + a2b2)...), so results stay bit-identical to the
    oracle. At sf0.1 both forms time the same (per-stage fixed
    overhead dominates 245k pairs); the codegen form wins as the pair
    count per task grows."""
    centroids = df.orderBy(id_col).limit(n_centroids)
    lists = ivf_assign(df, centroids, vec_col, id_col, nprobe=nprobe).select(
        id_col, "centroid_id"
    )
    a, b = lists.alias("a"), lists.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
    )
    # dedup co-occurrences with an EXPLICIT partition count: the pair
    # relation is tiny by bytes but the downstream per-pair dot is
    # CPU-heavy, and AQE coalesces a plain DISTINCT's output to one
    # partition at small SF, serializing the dot stage (measured 4.5s
    # -> 2.9s at sf0.1). repartition(n, keys) satisfies the dedup
    # aggregate's distribution requirement (no extra exchange) and a
    # user-specified partition count is exempt from AQE coalescing.
    sess = df.sparkSession
    n_tasks = max(
        sess.sparkContext.defaultParallelism,
        int(sess.conf.get("spark.sql.shuffle.partitions", "200")),
    )
    pairs = pairs.repartition(n_tasks, "id_a", "id_b").dropDuplicates()
    norm = F.sqrt(
        F.aggregate(F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    safe = F.when(norm == 0, F.lit(1.0)).otherwise(norm)
    nvecs = _as_double(df, vec_col).select(
        id_col, F.transform(vec_col, lambda x: x / safe).alias("nv")
    )
    if dim is not None:
        dot = F.expr(
            " + ".join(f"a_nv[{i}] * b_nv[{i}]" for i in range(dim))
        )
    else:
        dot = F.aggregate(
            F.zip_with("a_nv", "b_nv", lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, s: acc + s,
        )
    # no broadcast hint on the vector attach: AQE broadcasts while the
    # corpus fits and degrades to a shuffle join when it doesn't
    attached = pairs.join(
        nvecs.select(F.col(id_col).alias("id_a"), F.col("nv").alias("a_nv")),
        "id_a",
    ).join(
        nvecs.select(F.col(id_col).alias("id_b"), F.col("nv").alias("b_nv")),
        "id_b",
    )
    if scorer == "numpy":
        import numpy as np
        import pandas as pd

        def score(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                av = np.stack(pdf["a_nv"].to_numpy())
                bv = np.stack(pdf["b_nv"].to_numpy())
                s = np.round(np.einsum("ij,ij->i", av, bv), 6)
                out = pd.DataFrame(
                    {"id_a": pdf["id_a"], "id_b": pdf["id_b"], "cosine": s}
                )
                yield out[out["cosine"] > threshold]

        return attached.mapInPandas(
            score, schema="id_a long, id_b long, cosine double"
        )
    return (
        attached.select("id_a", "id_b", dot.alias("_s"))
        .where(F.round("_s", 6) > F.lit(threshold))
        .select("id_a", "id_b", F.round("_s", 6).alias("cosine"))
    )


def pq_train(
    df: DataFrame,
    m: int = 4,
    n_clusters: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, int, list[float]]]:
    """Product-quantization codebook training: split the vector space
    into ``m`` contiguous subspaces and run the kmeans_fit Lloyd
    convention (deterministic lowest-id init, fixed iterations, tol=0,
    empty clusters keep their centroid — the x19 oracle convention)
    independently on each slice. Returns driver-resident codebook rows
    (subspace, code, centroid_vector) — m * n_clusters * subdim floats,
    always tiny.

    All m subspaces train in the SAME distributed jobs: one init
    collect (the n_clusters lowest-id vectors, sliced driver-side),
    then per Lloyd iteration ONE pass — a union of m map-only
    assignment branches over the persisted working set feeding a
    single groupBy(s, code) mean shuffle — instead of m independent
    kmeans_fit runs (m x iters jobs). Same arithmetic expression tree
    per subspace as kmeans_fit's inline path, so the centroids are
    bit-identical to the per-subspace runs the DuckDB oracles chain
    (tol=0 makes kmeans_fit's early-break unobservable: an unmoved
    codebook reproduces itself). PQ is the memory side of ANN at
    100 TB: vectors compress to m byte-sized codes (here 4 codes
    replacing 64 floats) and similarity is answered from per-query
    lookup tables over the codes, never from the full vectors."""
    from pyspark import StorageLevel

    init = [
        list(r[0])
        for r in df.orderBy(id_col).limit(n_clusters).select(vec_col).collect()
    ]
    if not init:
        raise ValueError("pq_train: empty input")
    dim = len(init[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    cent = [
        [[float(x) for x in vec[s * sub: (s + 1) * sub]] for vec in init]
        for s in range(m)
    ]
    v = df.select(id_col, vec_col).persist(StorageLevel.MEMORY_AND_DISK)
    mean_arr = "array(" + ",".join(f"avg(sl[{i}])" for i in range(sub)) + ")"
    for _ in range(iters):
        # ONE map pass assigns every subspace: per row an m-struct
        # array (subspace id, slice, nearest code), exploded — vs the
        # previous union of m per-subspace branches, which scanned the
        # working set m times through m x P map tasks. Expression
        # trees per subspace are unchanged (same slice, same inline
        # unit-centroid dot, same first-max tie rule), and a (s, code)
        # group's partial sums still merge in ascending partition
        # order, so the trained centroids are bit-identical.
        assigned = (
            v.selectExpr(
                *[
                    f"slice({vec_col}, {s * sub + 1}, {sub}) AS _sl{s}"
                    for s in range(m)
                ]
            )
            .selectExpr(
                *[f"_sl{s}" for s in range(m)],
                *[
                    f"{_dot_scores_expr(f'_sl{s}', _unit_rows_literal(cent[s]))}"
                    f" AS _sc{s}"
                    for s in range(m)
                ],
            )
            .selectExpr(
                "explode(array("
                + ",".join(
                    f"named_struct('s', int({s}), 'sl', _sl{s}, 'code',"
                    f" cast(array_position(_sc{s}, array_max(_sc{s})) - 1"
                    " as int))"
                    for s in range(m)
                )
                + ")) AS _b"
            )
            .selectExpr("_b.s AS s", "_b.sl AS sl", "_b.code AS code")
        )
        stats = (
            assigned.groupBy("s", "code")
            .agg(F.expr(mean_arr).alias("mean_vec"))
            .collect()
        )
        for r in stats:  # empty clusters keep their previous centroid
            cent[r["s"]][r["code"]] = [float(x) for x in r["mean_vec"]]
    v.unpersist()
    return [
        (s, j, cent[s][j]) for s in range(m) for j in range(n_clusters)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[tuple[int, int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode every vector to its m codes: per subspace the nearest
    codeword by the kmeans assignment rule (dot with the unit-
    normalized centroid, ties to the smaller code). Uses ivf_assign's
    inline-literal path, so each subspace's encoding is MAP-ONLY —
    the union of m subspaces never shuffles. Returns (id, s, code)."""
    from deepcell_data_engineering_spark.plans.layout import spread

    spark = df.sparkSession
    m = max(s for s, _, _ in codebooks) + 1
    sub = len(codebooks[0][2])
    books = [
        [v for ss, j, v in sorted(codebooks) if ss == s] for s in range(m)
    ]
    if all(len(b) * sub <= _INLINE_LIMIT for b in books):
        # ONE map pass encodes all m subspaces (vs a union of m
        # ivf_assign branches = m scans through m x P map tasks):
        # identical inline unit-centroid dot and first-max tie rule
        # per subspace, codes are ordinal 0..k-1 in codeword order —
        # exactly ivf_assign's centroid_id for these inputs.
        v = _as_double(spread(df), vec_col)
        return (
            v.selectExpr(
                id_col,
                *[
                    f"slice({vec_col}, {s * sub + 1}, {sub}) AS _sl{s}"
                    for s in range(m)
                ],
            )
            .selectExpr(
                id_col,
                *[
                    f"{_dot_scores_expr(f'_sl{s}', _unit_rows_literal(books[s]))}"
                    f" AS _sc{s}"
                    for s in range(m)
                ],
            )
            .selectExpr(
                id_col,
                "explode(array("
                + ",".join(
                    f"named_struct('s', int({s}), 'code',"
                    f" cast(array_position(_sc{s}, array_max(_sc{s})) - 1"
                    " as bigint))"
                    for s in range(m)
                )
                + ")) AS _b",
            )
            .selectExpr(id_col, "_b.s AS s", "_b.code AS code")
        )
    out = None
    for s in range(m):
        cent = local_frame(
            spark,
            [(j, v) for ss, j, v in codebooks if ss == s],
            f"{id_col} long, {vec_col} array<double>",
        )
        sliced = df.select(
            id_col, F.slice(F.col(vec_col), s * sub + 1, sub).alias(vec_col)
        )
        enc = ivf_assign(sliced, cent, vec_col=vec_col, id_col=id_col).select(
            id_col, F.lit(s).alias("s"), F.col("centroid_id").alias("code")
        )
        out = enc if out is None else out.unionByName(enc)
    return out


def gram_partials(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 1_000_000,
    chunk: int = 256,
) -> DataFrame:
    """Per-partition partial Gram matrix (sum of per-vector outer
    products) as EXACT scaled integers — the covariance/Gram building
    block for PCA/whitening over an embedding corpus, implemented the
    way a 100 TB run must: each Arrow batch folds into a d x d int64
    accumulator inside one vectorized numpy kernel (mapInPandas), and
    only P partitions x d^2 partial rows ever shuffle — never
    n x d^2 element rows.

    Exactness contract (what lets x114's oracle certify a NUMPY kernel
    against pure SQL): every per-vector product v_i * v_j is computed
    in float64, scaled once, and rounded HALF-AWAY-FROM-ZERO to an
    integer BEFORE summation — integer addition is associative, so the
    result is independent of partitioning and row order. np.rint would
    be wrong here (banker's rounding, half-to-EVEN, disagrees with SQL
    ROUND at exact .5 products — reachable since float32 inputs are
    dyadic); the sign-split floor(|x| + 0.5) replicates SQL exactly.

    Returns (i, j, g) rows, i/j 1-based, one d x d block per input
    partition; sum g over (i, j) to finish."""
    import numpy as np
    import pandas as pd

    def part(batches):
        acc = np.zeros((dim, dim), dtype=np.int64)
        seen = False
        for pdf in batches:
            vals = pdf[vec_col].to_numpy()
            for lo in range(0, len(vals), chunk):
                sub = vals[lo : lo + chunk]
                if len(sub) == 0:
                    continue
                V = np.stack(sub).astype(np.float64)
                P = V[:, :, None] * V[:, None, :] * float(scale)
                acc += (
                    np.where(
                        P >= 0,
                        np.floor(P + 0.5),
                        -np.floor(-P + 0.5),
                    )
                    .astype(np.int64)
                    .sum(axis=0)
                )
                seen = True
        if seen:
            ii, jj = np.meshgrid(
                np.arange(1, dim + 1), np.arange(1, dim + 1), indexing="ij"
            )
            yield pd.DataFrame(
                {"i": ii.ravel(), "j": jj.ravel(), "g": acc.ravel()}
            )

    return df.select(vec_col).mapInPandas(part, "i int, j int, g long")
