"""Similarity search over embedding columns (array<float>).

Two tiers:
- ``cosine_topk``      brute-force exact top-k: broadcast the (small) query
                       set, JVM zip_with/aggregate dot products, window
                       rank. The 100 TB story: the corpus side streams;
                       only queries are broadcast; one narrow shuffle for
                       the per-query top-k.
- ``lsh_ann_topk``     random-hyperplane LSH: seed-derived planes, sign-bit
                       bucket key, candidates only within the probe's
                       bucket — the sublinear scale path (recall tested
                       vs brute force in pytest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..sketches.hashing import MERSENNE_PRIME, affine_params

LSH_SEED = 7171


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(_dot(a, a))


def _dot_sql(a: str, b: str) -> str:
    """SQL text twin of ``_dot`` over named columns — same zip_with/
    aggregate fold, parsed in one py4j round-trip instead of ~20."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> "
            f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)")


def _cos_expr(q: str, n: str):
    """cosine(q, n) as ONE parsed expression: dot / (norm(q) * norm(n)),
    the exact tree the ``_dot``/``_norm`` Column form builds."""
    return F.expr(
        f"{_dot_sql(q, n)} / (SQRT({_dot_sql(q, q)}) * SQRT({_dot_sql(n, n)}))")


def cosine_topk(df: DataFrame, id_col: str, vec_col: str, query_ids: list[int],
                k: int = 5) -> DataFrame:
    """Exact brute-force cosine top-k -> (query_id, rank, neighbor_id,
    cosine_bp). Self-matches excluded; cosine reported in basis points."""
    base = df.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"))
    qdf = df.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec")
    )
    joined = base.join(F.broadcast(qdf), F.col("nid") != F.col("qid"))
    sim = _cos_expr("qvec", "nvec").alias("cos")
    scored = joined.select("qid", "nid", sim)
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("rank"),
            F.col("nid").alias("neighbor_id"),
            F.floor(F.col("cos") * 10000.0).cast("bigint").alias("cosine_bp"),
        )
    )


def _plane_expr(plane: int, dim: int, vec_col: str, seed: int = LSH_SEED):
    """Deterministic pseudo-random hyperplane component from the seeded
    affine family: p(plane, d) in [-0.5, 0.5)."""
    a, b = affine_params(seed, 1)
    aj, bj = int(a[0]), int(b[0])

    def comp(d: int):
        key = plane * 4099 + d
        h = (aj * (key % MERSENNE_PRIME) + bj) % MERSENNE_PRIME
        return h / MERSENNE_PRIME - 0.5

    return [comp(d) for d in range(dim)]


def _table_seed(table: int) -> int:
    return LSH_SEED + 7919 * table


def lsh_bucket(vec_col: str, dim: int, n_planes: int = 8, *, seed: int = LSH_SEED):
    """Sign-bit bucket key from n seeded hyperplanes (JVM expression).

    The per-plane dot product is a zip_with/aggregate fold over a literal
    weight array — NOT a chain of dim scalar adds, which at dim=64 x 8
    planes x multiple tables generates a method too large for janino
    (whole-stage-codegen crash). The fold evaluates ((0+p1)+p2)+...
    left-to-right, the exact order the DuckDB oracle replays.

    Emitted as ONE parsed SQL expression: the Column-API form of the same
    tree costs ~n_planes * dim py4j round-trips per construction (~0.5 s
    per table at dim=64 from the driver, paid on every query build);
    repr(float) round-trips binary64 exactly, so the parsed literals are
    bit-identical to F.lit's."""
    terms = ["CAST(0 AS BIGINT)"]
    for i in range(n_planes):
        plane = _plane_expr(i, dim, vec_col, seed)
        warr = ", ".join(f"{float(x)!r}D" for x in plane)
        dot = (f"aggregate(zip_with(`{vec_col}`, array({warr}), "
               f"(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)")
        terms.append(f"(CASE WHEN {dot} > 0 THEN CAST({1 << i} AS BIGINT) "
                     f"ELSE CAST(0 AS BIGINT) END)")
    return F.expr(" + ".join(terms))


def lsh_ann_topk_multiprobe(df: DataFrame, id_col: str, vec_col: str,
                            query_ids: list[int], dim: int, k: int = 5,
                            n_planes: int = 8, n_tables: int = 2,
                            probe_flips: int = 1) -> DataFrame:
    """Recall-controllable ANN: ``n_tables`` independent hyperplane tables
    (per-table seeds) and multi-probe within each table (query probes its
    own bucket plus every bucket at Hamming distance <= ``probe_flips``,
    single-bit flips). Candidates are the union across tables/probes,
    deduped, then scored exactly.

    Scale shape: the corpus materializes one (table, bucket) row per table
    per vector — a narrow map, no shuffle of vectors; the probe side is
    |queries| * n_tables * (1 + n_planes*probe_flips) tiny rows, broadcast.
    Recall rises with tables/probes at linear candidate cost, the standard
    knob the single-table variant lacks (recall measured vs brute force in
    tests/test_textdata_ops.py)."""
    if probe_flips not in (0, 1):
        raise ValueError("probe_flips of 0 or 1 supported (single-bit multiprobe)")
    table_buckets = [
        lsh_bucket(vec_col, dim, n_planes, seed=_table_seed(t)).alias(f"_b{t}")
        for t in range(n_tables)
    ]
    bucketed = df.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"),
                         *table_buckets)
    corpus = bucketed.select(
        "nid", "nvec",
        F.posexplode(F.array(*[F.col(f"_b{t}") for t in range(n_tables)]))
        .alias("tbl", "bucket"),
    )
    q_base = bucketed.filter(F.col("nid").isin(query_ids)).select(
        F.col("nid").alias("qid"), F.col("nvec").alias("qvec"),
        *[F.col(f"_b{t}") for t in range(n_tables)],
    )
    q_long = q_base.select(
        "qid", "qvec",
        F.posexplode(F.array(*[F.col(f"_b{t}") for t in range(n_tables)]))
        .alias("tbl", "home"),
    )
    probe_keys = [F.col("home")]
    if probe_flips == 1:
        probe_keys += [
            F.col("home").bitwiseXOR(F.lit(1 << i).cast("bigint"))
            for i in range(n_planes)
        ]
    probes = q_long.select(
        "qid", "qvec", "tbl",
        F.explode(F.array(*probe_keys)).alias("bucket"),
    )
    joined = (
        corpus.join(F.broadcast(probes), ["tbl", "bucket"])
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "qvec", "nid", "nvec")
        .dropDuplicates(["qid", "nid"])
    )
    sim = _cos_expr("qvec", "nvec").alias("cos")
    scored = joined.select("qid", "nid", sim)
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), "rank",
                F.col("nid").alias("neighbor_id"),
                F.floor(F.col("cos") * 10000.0).cast("bigint").alias("cosine_bp"))
    )


KMEANS_SCALE_BITS = 20
KMEANS_SCALE = 1 << KMEANS_SCALE_BITS
KMEANS_SEED = 9191


def quantized_vec(vec_col: str):
    """array<bigint> fixed-point quantization floor(x * 2^20 + 0.5) — the
    k-means working representation. Integer sums are exact and summation-
    order independent, which is what lets a SQL oracle replay Lloyd
    iterations bit-for-bit (float means would diverge at the ulp level
    with partition order)."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(KMEANS_SCALE))
                          + F.lit(0.5)).cast("bigint"))


def kmeans_int_centroids(df: DataFrame, id_col: str, vec_col: str, dim: int,
                         k: int, iters: int, seed: int = KMEANS_SEED) -> list[list[int]]:
    """Seeded, deterministic, engine-replayable Lloyd k-means over an
    embedding column — the centroid producer for IVF.

    - init: the k vectors whose seeded affine hash of ``id_col`` is
      smallest (id tie-break) — a deterministic pseudo-random sample;
    - assignment: exact int64 squared-L2 distance to each centroid as a
      JVM zip_with/aggregate fold; argmin = first minimum (lowest cluster
      index tie-break);
    - update: per-cluster elementwise integer sums (one partial/final
      groupBy per iteration — exact, order-independent) with floor-div
      means; empty clusters keep their previous centroid.

    Driver state is O(k * dim) integers per iteration — never data rows.
    Returns quantized centroids (divide by ``KMEANS_SCALE`` for floats,
    which is exact in binary64)."""
    a, b = affine_params(seed, 1)
    aj, bj = int(a[0]), int(b[0])
    q = df.select(F.col(id_col).alias("_kid"),
                  quantized_vec(vec_col).alias("_q")).cache()
    ordc = (F.lit(aj) * (F.col("_kid") % MERSENNE_PRIME) + F.lit(bj)) % MERSENNE_PRIME
    init_rows = q.select("_kid", "_q", ordc.alias("_ord")) \
        .orderBy("_ord", "_kid").limit(k).collect()
    if len(init_rows) < k:
        raise ValueError(f"need at least k={k} vectors, got {len(init_rows)}")
    cents = [[int(v) for v in r["_q"]] for r in init_rows]
    for _ in range(iters):
        dists = F.array(*[
            F.aggregate(
                F.zip_with(
                    F.col("_q"),
                    F.array(*[F.lit(int(c[i])).cast("bigint") for i in range(dim)]),
                    lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("bigint"), lambda acc, v: acc + v)
            for c in cents
        ])
        assigned = q.select(
            "_q",
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int").alias("_c"))
        stats = assigned.groupBy("_c").agg(
            F.count("*").alias("_n"),
            *[F.sum(F.col("_q")[i]).alias(f"_s{i}") for i in range(dim)]).collect()
        by_c = {int(r["_c"]): r for r in stats}
        cents = [
            [int(by_c[ci][f"_s{i}"]) // int(by_c[ci]["_n"]) for i in range(dim)]
            if ci in by_c else old
            for ci, old in enumerate(cents)
        ]
    q.unpersist()
    return cents


def ivf_ann_topk(df: DataFrame, id_col: str, vec_col: str, query_ids: list[int],
                 dim: int, k: int = 5, n_centroids: int = 8, nprobe: int = 2,
                 centroid_ids: list[int] | None = None,
                 centroid_vecs: list[list[float]] | None = None) -> DataFrame:
    """IVF-flat ANN: every vector is assigned to its nearest centroid
    (inverted lists = a cluster column), and a query rescans only its
    ``nprobe`` nearest centroids' lists. Complements the LSH variant with
    the recall knob production IVF indexes use.

    Centroids: ``centroid_vecs`` (e.g. ``kmeans_int_centroids`` output
    divided by KMEANS_SCALE — the production path) or, failing that, the
    vectors at ``centroid_ids`` (default first ``n_centroids`` ids — the
    degenerate deterministic fallback). Either way the SQL oracle replays
    them exactly. Assignment is a pure-JVM expression: per-centroid dot
    products against normalized literal arrays, argmax = first maximum
    (array_position). Scale shape: centroid table is tiny and baked into
    the plan; the corpus is scanned once for assignment; queries
    broadcast; the candidate join is an equi-join on the cluster id — no
    cartesian anywhere."""
    import math

    if centroid_vecs is not None:
        raw_cents = [[float(x) for x in v] for v in centroid_vecs]
    else:
        if centroid_ids is None:
            centroid_ids = list(range(n_centroids))
        rows = df.filter(F.col(id_col).isin(centroid_ids)) \
            .select(id_col, vec_col).collect()
        by_id = {int(r[0]): list(r[1]) for r in rows}
        missing = [cid for cid in centroid_ids if cid not in by_id]
        if missing:
            raise ValueError(f"centroid ids not present in {id_col}: {missing}")
        raw_cents = [[float(x) for x in by_id[cid]] for cid in centroid_ids]
    cents: list[list[float]] = []
    for cid, v in enumerate(raw_cents):
        if len(v) != dim:
            raise ValueError(f"centroid {cid} has dim {len(v)}, expected {dim}")
        nrm = 0.0
        for x in v:  # left fold, same op order as _dot / the SQL oracle
            nrm = nrm + x * x
        if nrm == 0.0:
            raise ValueError(f"centroid {cid} is the zero vector")
        nrm = math.sqrt(nrm)
        cents.append([x / nrm for x in v])

    def dot_lit(vec: str, c: list[float]):
        # one parsed SQL expression per centroid (not dim py4j literal
        # calls): same fold, same op order, repr round-trips binary64
        warr = ", ".join(f"{float(x)!r}D" for x in c)
        return F.expr(
            f"aggregate(zip_with(`{vec}`, array({warr}), "
            f"(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)")

    scores = F.array(*[dot_lit(vec_col, c) for c in cents])
    # materialize the score array ONCE per row; argmax = first maximum.
    # The coalesce marks the cluster id non-nullable: without it the
    # equi-join below infers isnotnull(cluster), and predicate pushdown
    # inlines the ENTIRE per-centroid score array into a Filter — the
    # whole assignment computed twice per corpus row (observed as a 26KB
    # Filter node in the optimized plan). coalesce(expr, lit) is provably
    # non-null, so the inferred filter folds away. Never fires: the score
    # array is non-empty by construction.
    base = df.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"),
                     scores.alias("_scores"))
    assigned = base.select(
        "nid", "nvec",
        F.coalesce(
            (F.array_position(F.col("_scores"), F.array_max(F.col("_scores")))
             - 1).cast("int"),
            F.lit(-1)).alias("cluster"),
    )
    # posexplode_OUTER + null-drop: a plain posexplode triggers
    # InferFiltersFromGenerate, inlining the score array into a size()
    # filter (the same double-evaluation, on the query rows)
    q_base = base.filter(F.col("nid").isin(query_ids)).select(
        F.col("nid").alias("qid"), F.col("nvec").alias("qvec"),
        F.posexplode_outer(F.col("_scores")).alias("cluster", "score"),
    ).filter(F.col("score").isNotNull())
    wq = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cluster"))
    probes = (
        q_base.withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= nprobe)
        .select("qid", "qvec", "cluster")
    )
    joined = (
        assigned.join(F.broadcast(probes), "cluster")
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "qvec", "nid", "nvec")
        .dropDuplicates(["qid", "nid"])
    )
    sim = _cos_expr("qvec", "nvec").alias("cos")
    scored = joined.select("qid", "nid", sim)
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), "rank",
                F.col("nid").alias("neighbor_id"),
                F.floor(F.col("cos") * 10000.0).cast("bigint").alias("cosine_bp"))
    )


def embedding_near_dups(df: DataFrame, id_col: str, vec_col: str, dim: int, *,
                        threshold_bp: int = 9500, n_planes: int = 8,
                        n_tables: int = 2, max_bucket: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector analog of
    MinHash-LSH dedup: candidates are pairs co-bucketed in ANY of the
    ``n_tables`` hyperplane tables (union, deduped), then rescored exactly
    and kept when cosine >= threshold (basis points).

    Never all-pairs: the only shuffle is on (table, bucket); a cosine-
    similar pair collides in at least one table with high probability
    (P(same bucket) = (1 - theta/pi)^n_planes per table). ``max_bucket``
    drops degenerate buckets like the text-LSH cap."""
    table_buckets = [
        lsh_bucket(vec_col, dim, n_planes, seed=_table_seed(t)).alias(f"_b{t}")
        for t in range(n_tables)
    ]
    bucketed = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"),
                         *table_buckets)
    long = bucketed.select(
        "_id", "_vec",
        F.posexplode(F.array(*[F.col(f"_b{t}") for t in range(n_tables)]))
        .alias("tbl", "bucket"),
    )
    if max_bucket is not None:
        # groupBy + anti-join instead of a count window: partial/final agg
        # (no sort exchange over the vector stream); the oversized-bucket
        # key set is tiny and AQE broadcasts it (same fix as
        # dedup.lsh_candidate_pairs)
        oversized = (
            long.groupBy("tbl", "bucket")
            .agg(F.count("*").alias("_sz"))
            .filter(F.col("_sz") > max_bucket)
            .select("tbl", "bucket")
        )
        long = long.join(oversized, ["tbl", "bucket"], "left_anti")
    left = long.select("tbl", "bucket", F.col("_id").alias("id_a"),
                       F.col("_vec").alias("vec_a"))
    right = long.select("tbl", "bucket", F.col("_id").alias("id_b"),
                        F.col("_vec").alias("vec_b"))
    cands = (
        left.join(right, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "vec_a", "vec_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    cos = _cos_expr("vec_a", "vec_b")
    return (
        cands.select("id_a", "id_b",
                     F.floor(cos * 10000.0).cast("bigint").alias("cosine_bp"))
        .filter(F.col("cosine_bp") >= threshold_bp)
    )


def lsh_ann_topk(df: DataFrame, id_col: str, vec_col: str, query_ids: list[int],
                 dim: int, k: int = 5, n_planes: int = 8) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket,
    then exact cosine within the bucket. Sublinear at scale (bucket join
    instead of full scan); recall vs brute force asserted in tests."""
    bucketed = df.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"),
        lsh_bucket(vec_col, dim, n_planes).alias("bucket"),
    )
    qdf = bucketed.filter(F.col("nid").isin(query_ids)).select(
        F.col("nid").alias("qid"), F.col("nvec").alias("qvec"), F.col("bucket")
    )
    joined = bucketed.join(F.broadcast(qdf), "bucket").filter(F.col("nid") != F.col("qid"))
    sim = _cos_expr("qvec", "nvec").alias("cos")
    scored = joined.select("qid", "nid", sim)
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias("query_id"), "rank",
                F.col("nid").alias("neighbor_id"),
                F.floor(F.col("cos") * 10000.0).cast("bigint").alias("cosine_bp"))
    )
