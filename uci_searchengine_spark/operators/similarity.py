"""Similarity search over embedding columns (array<float>).

* ``ann_bruteforce`` — exact cosine top-k: broadcast the (small) query set,
  JVM-side dot products via zip_with/aggregate, per-query top-k via a
  ranked window. The correctness baseline.
* ``ann_lsh`` — sign-random-projection bucketed search: probe only the
  buckets of each query (multi-probe by Hamming-adjacent buckets), exact
  cosine within. The scale path: candidate set shrinks ~2^planes-fold.
* ``ivf_assign/ivf_search`` — IVF flavor: k-means-lite centroids (sampled,
  driver-side numpy — centroids are tiny), assign via broadcast, probe
  nearest n_probe cells.

All distance math is built-in higher-order functions (zip_with +
aggregate) — JVM codegen, no Python on the scan path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# NOTE (r6, measured): unrolling these folds into flat
# a[0]*b[0] + a[1]*b[1] + ... chains is 3-5x SLOWER than the
# zip_with/aggregate form on Spark 4 (64-dim, sf0.1: candidate pass
# 1.9s -> 7.4s, pair scoring 2.1s -> 11.3s) — the deep Add chains fall
# out of whole-stage codegen into per-node interpreted eval, while the
# HOF fold runs one tight interpreted loop. Keep the folds.


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return (
        dot_expr(F.transform(a, lambda x: x.cast("double")), F.transform(b, lambda x: x.cast("double")))
        / (norm_expr(F.transform(a, lambda x: x.cast("double"))) * norm_expr(F.transform(b, lambda x: x.cast("double"))))
    )


def _srp_planes(dim: int, n_planes: int, seed: int = 11) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes (fixed seed → same buckets
    on every run/engine)."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def srp_bucket(vec: Column, n_planes: int = 8, dim: int = 64, seed: int = 11) -> Column:
    """Sign-random-projection bucket id (int) from JVM expressions only."""
    planes = _srp_planes(dim, n_planes, seed)
    bucket = F.lit(0)
    for p in range(n_planes):
        plane = F.array(*[F.lit(float(x)) for x in planes[p]])
        d = dot_expr(F.transform(vec, lambda x: x.cast("double")), plane)
        bucket = bucket + F.when(d >= 0, F.lit(1 << p)).otherwise(0)
    return bucket.cast("int")


def srp_bucket_array(
    vec: Column,
    n_tables: int,
    n_planes: int,
    dim: int,
    seed: int,
    seed_stride: int = 97,
) -> Column:
    """array<int> of the ``n_tables`` SRP bucket ids of ``vec`` (table
    t seeded ``seed + seed_stride*t``) — value-identical to
    ``array(srp_bucket(vec, ..., seed + 97*t) for t)`` (same per-plane
    zip_with/aggregate fold, same plane order), but the plane matrix
    appears in the plan ONCE as a lambda-bound nested literal instead
    of once per (table, plane) reference, and the double-cast of the
    input vector happens once per row instead of once per plane.
    n_tables×n_planes×dim literals vs ~2× that many expression TREES:
    Catalyst analysis and the serialized task binary shrink ~5x, which
    is a per-query constant the bench pays on every plan build."""
    from uci_searchengine_spark.functions.hof import bind_once

    planes = [
        _srp_planes(dim, n_planes, seed + seed_stride * t)
        for t in range(n_tables)
    ]
    planes_lit = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in row])
            for tbl in planes
            for row in tbl
        ]
    )

    def buckets(pp: Column):
        def over_vd(vd: Column) -> Column:
            def bucket_t(t: int) -> Column:
                b = F.lit(0)
                for p in range(n_planes):
                    plane = F.element_at(pp, t * n_planes + p + 1)
                    d = dot_expr(vd, plane)
                    b = b + F.when(d >= 0, F.lit(1 << p)).otherwise(0)
                return b.cast("int")

            return F.array(*[bucket_t(t) for t in range(n_tables)])

        return bind_once(
            F.transform(vec, lambda x: x.cast("double")), over_vd
        )

    return bind_once(planes_lit, buckets)


def quantize_int8(vec: Column) -> Column:
    """Per-vector symmetric int8 quantization: scale = max|x|/127,
    q_i = round(x_i/scale) clamped to [-127,127]. Returns a struct
    (scale double, q array<int>). JVM higher-order functions only — at
    100 TB this is the 4× storage/bandwidth cut applied before writing
    an embedding table; dequantized dot products stay within ~1% for
    unit-norm vectors."""
    vd = F.transform(vec, lambda x: x.cast("double"))
    amax = F.aggregate(
        F.transform(vd, lambda x: F.abs(x)),
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, v),
    )
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    q = F.transform(
        vd,
        lambda x: F.greatest(
            F.lit(-127), F.least(F.lit(127), F.round(x / scale).cast("int"))
        ),
    )
    return F.struct(scale.alias("scale"), q.alias("q"))


def dequantize_expr(qstruct: Column) -> Column:
    """Inverse: array<double> ≈ original vector."""
    return F.transform(
        qstruct["q"], lambda v: v.cast("double") * qstruct["scale"]
    )


def ann_bruteforce(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact cosine top-k per query. queries is SMALL → broadcast; the big
    side streams through one stage (scan → project → window top-k)."""
    joined = emb.crossJoin(F.broadcast(queries)).select(
        F.col(q_id_col),
        F.col(id_col),
        cosine_expr(F.col(vec_col), F.col(q_vec_col)).alias("cosine"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id_col, id_col, "cosine", "rank")
    )


def ann_lsh(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    multiprobe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k: probe the query's SRP bucket plus all buckets
    within Hamming distance ``multiprobe_bits`` (flip each bit) — an
    equi-join on bucket id instead of a cross join."""
    dim = 64
    base = emb.withColumn("bucket", srp_bucket(F.col(vec_col), n_planes, dim))
    qb = queries.withColumn("qbucket", srp_bucket(F.col(q_vec_col), n_planes, dim))
    probes = [F.col("qbucket")]
    if multiprobe_bits >= 1:
        probes += [
            F.col("qbucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)
        ]
    if multiprobe_bits >= 2:
        probes += [
            F.col("qbucket").bitwiseXOR(F.lit((1 << p1) | (1 << p2)))
            for p1 in range(n_planes)
            for p2 in range(p1 + 1, n_planes)
        ]
    qprobe = qb.select(
        q_id_col, q_vec_col, F.explode(F.array(*probes)).alias("bucket")
    )
    joined = base.join(F.broadcast(qprobe), "bucket").select(
        F.col(q_id_col),
        F.col(id_col),
        cosine_expr(F.col(vec_col), F.col(q_vec_col)).alias("cosine"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id_col, id_col, "cosine", "rank")
    )


def ivf_centroids(
    emb: DataFrame,
    vec_col: str,
    n_cells: int,
    seed: int = 13,
    iters: int = 5,
    id_col: str = "vec_id",
    max_sample: int = 4096,
) -> np.ndarray:
    """k-means-lite centroids from a driver-side sample (centroids are tiny;
    the sample is bounded). Deterministic given the seed: the sample is the
    ``max_sample`` lowest xxhash64(id) rows — a content-independent uniform
    draw that is stable across reruns and partitionings (a bare ``limit``
    on an unordered DataFrame is not), and the top-k-by-hash plan is a
    per-partition heap + tiny merge, never a full sort."""
    sample_rows = (
        emb.select(F.col(id_col).alias("_sid"), F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64(F.col("_sid")), F.col("_sid"))
        .limit(max_sample)
        .collect()
    )
    sample = np.array([r["_v"] for r in sample_rows], dtype=np.float64)
    rng = np.random.RandomState(seed)
    cents = sample[rng.choice(len(sample), size=n_cells, replace=False)]
    for _ in range(iters):
        d = sample @ cents.T
        assign = d.argmax(axis=1)
        for c in range(n_cells):
            m = assign == c
            if m.any():
                v = sample[m].mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cents[c] = v / n
    return cents


def ivf_assign(emb: DataFrame, vec_col: str, cents: np.ndarray) -> DataFrame:
    """Assign each vector to its max-dot-product cell (JVM
    expressions). The n_cells candidate dots go into one ARRAY and the
    cell is ``array_position(array_max)`` — linear expression size (the
    previous best-so-far When-chain nested the whole prior tree at each
    step: exponential in n_cells, JVM-OOM well before the thousands of
    cells a corpus-scale IVF uses; same fix as pq_encode below).
    First-occurrence tie rule preserved (a When-chain with strict ``>``
    also kept the earliest max)."""
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scores = F.array(
        *[
            dot_expr(vec_d, F.array(*[F.lit(float(x)) for x in c]))
            for c in cents
        ]
    )
    return emb.withColumn(
        "cell", (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
    )


def ivf_search(
    emb: DataFrame,
    queries: DataFrame,
    cents: np.ndarray,
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """IVF top-k: probe each query's ``n_probe`` nearest cells only.

    Assignment + probe-set computation are driver/numpy for the tiny query
    side and JVM expressions for the big side; the candidate join is an
    equi-join on cell id — at corpus scale, write the assigned table
    partitioned by cell and this probe becomes partition pruning.
    """
    assigned = ivf_assign(emb, vec_col, cents)
    qrows = queries.collect()  # queries are small by contract
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r[q_vec_col], dtype=np.float64)
        cells = np.argsort(-(cents @ qv))[:n_probe]
        for c in cells:
            probe_rows.append((r[q_id_col], list(map(float, r[q_vec_col])), int(c)))
    spark = emb.sparkSession
    probes = spark.createDataFrame(
        probe_rows, f"{q_id_col} long, {q_vec_col} array<double>, cell int"
    )
    joined = assigned.join(F.broadcast(probes), "cell").select(
        F.col(q_id_col),
        F.col(id_col),
        cosine_expr(F.col(vec_col), F.col(q_vec_col)).alias("cosine"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id_col, id_col, "cosine", "rank")
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked lists (hybrid retrieval:
    lexical BM25 + vector ANN). Each input carries (id_col, rank);
    fused = Σ 1/(c + rank) over the lists that contain the id — the
    standard RRF with the Cormack/Clarke c=60 default. One full-outer
    join of two already-small top-N relations, then a bounded top-k:
    scale cost is O(N) regardless of corpus size."""
    a = ranked_a.select(F.col(id_col), F.col("rank").alias("_ra"))
    b = ranked_b.select(F.col(id_col), F.col("rank").alias("_rb"))
    fused = (
        a.join(b, id_col, "full_outer")
        .select(
            id_col,
            (
                F.coalesce(1.0 / (F.lit(c) + F.col("_ra")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(c) + F.col("_rb")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.desc("rrf"), F.asc(id_col)).limit(k)


def pq_codebooks(
    emb: DataFrame,
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    seed: int = 17,
    iters: int = 8,
    id_col: str = "vec_id",
    max_sample: int = 4096,
) -> np.ndarray:
    """Product-quantization codebooks (Jégou et al. 2011): split the
    dimension into ``m`` subspaces and k-means each on the SAME
    deterministic hash-ordered sample ``ivf_centroids`` uses (bounded
    driver-side work; codebooks are m×k×dsub — tiny). L2 objective per
    subspace (subvectors aren't unit-norm). PQ is the memory scale
    path past int8: d×4 bytes/vector → m bytes (+ a m×k×dsub
    codebook), which is what lets 10^11 embeddings fit an ANN serving
    tier at all."""
    sample_rows = (
        emb.select(F.col(id_col).alias("_sid"), F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64(F.col("_sid")), F.col("_sid"))
        .limit(max_sample)
        .collect()
    )
    sample = np.array([r["_v"] for r in sample_rows], dtype=np.float64)
    d = sample.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, k, dsub), dtype=np.float64)
    for j in range(m):
        sub = sample[:, j * dsub : (j + 1) * dsub]
        cents = sub[rng.choice(len(sub), size=k, replace=False)].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                msk = assign == c
                if msk.any():
                    cents[c] = sub[msk].mean(axis=0)
        books[j] = cents
    return books


def pq_encode(
    emb: DataFrame, books: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """+ ``codes`` (array<int>, length m): per subspace, the L2-nearest
    codeword — pure JVM expressions (argmin‖v−c‖² == argmax(v·c −
    ‖c‖²/2), so each candidate is one dot + constant bias). The k
    candidate scores go into one ARRAY and the code is
    ``array_position(scores, array_max(scores)) − 1`` — linear
    expression size (a When-chain carrying best-so-far would nest the
    whole prior tree at every step: exponential, JVM-OOM at k=16).
    First-occurrence tie rule matches numpy argmin. One narrow
    projection, no UDF, no shuffle."""
    m, k, dsub = books.shape
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    code_cols = []
    for j in range(m):
        sub = F.slice(vec_d, j * dsub + 1, dsub)
        scores = F.array(
            *[
                dot_expr(sub, F.array(*[F.lit(float(x)) for x in books[j, ci]]))
                - F.lit(float(0.5 * (books[j, ci] @ books[j, ci])))
                for ci in range(k)
            ]
        )
        code_cols.append(
            (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
        )
    return emb.withColumn("codes", F.array(*code_cols))


def pq_search(
    codes: DataFrame,
    books: np.ndarray,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """ADC (asymmetric distance) top-k over PQ codes: per query,
    precompute the m×k dot-product lookup tables driver-side (queries
    are small by contract), ship them as literal arrays, and score each
    code row as Σ_j table_j[code_j] — an O(m) JVM expression per row,
    never touching the original vectors. Candidate ranking shape
    matches ivf_search (bounded per-query top-k)."""
    m, kk, dsub = books.shape
    spark = codes.sparkSession
    outs = []
    for r in queries.collect():
        qv = np.asarray(r[q_vec_col], dtype=np.float64)
        scored = codes
        expr = F.lit(0.0)
        for j in range(m):
            table = books[j] @ qv[j * dsub : (j + 1) * dsub]
            tbl = F.array(*[F.lit(float(x)) for x in table])
            expr = expr + F.element_at(tbl, F.col("codes")[j] + 1)
        outs.append(
            scored.select(
                F.lit(int(r[q_id_col])).alias(q_id_col),
                F.col(id_col),
                expr.alias("adc"),
            )
            .orderBy(F.desc("adc"), F.asc(id_col))
            .limit(k)
        )
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), outs)


def knn_candidate_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 6,
    n_planes: int = 4,
    hamming: int = 2,
    dim: int = 64,
    seed: int = 11,
) -> DataFrame:
    """Self-join candidate pairs for k-NN graph construction WITHOUT a
    cross join: ``n_tables`` independent SRP hash tables; within each,
    a pair is a candidate when its bucket ids differ in at most
    ``hamming`` bits — realised as multi-probe (each vector explodes
    to its own bucket XOR every ≤-hamming bit mask) feeding a plain
    bucket EQUI-join, so the plan is explode → shuffle-on-bucket →
    join, never n². Candidate volume = Σ_buckets |probes∩b|·|base∩b|
    — it tracks bucket occupancy (data clusteredness), not n².
    Returns the DISTINCT UNDIRECTED half (ia < ib): bucket Hamming
    distance is symmetric, so the ia<ib half is a complete cover of
    the candidate set at half the dedup/join volume (the per-table
    filter lands before the union+distinct, which dominates the
    operator's shuffle). Consumers that need the directed relation
    mirror it in-row (``reciprocal_knn`` does, post-scoring).

    Parameter note: on clustered embeddings (real text/image vectors)
    defaults prune heavily; on uniformly random vectors — where true
    5-NN cosine sits at ~0.29, i.e. no locality for ANY hash to
    exploit — recall-1.0 settings necessarily approach all-pairs.
    The gate corpus is that worst case; tests pin both regimes."""
    if hamming > n_planes:
        raise ValueError("hamming probes cannot exceed n_planes")
    masks = [0]
    if hamming >= 1:
        masks += [1 << p for p in range(n_planes)]
    if hamming >= 2:
        masks += [
            (1 << p1) | (1 << p2)
            for p1 in range(n_planes)
            for p2 in range(p1 + 1, n_planes)
        ]
    if hamming >= 3:
        masks += [
            (1 << p1) | (1 << p2) | (1 << p3)
            for p1 in range(n_planes)
            for p2 in range(p1 + 1, n_planes)
            for p3 in range(p2 + 1, n_planes)
        ]
    # All n_tables buckets are computed in ONE scan projection and
    # posexploded to a (id, t, bucket) relation; the per-table pair
    # joins then collapse into a SINGLE equi-join on the composite key
    # (t, bucket) — same pair set per table (the table id rides the
    # join key), same distinct union, but 1 join + 1 exchange pair
    # instead of n_tables joins + a union tree, and each vector's
    # buckets are evaluated once per side instead of once per table.
    # The Generate (posexplode) boundary keeps CollapseProject from
    # re-inlining the bucket array into the mask explode below.
    bucket_arr = srp_bucket_array(
        F.col(vec_col), n_tables, n_planes, dim, seed
    )
    flat = emb.select(
        F.col(id_col).alias("_id"),
        F.posexplode(bucket_arr).alias("t", "bucket"),
    )
    base = flat.select(
        F.col("_id").alias("ib"), F.col("t"), F.col("bucket")
    )
    # DIRECTED probing: a pair {A, B} whose table-t buckets differ by
    # mask m is reachable from either side (A probing bucket_a^m = b's
    # bucket, or B probing bucket_b^m = a's), so symmetric probing
    # generated every cross-bucket pair TWICE and the old ia<ib filter
    # threw half the join output away. Emitting a probe only when it
    # points at a bucket >= its own (bucket^m > bucket ⟺ bucket has a
    # 0 at m's highest set bit; m=0 keeps the self-bucket probe via
    # >=) produces each cross-bucket pair exactly once — the probe
    # side shrinks from |masks| to ~(|masks|+1)/2 rows per (id, t) and
    # the join output halves, with the SAME candidate set: same-bucket
    # pairs still arrive in both orientations and collapse under the
    # least/greatest normalization + distinct.
    probe_buckets = F.filter(
        F.transform(
            F.array(*[F.lit(m) for m in masks]),
            lambda m: F.col("bucket").bitwiseXOR(m),
        ),
        lambda b: b >= F.col("bucket"),
    )
    probes = flat.select(
        F.col("_id").alias("ia"),
        "t",
        F.explode(probe_buckets).alias("bucket"),
    )
    return (
        probes.join(base, ["t", "bucket"])
        .filter(F.col("ia") != F.col("ib"))
        .select(
            F.least("ia", "ib").alias("ia"),
            F.greatest("ia", "ib").alias("ib"),
        )
        .distinct()
    )


def reciprocal_knn(
    emb: DataFrame,
    k: int = 5,
    candidates: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mutual (reciprocal) k-NN pairs: (a, b) kept only when b is in
    a's cosine top-k AND a is in b's — the hub-suppressing criterion
    one-directional kNN lacks. Per-side top-k is a bounded aggregate
    sort+slice (no Spark window; ties (cos desc, id asc) on the
    6-ROUNDED cosine so ordering is engine-portable); the mutual
    filter is a directed-edge self semi-join.

    ``candidates`` — an (ia, ib) pair relation that bounds which pairs
    are scored: either the undirected ia<ib half (what
    ``knn_candidate_pairs`` returns) or a directed symmetric relation
    (e.g. ``ann_lsh`` pair output) — the ia<ib filter below reduces
    both to the same undirected set, which is scored once and mirrored
    in-row. None falls back to the exact all-pairs cross join (the
    oracle path; n² — gate/test scale only). With candidates the plan
    is join-score-aggregate, linear in candidate volume: the 100 TB
    path. Returns (id_a, id_b, cos) with id_a < id_b."""
    def _norm(c):
        return F.sqrt(
            F.aggregate(
                F.transform(c, lambda x: x * x),
                F.lit(0.0),
                lambda s, x: s + x,
            )
        )

    # norm once per VECTOR (in the pre-join projection), not once per
    # pair: the candidate relation fans every vector out to its
    # candidate count, and recomputing the 64-element norm fold there
    # tripled the per-pair HOF work. Same float ops on the same input
    # → bit-identical cos (gate hash unchanged).
    e = emb.select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
    ).select("_id", "_v", _norm(F.col("_v")).alias("_n"))
    a = e.select(
        F.col("_id").alias("ia"),
        F.col("_v").alias("va"),
        F.col("_n").alias("na"),
    )
    b = e.select(
        F.col("_id").alias("ib"),
        F.col("_v").alias("vb"),
        F.col("_n").alias("nb"),
    )
    # cos is symmetric → score each UNDIRECTED pair once (ia < ib) and
    # mirror in-row via explode, halving the dot-product work. The
    # candidates contract (undirected half or symmetric directed) makes
    # the ia<ib half a complete cover of the directed set.
    if candidates is None:
        scored = a.crossJoin(b).filter(F.col("ia") < F.col("ib"))
    else:
        scored = (
            candidates.select("ia", "ib")
            .filter(F.col("ia") < F.col("ib"))
            .join(a, "ia")
            .join(b, "ib")
        )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    half = scored.select(
        "ia",
        "ib",
        F.round(dot / (F.col("na") * F.col("nb")), 6).alias("cos"),
    )
    pairs = half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("ia").alias("ia"),
                    F.col("ib").alias("ib"),
                    F.col("cos").alias("cos"),
                ),
                F.struct(
                    F.col("ib").alias("ia"),
                    F.col("ia").alias("ib"),
                    F.col("cos").alias("cos"),
                ),
            )
        ).alias("_p")
    ).select("_p.ia", "_p.ib", "_p.cos")
    topk = pairs.groupBy("ia").agg(
        F.slice(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (-F.col("cos")).alias("nc"), F.col("ib").alias("ib")
                    )
                )
            ),
            1,
            k,
        ).alias("nn")
    )
    edges = (
        topk.select("ia", F.explode("nn").alias("e"))
        .select("ia", F.col("e.ib").alias("ib"), (-F.col("e.nc")).alias("cos"))
    )
    # mutuality as ONE aggregate on the unordered pair key: (ib, ia)
    # is an edge iff the undirected key appears twice ((ia, ib) is
    # unique within a top-k list, so the count is exactly 1 or 2), and
    # both directions carry the same once-scored cos. The previous
    # edges ⋉ reversed(edges) semi-join could not reuse any exchange
    # (the reversed side shuffles a different projection), so Spark
    # evaluated the ENTIRE candidate+scoring+topk pipeline twice.
    mutual = (
        edges.groupBy(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("_n"), F.min("cos").alias("cos"))
        .filter(F.col("_n") == 2)
    )
    return mutual.select("id_a", "id_b", "cos")


# ---------------------------------------------------------------------------
# Binary (sign) quantization + Hamming-distance candidate search
# ---------------------------------------------------------------------------


def binary_quantize(vec: Column, dim: int) -> Column:
    """Sign-bit packing of a ``dim``-float vector into ceil(dim/32)
    longs (bit b of word w set iff vec[32w+b] > 0) — 32× smaller than
    float32 and Hamming-comparable with two machine ops per word. The
    32-bit-per-word layout keeps every word in [0, 2^32): in-row sums
    never touch the sign bit, so Spark longs and DuckDB BIGINTs agree
    bit-for-bit with no unsigned gymnastics (contrast the 64-bit Bloom
    words in operators/sketches.py, which need bit_or).

    This is the faiss/Lucene ``binary embedding`` rerank shape: sign
    bits preserve angular locality (each bit is an axis-aligned SRP
    plane), so Hamming distance on the codes is a cheap monotone-ish
    proxy for cosine — good enough to pick candidates that an exact
    rerank then orders (hamming_rerank below). Everything is JVM
    higher-order functions in the scan projection: zero shuffle, zero
    Python."""
    n_words = (dim + 31) // 32
    words = []
    for w in range(n_words):
        bits = F.transform(
            F.slice(vec, w * 32 + 1, 32),
            lambda x, i: F.when(
                x > 0, F.pow(F.lit(2.0), i.cast("double")).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        )
        words.append(
            F.aggregate(bits, F.lit(0).cast("long"), lambda acc, v: acc + v)
        )
    return F.array(*words)


def hamming_expr(a: Column, b: Column) -> Column:
    """Hamming distance between two packed codes: sum of
    bit_count(xor) over words — the entire distance function is two
    vectorized integer ops per 32 dims."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0).cast("int"),
        lambda acc, v: acc + v.cast("int"),
    )


def binary_quantize_sql(vec_expr: str, dim: int) -> str:
    """DuckDB mirror of binary_quantize: identical words (the shift
    form ``1::BIGINT << b`` equals the Spark side's exact
    ``pow(2.0, b)`` for b <= 31)."""
    n_words = (dim + 31) // 32
    words = ", ".join(
        f"list_sum(list_transform(range(0, 32), b -> CASE WHEN"
        f" ({vec_expr})[{w * 32} + b + 1] > 0 THEN (1::BIGINT << CAST(b AS INT))"
        f" ELSE 0 END))"
        for w in range(n_words)
    )
    return f"[{words}]"


def hamming_sql(a_expr: str, b_expr: str, n_words: int) -> str:
    """DuckDB mirror of hamming_expr."""
    return (
        f"CAST(list_sum(list_transform(range(1, {n_words} + 1),"
        f" i -> bit_count(xor(({a_expr})[i], ({b_expr})[i])))) AS INT)"
    )


def hamming_rerank(
    emb: DataFrame,
    query: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_candidates: int = 30,
    k: int = 10,
) -> DataFrame:
    """Two-phase ANN: Hamming top-``n_candidates`` on the packed sign
    codes (ties broken by id), exact-cosine rerank to top-``k``.
    ``query`` is a one-row (qv: array<float>) relation — broadcast, so
    phase 1 is a map-side projection over the (arbitrarily large)
    corpus followed by a bounded TakeOrdered; the float vectors of
    only ``n_candidates`` rows are ever touched by the exact scorer.
    At 100 TB the packed codes are the only full-corpus column read:
    32× less IO than the float scan ann_bruteforce pays."""
    q = F.broadcast(
        query.select(
            binary_quantize(F.col("qv"), dim).alias("qw"),
            F.col("qv").alias("qv"),
        )
    )
    coded = emb.select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        binary_quantize(F.col(vec_col), dim).alias("w"),
    )
    cand = (
        coded.crossJoin(q)
        .select(
            id_col,
            "v",
            "qv",
            hamming_expr(F.col("w"), F.col("qw")).alias("hamming"),
        )
        .orderBy("hamming", id_col)
        .limit(n_candidates)
    )
    return (
        cand.select(
            id_col,
            "hamming",
            F.round(cosine_expr(F.col("v"), F.col("qv")), 6).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), id_col)
        .limit(k)
    )


def retro_neighbors(
    emb: DataFrame,
    k: int = 2,
    doc_col: str = "doc",
    next_col: "str | None" = None,
    candidates: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """RETRO chunk-neighbor retrieval prep (Borgeaud et al. 2022
    §2.2-2.3): for every chunk, its top-``k`` nearest retrieval-corpus
    chunks by cosine EXCLUDING chunks of the same document (the
    paper's leakage rule — a chunk must not retrieve its own
    continuation), each neighbor carrying its continuation chunk id
    when ``next_col`` names one: the ``[neighbour; continuation]``
    pair is what RETRO's encoder cross-attends to.

    DIRECTED top-k (every chunk gets neighbors — no mutual filter),
    otherwise the exact scoring shape of :func:`reciprocal_knn`: each
    undirected candidate pair scored once (norms computed per VECTOR
    pre-join), mirrored in-row, per-chunk top-k as a bounded aggregate
    sort+slice on the 6-rounded cosine with (cos desc, id asc) ties —
    never a window. ``candidates`` has the same contract as
    ``reciprocal_knn`` (undirected half or symmetric directed;
    ``knn_candidate_pairs`` output plugs straight in); None is the
    exact n² oracle path for gate/test scale only.

    Returns (id, rank, neighbor_id, cos[, continuation_id])."""

    def _norm(c):
        return F.sqrt(
            F.aggregate(
                F.transform(c, lambda x: x * x),
                F.lit(0.0),
                lambda s, x: s + x,
            )
        )

    e = emb.select(
        F.col(id_col).alias("_id"),
        F.col(doc_col).alias("_doc"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
    ).select("_id", "_doc", "_v", _norm(F.col("_v")).alias("_n"))
    a = e.select(
        F.col("_id").alias("ia"),
        F.col("_doc").alias("da"),
        F.col("_v").alias("va"),
        F.col("_n").alias("na"),
    )
    b = e.select(
        F.col("_id").alias("ib"),
        F.col("_doc").alias("db"),
        F.col("_v").alias("vb"),
        F.col("_n").alias("nb"),
    )
    if candidates is None:
        scored = a.crossJoin(b).filter(F.col("ia") < F.col("ib"))
    else:
        scored = (
            candidates.select("ia", "ib")
            .filter(F.col("ia") < F.col("ib"))
            .join(a, "ia")
            .join(b, "ib")
        )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    half = scored.filter(F.col("da") != F.col("db")).select(
        "ia",
        "ib",
        F.round(dot / (F.col("na") * F.col("nb")), 6).alias("cos"),
    )
    pairs = half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("ia").alias("ia"),
                    F.col("ib").alias("ib"),
                    F.col("cos").alias("cos"),
                ),
                F.struct(
                    F.col("ib").alias("ia"),
                    F.col("ia").alias("ib"),
                    F.col("cos").alias("cos"),
                ),
            )
        ).alias("_p")
    ).select("_p.ia", "_p.ib", "_p.cos")
    topk = pairs.groupBy("ia").agg(
        F.slice(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (-F.col("cos")).alias("nc"), F.col("ib").alias("ib")
                    )
                )
            ),
            1,
            k,
        ).alias("nn")
    )
    out = topk.select(
        F.col("ia").alias("id"), F.posexplode("nn").alias("_r", "e")
    ).select(
        "id",
        (F.col("_r") + 1).alias("rank"),
        F.col("e.ib").alias("neighbor_id"),
        (-F.col("e.nc")).alias("cos"),
    )
    if next_col is None:
        return out
    nxt = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(next_col).alias("continuation_id"),
    )
    return out.join(nxt, "neighbor_id", "left").select(
        "id", "rank", "neighbor_id", "cos", "continuation_id"
    )


def mine_bitext(
    emb_a: DataFrame,
    emb_b: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    candidates: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019 — the
    LASER/CCMatrix pipeline that built WMT-scale parallel corpora from
    web crawls): raw cosine cannot rank translation pairs across a
    corpus because some sentences are "hubs" (close to everything), so
    each pair is scored by its MARGIN over both sides' neighborhoods —

        margin(x, y) = cos(x, y) /
                       (avgₖNN_B(x)/2 + avgₖNN_A(y)/2)

    (the paper's "ratio" margin) — and mining keeps, per source
    sentence x, the argmax-margin y when its margin clears
    ``threshold`` (the paper's "max" strategy).

    Everything is aggregates over the scored pair relation: one
    cosine evaluation per (candidate) pair, both neighborhood
    averages from bounded per-id sort+slice aggregates (no window),
    the per-x argmax as a max-struct. ``candidates`` has the
    reciprocal_knn contract ((ia → A side, ib → B side) directed
    pairs; required at corpus scale — None is the exact
    all-pairs oracle path). Returns (id_a, id_b, cos, margin),
    margins and cosines rounded for engine-order determinism."""

    def _normed(df, side):
        v = F.transform(vec_col, lambda x: x.cast("double"))
        n = F.sqrt(
            F.aggregate(
                F.transform(F.col(f"v{side}"), lambda x: x * x),
                F.lit(0.0),
                lambda s, x: s + x,
            )
        )
        return df.select(
            F.col(id_col).alias(f"i{side}"), v.alias(f"v{side}")
        ).withColumn(f"n{side}", n)

    a = _normed(emb_a, "a")
    b = _normed(emb_b, "b")
    if candidates is None:
        pairs = a.crossJoin(b)
    else:
        pairs = candidates.select("ia", "ib").join(a, "ia").join(b, "ib")
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # the scored pair relation feeds THREE consumers (both neighborhood
    # averages and the margin join); persist it so the candidate join +
    # cosine pass runs once — this is the score matrix the
    # LASER/CCMatrix pipeline materializes anyway, O(candidate pairs)
    # narrow rows, disk-backed at corpus scale
    scored = pairs.select(
        "ia",
        "ib",
        F.round(dot / (F.col("na") * F.col("nb")), digits).alias("cos"),
    ).persist()

    def _avg_top(df, key):
        return (
            df.groupBy(key)
            .agg(
                F.slice(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                (-F.col("cos")).alias("nc"),
                                F.col("ib" if key == "ia" else "ia").alias(
                                    "o"
                                ),
                            )
                        )
                    ),
                    1,
                    k,
                ).alias("nn")
            )
            .select(
                key,
                (
                    F.aggregate(
                        "nn", F.lit(0.0), lambda s, e: s - e["nc"]
                    )
                    / F.size("nn")
                ).alias(f"avg_{key}"),
            )
        )
    avg_a = _avg_top(scored, "ia")
    avg_b = _avg_top(scored, "ib")
    m = (
        scored.join(avg_a, "ia")
        .join(avg_b, "ib")
        .select(
            "ia",
            "ib",
            "cos",
            F.round(
                F.col("cos")
                / (F.col("avg_ia") / 2 + F.col("avg_ib") / 2),
                digits,
            ).alias("margin"),
        )
    )
    best = m.groupBy("ia").agg(
        F.max(
            F.struct(
                F.col("margin"), (-F.col("ib")).alias("nib"), F.col("cos")
            )
        ).alias("w")
    )
    return (
        best.select(
            F.col("ia").alias("id_a"),
            (-F.col("w.nib")).alias("id_b"),
            F.col("w.cos").alias("cos"),
            F.col("w.margin").alias("margin"),
        )
        .filter(F.col("margin") >= F.lit(float(threshold)))
    )
