"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline, plus an LSH-bucketed
(random-hyperplane / sign-LSH) variant as the scale path: at 10^9 vectors
the brute force is a cross join (O(Q x N)) — bucketing reduces each query
to its candidate buckets, an equi-join.

Dot products run JVM-side via ``F.zip_with`` + ``F.aggregate`` (no Python).
The hyperplanes for LSH are generated deterministically from a seed with
``xxhash64`` — no RNG state, reproducible across runs/executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from gear5_spark.parallel import fan_out


def _dot(a, b):
    # zip_with/aggregate stays the ONLY formulation on purpose: an r6
    # A/B unrolled this to a 64-term codegen Add chain (bit-identical
    # fold order, size()==dim guard) and it measured SLOWER in the real
    # confirm stage — +0.5 s for the dot, +2 s for the unrolled norm on
    # a 2M-pair confirm, consistent across interleaved reps — Spark 4.1
    # evaluates these HOFs efficiently and the giant CASE tree only
    # bloats the plan. See OPTIMIZATION_r06.md "rejected".
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def with_norms(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return emb.withColumn("_norm", _norm(F.col(vec_col)))


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k: every query against every base vector.

    Output: (vec_id, neighbor_id, rnk, cosine). The join is a broadcast
    of the (small) query side against the (large) base side, so the base
    table streams through once — at scale, broadcast queries and scan the
    base partition-parallel; no shuffle of the base vectors."""
    # norms computed ONCE per row before the join (with_norms), not per
    # candidate pair — at k candidates/query that saves ~2/3 of the
    # arithmetic; the value is bit-identical (same expression, same
    # operand order)
    emb = fan_out(emb)
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    b = emb.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("b_vec"),
        _norm(F.col(vec_col)).alias("_bn"),
    )
    scored = b.join(F.broadcast(q), F.col("q_id") != F.col("b_id")).select(
        F.col("q_id").alias("vec_id"),
        F.col("b_id").alias("neighbor_id"),
        (
            _dot(F.col("q_vec"), F.col("b_vec"))
            / (F.col("_qn") * F.col("_bn"))
        ).alias("cosine"),
    )
    w = W.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("vec_id", "neighbor_id", "rnk", F.round("cosine", 6).alias("cosine"))
    )


def _hyperplane(dim: int, plane: int, seed: int = 7):
    """Deterministic pseudo-random hyperplane: component j of plane p is
    a signed value derived from xxhash64(p, j, seed) — uniform in
    [-1,1). Evaluated ONCE per (plane, seed) by
    :func:`_hyperplane_literals`, never per row."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            F.xxhash64(F.lit(plane), j, F.lit(seed)).cast("double")
            / F.lit(float(1 << 63))
        ),
    )


_PLANE_CACHE: dict[tuple[int, int, int], list[list[float]]] = {}


def _hyperplane_literals(
    spark, n_planes: int, dim: int, seed: int
) -> list[list[float]]:
    """The xxhash64-derived hyperplanes as driver-side float lists —
    one scalar Spark job per distinct (n_planes, dim, seed), memoized.

    The planes are constants, but Catalyst does not constant-fold
    higher-order functions, so inlining :func:`_hyperplane` in the
    bucket expression regenerated every array PER ROW (n_planes × dim
    xxhash64 calls + allocations on the interpreted path — the dominant
    cost of bucket assignment, ~10 ms/row at 32 planes × 64 dims).
    Materialized once, they ship to executors as literal arrays — the
    same O(k·dim) broadcast-quantizer shape as :func:`ivf_centroids`."""
    prefetch_hyperplanes(spark, n_planes, dim, [seed])
    return _PLANE_CACHE[(n_planes, dim, seed)]


def prefetch_hyperplanes(
    spark, n_planes: int, dim: int, seeds: list[int]
) -> None:
    """Evaluate the planes for every not-yet-cached seed in ONE scalar
    job — an L-table index would otherwise pay L tiny driver jobs per
    fresh session (one per table seed)."""
    missing = [s for s in seeds if (n_planes, dim, s) not in _PLANE_CACHE]
    if not missing:
        return
    row = (
        spark.range(1)
        .select(
            F.array(
                *[
                    F.array(
                        *[_hyperplane(dim, p, s) for p in range(n_planes)]
                    )
                    for s in missing
                ]
            ).alias("hp")
        )
        .collect()[0]
    )
    for s, per_seed in zip(missing, row["hp"]):
        _PLANE_CACHE[(n_planes, dim, s)] = [
            [float(x) for x in pl] for pl in per_seed
        ]


def _bucket_expr(vec_col: str, n_planes: int, dim: int, seed: int, spark):
    """Sign-LSH bucket id as a pure Column: bit p = sign(v . h_p).

    Planes are literal arrays of length ``dim``
    (:func:`_hyperplane_literals`). A row whose vector length differs
    from ``dim`` hashes by its first min(len, dim) components — both
    sides sliced to that length, so a mismatch can never NULL-pad
    zip_with and collapse every vector into bucket 0, and rows of equal
    length always hash identically (same guarantees as the former
    per-row-sized generation, at literal-array cost). The equal-length
    fast path skips the slices entirely."""
    vec = F.col(vec_col)
    bits = []
    for p, comps in enumerate(
        _hyperplane_literals(spark, n_planes, dim, seed)
    ):
        plane = F.array(*[F.lit(c) for c in comps])
        n = F.least(F.size(vec), F.lit(dim))
        guarded_dot = F.when(
            F.size(vec) == dim, _dot(vec, plane)
        ).otherwise(
            _dot(F.slice(vec, F.lit(1), n), F.slice(plane, F.lit(1), n))
        )
        bits.append(
            F.when(guarded_dot >= 0, F.lit(1 << p))
            .otherwise(F.lit(0))
            .cast("long")
        )
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket.bitwiseOR(b)
    return bucket


def _table_buckets(
    emb: DataFrame,
    id_col: str,
    out_id: str,
    n_planes: int,
    n_tables: int,
    dim: int,
    vec_col: str,
    seed: int,
) -> DataFrame:
    """(id, table, bucket) assignment across L independent hash tables
    (OR-amplification): table t draws its hyperplanes from a disjoint
    seed stream, so a true neighbor missed by one table is caught by
    another — the standard LSH recall/candidate-count dial."""
    prefetch_hyperplanes(
        emb.sparkSession,
        n_planes,
        dim,
        [seed + 7919 * t for t in range(n_tables)],
    )
    tables = [
        F.struct(
            F.lit(t).alias("tbl"),
            _bucket_expr(
                vec_col, n_planes, dim, seed + 7919 * t, emb.sparkSession
            ).alias("bkt"),
        )
        for t in range(n_tables)
    ]
    return fan_out(emb).select(
        F.col(id_col).alias(out_id), F.explode(F.array(*tables)).alias("tb")
    ).select(out_id, F.col("tb.tbl").alias("tbl"), F.col("tb.bkt").alias("bkt"))


def _fits_broadcast(df: DataFrame) -> bool:
    """True when the optimizer's own size estimate for ``df`` is a real
    (non-default) figure under the session broadcast threshold — a
    driver-side metadata read, never a job."""
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        thresh = int(
            df.sparkSession._jsparkSession.sessionState()
            .conf()
            .autoBroadcastJoinThreshold()
        )
    except Exception:
        return False
    return 0 < thresh and 0 < est <= thresh


def _confirm_cosine_pairs(
    emb: DataFrame,
    cand: DataFrame,
    threshold: float,
    vec_col: str,
    id_col: str,
    impl: str = "sql",
) -> DataFrame:
    """Exact-cosine confirm over a (doc_id_a, doc_id_b, star) candidate
    set: joins both vectors (norms once per row), keeps pairs with
    cosine >= ``threshold`` OR marked star (connectivity contract —
    text/dedupe._banded_pairs). Shared by every embedding-candidate
    generator so the star-edge exemption rule lives in ONE place.
    Output: (doc_id_a, doc_id_b, cosine, star).

    The candidate set is explicitly spread to the session's default
    parallelism before the vector joins: pair rows are a few bytes but
    each costs a dim-length dot product downstream, so AQE's byte-based
    coalescing would pack millions of them into a couple of tasks and
    serialize the confirm (observed 4 tasks for a 2M-pair set). An
    explicit repartition of skinny (id, id, bool) rows is cheap relative
    to the dots and pins the CPU-bound stage at full width; pair count
    exceeds core count at every scale, so this never over-partitions.

    ``impl``: ``"sql"`` (default) scores with JVM array expressions and
    is the bit-reproducible mode the correctness oracles compare
    against. ``"arrow"`` scores each Arrow batch with one numpy matmul
    (:func:`_arrow_cosine_confirm`) — the vectorized-pandas-UDF scale
    path for multi-million-pair confirms, ~order-of-magnitude less CPU
    per pair, equal to the SQL mode within float summation order (same
    pairs at any threshold that is not an exact cosine boundary)."""
    cand = cand.repartition(
        emb.sparkSession.sparkContext.defaultParallelism
    )
    # Broadcast the VECTOR projections when the corpus is provably small
    # (driver-side stats, no job): the candidate side is a post-
    # aggregate subtree whose size estimate collapses to a few bytes, so
    # left alone the planner broadcasts the PAIR SET and streams the
    # vectors — every scoring task then deserializes the multi-million-
    # row pair relation (measured: 150 CPU-s for a 2M-pair confirm whose
    # explicit-broadcast plan costs ~20). When the corpus is too big to
    # broadcast the hint is omitted and the joins shuffle both sides as
    # before (the 10^9-vector shape).
    force_bcast = _fits_broadcast(emb)
    if not force_bcast:
        # spread the per-row norm compute only when the vectors will be
        # shuffle-joined; a broadcast build runs single-stream anyway,
        # so the fan_out exchange would be a pure extra stage
        emb = fan_out(emb)
    with_norm = impl != "arrow"  # arrow mode norms inside the batch
    va = emb.select(
        F.col(id_col).alias("doc_id_a"),
        F.col(vec_col).alias("_va"),
        *([_norm(F.col(vec_col)).alias("_na")] if with_norm else []),
    )
    vb = emb.select(
        F.col(id_col).alias("doc_id_b"),
        F.col(vec_col).alias("_vb"),
        *([_norm(F.col(vec_col)).alias("_nb")] if with_norm else []),
    )
    if force_bcast:
        va, vb = F.broadcast(va), F.broadcast(vb)
    joined = cand.join(va, "doc_id_a").join(vb, "doc_id_b")
    if impl == "arrow":
        return _arrow_cosine_confirm(joined, threshold)
    if impl != "sql":
        raise ValueError(f"unknown confirm impl {impl!r}")
    return (
        joined.withColumn(
            "cosine",
            _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
        )
        .filter((F.col("cosine") >= threshold) | F.col("star"))
        .select("doc_id_a", "doc_id_b", "cosine", "star")
    )


def _arrow_cosine_confirm(joined: DataFrame, threshold: float) -> DataFrame:
    """Batch-vectorized cosine confirm: one numpy einsum per Arrow batch
    (no per-row Python — the whole batch is two (n, dim) float64
    matrices). Pairs whose two vectors differ in length — or where
    either vector is NULL — cannot stack; they score NaN, which fails
    every threshold: the same keep/drop outcome as the SQL mode's
    NULL-propagating zip_with (star rows still pass either way, as
    connectivity edges must). The output schema mirrors the joined
    input's id types, so non-long id columns survive the round-trip."""
    import numpy as np
    import pandas as pd

    def score(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            # -1 marks a NULL vector: never equal to a real length and
            # never equal to another NULL's (guarded by la >= 0), so
            # NULL-vector pairs score NaN instead of crashing len(None)
            la = np.fromiter(
                (-1 if v is None else len(v) for v in pdf["_va"]),
                dtype=np.int64,
                count=n,
            )
            lb = np.fromiter(
                (-1 if v is None else len(v) for v in pdf["_vb"]),
                dtype=np.int64,
                count=n,
            )
            cos = np.full(n, np.nan)
            ok = (la == lb) & (la >= 0)
            # stack per distinct dim so ragged batches still vectorize
            for d in np.unique(la[ok]):
                m = ok & (la == d) & (lb == d)
                A = np.stack(pdf["_va"][m].to_numpy()).astype(np.float64)
                B = np.stack(pdf["_vb"][m].to_numpy()).astype(np.float64)
                num = np.einsum("ij,ij->i", A, B)
                den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
                cos[m] = num / den
            star = pdf["star"].to_numpy(dtype=bool)
            keep = star | (cos >= threshold)  # NaN >= t is False
            out = pd.DataFrame(
                {
                    "doc_id_a": pdf["doc_id_a"][keep],
                    "doc_id_b": pdf["doc_id_b"][keep],
                    # nullable Float64 so an unscorable star pair's NaN
                    # becomes a true NULL on the wire — the SQL mode's
                    # NULL-propagating zip_with emits NULL there, and the
                    # two confirm modes must agree in their PUBLIC output
                    # (collected rows / parquet), not just under a
                    # NaN≡NULL-canonicalizing test
                    "cosine": pd.array(cos[keep], dtype="Float64"),
                    "star": star[keep],
                }
            )
            yield out

    id_a = joined.schema["doc_id_a"].dataType.simpleString()
    id_b = joined.schema["doc_id_b"].dataType.simpleString()
    return joined.mapInPandas(
        score,
        schema=(
            f"doc_id_a {id_a}, doc_id_b {id_b}, "
            "cosine double, star boolean"
        ),
    )


def embedding_near_duplicates(
    emb: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket_size: int = 1000,
    confirm_impl: str = "sql",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: multi-table sign-LSH
    proposes candidates (bucket equi-join, hot buckets star-capped via
    the shared ``_banded_pairs`` machinery), exact cosine >= threshold
    confirms. The confirm step touches only candidate pairs — never the
    O(n^2) cross join — which is the 10^9-vector dedup path.

    ``dim`` is the INDEX WIDTH contract: set it to the true embedding
    width. Vectors longer than ``dim`` hash on their first ``dim``
    components only (every table shares the truncation, so
    OR-amplification cannot rescue similarity living in later
    components); vectors shorter hash on their own full length.

    Star edges from degraded hot buckets are CONNECTIVITY edges, not
    similarity claims (text/dedupe._banded_pairs documents the
    contract): filtering them by cosine would disconnect
    mutually-similar members of an over-budget bucket, so they pass
    through the confirm un-filtered — exactly like ``ngram_jaccard``
    handles marked candidates — with the measured cosine still
    reported AND the ``star`` marker kept in the output. Component-based
    dedup consumers use all edges and lose nothing; consumers needing
    per-pair similarity claims filter ``~star`` (every non-star row is a
    confirmed cosine>=threshold pair). Without the marker a degraded
    bucket would silently mix sub-threshold connectivity edges into the
    similarity claims."""
    from gear5_spark.text.dedupe import _banded_pairs

    banded = _table_buckets(
        emb, id_col, "doc_id", n_planes, n_tables, dim, vec_col, seed=7
    ).withColumnsRenamed({"tbl": "band", "bkt": "bucket"})
    cand = _banded_pairs(banded, max_bucket_size, mark_star=True)
    return _confirm_cosine_pairs(
        emb, cand, threshold, vec_col, id_col, impl=confirm_impl
    ).select(
        F.col("doc_id_a").alias("vec_id_a"),
        F.col("doc_id_b").alias("vec_id_b"),
        F.round("cosine", 6).alias("cosine"),
        "star",
    )


def ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """Deterministic min-id seed centroids: the ``n_centroids`` vectors
    with the smallest ids. These are the SEEDS for the default
    :func:`kmeans_centroids` Lloyd fit; passed directly as
    ``centroids=`` they skip the fit (useful when quantizer quality is
    moot, e.g. full-probe tests). Returned driver-side: centroids are
    O(k*dim) metadata, broadcast into the assignment expression exactly
    like FAISS ships its coarse quantizer to every worker."""
    rows = (
        emb.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(n_centroids)
        .collect()
    )
    return sorted((r[0], [float(x) for x in r[1]]) for r in rows)


def kmeans_centroids(
    emb: DataFrame,
    k: int = 16,
    iterations: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_n: int = 4096,
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd refinement of the min-id seed centroids, as
    plain DataFrame aggregations (the standard distributed k-means
    shape): assign every vector to its nearest centroid with the
    broadcast argmax expression, recompute per-list element-wise means
    via ``posexplode`` + partial-aggregated ``avg`` (one shuffle of
    N*dim skinny rows per iteration), repeat. No RNG anywhere — seeds
    are the k min-id vectors, so two runs produce identical centroids.
    An emptied list keeps its previous centroid (FAISS behavior).

    Each iteration's means are rounded to 9 decimals before the next
    assignment pass: double summation is order-sensitive, and shuffle
    fetch order isn't guaranteed stable across runs or parallelism
    levels — rounding well above the ~1e-15 drift floor makes the fit
    bit-reproducible by construction (local[8] == local[32] == the
    DuckDB oracle's unrolled-Lloyd recomputation, verified at the
    gate), while 1e-9 centroid precision is irrelevant to a 16-way
    argmax whose score gaps are ~1e-2.

    The fit runs on the ``sample_n`` LOWEST-ID vectors (deterministic
    TakeOrdered), not the full corpus — FAISS's own train-budget shape
    (256 vectors per centroid; 256*16 = 4096): Lloyd converges on a
    representative sample, and training on 10^9 rows per index build
    would pay iterations * corpus for no recall gain. At gate scale the
    corpus is smaller than the budget, so the sample IS the corpus and
    the DuckDB oracle recomputes the identical fit; the final per-row
    ASSIGNMENT (done by the caller) always covers the full corpus."""
    cents = ivf_centroids(emb, k, vec_col, id_col)
    fit = (
        emb.select(id_col, vec_col)
        .orderBy(F.col(id_col).asc())
        .limit(sample_n)
    )
    # persist: every iteration is its own action, and the sample is
    # bounded (sample_n rows) — without it each iteration re-runs the
    # global TakeOrdered against the full corpus. Deliberately NOT
    # fanned out: the plan ends in Sort+GlobalLimit (always classified
    # wide, so fan_out would be a no-op anyway), an explicit
    # repartition could flip float-sum order in the per-iteration avg
    # (the fit must stay bit-identical to the DuckDB oracle), and the
    # per-iteration work is a ≤sample_n-row broadcast join — too small
    # for task spread to matter.
    fit = fit.persist()
    spark = emb.sparkSession
    try:
        cents = _lloyd_iterations(
            spark, fit, cents, iterations, vec_col, id_col
        )
    finally:
        fit.unpersist()
    return cents


def _lloyd_iterations(spark, fit, cents, iterations, vec_col, id_col):
    for _ in range(iterations):
        # the iteration's argmax joins a broadcast 16-row centroid
        # DataFrame instead of the _top_lists literal expression: the
        # centroids change every iteration, and as DATA the plan stays
        # ~constant-size and structurally identical (codegen cache hit)
        # while as LITERALS each iteration pays Catalyst re-walking a
        # k*dim-node tree (measured: the driver-side plan time, not the
        # 4k-row compute, dominated the fit). Arithmetic is unchanged —
        # the same index-order _dot, the same (score desc, cid asc)
        # ordering — so the fit stays bit-identical to the unrolled
        # DuckDB oracle. The norm of the row is dropped as in
        # _centroid_scores (common positive factor; argmax-invariant).
        cdf = spark.createDataFrame(
            [
                (int(cid), [float(x) for x in v],
                 float(sum(x * x for x in v) ** 0.5))
                for cid, v in cents
            ],
            "cid bigint, cvec array<double>, cnorm double",
        )
        score = (_dot(F.col(vec_col), F.col("cvec")) / F.col("cnorm"))
        assigned = (
            fit.join(F.broadcast(cdf))
            .groupBy(id_col)
            .agg(
                F.max_by(
                    "cid",
                    F.struct(
                        score.alias("s"), (-F.col("cid")).alias("negcid")
                    ),
                ).alias("list_id"),
                F.first(vec_col).alias("_v"),
            )
            .select("list_id", F.posexplode("_v").alias("pos", "x"))
        )
        # k*dim skinny rows come back to the driver and the mean
        # vectors assemble in Python — one exchange per iteration (the
        # partial-aggregated avg), not two (a second groupBy to build
        # ordered arrays JVM-side paid a whole extra stage per
        # iteration for 1024 rows of work)
        means = (
            assigned.groupBy("list_id", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        by_list: dict[int, dict[int, float]] = {}
        for r in means:
            by_list.setdefault(int(r["list_id"]), {})[int(r["pos"])] = float(
                r["m"]
            )
        new = {
            lid: [
                round(pm[p], 9) for p in sorted(pm)
            ]
            for lid, pm in by_list.items()
        }
        cents = [(cid, new.get(cid, v)) for cid, v in cents]
    return cents


def _centroid_scores(vec_col_expr, cents):
    """Array of (ranking score, -cid) structs for the nearest-centroid
    argmax — a pure JVM expression over broadcast centroid literals; no
    shuffle, no UDF.

    One deliberate deviation from a textbook cosine, order-preserving
    per row: the row's own norm is NOT divided out — it is a common
    positive factor across all k candidates, so the argmax (and every
    tie) is unchanged, while the k extra norm walks per row disappear
    (half the higher-order-function lambda evaluations of this
    expression, measured ~2 s per 40k-row assignment pass at k=16
    before the change). The per-centroid dot stays zip_with/aggregate
    in index order, so score ORDERING matches the DuckDB oracle's
    sequential cosine bit-for-bit — scores differ from true cosine only
    by that dropped positive factor. (A plain indexed element_at sum
    would dodge the interpreted lambdas but builds a k*dim-node
    expression tree that Catalyst re-walks per rule — measured 4x
    SLOWER end-to-end at plan time; don't.)"""
    return F.array(
        *[
            F.struct(
                (
                    _dot(vec_col_expr, F.array(*[F.lit(x) for x in v]))
                    / F.lit(sum(x * x for x in v) ** 0.5)
                ).alias("score"),
                F.lit(-cid).alias("negcid"),
            )
            for cid, v in cents
        ]
    )


def _top_lists(vec_col_expr, cents, n_probe: int):
    """ids of the ``n_probe`` nearest centroids, nearest first (ties
    break to the smaller centroid id)."""
    ranked = F.slice(
        F.sort_array(_centroid_scores(vec_col_expr, cents), asc=False),
        1,
        n_probe,
    )
    return F.transform(ranked, lambda s: -s["negcid"])


def ivf_cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: base vectors are assigned
    to their nearest centroid's inverted list ONCE (one pass, no
    shuffle — the quantizer is a broadcast expression); each query
    probes its ``n_probe`` nearest lists and ranks exact cosine within
    them.

    This is the other standard scale path next to sign-LSH
    (:func:`lsh_cosine_topk`): candidate fraction ~= n_probe /
    n_centroids of the corpus per query, the probe join is a (list_id)
    equi-join with the small query side broadcast, and the base table is
    never cross-joined. Recall is measured against the exact answer in
    tests/test_sample_clusters.py, never assumed.

    ``centroids`` overrides the default quantizer — the deterministic
    Lloyd-refined :func:`kmeans_centroids` fit (3 iterations off the
    min-id seeds), which the DuckDB oracle recomputes exactly. Pass
    :func:`ivf_centroids` output for the raw min-id seeds (skips the
    fit's three aggregation passes when quantizer quality is moot)."""
    cents = centroids or kmeans_centroids(
        emb, n_centroids, 3, vec_col, id_col
    )
    # norms once per ROW before the probe join (same shape as
    # cosine_topk) — inside the join each base vector is scored against
    # up to n_probe queries and each query against its whole candidate
    # list, so a per-pair _norm would re-walk both arrays per candidate
    b = fan_out(emb).select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("b_vec"),
        _norm(F.col(vec_col)).alias("_bn"),
        F.element_at(_top_lists(F.col(vec_col), cents, 1), 1).alias(
            "list_id"
        ),
    )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("_qn"),
        F.explode(_top_lists(F.col(vec_col), cents, n_probe)).alias(
            "list_id"
        ),
    )
    scored = (
        b.join(F.broadcast(q), "list_id")
        .filter(F.col("q_id") != F.col("b_id"))
        .select(
            F.col("q_id").alias("vec_id"),
            F.col("b_id").alias("neighbor_id"),
            (
                _dot(F.col("q_vec"), F.col("b_vec"))
                / (F.col("_qn") * F.col("_bn"))
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "vec_id", "neighbor_id", "rnk", F.round("cosine", 6).alias("cosine")
        )
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster_size: int = 1000,
    max_iterations: int = 25,
    centroids: list[tuple[int, list[float]]] | None = None,
    confirm_impl: str = "sql",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate clustering (Abbas et al.
    2023, "SemDeDup"): partition the corpus into ``n_clusters`` coarse
    clusters with a broadcast quantizer, compare embeddings ONLY within
    their cluster (exact cosine >= ``threshold``), connect the surviving
    edges transitively, and keep the min-id member of each group as
    canonical.

    This is the third candidate generator next to sign-LSH
    (:func:`embedding_near_duplicates`) and MinHash (text path):
    cluster-scoped comparison costs O(sum of cluster_size^2) instead of
    O(n^2), and the quantizer — like IVF's — ships to workers as a pure
    broadcast expression, so assignment is one scan with no shuffle. The
    pair stage reuses the banded-bucket machinery (one shuffle, JVM
    array-lambda pair expansion, hot clusters degrade to star pairing)
    with each cluster acting as a single-band bucket; star edges pass
    the cosine confirm un-filtered (connectivity contract,
    text/dedupe._banded_pairs) so an over-budget cluster never
    disconnects mutually-similar members.

    SIZE ``n_clusters`` WITH THE CORPUS: the pair stage materializes
    each cluster's id list as ONE aggregate row (O(cluster size) longs,
    and one task explodes it), so clusters must fit executor memory —
    n/n_clusters should stay ≤ ~10^6. SemDeDup itself runs ~10^5
    clusters at 10^9 embeddings (n/k ≈ 10^4); the default 16 is a
    small-corpus/test setting, not a scale setting.

    ``centroids`` defaults to the deterministic Lloyd-refined
    :func:`kmeans_centroids` fit (3 iterations off the min-id seeds —
    the data-adapted partitioning SemDeDup itself uses, and still
    DuckDB-reproducible: the oracle gate recomputes the identical
    unrolled fit); pass :func:`ivf_centroids` output to skip the fit
    when quantizer quality is moot. Output: (vec_id, cluster_id,
    cluster_size, is_canonical) for every vector in a multi-member
    semantic-duplicate group — same shape as ``dedup_clusters``, so
    downstream keep/drop logic is shared."""
    from gear5_spark.text.dedupe import (
        _banded_pairs,
        cluster_labels_output,
        connected_components,
    )

    cents = centroids or kmeans_centroids(
        emb, n_clusters, 3, vec_col, id_col
    )
    banded = fan_out(emb).select(
        F.col(id_col).alias("doc_id"),
        F.lit(0).alias("band"),
        F.element_at(_top_lists(F.col(vec_col), cents, 1), 1).alias(
            "bucket"
        ),
    )
    cand = _banded_pairs(banded, max_cluster_size, mark_star=True)
    edges = _confirm_cosine_pairs(
        emb, cand, threshold, vec_col, id_col, impl=confirm_impl
    ).select("doc_id_a", "doc_id_b")
    labels = connected_components(
        edges, "doc_id_a", "doc_id_b", max_iterations
    )
    return cluster_labels_output(labels, id_col)


def lsh_cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_radius: int = 1,
    spread: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    buckets, then exact cosine rank within candidates.

    ``spread=False`` drops the candidate-set repartition before the
    exact-cosine scoring (diagnostic knob — scripts/diag_lsh_spread.py
    measures both plans at 1x and 10x input; the spread is the default
    because AQE's byte-based coalescing otherwise folds the skinny pair
    rows into a handful of tasks and serializes the CPU-bound scoring).

    Recall comes from two standard amplifiers: ``n_tables`` independent
    hash tables (OR-amplification — a neighbor missed by one table's
    planes is caught by another's) and multi-probe (``probe_radius=1``
    also visits every bucket one sign-flip away, catching
    boundary-adjacent neighbors). Both multiply only the small,
    broadcast query side; the base is hashed once per table and joined
    by (table, bucket) — an equi-join, never a cross join. This is the
    10^9-vector path: candidate fraction ~= n_tables * probes /
    2^n_planes, tuned per corpus; recall is measured against the exact
    answer in tests/test_recall.py and bench.py (never assumed)."""
    tb = _table_buckets(
        emb, id_col, "b_id", n_planes, n_tables, dim, vec_col, seed=7
    )
    tq = _table_buckets(
        queries, id_col, "q_id", n_planes, n_tables, dim, vec_col, seed=7
    )
    if probe_radius >= 1:
        # full multi-probe: visit every bucket within probe_radius sign
        # flips (C(n_planes, 1..r) masks — radius 2 really probes
        # two-bit flips instead of silently behaving like radius 1)
        from itertools import combinations

        masks = [
            sum(1 << p for p in comb)
            for r in range(1, min(probe_radius, n_planes) + 1)
            for comb in combinations(range(n_planes), r)
        ]
        probes = F.array(
            F.col("bkt"),
            *[F.col("bkt").bitwiseXOR(F.lit(m)) for m in masks],
        )
        tq = tq.select("q_id", "tbl", F.explode(probes).alias("bkt"))
    # candidate ids first, THEN one cosine per distinct pair — dedup
    # before the dot product so overlapping tables never re-score
    cand = (
        F.broadcast(tq)
        .join(tb, ["tbl", "bkt"])
        .filter(F.col("q_id") != F.col("b_id"))
        .select("q_id", "b_id")
    )
    if spread:
        # pin the dedup shuffle's width by hash-repartitioning on the
        # grouping keys THEMSELVES: the distinct's aggregate reuses this
        # exchange (clustered distribution satisfied), so full width
        # costs ONE shuffle total — not distinct + an extra round-robin
        # pass. Without it, AQE's byte-based coalescing folds the skinny
        # pair rows into a handful of tasks and serializes the CPU-bound
        # exact-cosine scoring (r4's separate-repartition version won at
        # gate size but paid a second pair-set pass that LOST at 30x —
        # measured in DIAG_LSH_SPREAD.json / scripts/diag_lsh_spread.py)
        from gear5_spark.parallel import shuffle_width

        spark = emb.sparkSession
        width = max(
            spark.sparkContext.defaultParallelism, shuffle_width(spark)
        )
        cand = cand.repartition(width, "q_id", "b_id")
    cand = cand.dropDuplicates(["q_id", "b_id"])
    qv = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    bcast_base = _fits_broadcast(emb)
    bv = (emb if bcast_base else fan_out(emb)).select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("b_vec"),
        _norm(F.col(vec_col)).alias("_bn"),
    )
    if bcast_base:
        # small corpus: pin the base-vector attach as a broadcast so the
        # (post-aggregate, estimate-less) candidate set is never the
        # build side, and skip the fan_out exchange a broadcast build
        # would waste (same rationale as _confirm_cosine_pairs)
        bv = F.broadcast(bv)
    scored = (
        cand.join(F.broadcast(qv), "q_id")
        .join(bv, "b_id")
        .select(
            F.col("q_id").alias("vec_id"),
            F.col("b_id").alias("neighbor_id"),
            (
                _dot(F.col("q_vec"), F.col("b_vec"))
                / (F.col("_qn") * F.col("_bn"))
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("vec_id", "neighbor_id", "rnk", F.round("cosine", 6).alias("cosine"))
    )
