"""Distributed k-means (Lloyd) over the embeddings table — 100 TB extension.

The coarse-quantizer training step every vector platform runs (IVF cell
centroids for similarity.py's IVF index, corpus clustering for data-mix
curation).  No reference counterpart (the reference's vector path is
Chroma retrieval only, reference api/main.py:1416-1417); charter
extension alongside the ANN family in similarity.py.

Scale design — the textbook distributed k-means shape, stated
declaratively:

- **Assignment is map-side.** The model (K×DIM centroids) lives on the
  driver and is inlined as literal arrays, so each Lloyd assignment is a
  pure projection over one corpus scan — no shuffle, no join.  This is
  exactly MLlib's broadcast-model pattern; at 100 TB each iteration is
  one embarrassingly-parallel pass.
- **The update is one tiny partial-aggregable shuffle.** Per-dimension
  sums are exact BIGINT quantizations (associative, map-side combined,
  O(K·DIM) state total), so the shuffle moves K rows of 64 integers —
  bytes, regardless of corpus size.
- The only driver state is the model itself (K·DIM doubles + counts),
  the same model-boundary `.collect()` class as forecast.py's 7-row
  tail.

Parity discipline (bit-exact, no float tolerance):

- Distances fold in strict d=1..DIM order in both engines
  (``aggregate(zip_with(...))`` vs ``list_reduce(list_prepend(...))`` —
  the proven similarity.py `_dot`/`_dot_duck` pattern), so every
  distance double is bit-identical.
- Centroid updates avoid partition-order-dependent float sums entirely:
  each element is quantized to an exact BIGINT (similarity.py
  `_quant_sql` discipline, k = FLOOR(v·2^20 + 0.5)) and the new
  centroid component is the two-step IEEE division
  ``(S/n)/2^20`` — Python, Spark, and DuckDB all perform the identical
  correctly-rounded operations on identical integers.
- Argmin ties break on the lower centroid id in both engines
  (lexicographic struct-min vs ``ORDER BY dist, cid`` row_number).
- |quantized element| ≤ 2^21 and corpus sums stay far below 2^53, so
  every CAST(... AS DOUBLE) is exact at any tested SF (at extreme
  cardinality the BIGINT sums would move to DECIMAL — same caveat class
  as the sketch quantizers).

An empty cluster simply drops out of the next round in both engines
(inner aggregation), keeping the unrolled oracle a faithful restatement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions.memo import SessionMemo
from ..functions.text import P

DIM = 64
K = 4  # IVF-coarse-style cell count at fixture scale
QUANT = 1 << 20
N_CENTROID_DIMS = 4  # centroid components reported in the driver face


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir)["embeddings"].select(
        "vec_id", "embedding"
    )


def _q_sql(elem: str) -> str:
    """Exact BIGINT quantization of one element (similarity.py:_quant_sql
    rationale: the double arithmetic and FLOOR are bit-exact in any IEEE
    engine for float32 inputs)."""
    return f"CAST(FLOOR(CAST({elem} AS DOUBLE) * {QUANT}.0 + 0.5) AS BIGINT)"


def _dist_sql(centroid: list[float]) -> str:
    """Squared-L2 distance to one literal centroid, folded in strict
    d-order (bit-exact twin of the oracle's list_reduce fold)."""
    lits = ", ".join(f"CAST({float(v)!r} AS DOUBLE)" for v in centroid)
    return (
        f"aggregate(zip_with(embedding, array({lits}),"
        " (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _assign(points: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """Map-side Lloyd assignment: argmin over K literal centroids via
    lexicographic struct array_min (ties → lowest cid)."""
    structs = [
        F.struct(
            F.expr(_dist_sql(carr)).alias("dist"),
            F.lit(cid).cast("long").alias("cid"),
        )
        for cid, carr in centroids
    ]
    return points.withColumn("a", F.array_min(F.array(*structs)))


def _init_centroids(points: DataFrame) -> list[tuple[int, list[float]]]:
    """Deterministic seeding: the embeddings of vec_id 0..K-1 (float32
    elements widen exactly to double)."""
    rows = points.filter(F.col("vec_id") < K).collect()
    return sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows
    )


def _update(assigned: DataFrame) -> list[tuple[int, list[float]]]:
    """One Lloyd update: exact quantized per-dimension sums (map-side
    combined), then the model refresh on the driver — K rows of
    integers, the only data that ever leaves the cluster."""
    aggs = [
        F.sum(F.expr(_q_sql(f"element_at(embedding, {d + 1})"))).alias(
            f"s{d}"
        )
        for d in range(DIM)
    ]
    rows = (
        assigned.groupBy(F.col("a.cid").alias("cid"))
        .agg(F.count(F.lit(1)).alias("n"), *aggs)
        .collect()
    )
    return sorted(
        (
            int(r["cid"]),
            [(r[f"s{d}"] / r["n"]) / QUANT for d in range(DIM)],
        )
        for r in rows
    )


def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations from the deterministic seed, reported as the
    second-iteration cluster summary: size, member-id binding, exact
    quantized inertia (against the assignment centroids), and the first
    four components of the post-assignment centroid refresh."""
    points = _points(spark, sf_dir)
    c0 = _init_centroids(points)
    c1 = _update(_assign(points, c0))
    assigned = _assign(points, c1)
    dims = []
    for d in range(N_CENTROID_DIMS):
        s = F.sum(F.expr(_q_sql(f"element_at(embedding, {d + 1})")))
        dims.append(
            (
                (s.cast("double") / F.count(F.lit(1)).cast("double"))
                / F.lit(float(QUANT))
            ).alias(f"c{d}")
        )
    return (
        assigned.groupBy(F.col("a.cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(F.col("vec_id") % P).alias("id_checksum"),
            F.sum(
                F.expr(f"CAST(FLOOR(a.dist * {QUANT}.0 + 0.5) AS BIGINT)")
            ).alias("inertia_q"),
            *dims,
        )
        .orderBy("cluster_id")
    )


SEM_CAP = 64  # per-cluster members entering the pairwise refinement
SEM_TAU_Q = 367001  # floor(0.35·2^20): cosine ≥ 0.35 → semantic duplicate
# (the fixture corpus' within-cluster cosine tail tops out near 0.47, so
# this τ exercises the removal path at every SF; production SemDeDup runs
# far tighter τ on real embeddings — the knob, not the shape)


def semantic_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication" — public method):
    cluster the embedding corpus with the k-means coarse quantizer, then
    find semantic duplicates ONLY within each cluster — pairwise cosine
    never crosses cluster boundaries, which is the method's entire
    scaling argument.  Per cluster: member count, pairs checked,
    duplicate pairs (cosine ≥ 0.35), documents the keep-lowest-id rule
    would remove, and the removed-id binding.

    Scale design: SemDeDup at production scale bounds the pairwise stage
    by growing K with the corpus so clusters stay near-constant size;
    this fixture pins K=4, so the same bound is enforced directly as a
    per-cluster rank cap (lowest ``SEM_CAP`` vec_ids enter the pairwise
    stage — deterministic, and n_members vs n_capped in the output
    discloses exactly what the cap excluded).  The pairwise stage is
    ≤ K·CAP²/2 cosine evaluations TOTAL regardless of corpus size, on
    the Arrow-vectorized cosine (similarity.py:_cosine_udf, bit-exact
    with the oracle's strict d-order fold).

    Pin lifecycle (cache on reuse): the
    ranked assignment fans into the member stats and the capped pair
    stage, and the flagged pair relation (the expensive Arrow cosine
    pass) fans into the pair stats and the removed-id aggregate —
    unpinned, every branch re-ran the k-means assignment scan and the
    pairwise cosine (10 parquet scans in the before-plan).  Both are
    pinned for the query and released once the summary rows are
    checkpointed."""
    from pyspark.sql import Window

    from ..functions.windows import register_cache, release_after_action
    from .similarity import _cosine_udf

    points = _points(spark, sf_dir)
    c0 = _init_centroids(points)
    c1 = _update(_assign(points, c0))
    assigned = _assign(points, c1).select(
        "vec_id", F.col("a.cid").alias("cid"), "embedding"
    )
    w = Window.partitionBy("cid").orderBy("vec_id")
    ranked = register_cache(
        assigned.withColumn("rk", F.row_number().over(w))
    )
    member_stats = ranked.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum((F.col("rk") <= SEM_CAP).cast("long")).alias("n_capped"),
    )
    capped = ranked.filter(F.col("rk") <= SEM_CAP).select(
        "cid", "vec_id", "embedding"
    )
    a = capped.select(
        "cid", F.col("vec_id").alias("va"), F.col("embedding").alias("ea")
    )
    b = capped.select(
        "cid", F.col("vec_id").alias("vb"), F.col("embedding").alias("eb")
    )
    flagged = register_cache(
        a.join(b, "cid")
        .filter(F.col("va") < F.col("vb"))
        .withColumn("cos", _cosine_udf()(F.col("ea"), F.col("eb")))
        .select(
            "cid",
            "vb",
            (
                F.expr(f"CAST(FLOOR(cos * {QUANT}.0 + 0.5) AS BIGINT)")
                >= SEM_TAU_Q
            ).alias("is_dup"),
        )
    )
    pair_stats = flagged.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dup_pairs"),
    )
    removed = flagged.filter(F.col("is_dup")).select("cid", "vb").distinct()
    rem_stats = removed.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_removed"),
        F.sum(F.col("vb") % P).alias("removed_binding"),
    )
    zero = F.lit(0).cast("long")
    return release_after_action(
        member_stats.join(pair_stats, "cid", "left")
        .join(rem_stats, "cid", "left")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            "n_capped",
            F.coalesce("n_pairs", zero).alias("n_pairs"),
            F.coalesce("n_dup_pairs", zero).alias("n_dup_pairs"),
            F.coalesce("n_removed", zero).alias("n_removed"),
            F.coalesce("removed_binding", zero).alias("removed_binding"),
        )
        .orderBy("cluster_id"),
        ranked,
        flagged,
    )


M_SUB = 8  # PQ subspaces
SUBDIM = DIM // M_SUB
KS = 4  # centroids per subspace (2-bit codes → 16-bit PQ code)
PQ_TOP_K = 10
PQ_QUERY_ID = 0

_SUB_DIST = (
    "aggregate(zip_with(sub, carr, (x, y) -> (x - y) * (x - y)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


def _subspace_rows(points: DataFrame) -> DataFrame:
    """(vec_id, m, sub): the long-form subvector relation — 8× the rows
    at 1/8 the width (same bytes), which lets ONE generic
    assign/update pipeline serve every subspace instead of 8 unrolled
    column pipelines.  m is BIGINT to match the oracle's range()."""
    return points.select(
        "vec_id",
        F.explode(
            F.expr(f"sequence(CAST(0 AS BIGINT), CAST({M_SUB - 1} AS BIGINT))")
        ).alias("m"),
        "embedding",
    ).select(
        "vec_id",
        "m",
        F.expr(
            f"transform(sequence(1, {SUBDIM}), i -> CAST(element_at("
            f"embedding, CAST(m * {SUBDIM} + i AS INT)) AS DOUBLE))"
        ).alias("sub"),
    )


def _pq_assign(subr: DataFrame, centroids: DataFrame) -> DataFrame:
    """Per (vector, subspace) argmin over the (tiny, broadcast) centroid
    relation; ``sub`` rides through the aggregation for the update."""
    return (
        subr.join(F.broadcast(centroids), "m")
        .withColumn("dist", F.expr(_SUB_DIST))
        .groupBy("vec_id", "m")
        .agg(
            F.min(F.struct("dist", "cid")).alias("a"),
            F.first("sub").alias("sub"),
        )
    )


def _pq_codebook(subr: DataFrame) -> DataFrame:
    """(m, cid, carr): one Lloyd update from the deterministic seed
    (subvectors of vec_id 0..KS-1) — the exact quantized-sum centroid
    refresh of :func:`kmeans_embedding_clusters`, per subspace."""
    seed = subr.filter(F.col("vec_id") < KS).select(
        "m", F.col("vec_id").alias("cid"), F.col("sub").alias("carr")
    )
    a1 = _pq_assign(subr, seed)
    aggs = [
        F.sum(
            F.expr(
                f"CAST(FLOOR(element_at(sub, {i}) * {QUANT}.0 + 0.5)"
                " AS BIGINT)"
            )
        ).alias(f"s{i}")
        for i in range(1, SUBDIM + 1)
    ]
    g = a1.select("m", F.col("a.cid").alias("cid"), "sub").groupBy(
        "m", "cid"
    ).agg(F.count(F.lit(1)).alias("n"), *aggs)
    carr = F.array(
        *[
            (F.col(f"s{i}").cast("double") / F.col("n").cast("double"))
            / F.lit(float(QUANT))
            for i in range(1, SUBDIM + 1)
        ]
    )
    return g.select("m", "cid", carr.alias("carr"))


_PQ_CACHE = SessionMemo()


def _pq_model(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Memoized + persisted per (session, corpus): the PQ training
    artifacts — the long-form subvector relation and the codebook —
    exactly the dedup._shingle_rows policy.  PQ training is a
    build-once artifact every consumer shares (pq_codes_stats,
    ann_topk_pq, vectorstore.build_index's codebook, and — via Spark's
    CacheManager subplan substitution — the serving path's
    query-subvector derivation), so a per-invocation pin would retrain
    per query (measured +0.76 s on ann_topk_pq and +0.55 s on the
    serve-only metric when these were converted to one-shot pins).
    ``reset_caches()`` releases both; bench reps call it so each rep
    times one honest training plus the shared-consumer reuse, the same
    policy as the dedup relations.  Keyed by applicationId
    (functions/memo.py), capped + stopped-session-evicting."""
    cached = _PQ_CACHE.get(spark, sf_dir)
    if cached is not None:
        return cached
    from pyspark import StorageLevel

    # the codebook derivation reads the subvector relation twice
    # (seed + assignment-1) and the final code assignment a third
    # time — without materialization the corpus explode+transform
    # pipeline executes per reference
    subr = _subspace_rows(_points(spark, sf_dir)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # the codebook (M_SUB×KS rows) is referenced twice by ann_topk_pq
    # (code assignment + reconstruction join) and its derivation scans
    # the corpus
    cb = _pq_codebook(subr).persist(StorageLevel.MEMORY_AND_DISK)
    return _PQ_CACHE.put(spark, sf_dir, (subr, cb))


def reset_caches() -> None:
    """Unpersist and forget the session-lifetime PQ training artifacts
    (the dedup.reset_caches policy; bench reps call this so rep 2+
    times the full training path)."""
    _PQ_CACHE.clear()


def _pq_codes(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(codes, codebook) derived from the memoized PQ model — both
    reference the session-lifetime cached relations, so consumers must
    NOT unpersist them (reset_caches owns the release)."""
    subr, cb = _pq_model(spark, sf_dir)
    codes = _pq_assign(subr, cb).select(
        "vec_id", "m", F.col("a.cid").alias("cid")
    )
    return codes, cb


def pq_codes_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code relation (8 subspaces × 2-bit cells),
    summarized per codebook cell: population and member-id binding.
    With SQ8 (similarity.py) this completes the vector-compression
    family: PQ stores 16 bits/vector (128:1 vs float32) and searches
    via ADC — :func:`ann_topk_pq`.  Reads the memoized PQ model
    (_pq_model) — a session-lifetime shared relation, not a one-shot
    pin."""
    codes, _ = _pq_codes(spark, sf_dir)
    return (
        codes.groupBy("m", "cid")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.col("vec_id") % P).alias("id_checksum"),
        )
        .orderBy("m", "cid")
    )


def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k for the fixed query vector: the
    query stays full-precision, candidates are reconstructed from their
    16-bit PQ codes — distance is Σ_m ||q_m − c_{m,code}||², each
    subspace term an exact fold, quantized to 2^-20 fixed point so the
    cross-subspace sum is an order-independent integer.  The ranking is
    oracle-stated bit-exactly (the same discipline as ann_topk_sq8).
    Reads the memoized PQ model (_pq_model) — a session-lifetime shared
    relation every PQ consumer reuses, not a one-shot pin."""
    codes, cb = _pq_codes(spark, sf_dir)
    q_sub = _subspace_rows(
        _points(spark, sf_dir).filter(F.col("vec_id") == PQ_QUERY_ID)
    ).select("m", F.col("sub").alias("qsub"))
    dm = (
        codes.join(F.broadcast(cb), ["m", "cid"])
        .join(F.broadcast(q_sub), "m")
        .select(
            "vec_id",
            F.expr(
                "CAST(FLOOR(aggregate(zip_with(qsub, carr,"
                " (x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE),"
                f" (acc, v) -> acc + v) * {QUANT}.0 + 0.5) AS BIGINT)"
            ).alias("dq"),
        )
    )
    return (
        dm.filter(F.col("vec_id") != PQ_QUERY_ID)
        .groupBy("vec_id")
        .agg(F.sum("dq").alias("dist_q"))
        .orderBy("dist_q", "vec_id")
        .limit(PQ_TOP_K)
    )


QUERIES = {
    "kmeans_embedding_clusters": kmeans_embedding_clusters,
    "semantic_dedup_stats": semantic_dedup_stats,
    "pq_codes_stats": pq_codes_stats,
    "ann_topk_pq": ann_topk_pq,
}


def _dist_duck(emb: str, cen: str, cast_centroid: bool) -> str:
    """The oracle's strict d-order fold; ``cast_centroid`` covers the
    seed round where centroids are still float32 arrays."""
    c = f"CAST({cen}[i] AS DOUBLE)" if cast_centroid else f"{cen}[i]"
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        f" list_transform(range(1, {DIM} + 1),"
        f" i -> (CAST({emb}[i] AS DOUBLE) - {c})"
        f" * (CAST({emb}[i] AS DOUBLE) - {c}))),"
        " (acc, v) -> acc + v)"
    )


_Q_DUCK = (
    f"CAST(FLOOR(CAST(e.embedding[d] AS DOUBLE) * {QUANT}.0 + 0.5)"
    " AS BIGINT)"
)

# the full two-iteration Lloyd run restated as shared CTEs: seed
# (vec_id < K) → assignment 1 (row_number argmin, ties on cid) → exact
# quantized update → assignment 2. Identical fold orders and the
# identical (S/n)/2^20 division sequence make every double bit-exact.
# Shared by the kmeans summary AND the SemDeDup oracle (byte-identical
# text to the pre-refactor kmeans oracle — locked by
# tests/test_clustering_oracle_text.py).
_KM_CTES = (
    "pts AS (SELECT vec_id, embedding FROM embeddings),"
    f" seed AS (SELECT vec_id AS cid, embedding AS cemb"
    f" FROM embeddings WHERE vec_id < {K}),"
    " d1 AS (SELECT p.vec_id, s.cid,"
    f" {_dist_duck('p.embedding', 's.cemb', True)} AS dist"
    " FROM pts p CROSS JOIN seed s),"
    " a1 AS (SELECT vec_id, cid FROM"
    " (SELECT vec_id, cid, ROW_NUMBER() OVER"
    " (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d1)"
    " WHERE rn = 1),"
    " s1 AS (SELECT cid, d,"
    f" SUM({_Q_DUCK}) AS s, COUNT(*) AS n"
    " FROM a1 JOIN embeddings e USING (vec_id),"
    f" unnest(range(1, {DIM} + 1)) AS u(d)"
    " GROUP BY cid, d),"
    " c1 AS (SELECT cid,"
    " list((CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    f" / {QUANT}.0 ORDER BY d) AS cemb"
    " FROM s1 GROUP BY cid),"
    " d2 AS (SELECT p.vec_id, c.cid,"
    f" {_dist_duck('p.embedding', 'c.cemb', False)} AS dist"
    " FROM pts p CROSS JOIN c1 c),"
    " a2 AS (SELECT vec_id, cid, dist FROM"
    " (SELECT vec_id, cid, dist, ROW_NUMBER() OVER"
    " (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d2)"
    " WHERE rn = 1)"
)

ORACLES = {
    "kmeans_embedding_clusters": (
        f"WITH {_KM_CTES}"
        " SELECT cid AS cluster_id, COUNT(*) AS n_points,"
        f" CAST(SUM(vec_id % {P}) AS BIGINT) AS id_checksum,"
        f" CAST(SUM(CAST(FLOOR(dist * {QUANT}.0 + 0.5) AS BIGINT))"
        " AS BIGINT) AS inertia_q,"
        + ",".join(
            f" (CAST(SUM(CAST(FLOOR(CAST(e.embedding[{d + 1}] AS DOUBLE)"
            f" * {QUANT}.0 + 0.5) AS BIGINT)) AS DOUBLE)"
            f" / CAST(COUNT(*) AS DOUBLE)) / {QUANT}.0 AS c{d}"
            for d in range(N_CENTROID_DIMS)
        )
        + " FROM a2 JOIN embeddings e USING (vec_id)"
        " GROUP BY cid ORDER BY cluster_id"
    ),
}

# shared PQ derivation: long-form subvectors → seed → assignment 1 →
# exact quantized update → codebook → assignment 2 (the codes)
_PQ_SUB_DIST_DUCK = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    f" list_transform(range(1, {SUBDIM} + 1),"
    " i -> (s.sub[i] - c.carr[i]) * (s.sub[i] - c.carr[i]))),"
    " (acc, v) -> acc + v)"
)


def _pq_ctes(train_where: str = "") -> str:
    """The PQ CTE chain; ``train_where`` restricts the vectors the
    codebook update trains on (the first assignment ``d1``), while every
    vector is still encoded in ``codes``."""
    return (
        "sub AS (SELECT vec_id, m,"
        f" list_transform(range(1, {SUBDIM} + 1),"
        f" i -> CAST(embedding[m * {SUBDIM} + i] AS DOUBLE)) AS sub"
        f" FROM embeddings, unnest(range(0, {M_SUB})) AS u(m)),"
        f" seed AS (SELECT m, vec_id AS cid, sub AS carr FROM sub"
        f" WHERE vec_id < {KS}),"
        " d1 AS (SELECT s.vec_id, s.m, c.cid,"
        f" {_PQ_SUB_DIST_DUCK} AS dist"
        f" FROM sub s JOIN seed c ON c.m = s.m{train_where}),"
        " a1 AS (SELECT vec_id, m, cid FROM"
        " (SELECT vec_id, m, cid, ROW_NUMBER() OVER"
        " (PARTITION BY vec_id, m ORDER BY dist, cid) AS rn FROM d1)"
        " WHERE rn = 1),"
        " ups AS (SELECT a.m, a.cid, i,"
        f" SUM(CAST(FLOOR(s.sub[i] * {QUANT}.0 + 0.5) AS BIGINT)) AS sq,"
        " COUNT(*) AS n"
        " FROM a1 a JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m,"
        f" unnest(range(1, {SUBDIM} + 1)) AS ui(i)"
        " GROUP BY a.m, a.cid, i),"
        " cb AS (SELECT m, cid,"
        " list((CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))"
        f" / {QUANT}.0 ORDER BY i) AS carr"
        " FROM ups GROUP BY m, cid),"
        " d2 AS (SELECT s.vec_id, s.m, c.cid,"
        f" {_PQ_SUB_DIST_DUCK} AS dist"
        " FROM sub s JOIN cb c ON c.m = s.m),"
        " codes AS (SELECT vec_id, m, cid FROM"
        " (SELECT vec_id, m, cid, ROW_NUMBER() OVER"
        " (PARTITION BY vec_id, m ORDER BY dist, cid) AS rn FROM d2)"
        " WHERE rn = 1)"
    )


_PQ_CTES = _pq_ctes()

ORACLES["pq_codes_stats"] = (
    f"WITH {_PQ_CTES}"
    " SELECT m, cid, COUNT(*) AS n_vectors,"
    f" CAST(SUM(vec_id % {P}) AS BIGINT) AS id_checksum"
    " FROM codes GROUP BY m, cid ORDER BY m, cid"
)

ORACLES["ann_topk_pq"] = (
    f"WITH {_PQ_CTES},"
    f" q AS (SELECT m, sub AS qsub FROM sub WHERE vec_id = {PQ_QUERY_ID}),"
    " dm AS (SELECT c.vec_id,"
    " CAST(FLOOR(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    f" list_transform(range(1, {SUBDIM} + 1),"
    " i -> (q.qsub[i] - cb.carr[i]) * (q.qsub[i] - cb.carr[i]))),"
    f" (acc, v) -> acc + v) * {QUANT}.0 + 0.5) AS BIGINT) AS dq"
    " FROM codes c JOIN cb ON cb.m = c.m AND cb.cid = c.cid"
    " JOIN q ON q.m = c.m)"
    f" SELECT vec_id, CAST(SUM(dq) AS BIGINT) AS dist_q FROM dm"
    f" WHERE vec_id != {PQ_QUERY_ID} GROUP BY vec_id"
    f" ORDER BY dist_q, vec_id LIMIT {PQ_TOP_K}"
)


def _sem_cos_duck(a: str, b: str) -> str:
    """Strict d-order cosine (the similarity.py _dot_duck/_norm_duck
    forms restated over pair-aliased embeddings)."""
    from .similarity import _dot_duck, _norm_duck

    return (
        f"({_dot_duck(a, b)} / ({_norm_duck(a)} * {_norm_duck(b)}))"
    )


ORACLES["semantic_dedup_stats"] = (
    f"WITH {_KM_CTES},"
    " mem AS (SELECT a2.vec_id, a2.cid, e.embedding,"
    " ROW_NUMBER() OVER (PARTITION BY a2.cid ORDER BY a2.vec_id) AS rk"
    " FROM a2 JOIN embeddings e USING (vec_id)),"
    " mstats AS (SELECT cid, COUNT(*) AS n_members,"
    f" CAST(SUM(CASE WHEN rk <= {SEM_CAP} THEN 1 ELSE 0 END) AS BIGINT)"
    " AS n_capped FROM mem GROUP BY cid),"
    f" capped AS (SELECT cid, vec_id, embedding FROM mem"
    f" WHERE rk <= {SEM_CAP}),"
    " flagged AS (SELECT a.cid, b.vec_id AS vb,"
    f" (CAST(FLOOR({_sem_cos_duck('a.embedding', 'b.embedding')}"
    f" * {QUANT}.0 + 0.5) AS BIGINT) >= {SEM_TAU_Q}) AS is_dup"
    " FROM capped a JOIN capped b ON a.cid = b.cid"
    " AND a.vec_id < b.vec_id),"
    " pstats AS (SELECT cid, COUNT(*) AS n_pairs,"
    " CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)"
    " AS n_dup_pairs FROM flagged GROUP BY cid),"
    " rem AS (SELECT DISTINCT cid, vb FROM flagged WHERE is_dup),"
    " rstats AS (SELECT cid, COUNT(*) AS n_removed,"
    f" CAST(SUM(vb % {P}) AS BIGINT) AS removed_binding"
    " FROM rem GROUP BY cid)"
    " SELECT m.cid AS cluster_id, m.n_members, m.n_capped,"
    " COALESCE(p.n_pairs, 0) AS n_pairs,"
    " COALESCE(p.n_dup_pairs, 0) AS n_dup_pairs,"
    " COALESCE(r.n_removed, 0) AS n_removed,"
    " COALESCE(r.removed_binding, 0) AS removed_binding"
    " FROM mstats m LEFT JOIN pstats p ON m.cid = p.cid"
    " LEFT JOIN rstats r ON m.cid = r.cid ORDER BY cluster_id"
)
