"""SURVEY.md §2.L (2/4) — embedding similarity search
(driver-mandated extension, BASELINE.json:6).

Brute-force cosine top-k (exact baseline), KNN join per label,
embedding-cosine near-dup pairs, and an IVF-style ANN probe — all over
`embeddings` (array<float>, dim 64, FIXTURES.md).

Scale notes (100 TB): dot products are pure JVM higher-order functions
(F.aggregate over zip_with — no Python, no UDF). Exact top-k over N
probes × M corpus is O(N·M): kept only as the ground-truth baseline and
bounded probe sets. The scale paths are (a) IVF: partition corpus by
coarse centroid (here: per-label mean), probe only the nearest cell(s);
(b) random-projection LSH bucketing (BucketedRandomProjectionLSH) for
euclidean. Norms are precomputed once per row, never per pair.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_test_spark.io import load_table, materialize
from hive_test_spark.registry import register
from hive_test_spark.session import fanout

# JVM-side vector math over array<float> (cast to double element-wise).
_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
_NORM = "sqrt(aggregate({a}, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"

# Fast path for the dot product: the HOF form above is interpreted
# (lambda closures evaluate outside whole-stage codegen and zip_with
# allocates an intermediate array PER PAIR — measured ~640 µs/pair
# single-core on 64-dim vectors), which made the pair-mass similarity
# ops compute-bound on expression overhead, not arithmetic. For the
# common fixed dimensionality the same sum unrolls to a flat
# element_at chain that codegen compiles: 0D + a1*b1 + a2*b2 + ... is
# the IDENTICAL left-associated double-accumulation order as
# aggregate's (((0+v1)+v2)+...), so results are bit-for-bit equal
# (verified over every sf0.01 pair) — 3-4x faster per pair. Vectors of
# any other length take the general HOF branch of the CASE (evaluated
# lazily per row), so nothing is hardcoded about the data.
# THE module's single embedding-dimensionality constant (TESTDATA.md:
# embeddings.embedding is array<float>[64]). Both the unrolled codegen
# dot product below and the LSH hyperplane generator further down derive
# from this one name so the two can never drift (ADVICE r8).
EMBED_DIM = 64
_DOT_UNROLLED = "0D + " + " + ".join(
    f"CAST(element_at({{a}}, {i}) AS DOUBLE) * CAST(element_at({{b}}, {i}) AS DOUBLE)"
    for i in range(1, EMBED_DIM + 1)
)
_DOT_FAST = (
    f"CASE WHEN size({{a}}) = {EMBED_DIM} AND size({{b}}) = {EMBED_DIM} "
    f"THEN {_DOT_UNROLLED} ELSE {_DOT} END"
)


def _with_norm(df: DataFrame, vec: str = "embedding") -> DataFrame:
    return df.withColumn("norm", F.expr(_NORM.format(a=vec)))


def cosine(a: str, b: str) -> "F.Column":
    return F.expr(_DOT_FAST.format(a=a, b=b))


def _probe_cosines(
    e: DataFrame,
    n_probes: int | None,
    q: str,
    d: str,
    sim: str = "cos_sim",
    q_extra: tuple = (),
    d_extra: tuple = (),
    d_keep: tuple | None = None,
) -> DataFrame:
    """The similarity stack's shared ground-truth scoring block: broadcast
    the deterministic probe panel (vec_id < n_probes; None = all vectors)
    against the corpus and emit the ROUNDED cosine per (probe, other)
    pair with the self-pair excluded. Exact top-k, both recall gates,
    hard-negative mining, MMR relevance, the RRF/NDCG dense legs, and
    the hubness kNN graph all derive from this one frame, so rounding
    digits, norm handling, and self-exclusion change in exactly one
    place. `q_extra`/`d_extra` are (src_col, alias) pairs carried
    through; `d_keep` = (emb_alias, norm_alias) keeps the corpus-side
    vector for downstream pairwise math (MMR).

    The corpus side is repartitioned before the broadcast join: the
    fixture tables arrive as ONE parquet split, and a broadcast
    nested-loop join inherits the STREAMED side's partitioning — without
    the spread, every probe×corpus cosine (a 64-dim HOF dot product per
    pair; ~4M pairs for the all-vs-all hubness graph at sf0.1) evaluates
    on a single core. The extra exchange moves only the corpus rows
    (vec_id + embedding), and the values are unchanged — per-pair math,
    layout-independent downstream aggs (registry-wide determinism probe,
    SCALE.md §9x)."""
    probes = e if n_probes is None else e.filter(F.col("vec_id") < n_probes)
    probes = probes.select(
        F.col("vec_id").alias(q),
        F.col("embedding").alias("_q_emb"),
        F.col("norm").alias("_q_norm"),
        *[F.col(c).alias(a) for c, a in q_extra],
    )
    corpus = e.repartition(fanout(e.sparkSession)).select(
        F.col("vec_id").alias(d),
        F.col("embedding").alias("_d_emb"),
        F.col("norm").alias("_d_norm"),
        *[F.col(c).alias(a) for c, a in d_extra],
    )
    keep = []
    if d_keep is not None:
        keep = [
            F.col("_d_emb").alias(d_keep[0]),
            F.col("_d_norm").alias(d_keep[1]),
        ]
    return (
        F.broadcast(probes)
        .join(corpus, F.col(q) != F.col(d))
        .select(
            q,
            d,
            *[a for _, a in q_extra],
            *[a for _, a in d_extra],
            F.round(
                cosine("_q_emb", "_d_emb") / (F.col("_q_norm") * F.col("_d_norm")), 6
            ).alias(sim),
            *keep,
        )
    )


# DuckDB list_cosine_similarity on raw float lists computes in float32 —
# cast to double lists so it matches the Spark double-precision expression.
_DUCK_COS = ("list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)), "
             "list_transform(b.embedding, x -> CAST(x AS DOUBLE)))")

# Per-label mean centroids, shared by llm_ann_ivf and llm_semdedup in
# BOTH renderings: one oracle CTE constant and one Spark builder, so a
# routing-guard or rounding change cannot drift the two quantizers apart.
_DUCK_LABEL_CENTROIDS = """centroids AS (
      SELECT label, list(comp_avg ORDER BY pos) AS centroid
      FROM (
        SELECT label, pos, AVG(comp) AS comp_avg
        FROM (SELECT label, generate_subscripts(embedding, 1) AS pos,
                     CAST(unnest(embedding) AS DOUBLE) AS comp
              FROM embeddings) exploded
        GROUP BY label, pos
      ) per_pos
      GROUP BY label
    )"""


def _label_centroids(spark, sf_dir: str) -> DataFrame:
    """Distributed per-label mean centroids: posexplode -> avg per
    (label, pos) -> re-assemble ordered arrays, plus the precomputed
    norm. The Spark twin of _DUCK_LABEL_CENTROIDS."""
    exploded = (
        load_table(spark, sf_dir, "embeddings")
        .select("label", F.posexplode("embedding").alias("pos", "comp"))
        .withColumn("comp", F.col("comp").cast("double"))
    )
    per_pos = exploded.groupBy("label", "pos").agg(F.avg("comp").alias("comp_avg"))
    return (
        per_pos.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "comp_avg"))).alias("pc"))
        .select("label", F.expr("transform(pc, x -> x.comp_avg)").alias("centroid"))
        .withColumn("c_norm", F.expr(_NORM.format(a="centroid")))
    )


N_PROBES = 10  # fixed probe set: vec_id 0..9
TOP_K = 5


_TOPK_ORACLE = f"""
    WITH probes AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_PROBES}),
         scored AS (
           SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
                  ROUND({_DUCK_COS}, 6) AS cos_sim
           FROM probes a JOIN embeddings b ON a.vec_id <> b.vec_id
         )
    SELECT probe_id, neighbor_id, cos_sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rn
          FROM scored) t
    WHERE rn <= {TOP_K}
"""


@register("llm_cosine_topk", _TOPK_ORACLE)
def llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: 10 probe vectors × corpus, top-5
    neighbors each. Probe side broadcast; per-row norms precomputed;
    deterministic tie-break on neighbor_id."""
    from pyspark.sql import Window

    e = _with_norm(load_table(spark, sf_dir, "embeddings"))
    scored = _probe_cosines(e, N_PROBES, "probe_id", "neighbor_id")
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return scored.select("*", F.row_number().over(w).alias("rn")).filter(F.col("rn") <= TOP_K).drop("rn")


@register(
    "llm_knn_join",
    f"""
    WITH scored AS (
      SELECT a.vec_id AS query_id, a.label, b.vec_id AS neighbor_id,
             ROUND({_DUCK_COS}, 6) AS cos_sim
      FROM embeddings a
      JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id
    )
    SELECT query_id, label, neighbor_id, cos_sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rn
          FROM scored) t
    WHERE rn <= 3
    """,
)
def llm_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN self-join blocked by label: each vector's 3 nearest cosine
    neighbors within its cluster. The label equi-key turns the quadratic
    all-pairs into per-cluster blocks — the blocked-KNN scale shape
    (shuffle on label, pairs only within block)."""
    from pyspark.sql import Window

    e = _with_norm(load_table(spark, sf_dir, "embeddings"))
    a = e.select(
        F.col("vec_id").alias("query_id"), "label",
        F.col("embedding").alias("a_emb"), F.col("norm").alias("a_norm"),
    )
    b = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("b_label"),
        F.col("embedding").alias("b_emb"), F.col("norm").alias("b_norm"),
    )
    scored = (
        a.join(b, (F.col("label") == F.col("b_label")) & (F.col("query_id") != F.col("neighbor_id")))
        .select(
            "query_id", "label", "neighbor_id",
            F.round(cosine("a_emb", "b_emb") / (F.col("a_norm") * F.col("b_norm")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return scored.select("*", F.row_number().over(w).alias("rn")).filter(F.col("rn") <= 3).drop("rn")


@register(
    "llm_embed_neardup",
    f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_DUCK_COS}, 6) AS cos_sim
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND({_DUCK_COS}, 6) >= 0.25
    """,
)
def llm_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.25 — the fixture
    embeddings are weakly clustered, max intra-label cos ≈ 0.475), blocked by
    label. At 100 TB the same query runs per LSH/IVF bucket instead of
    per label — identical DataFrame shape, coarser blocking key."""
    e = _with_norm(load_table(spark, sf_dir, "embeddings"))
    a = e.select(
        F.col("vec_id").alias("vec_a"), "label",
        F.col("embedding").alias("a_emb"), F.col("norm").alias("a_norm"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("label").alias("b_label"),
        F.col("embedding").alias("b_emb"), F.col("norm").alias("b_norm"),
    )
    return (
        a.join(b, (F.col("label") == F.col("b_label")) & (F.col("vec_a") < F.col("vec_b")))
        .select(
            "vec_a", "vec_b",
            F.round(cosine("a_emb", "b_emb") / (F.col("a_norm") * F.col("b_norm")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.25)
    )


_IVF_ORACLE = f"""
    WITH {_DUCK_LABEL_CENTROIDS},
    probes AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_PROBES}),
    cell AS (
      SELECT vec_id AS probe_id, label AS probe_label
      FROM (
        SELECT p.vec_id, c.label,
               ROW_NUMBER() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY ROUND(list_cosine_similarity(list_transform(p.embedding, x -> CAST(x AS DOUBLE)), c.centroid), 6) DESC, c.label) AS rn
        FROM probes p CROSS JOIN centroids c
      ) ranked WHERE rn = 1
    ),
    scored AS (
      SELECT cell.probe_id, b.vec_id AS neighbor_id, cell.probe_label,
             ROUND(list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)), list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6) AS cos_sim
      FROM cell
      JOIN embeddings a ON a.vec_id = cell.probe_id
      JOIN embeddings b ON b.label = cell.probe_label AND b.vec_id <> cell.probe_id
    )
    SELECT probe_id, neighbor_id, probe_label, cos_sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rn
          FROM scored) t
    WHERE rn <= {TOP_K}
"""


@register("llm_ann_ivf", _IVF_ORACLE)
def llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantizer = per-label mean vector (computed
    distributed via posexplode + per-position avg), probe → nearest
    centroid → exact top-k within that single cell only.

    This is the 100 TB similarity-search shape: corpus partitioned by
    cell id, probes routed by a tiny broadcast centroid table, per-cell
    brute force. nprobe=1 here; raising nprobe = union more cells.
    """
    from pyspark.sql import Window

    e = _with_norm(load_table(spark, sf_dir, "embeddings"))

    centroids = _label_centroids(spark, sf_dir)

    probes = e.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p_emb"),
        F.col("norm").alias("p_norm"),
    )
    routed = (
        probes.crossJoin(centroids)
        .select(
            "probe_id", "p_emb", "p_norm", "label",
            # round-before-argmin (the cluster.py _assign guard): centroid
            # averages differ at last-ulp across engines/runs, and an
            # unrounded near-tie would route the probe differently.
            F.round(
                cosine("p_emb", "centroid") / (F.col("p_norm") * F.col("c_norm")), 6
            ).alias("c_sim"),
        )
    )
    w_route = Window.partitionBy("probe_id").orderBy(F.col("c_sim").desc(), "label")
    cell = (
        routed.select("*", F.row_number().over(w_route).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("probe_id", "p_emb", "p_norm", F.col("label").alias("probe_label"))
    )

    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("b_label"),
        F.col("embedding").alias("b_emb"), F.col("norm").alias("b_norm"),
    )
    scored = (
        F.broadcast(cell)
        .join(corpus, (F.col("probe_label") == F.col("b_label")) & (F.col("probe_id") != F.col("neighbor_id")))
        .select(
            "probe_id", "neighbor_id", "probe_label",
            F.round(cosine("p_emb", "b_emb") / (F.col("p_norm") * F.col("b_norm")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return scored.select("*", F.row_number().over(w).alias("rn")).filter(F.col("rn") <= TOP_K).drop("rn")


# ---------------------------------------------------------------------------
# Random-hyperplane LSH ANN (cosine) — completes the similarity matrix:
# exact top-k (baseline) / IVF (partition-routed) / LSH (signature-bucketed).
# ---------------------------------------------------------------------------

LSH_BITS = 12   # hyperplanes per band
LSH_BANDS = 3   # OR-amplification: candidate if ANY band signature collides
LSH_TAU = 0.25  # exact-cosine verify threshold (fixtures are weakly clustered)

# Deterministic pseudo-random hyperplane component w(p, i) — pure integer
# arithmetic, so Spark and DuckDB compute bit-identical planes (no RNG, no
# engine-specific seed). p = global plane index, i = vector position.
_PLANE = "(1 + {p}*8191 + i*131071) % 2003 - 1001"


def _spark_sig(band: int) -> str:
    terms = []
    for p in range(LSH_BITS):
        plane = _PLANE.format(p=band * LSH_BITS + p)
        dot = (
            f"aggregate(zip_with(embedding, transform(sequence(0, {EMBED_DIM - 1}), "
            f"i -> CAST({plane} AS DOUBLE)), (x, y) -> CAST(x AS DOUBLE) * y), "
            f"0D, (acc, v) -> acc + v)"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


def _duck_sig(band: int) -> str:
    terms = []
    for p in range(LSH_BITS):
        plane = _PLANE.format(p=band * LSH_BITS + p)
        dot = (
            f"list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), "
            f"list_transform(generate_series(0, {EMBED_DIM - 1}), i -> CAST({plane} AS DOUBLE)))"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


_LSH_ORACLE = f"""
    WITH sig AS (
      SELECT vec_id,
             {', '.join(f'({_duck_sig(b)}) AS sig{b}' for b in range(LSH_BANDS))}
      FROM embeddings
    ),
    bandsv AS (
      {' UNION ALL '.join(f'SELECT vec_id, {b} AS band, sig{b} AS sig FROM sig' for b in range(LSH_BANDS))}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bandsv a JOIN bandsv b ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, ROUND({_DUCK_COS}, 6) AS cos_sim
    FROM cand JOIN embeddings a ON a.vec_id = cand.id_a
              JOIN embeddings b ON b.vec_id = cand.id_b
    WHERE ROUND({_DUCK_COS}, 6) >= {LSH_TAU}
"""


@register("llm_ann_lsh", _LSH_ORACLE)
def llm_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH for cosine similarity: 3 bands x 12 sign
    bits (SimHash for embeddings), candidate pair iff any
    band signature collides, then exact-cosine verification at tau=0.25.
    At sf0.01 the bucket join yields ~940 candidates vs 124,750 brute-force
    pairs — a 132x reduction with the SAME verified output contract as
    `llm_embed_neardup` (blocked) / `llm_cosine_topk` (exact).

    Scale shape (100 TB): signatures are one map-only pass (JVM
    higher-order functions, no UDF, no shuffle); the candidate join
    shuffles on (band, signature) — 3x12-bit keyspace spreads load, and a
    hot bucket is exactly the skew AQE splits. Verification touches only
    candidate pairs, so total cost is O(N) + O(collisions), never O(N^2).
    Hyperplanes are derived from a pure integer formula (no RNG), which is
    what makes the whole pipeline oracle-able and re-runnable."""
    e = load_table(spark, sf_dir, "embeddings")
    sig = e.select(
        "vec_id",
        "embedding",
        *[F.expr(_spark_sig(b)).alias(f"sig{b}") for b in range(LSH_BANDS)],
    )
    bands = sig.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"sig{b}").alias("sig"))
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("vec_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    ewn = _with_norm(e)
    ea = ewn.select(
        F.col("vec_id").alias("ea_id"), F.col("embedding").alias("a_emb"),
        F.col("norm").alias("a_norm"),
    )
    eb = ewn.select(
        F.col("vec_id").alias("eb_id"), F.col("embedding").alias("b_emb"),
        F.col("norm").alias("b_norm"),
    )
    return (
        cand.join(ea, F.col("id_a") == F.col("ea_id"))
        .join(eb, F.col("id_b") == F.col("eb_id"))
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine("a_emb", "b_emb") / (F.col("a_norm") * F.col("b_norm")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= LSH_TAU)
    )


N_RECALL_PROBES = 50


@register(
    "llm_ann_recall",
    f"""
    WITH lsh AS (SELECT * FROM ({_LSH_ORACLE}) q),
    probes AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_RECALL_PROBES}
    ),
    exact AS (
      SELECT a.vec_id AS probe_id,
             LEAST(a.vec_id, b.vec_id) AS lo,
             GREATEST(a.vec_id, b.vec_id) AS hi
      FROM probes a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE ROUND({_DUCK_COS}, 6) >= {LSH_TAU}
    )
    SELECT e.probe_id,
           COUNT(*) AS n_true,
           COUNT(l.id_a) AS n_found,
           ROUND(COUNT(l.id_a) * 1.0 / COUNT(*), 6) AS recall
    FROM exact e LEFT JOIN lsh l ON e.lo = l.id_a AND e.hi = l.id_b
    GROUP BY e.probe_id
    """,
)
def llm_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall evaluation [public method: the standard ANN-benchmark
    metric — fraction of true tau-neighbors the approximate index
    returns]: ground truth = exact-cosine pairs (cos >= 0.25)
    touching a 50-probe panel; found = the SAME pairs
    surfaced by llm_ann_lsh's banded index; per-probe recall via a
    key-normalized (lo, hi) left join. This is the acceptance gate a
    100 TB pipeline runs BEFORE trusting an index build — approximate
    ops without a measured recall are wishful thinking.

    Scale shape: ground truth is probe-bounded (panel x corpus with a
    broadcast panel — never all-pairs over the corpus); the LSH side is
    the production index plan itself (O(N)+O(collisions)); the eval
    join is pair-keyed and tiny. Evaluating on a sampled probe panel
    instead of the full corpus is exactly how recall is estimated at
    scale."""
    lsh = llm_ann_lsh(spark, sf_dir).select("id_a", "id_b")
    e = _with_norm(load_table(spark, sf_dir, "embeddings"))
    exact = (
        _probe_cosines(e, N_RECALL_PROBES, "probe_id", "other_id")
        .filter(F.col("cos_sim") >= LSH_TAU)
        .select(
            "probe_id",
            F.least("probe_id", "other_id").alias("lo"),
            F.greatest("probe_id", "other_id").alias("hi"),
        )
    )
    return (
        exact.join(
            lsh, (F.col("lo") == F.col("id_a")) & (F.col("hi") == F.col("id_b")), "left"
        )
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.count("id_a").alias("n_found"),
            F.round(F.count("id_a") / F.count(F.lit(1)), 6).alias("recall"),
        )
    )


SEMDEDUP_TAU = 0.30  # drop if a lower-id same-cluster member is this close


@register(
    "llm_semdedup",
    f"""
    WITH {_DUCK_LABEL_CENTROIDS},
    assign AS (
      SELECT vec_id, embedding, cl
      FROM (
        SELECT e.vec_id, e.embedding, c.label AS cl,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND(list_cosine_similarity(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), c.centroid), 6) DESC, c.label) AS rn
        FROM embeddings e CROSS JOIN centroids c
      ) t WHERE rn = 1
    ),
    mx AS (
      SELECT a.vec_id, max(ROUND(list_cosine_similarity(
               list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6)) AS max_sim
      FROM assign a JOIN assign b ON a.cl = b.cl AND b.vec_id < a.vec_id
      GROUP BY a.vec_id
    )
    SELECT assign.vec_id, cl AS cluster, mx.max_sim,
           COALESCE(mx.max_sim < {SEMDEDUP_TAU}, TRUE) AS keep
    FROM assign LEFT JOIN mx ON mx.vec_id = assign.vec_id
    """,
)
def llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup via cluster-then-
    compare. Every vector is assigned to its nearest coarse centroid
    (per-label means, built distributed — one Lloyd half-step from a
    deterministic init), then pairwise cosine runs ONLY within a cluster;
    a vector is dropped when a lower-vec_id cluster-mate is ≥ τ close
    (lowest id = the kept exemplar, deterministic).

    The clustering is the point at scale: pairwise cost is Σ|cell|², not
    N². At 100 TB, k is thousands (k ∝ N/target-cell-size), the centroid
    table still broadcasts (k × dim floats), and oversized cells recurse
    into sub-clusters — the same op applied within the cell."""
    from pyspark.sql import Window

    e = _with_norm(load_table(spark, sf_dir, "embeddings"))

    centroids = _label_centroids(spark, sf_dir)

    routed = (
        e.select("vec_id", "embedding", "norm")
        .crossJoin(centroids.withColumnRenamed("label", "c_label"))
        .select(
            "vec_id", "embedding", "norm", "c_label",
            # round-before-argmin: see llm_ann_ivf's routing guard.
            F.round(
                cosine("embedding", "centroid") / (F.col("norm") * F.col("c_norm")), 6
            ).alias("c_sim"),
        )
    )
    w_route = Window.partitionBy("vec_id").orderBy(F.col("c_sim").desc(), "c_label")
    assign = (
        routed.select("*", F.row_number().over(w_route).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "norm", F.col("c_label").alias("cl"))
    )

    rhs = assign.select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"),
        F.col("norm").alias("b_norm"), F.col("cl").alias("b_cl"),
    )
    mx = (
        assign.join(rhs, (F.col("b_cl") == F.col("cl")) & (F.col("b_id") < F.col("vec_id")))
        .groupBy("vec_id")
        .agg(
            F.max(
                F.round(cosine("embedding", "b_emb") / (F.col("norm") * F.col("b_norm")), 6)
            ).alias("max_sim")
        )
    )
    return (
        assign.join(mx, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cl").alias("cluster"),
            "max_sim",
            F.coalesce(F.col("max_sim") < SEMDEDUP_TAU, F.lit(True)).alias("keep"),
        )
    )


N_MINE_ANCHORS = 20  # anchors = vec_id < 20 (deterministic panel)

_TRIPLET_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    anchors AS (SELECT * FROM e WHERE vec_id < {N_MINE_ANCHORS}),
    scored AS (
      SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
             b.vec_id AS other_id, b.label AS other_label,
             ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS cos_sim
      FROM anchors a JOIN e b ON b.vec_id <> a.vec_id
    ),
    pos AS (
      SELECT anchor_id, other_id AS positive_id, cos_sim AS pos_sim
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                         ORDER BY cos_sim DESC, other_id) AS rn
            FROM scored WHERE other_label = anchor_label) t
      WHERE rn = 1
    ),
    neg AS (
      SELECT anchor_id, other_id AS negative_id, cos_sim AS neg_sim
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                         ORDER BY cos_sim DESC, other_id) AS rn
            FROM scored WHERE other_label <> anchor_label) t
      WHERE rn = 1
    )
    SELECT p.anchor_id, p.positive_id, n.negative_id,
           p.pos_sim, n.neg_sim,
           ROUND(p.pos_sim - n.neg_sim, 6) AS margin
    FROM pos p JOIN neg n USING (anchor_id)
"""


@register("llm_hard_negative_mining", _TRIPLET_ORACLE)
def llm_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet mining for contrastive training: per anchor, the closest
    SAME-label vector (positive) and the closest DIFFERENT-label vector
    (the HARD negative — the semi-/hard-negative selection that makes
    triplet/InfoNCE training converge; random negatives are too easy to
    teach anything), plus the margin the loss would see. One scored
    pass over the anchor×corpus pairs feeds both top-1 windows.

    Scale shape: the anchor panel is bounded and broadcast (exactly
    llm_cosine_topk's probe pattern — mining runs per training batch,
    not per corpus); at real scale the corpus side is first bucketed by
    the ANN index (llm_ann_ivf/lsh) and this op runs within candidate
    buckets, turning O(anchors x N) into O(anchors x bucket). Label
    lookup is carried on the scored row so positives/negatives split
    without a second join."""
    e = _with_norm(load_table(spark, sf_dir, "embeddings"))
    scored = _probe_cosines(
        e,
        N_MINE_ANCHORS,
        "anchor_id",
        "other_id",
        q_extra=(("label", "anchor_label"),),
        d_extra=(("label", "other_label"),),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("anchor_id").orderBy(F.desc("cos_sim"), "other_id")
    pos = (
        scored.filter(F.col("other_label") == F.col("anchor_label"))
        .select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            F.col("other_id").alias("positive_id"),
            F.col("cos_sim").alias("pos_sim"),
        )
    )
    neg = (
        scored.filter(F.col("other_label") != F.col("anchor_label"))
        .select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            F.col("other_id").alias("negative_id"),
            F.col("cos_sim").alias("neg_sim"),
        )
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "positive_id",
        "negative_id",
        "pos_sim",
        "neg_sim",
        F.round(F.col("pos_sim") - F.col("neg_sim"), 6).alias("margin"),
    )


@register(
    "llm_ann_ivf_recall",
    f"""
    WITH exact AS (SELECT probe_id, neighbor_id FROM ({_TOPK_ORACLE}) t),
         ivf AS (SELECT probe_id, neighbor_id FROM ({_IVF_ORACLE}) t)
    SELECT e.probe_id,
           COUNT(*) AS n_exact,
           COUNT(i.neighbor_id) AS n_found,
           ROUND(COUNT(i.neighbor_id) * 1.0 / COUNT(*), 6) AS recall_at_k
    FROM exact e LEFT JOIN ivf i
      ON e.probe_id = i.probe_id AND e.neighbor_id = i.neighbor_id
    GROUP BY e.probe_id
    """,
)
def llm_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k gate for the IVF index — twin of llm_ann_recall (which
    gates the LSH index on tau-neighbor recall) using the OTHER standard
    ANN metric: per probe, the fraction of the exact brute-force top-k
    (llm_cosine_topk, whole-corpus ground truth) that the nprobe=1
    IVF search (llm_ann_ivf, nearest-cell only) returns. Together the
    two gates cover both approximate indexes and both recall notions.

    On the weakly-clustered fixtures nprobe=1 recall@5 lands at
    0.0-0.4 — a finding, not a bug: it is precisely the number that
    tells an operator to raise nprobe (union more cells) before
    trusting the index.

    Scale shape: ground truth stays probe-bounded (broadcast panel x
    corpus scan, never all-pairs); the IVF side is the production
    routed plan itself; the eval join is (probe, neighbor)-keyed and
    k x |panel| rows. Recall@k on a sampled probe panel is exactly how
    an index build is accepted before a 100 TB backfill trusts it."""
    exact = llm_cosine_topk(spark, sf_dir).select("probe_id", "neighbor_id")
    ivf = llm_ann_ivf(spark, sf_dir).select(
        "probe_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(ivf, ["probe_id", "neighbor_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("hit").alias("n_found"),
            F.round(F.count("hit") / F.count(F.lit(1)), 6).alias("recall_at_k"),
        )
    )


# MMR diversified re-ranking: candidate pool size, selections, trade-off.
_MMR_C = 10
_MMR_K = 5
_MMR_LAMBDA = 0.7


def _mmr_oracle() -> str:
    """Build the unrolled-greedy oracle: sel_i = sel_{i-1} + argmax of
    lambda*rel - (1-lambda)*max_sim_to_selected over the remainder. All
    similarities are rounded to 6dp BEFORE any ranking (the
    llm_cosine_topk convention), so both engines take bit-identical
    greedy decisions."""
    lam, om = _MMR_LAMBDA, 1.0 - _MMR_LAMBDA
    steps = []
    for i in range(2, _MMR_K + 1):
        prev = " UNION ALL ".join(
            f"SELECT query_id, vec_id FROM s{j}" for j in range(1, i)
        )
        steps.append(f"""
    sel{i - 1} AS ({prev}),
    s{i} AS (
      SELECT query_id, vec_id, score, {i} AS rk
      FROM (SELECT query_id, vec_id, score,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, vec_id) AS rn
            FROM (SELECT c.query_id, c.vec_id,
                         {lam} * c.rel - {om} * MAX(p.sim) AS score
                  FROM cand c
                  JOIN pair p ON p.query_id = c.query_id AND p.a_id = c.vec_id
                  JOIN sel{i - 1} s ON s.query_id = p.query_id AND s.vec_id = p.b_id
                  LEFT JOIN sel{i - 1} x ON x.query_id = c.query_id AND x.vec_id = c.vec_id
                  WHERE x.vec_id IS NULL
                  GROUP BY c.query_id, c.vec_id, c.rel))
      WHERE rn = 1
    )""")
    union = " UNION ALL ".join(
        f"SELECT query_id, rk, vec_id, ROUND(score, 6) AS mmr_score FROM s{j}"
        for j in range(1, _MMR_K + 1)
    )
    return f"""
    WITH probes AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < {N_PROBES}
    ),
    rels AS (
      SELECT p.query_id, b.vec_id,
             ROUND(list_cosine_similarity(
               list_transform(p.qv, x -> CAST(x AS DOUBLE)),
               list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6) AS rel,
             b.embedding AS v
      FROM probes p JOIN embeddings b ON b.vec_id <> p.query_id
    ),
    cand AS (
      SELECT query_id, vec_id, rel, v
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY rel DESC, vec_id) AS rn
            FROM rels)
      WHERE rn <= {_MMR_C}
    ),
    pair AS (
      SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id,
             ROUND(list_cosine_similarity(
               list_transform(a.v, x -> CAST(x AS DOUBLE)),
               list_transform(b.v, x -> CAST(x AS DOUBLE))), 6) AS sim
      FROM cand a JOIN cand b
        ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
    ),
    s1 AS (
      SELECT query_id, vec_id, rel AS score, 1 AS rk
      FROM (SELECT query_id, vec_id, rel,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY rel DESC, vec_id) AS rn
            FROM cand)
      WHERE rn = 1
    ),{",".join(steps)}
    {union}
    """


@register("llm_mmr_diversify", _mmr_oracle())
def llm_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking [public method: Carbonell &
    Goldstein 1998] — the diversity stage between retrieval and the
    context window: greedily pick K results maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-picked, so near-dup
    hits don't crowd the result list. The greedy loop has constant
    depth K, so it UNROLLS into pure dataflow — K windowed-argmax
    stages over the bounded candidate pool (top-C=10 per probe from the
    exact ranker), each stage materialize-truncated because every
    step references the previous selection twice (a lazy unroll doubles
    the plan per step) — keeping the whole operator JVM-side; the oracle
    unrolls identically, and because every cosine is rounded to 6dp
    BEFORE any ranking (the llm_cosine_topk convention) both engines
    take bit-identical greedy decisions (score arithmetic on equal
    doubles in the same expression order).

    At 100 TB: candidates per query are bounded (ANN top-C upstream —
    llm_ann_ivf/lsh), so the pairwise-sim table is |Q|·C(C,2), never
    corpus-squared; all the joins after cand are on query_id with tiny
    per-key groups. For large K (where K unrolled stages stop making
    sense) the per-query greedy moves to one applyInPandas over the
    C-row candidate group — the evt_ewma tier — without changing any
    upstream shape."""
    from pyspark.sql import Window

    e = _with_norm(load_table(spark, sf_dir, "embeddings"))
    rels = _probe_cosines(
        e, N_PROBES, "query_id", "vec_id", sim="rel", d_keep=("v_emb", "v_norm")
    )
    w_rel = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), "vec_id")
    cand = (
        rels.select("*", F.row_number().over(w_rel).alias("rn"))
        .filter(F.col("rn") <= _MMR_C)
        .drop("rn")
    )
    a = cand.select(
        "query_id", F.col("vec_id").alias("a_id"), F.col("v_emb").alias("a_emb"),
        F.col("v_norm").alias("a_norm"),
    )
    b = cand.select(
        "query_id", F.col("vec_id").alias("b_id"), F.col("v_emb").alias("b_emb"),
        F.col("v_norm").alias("b_norm"),
    )
    pair = (
        a.join(b, ["query_id"])
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            "query_id", "a_id", "b_id",
            F.round(
                cosine("a_emb", "b_emb") / (F.col("a_norm") * F.col("b_norm")), 6
            ).alias("sim"),
        )
    )
    # Truncate lineage at the bounded intermediates (the
    # llm_dedup_clusters idiom): each greedy step references the
    # previous selection TWICE (penalty join + exclusion anti-join), so
    # a fully lazy unroll doubles the plan per step — 2^K copies of the
    # candidate subtree, 300+ re-scans at K=5. Checkpointing the |Q|·C
    # pool, the |Q|·C² pair sims, and each |Q|-row pick keeps the plan
    # K small stages.
    slim = cand.select("query_id", "vec_id", "rel").transform(materialize)
    pair = pair.transform(materialize)
    sel = (
        slim.select("*", F.row_number().over(w_rel).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("query_id", "vec_id", F.col("rel").alias("score"), F.lit(1).alias("rk"))
        .transform(materialize)
    )
    lam, om = _MMR_LAMBDA, 1.0 - _MMR_LAMBDA
    for i in range(2, _MMR_K + 1):
        sel_keys = sel.select("query_id", F.col("vec_id").alias("b_id"))
        pen = (
            pair.join(sel_keys, ["query_id", "b_id"])
            .groupBy("query_id", "a_id")
            .agg(F.max("sim").alias("pen"))
        )
        scored = (
            slim.alias("s")
            .join(
                pen.alias("p"),
                (F.col("s.query_id") == F.col("p.query_id"))
                & (F.col("s.vec_id") == F.col("p.a_id")),
            )
            .select("s.query_id", "vec_id", (lam * F.col("rel") - om * F.col("pen")).alias("score"))
            .join(
                sel.select("query_id", "vec_id"),
                ["query_id", "vec_id"],
                "left_anti",
            )
        )
        w_s = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "vec_id")
        nxt = (
            scored.select("*", F.row_number().over(w_s).alias("rn"))
            .filter(F.col("rn") == 1)
            .select("query_id", "vec_id", "score", F.lit(i).alias("rk"))
            .transform(materialize)
        )
        sel = sel.unionAll(nxt)
    return sel.select("query_id", "rk", "vec_id", F.round("score", 6).alias("mmr_score"))


# Reciprocal Rank Fusion: shared probe set (id < N_PROBES, valid as both
# doc_id and vec_id — the tables are 1:1 by id), per-ranker pool, rrf k.
# Shared Okapi BM25 lexical leg (the llm_bm25_score shape, text.py's
# _BM25_K1/_BM25_B operating point) used by BOTH hybrid-retrieval ops:
# one oracle CTE template ({qtokens} = per-query token budget) and one
# Spark builder, so the scoring formula lives in exactly one place per
# rendering instead of two.
_DUCK_BM25_LEX = """tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t
      GROUP BY doc_id, token
    ),
    dlen AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avg_dl FROM dlen),
    docfreq AS (SELECT token, COUNT(*) AS dfreq FROM tf GROUP BY token),
    queries AS (
      SELECT doc_id AS query_id, unnest(list_distinct(
               string_split(text, ' ')[1:{qtokens}])) AS token
      FROM documents WHERE doc_id < {probes}
    ),
    lex_scored AS (
        SELECT q.query_id, tf.doc_id,
               ROUND(SUM(
                 ln((s.n_docs - d.dfreq + 0.5) / (d.dfreq + 0.5) + 1.0)
                 * tf.tf * 2.2
                 / (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avg_dl))
               ), 6) AS score
        FROM queries q
        JOIN tf ON tf.token = q.token
        JOIN docfreq d ON d.token = q.token
        JOIN dlen l ON l.doc_id = tf.doc_id
        CROSS JOIN stats s
        WHERE tf.doc_id <> q.query_id
        GROUP BY q.query_id, tf.doc_id)"""


def _bm25_lex_scores(spark: SparkSession, sf_dir: str, qtokens: int) -> DataFrame:
    """Spark twin of _DUCK_BM25_LEX: per-(query, doc) BM25 scores for the
    deterministic probe panel, postings equi-join, never queries x docs."""
    from hive_test_spark.llm.text import _BM25_B, _BM25_K1

    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    tf = (
        d.select("doc_id", F.explode(toks).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dlen = d.select("doc_id", F.size(toks).cast("double").alias("dl"))
    stats = dlen.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avg_dl"),
    )
    docfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("dfreq"))
    queries = d.filter(F.col("doc_id") < N_PROBES).select(
        F.col("doc_id").alias("query_id"),
        F.explode(F.array_distinct(F.slice(toks, 1, qtokens))).alias("token"),
    )
    idf = F.log(
        (F.col("n_docs") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5) + 1.0
    )
    norm = F.col("tf") + _BM25_K1 * (
        (1.0 - _BM25_B) + _BM25_B * F.col("dl") / F.col("avg_dl")
    )
    return (
        queries
        .join(tf, "token")
        .join(docfreq, "token")
        .join(dlen, "doc_id")
        .crossJoin(stats)
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(idf * F.col("tf") * (_BM25_K1 + 1.0) / norm), 6).alias("score"))
    )


_RRF_C = 10
_RRF_K = 60
_RRF_TOPK = 5
_RRF_QTOKENS = 8


@register(
    "llm_rrf_fusion",
    f"""
    WITH {_DUCK_BM25_LEX.format(qtokens=_RRF_QTOKENS, probes=N_PROBES)},
    lex AS (
      SELECT query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS lex_rank
      FROM lex_scored
    ),
    den AS (
      SELECT query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, doc_id) AS den_rank
      FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
               ROUND(list_cosine_similarity(
                 list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                 list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {N_PROBES})
    ),
    fused AS (
      SELECT COALESCE(l.query_id, v.query_id) AS query_id,
             COALESCE(l.doc_id, v.doc_id) AS doc_id,
             ROUND(COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0.0)
                   + COALESCE(1.0 / ({_RRF_K} + v.den_rank), 0.0), 6) AS rrf,
             l.lex_rank, v.den_rank
      FROM (SELECT * FROM lex WHERE lex_rank <= {_RRF_C}) l
      FULL OUTER JOIN (SELECT * FROM den WHERE den_rank <= {_RRF_C}) v
        ON l.query_id = v.query_id AND l.doc_id = v.doc_id
    )
    SELECT query_id, doc_id, rrf, lex_rank, den_rank, fused_rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY rrf DESC, doc_id) AS fused_rank
          FROM fused)
    WHERE fused_rank <= {_RRF_TOPK}
    """,
)
def llm_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion [public method:
    Cormack/Clarke/Buettcher 2009; the default hybrid combiner in
    OpenSearch/Vespa]: fuse the sparse ranking (Okapi BM25 through the
    inverted index — the llm_bm25_score shape) with the dense ranking
    (exact cosine — the llm_cosine_topk shape) for a shared probe set,
    scoring each doc Σ 1/(k + rank_i) over the rankers that retrieved
    it (k={_RRF_K}). RRF needs only RANKS, never comparable scores —
    which is why it wins over score interpolation across heterogeneous
    rankers; the FULL OUTER join keeps docs found by either side, with
    the per-ranker rank columns retained for the fusion audit.

    At 100 TB: both legs are the proven bounded-probe shapes (postings
    equi-join; probe-broadcast × corpus — with llm_ann_* as the drop-in
    dense leg at scale); the fusion itself joins two |Q|·C rank lists —
    negligible. Rank lists are cut to top-C BEFORE fusing, the
    real-system contract (rankers return pools, fusion sees pools)."""
    from pyspark.sql import Window

    lex_scored = _bm25_lex_scores(spark, sf_dir, _RRF_QTOKENS)
    w_lex = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    lex = (
        lex_scored.select("query_id", "doc_id", F.row_number().over(w_lex).alias("lex_rank"))
        .filter(F.col("lex_rank") <= _RRF_C)
    )
    e = _with_norm(load_table(spark, sf_dir, "embeddings"))
    den_scored = _probe_cosines(e, N_PROBES, "query_id", "doc_id")
    w_den = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "doc_id")
    den = (
        den_scored.select("query_id", "doc_id", F.row_number().over(w_den).alias("den_rank"))
        .filter(F.col("den_rank") <= _RRF_C)
    )
    fused = (
        lex.withColumnsRenamed({"query_id": "l_q", "doc_id": "l_d"})
        .join(
            den.withColumnsRenamed({"query_id": "d_q", "doc_id": "d_d"}),
            (F.col("l_q") == F.col("d_q")) & (F.col("l_d") == F.col("d_d")),
            "full_outer",
        )
        .select(
            F.coalesce("l_q", "d_q").alias("query_id"),
            F.coalesce("l_d", "d_d").alias("doc_id"),
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("den_rank")), F.lit(0.0)),
                6,
            ).alias("rrf"),
            "lex_rank",
            "den_rank",
        )
    )
    w_f = Window.partitionBy("query_id").orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.select("*", F.row_number().over(w_f).alias("fused_rank"))
        .filter(F.col("fused_rank") <= _RRF_TOPK)
    )


# NDCG@k of the lexical ranking, graded by dense cosine relevance.
_NDCG_K = 10
_NDCG_QTOKENS = 8


@register(
    "llm_ndcg_eval",
    f"""
    WITH {_DUCK_BM25_LEX.format(qtokens=_NDCG_QTOKENS, probes=N_PROBES)},
    gains AS (
      SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
             GREATEST(ROUND(list_cosine_similarity(
               list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6), 0.0) AS gain
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < {N_PROBES}
    ),
    lex AS (
      SELECT query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rk
      FROM lex_scored
    ),
    dcg AS (
      SELECT l.query_id,
             SUM(g.gain / log2(l.rk + 1.0)) AS dcg
      FROM lex l JOIN gains g
        ON g.query_id = l.query_id AND g.doc_id = l.doc_id
      WHERE l.rk <= {_NDCG_K}
      GROUP BY l.query_id
    ),
    ideal AS (
      SELECT query_id, SUM(gain / log2(rk + 1.0)) AS idcg
      FROM (SELECT query_id, gain,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY gain DESC, doc_id) AS rk
            FROM gains)
      WHERE rk <= {_NDCG_K}
      GROUP BY query_id
    )
    SELECT d.query_id,
           ROUND(d.dcg, 6) AS dcg,
           ROUND(i.idcg, 6) AS idcg,
           ROUND(d.dcg / i.idcg, 6) AS ndcg,
           d.dcg / i.idcg >= 0.0 AND d.dcg / i.idcg <= 1.0 AS in_unit_range
    FROM dcg d JOIN ideal i ON i.query_id = d.query_id
    """,
)
def llm_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 ranking-quality gate [public metric: Järvelin &
    Kekäläinen 2002] for the retrieval stack: score the LEXICAL (BM25)
    ranking against DENSE cosine graded relevance (clipped at 0) — the
    cross-modal agreement report a hybrid pipeline watches before
    trusting fusion; the in-unit-range sanity flag is hash-pinned the
    way the recall gates (llm_ann_recall / llm_ann_ivf_recall) pin
    theirs. DCG sums gain/log2(rank+1) over the evaluated top-10;
    IDCG re-ranks the same gains ideally, so ndcg=1 iff the lexical
    order matches the dense order on the retrieved set.

    At 100 TB: both legs are the proven bounded shapes (postings
    equi-join for lex, probe-broadcast for gains); the metric itself
    aggregates |Q|·10 rows. Evaluation over a labeled qrels table
    swaps the gains CTE for the label join — no shape change."""
    from pyspark.sql import Window

    lex_scored = _bm25_lex_scores(spark, sf_dir, _NDCG_QTOKENS)
    w_lex = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    lex = (
        lex_scored.select("query_id", "doc_id", F.row_number().over(w_lex).alias("rk"))
        .filter(F.col("rk") <= _NDCG_K)
    )
    e = _with_norm(load_table(spark, sf_dir, "embeddings"))
    gains = _probe_cosines(e, N_PROBES, "query_id", "doc_id").select(
        "query_id",
        "doc_id",
        F.greatest(F.col("cos_sim"), F.lit(0.0)).alias("gain"),
    )
    dcg = (
        lex.join(gains, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(F.sum(F.col("gain") / F.log2(F.col("rk") + 1.0)).alias("dcg"))
    )
    w_g = Window.partitionBy("query_id").orderBy(F.col("gain").desc(), "doc_id")
    ideal = (
        gains.select("query_id", "gain", F.row_number().over(w_g).alias("rk"))
        .filter(F.col("rk") <= _NDCG_K)
        .groupBy("query_id")
        .agg(F.sum(F.col("gain") / F.log2(F.col("rk") + 1.0)).alias("idcg"))
    )
    ndcg = F.col("dcg") / F.col("idcg")
    return dcg.join(ideal, "query_id").select(
        "query_id",
        F.round("dcg", 6).alias("dcg"),
        F.round("idcg", 6).alias("idcg"),
        F.round(ndcg, 6).alias("ndcg"),
        ((ndcg >= 0.0) & (ndcg <= 1.0)).alias("in_unit_range"),
    )


# Hubness audit: neighborhood size and hub-report depth.
_HUB_K = 5
_HUB_TOP = 10


@register(
    "llm_hubness_audit",
    f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    knn AS (
      SELECT src, nb FROM (
        SELECT a.vec_id AS src, b.vec_id AS nb,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY ROUND({_DUCK_COS}, 6) DESC, b.vec_id) AS rk
        FROM e a JOIN e b ON b.vec_id <> a.vec_id
      ) t WHERE rk <= {_HUB_K}
    ),
    indeg AS (
      SELECT nb AS vec_id, COUNT(*) AS in_degree FROM knn GROUP BY nb
    ),
    alln AS (
      SELECT e.vec_id, COALESCE(i.in_degree, 0) AS in_degree
      FROM e LEFT JOIN indeg i ON i.vec_id = e.vec_id
    ),
    stats AS (
      SELECT AVG(in_degree) AS mu, stddev_samp(in_degree) AS sd,
             COUNT(*) FILTER (WHERE in_degree = 0) AS n_orphans
      FROM alln
    )
    SELECT a.vec_id, a.in_degree,
           ROUND((a.in_degree - s.mu) / s.sd, 6) AS hub_z,
           CAST(s.n_orphans AS BIGINT) AS n_orphans
    FROM alln a CROSS JOIN stats s
    ORDER BY a.in_degree DESC, a.vec_id
    LIMIT {_HUB_TOP}
    """,
)
def llm_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: D401
    """k-NN hubness audit [public method: Radovanović 2010 — in high
    dimensions some points become HUBS appearing in a skewed share of
    other points' k-neighborhoods while orphans appear in none; hubs
    dominate retrieval results and poison kNN-based dedup/mining, so
    an embedding QA pass measures in-degree skew before trusting the
    space]. Builds the exact cosine k={_HUB_K} graph, counts each
    vector's in-degree, and reports the top-{_HUB_TOP} hubs with
    their z-score beside the orphan count.

    At 100 TB: the all-pairs graph here is the FIXTURE-scale ground
    truth (the llm_jaccard_exact convention); production runs the same
    in-degree rollup over the ANN candidate graph (llm_ann_ivf/lsh
    buckets), where the per-bucket pair mass is already bounded — the
    in-degree aggregation itself is map-side combinable on the
    neighbor key either way."""
    from pyspark.sql import Window

    e = _with_norm(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding", "norm"
    )
    w = Window.partitionBy("src").orderBy(F.col("cos").desc(), "nb")
    knn = (
        _probe_cosines(e, None, "src", "nb", sim="cos")
        .select("src", "nb", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _HUB_K)
    )
    indeg = knn.groupBy(F.col("nb").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    alln = (
        e.select("vec_id")
        .join(indeg, "vec_id", "left")
        .select("vec_id", F.coalesce("in_degree", F.lit(0)).alias("in_degree"))
        .transform(materialize)
    )
    stats = alln.agg(
        F.avg("in_degree").alias("mu"),
        F.stddev_samp("in_degree").alias("sd"),
        F.count(F.when(F.col("in_degree") == 0, 1)).alias("n_orphans"),
    )
    return (
        alln.crossJoin(stats)
        .select(
            "vec_id",
            "in_degree",
            F.round((F.col("in_degree") - F.col("mu")) / F.col("sd"), 6).alias(
                "hub_z"
            ),
            F.col("n_orphans").cast("long").alias("n_orphans"),
        )
        .orderBy(F.col("in_degree").desc(), "vec_id")
        .limit(_HUB_TOP)
    )


# Per-dimension distribution gates for the standardization audit.
_STD_MU_MAX = 0.5
_STD_SD_LO, _STD_SD_HI = 0.5, 2.0


@register(
    "llm_embed_standardize",
    f"""
    WITH comp AS (
      SELECT generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    )
    SELECT pos,
           ROUND(AVG(v), 6) AS mu,
           ROUND(stddev_samp(v), 6) AS sd,
           CAST(abs(AVG(v)) > {_STD_MU_MAX}
                OR stddev_samp(v) < {_STD_SD_LO}
                OR stddev_samp(v) > {_STD_SD_HI} AS INT) AS flagged
    FROM comp
    GROUP BY pos
    ORDER BY pos
    """,
)
def llm_embed_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization audit [public method: the
    diagonal-whitening precheck retrieval stacks run before cosine /
    quantization — a dimension whose mean drifts from 0 or whose
    variance collapses (dead unit) or explodes (dominating unit)
    distorts every distance; PQ and int8 quantization are calibrated
    against exactly these moments]. One posexplode to (position,
    component), one map-side-combinable aggregate on the position key
    (64 groups), and per-dimension gates on |μ| and σ. Complements
    llm_embed_norm_audit (vector-level norms) with the per-COORDINATE
    view, and llm_embed_quantize consumes the σ it reports.

    At 100 TB: the explode is width×rows but each row is (int,
    double); the aggregate reduces to dim-count rows before the
    shuffle. Scan-bound — the optimal shape."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(F.posexplode("embedding").alias("pos0", "v")).select(
        (F.col("pos0") + 1).alias("pos"), F.col("v").cast("double").alias("v")
    )
    mu, sd = F.avg("v"), F.stddev_samp("v")
    return (
        comp.groupBy("pos")
        .agg(
            F.round(mu, 6).alias("mu"),
            F.round(sd, 6).alias("sd"),
            (
                (F.abs(mu) > _STD_MU_MAX)
                | (sd < _STD_SD_LO)
                | (sd > _STD_SD_HI)
            )
            .cast("int")
            .alias("flagged"),
        )
        .orderBy("pos")
    )


# Mixup interpolation coefficient (fixed — augmentation must be
# reproducible across re-runs, the llm_hash_sample determinism argument).
_MIXUP_LAMBDA = 0.3
_MIXUP_SHIFT = 250


@register(
    "llm_mixup_embed",
    f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.label AS label_a, b.label AS label_b,
             a.emb AS ea, b.emb AS eb
      FROM e a JOIN e b ON b.vec_id = (a.vec_id + {_MIXUP_SHIFT}) % 500
      WHERE a.vec_id < {_MIXUP_SHIFT}
    ),
    mixed AS (
      SELECT id_a, id_b, label_a, label_b,
             sqrt(list_sum(list_transform(ea, x -> x * x))) AS norm_a,
             sqrt(list_sum(list_transform(eb, x -> x * x))) AS norm_b,
             sqrt(list_sum(list_transform(
               generate_series(1, len(ea)),
               i -> ({_MIXUP_LAMBDA} * ea[i] + {1 - _MIXUP_LAMBDA} * eb[i])
                    * ({_MIXUP_LAMBDA} * ea[i] + {1 - _MIXUP_LAMBDA} * eb[i])
             ))) AS norm_mix
      FROM pairs
    )
    SELECT id_a, id_b,
           CAST(label_a = label_b AS INT) AS same_label,
           ROUND(norm_a, 6) AS norm_a,
           ROUND(norm_b, 6) AS norm_b,
           ROUND(norm_mix, 6) AS norm_mix,
           CAST(norm_mix <= {_MIXUP_LAMBDA} * norm_a
                            + {1 - _MIXUP_LAMBDA} * norm_b + 1e-9 AS INT)
             AS convexity_ok
    FROM mixed
    ORDER BY id_a
    """,
)
def llm_mixup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding mixup augmentation [public method: Zhang et al. 2018's
    mixup — convex combinations x̃ = λa + (1−λ)b regularize training;
    in data pipelines the same interpolation synthesizes hard eval
    pairs and densifies sparse regions]. Pairing is the deterministic
    id+{_MIXUP_SHIFT} shift (augmentation must reproduce across re-runs
    — the llm_hash_sample argument against rand()), the blend is a
    JVM zip_with, and each output row carries the triangle-inequality
    audit ‖λa+(1−λ)b‖ ≤ λ‖a‖+(1−λ)‖b‖ as an in-query flag — the
    property oracle pattern of the recall gates.

    At 100 TB: the pair join is an equi-join on the shifted id (one
    shuffle family, no products); the blend and norms are narrow
    higher-order expressions. A cross-label mix fraction falls out of
    the same_label column for label-smoothing bookkeeping."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
    )
    a = e.filter(F.col("vec_id") < _MIXUP_SHIFT).select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("label_a"),
        F.col("emb").alias("ea"),
        ((F.col("vec_id") + _MIXUP_SHIFT) % 500).alias("partner"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("label_b"),
        F.col("emb").alias("eb"),
    )
    lam = _MIXUP_LAMBDA
    mix = F.expr(
        f"transform(sequence(1, size(ea)), "
        f"i -> {lam} * ea[i - 1] + {1 - lam} * eb[i - 1])"
    )
    norm = "sqrt(aggregate(transform({v}, x -> x * x), 0D, (acc, x) -> acc + x))"
    mixed = (
        a.join(b, F.col("id_b") == F.col("partner"))
        .withColumn("em", mix)
        .select(
            "id_a",
            "id_b",
            (F.col("label_a") == F.col("label_b")).cast("int").alias("same_label"),
            F.expr(norm.format(v="ea")).alias("raw_norm_a"),
            F.expr(norm.format(v="eb")).alias("raw_norm_b"),
            F.expr(norm.format(v="em")).alias("raw_norm_mix"),
        )
    )
    return mixed.select(
        "id_a",
        "id_b",
        "same_label",
        F.round("raw_norm_a", 6).alias("norm_a"),
        F.round("raw_norm_b", 6).alias("norm_b"),
        F.round("raw_norm_mix", 6).alias("norm_mix"),
        (
            F.col("raw_norm_mix")
            <= lam * F.col("raw_norm_a") + (1 - lam) * F.col("raw_norm_b") + 1e-9
        )
        .cast("int")
        .alias("convexity_ok"),
    ).orderBy("id_a")


# ---------------------------------------------------------------------------
# IVF nprobe tuning curve: recall@k vs scanned candidates per nprobe
# ---------------------------------------------------------------------------

_NPROBE_SWEEP = (1, 2, 3)


def _nprobe_oracle() -> str:
    cells = []
    rows = []
    for np_ in _NPROBE_SWEEP:
        cells.append(f"""
    cand{np_} AS (
      SELECT cl.probe_id, b.vec_id AS neighbor_id,
             ROUND({_DUCK_COS}, 6) AS cos_sim
      FROM (SELECT probe_id, label FROM ranked WHERE rn <= {np_}) cl
      JOIN embeddings a ON a.vec_id = cl.probe_id
      JOIN embeddings b ON b.label = cl.label AND b.vec_id <> cl.probe_id
    ),
    topk{np_} AS (
      SELECT probe_id, neighbor_id
      FROM (SELECT probe_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY cos_sim DESC, neighbor_id) AS rn2
            FROM cand{np_}) t
      WHERE rn2 <= {TOP_K}
    )""")
        rows.append(f"""
    SELECT {np_} AS nprobe,
           COUNT(*) AS n_exact_pairs,
           COUNT(t.neighbor_id) AS n_found,
           ROUND(COUNT(t.neighbor_id) * 1.0 / COUNT(*), 6) AS recall_at_k,
           (SELECT COUNT(*) FROM cand{np_}) AS total_candidates
    FROM exact e LEFT JOIN topk{np_} t
      ON t.probe_id = e.probe_id AND t.neighbor_id = e.neighbor_id""")
    return f"""
    WITH {_DUCK_LABEL_CENTROIDS},
    probes AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_PROBES}),
    ranked AS (
      SELECT p.vec_id AS probe_id, c.label,
             ROW_NUMBER() OVER (
               PARTITION BY p.vec_id
               ORDER BY ROUND(list_cosine_similarity(
                 list_transform(p.embedding, x -> CAST(x AS DOUBLE)),
                 c.centroid), 6) DESC, c.label) AS rn
      FROM probes p CROSS JOIN centroids c
    ),
    exact AS (SELECT probe_id, neighbor_id FROM ({_TOPK_ORACLE}) t),
    {",".join(cells)}
    {" UNION ALL ".join(rows)}
    ORDER BY nprobe
    """


@register("llm_ann_nprobe_curve", _nprobe_oracle())
def llm_ann_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe tuning curve [public method: the standard IVF
    accept-tune step — recall@k rises with the number of probed cells
    while scan cost rises linearly; the knee of this curve IS the
    nprobe you deploy (FAISS's nprobe parameter)]. For nprobe in
    {_NPROBE_SWEEP!r}: route each probe to its top-nprobe nearest
    centroids (rounded-cosine ranking, label tiebreak — the
    llm_ann_ivf router generalized past rank 1), search the union of
    those cells exactly, and score pooled recall@{TOP_K} against the
    brute-force ground truth, emitting the scanned-candidate count as
    the cost axis. Completes the index-economics deck:
    llm_lsh_tuning_curve prices banding, this prices probing.

    At 100 TB: routing is probes × broadcast centroid table; each
    sweep point is the production routed plan with a wider cell
    union — candidate volume (the reported cost) is Σ probed cell
    sizes, never the corpus; the eval join is (probe, neighbor)-keyed
    on the k × |panel| ground-truth rows. The sweep reuses one routed
    ranking, so the whole curve costs one routing pass plus
    len(sweep) cell scans."""
    from pyspark.sql import Window

    e = _with_norm(load_table(spark, sf_dir, "embeddings"))
    cents = _label_centroids(spark, sf_dir)
    probes = e.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p_emb"),
        F.col("norm").alias("p_norm"),
    )
    w_route = Window.partitionBy("probe_id").orderBy(
        F.col("c_sim").desc(), "label"
    )
    routed = (
        probes.crossJoin(cents)
        .select(
            "probe_id",
            "p_emb",
            "p_norm",
            "label",
            F.round(
                cosine("p_emb", "centroid") / (F.col("p_norm") * F.col("c_norm")), 6
            ).alias("c_sim"),
        )
        .select("*", F.row_number().over(w_route).alias("rn"))
        # referenced once per sweep point (the graph_triangles 2+-refs rule):
        # materialize, not cache — a returned-plan cache can never be
        # unpersisted before consumption, so repeated invocations would pin
        # CacheManager entries in the shared session forever (ADVICE r7);
        # local checkpoint blocks are freed by the ContextCleaner once the
        # returned frame is released.
        .transform(materialize)
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("b_label"),
        F.col("embedding").alias("b_emb"),
        F.col("norm").alias("b_norm"),
    )
    # ground truth is reused by every sweep point — materialize once instead
    # of recomputing the exact top-k chain len(sweep) times (a checkpoint,
    # not a cache, so storage stays bounded per run: see the routed note)
    exact = (
        llm_cosine_topk(spark, sf_dir)
        .select("probe_id", "neighbor_id")
        .transform(materialize)
    )
    w_k = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), "neighbor_id"
    )
    rows = []
    for np_ in _NPROBE_SWEEP:
        cand = (
            routed.filter(F.col("rn") <= np_)
            .join(
                corpus,
                (F.col("label") == F.col("b_label"))
                & (F.col("neighbor_id") != F.col("probe_id")),
            )
            .select(
                "probe_id",
                "neighbor_id",
                F.round(
                    cosine("p_emb", "b_emb") / (F.col("p_norm") * F.col("b_norm")), 6
                ).alias("cos_sim"),
            )
            # read twice below (candidate-count agg + top-k cut): materialize
            # the bucket-bounded candidate table so each cell scan runs once
            # (materialize, not cache — see the routed note above)
            .transform(materialize)
        )
        n_cand = cand.agg(F.count(F.lit(1)).alias("total_candidates"))
        topk = (
            cand.select("*", F.row_number().over(w_k).alias("rn2"))
            .filter(F.col("rn2") <= TOP_K)
            .select("probe_id", "neighbor_id", F.lit(1).alias("hit"))
        )
        rows.append(
            exact.join(topk, ["probe_id", "neighbor_id"], "left")
            .agg(
                F.lit(np_).alias("nprobe"),
                F.count(F.lit(1)).alias("n_exact_pairs"),
                F.count("hit").alias("n_found"),
                F.round(F.count("hit") / F.count(F.lit(1)), 6).alias("recall_at_k"),
            )
            .crossJoin(n_cand)
        )
    return reduce(DataFrame.unionByName, rows).orderBy("nprobe")


# Mean reciprocal rank: dense-relevant set depth, rank cutoff.
_MRR_QTOKENS = 8
_MRR_REL_K = 10
_MRR_MAXRANK = 100


@register(
    "llm_mrr",
    f"""
    WITH {_DUCK_BM25_LEX.format(qtokens=_MRR_QTOKENS, probes=N_PROBES)},
    lex AS (
      SELECT query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rk
      FROM lex_scored
    ),
    rel AS (
      SELECT query_id, doc_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                 ORDER BY ROUND({_DUCK_COS}, 6) DESC, b.vec_id) AS drk
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {N_PROBES}
      ) t WHERE drk <= {_MRR_REL_K}
    ),
    hits AS (
      SELECT l.query_id, MIN(l.rk) AS first_rk
      FROM lex l JOIN rel r ON r.query_id = l.query_id AND r.doc_id = l.doc_id
      WHERE l.rk <= {_MRR_MAXRANK}
      GROUP BY l.query_id
    ),
    per_q AS (
      SELECT q.query_id,
             CAST(COALESCE(h.first_rk, 0) AS BIGINT) AS first_rel_rank,
             ROUND(COALESCE(1.0 / h.first_rk, 0.0), 6) AS rr
      FROM (SELECT doc_id AS query_id FROM documents
            WHERE doc_id < {N_PROBES}) q
      LEFT JOIN hits h ON h.query_id = q.query_id
    ),
    tot AS (
      SELECT CAST(CAST(SUM(CAST(rr AS DECIMAL(8,6))) AS VARCHAR) AS DOUBLE)
             / COUNT(*) AS mrr
      FROM per_q
    )
    SELECT p.query_id, p.first_rel_rank, p.rr,
           ROUND(t.mrr, 6) AS mrr_at_100
    FROM per_q p CROSS JOIN tot t
    """,
)
def llm_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank of the first dense-relevant document in the
    BM25 ranking [public metric: MRR, the TREC-QA navigational-search
    staple — where does the FIRST right answer surface?]: the
    reciprocal-rank member of the retrieval eval deck beside
    llm_ndcg_eval (graded order quality), llm_rank_rbo (rank
    similarity), and llm_rrf_fusion (rank fusion). Relevance is
    cross-modal like NDCG's: the dense top-{_MRR_REL_K} per probe is
    the relevant set, the lexical ranking is scored by MIN(rank) over
    the hits capped at MRR@{_MRR_MAXRANK} (no hit => rr = 0, rank 0).
    Per-query reciprocal ranks are rounded to 6dp and the corpus MRR
    accumulates them as exact DECIMAL(8,6) surfaced via the
    decimal->string->double parity cast (SCALE.md 9ac rule 3), so the
    cross-query mean is partition-order-independent by construction;
    it rides along each per-query row (the graph_modularity pattern).

    At 100 TB: both legs are the proven bounded shapes — postings
    equi-join for the lexical scores (never queries x docs), the
    broadcast probe panel for dense ground truth; the metric itself
    reduces |Q| rows. A labeled qrels table swaps the rel CTE for the
    label join — no shape change."""
    from pyspark.sql import Window

    lex_scored = _bm25_lex_scores(spark, sf_dir, _MRR_QTOKENS)
    w_lex = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), "doc_id"
    )
    lex = (
        lex_scored.select(
            "query_id", "doc_id", F.row_number().over(w_lex).alias("rk")
        )
        .filter(F.col("rk") <= _MRR_MAXRANK)
    )
    e = _with_norm(load_table(spark, sf_dir, "embeddings"))
    w_d = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "doc_id"
    )
    rel = (
        _probe_cosines(e, N_PROBES, "query_id", "doc_id")
        .select("query_id", "doc_id", F.row_number().over(w_d).alias("drk"))
        .filter(F.col("drk") <= _MRR_REL_K)
        .select("query_id", "doc_id")
    )
    hits = (
        lex.join(rel, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(F.min("rk").alias("first_rk"))
    )
    panel = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < N_PROBES)
        .select(F.col("doc_id").alias("query_id"))
    )
    per_q = panel.join(F.broadcast(hits), "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("first_rk"), F.lit(0)).cast("long").alias(
            "first_rel_rank"
        ),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("first_rk"), F.lit(0.0)), 6
        ).alias("rr"),
    )
    tot = per_q.agg(
        (
            F.sum(F.col("rr").cast("decimal(8,6)"))
            .cast("string")
            .cast("double")
            / F.count(F.lit(1))
        ).alias("mrr")
    )
    return per_q.crossJoin(tot).select(
        "query_id",
        "first_rel_rank",
        "rr",
        F.round("mrr", 6).alias("mrr_at_100"),
    )


# Precision/recall@k: dense-relevant depth and the two rank cuts.
_PRK_QTOKENS = 8
_PRK_REL_K = 10
_PRK_KS = (5, 10)


@register(
    "llm_precision_recall_at_k",
    f"""
    WITH {_DUCK_BM25_LEX.format(qtokens=_PRK_QTOKENS, probes=N_PROBES)},
    lex AS (
      SELECT query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rk
      FROM lex_scored
    ),
    rel AS (
      SELECT query_id, doc_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS doc_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                 ORDER BY ROUND({_DUCK_COS}, 6) DESC, b.vec_id) AS drk
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < {N_PROBES}
      ) t WHERE drk <= {_PRK_REL_K}
    ),
    ks AS (SELECT UNNEST([{", ".join(str(k) for k in _PRK_KS)}]) AS k),
    hits AS (
      SELECT l.query_id, k.k, CAST(COUNT(r.doc_id) AS BIGINT) AS n_hits
      FROM ks k
      JOIN lex l ON l.rk <= k.k
      JOIN rel r ON r.query_id = l.query_id AND r.doc_id = l.doc_id
      GROUP BY l.query_id, k.k
    ),
    per_q AS (
      SELECT q.query_id, k.k,
             CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
             ROUND(COALESCE(h.n_hits, 0) * 1.0 / k.k, 6) AS p_at_k,
             ROUND(COALESCE(h.n_hits, 0) * 1.0 / {_PRK_REL_K}, 6) AS r_at_k,
             ROUND(COALESCE(h.n_hits, 0) * 2.0
                   / (k.k + {_PRK_REL_K}), 6) AS f1_at_k
      FROM (SELECT doc_id AS query_id FROM documents
            WHERE doc_id < {N_PROBES}) q
      CROSS JOIN ks k
      LEFT JOIN hits h ON h.query_id = q.query_id AND h.k = k.k
    ),
    macro AS (
      SELECT k,
             CAST(CAST(SUM(CAST(p_at_k AS DECIMAL(8,6))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*) AS mp,
             CAST(CAST(SUM(CAST(r_at_k AS DECIMAL(8,6))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*) AS mr
      FROM per_q GROUP BY k
    )
    SELECT p.query_id, p.k, p.n_hits, p.p_at_k, p.r_at_k, p.f1_at_k,
           ROUND(m.mp, 6) AS macro_p, ROUND(m.mr, 6) AS macro_r
    FROM per_q p JOIN macro m ON m.k = p.k
    ORDER BY p.k, p.query_id
    """,
)
def llm_precision_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 at k for the BM25 ranking against the
    dense-relevant set [public metrics: P@k = |rel intersect top-k|/k,
    R@k = .../|rel|, and the set-size-fixed F1 = 2 hits/(k+|rel|) —
    the set-based members completing the retrieval eval deck beside
    llm_mrr (first hit), llm_ndcg_eval (graded order), llm_rank_rbo
    (rank similarity)]: relevance is cross-modal like NDCG's (dense
    top-{_PRK_REL_K} per probe), the hit census is an INTEGER join of
    the lexical top-k against that set, so every per-query metric is
    an exact-integer ratio; macro means accumulate 6dp-rounded
    per-query values as exact DECIMAL(8,6) surfaced via the
    decimal->string->double parity cast (SCALE.md 9ac) and ride along
    each row (the llm_mrr pattern).

    At 100 TB: the lexical leg is the shared postings equi-join
    (never queries x docs), the dense leg the broadcast probe panel;
    the census joins |Q| x k rows against |Q| x {_PRK_REL_K} — both
    metadata-sized. A labeled qrels table swaps the rel CTE for the
    label join, unchanged shape."""
    from pyspark.sql import Window

    lex_scored = _bm25_lex_scores(spark, sf_dir, _PRK_QTOKENS)
    w_lex = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), "doc_id"
    )
    lex = lex_scored.select(
        "query_id", "doc_id", F.row_number().over(w_lex).alias("rk")
    ).filter(F.col("rk") <= max(_PRK_KS))
    e = _with_norm(load_table(spark, sf_dir, "embeddings"))
    w_d = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), "doc_id"
    )
    rel = (
        _probe_cosines(e, N_PROBES, "query_id", "doc_id")
        .select("query_id", "doc_id", F.row_number().over(w_d).alias("drk"))
        .filter(F.col("drk") <= _PRK_REL_K)
        .select("query_id", "doc_id")
    )
    ks = reduce(
        DataFrame.unionByName,
        [
            lex.select("query_id", "doc_id", "rk", F.lit(k).alias("k")).filter(F.col("rk") <= k)
            for k in _PRK_KS
        ],
    )
    hits = (
        ks.join(rel, ["query_id", "doc_id"])
        .groupBy("query_id", "k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    panel = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < N_PROBES)
        .select(F.col("doc_id").alias("query_id"))
    )
    kdim = reduce(
        DataFrame.unionByName, [panel.select("query_id", F.lit(k).alias("k")) for k in _PRK_KS]
    )
    nh = F.coalesce(F.col("n_hits"), F.lit(0))
    per_q = kdim.join(F.broadcast(hits), ["query_id", "k"], "left").select(
        "query_id",
        "k",
        nh.cast("long").alias("n_hits"),
        F.round(nh * 1.0 / F.col("k"), 6).alias("p_at_k"),
        F.round(nh * 1.0 / _PRK_REL_K, 6).alias("r_at_k"),
        F.round(nh * 2.0 / (F.col("k") + _PRK_REL_K), 6).alias("f1_at_k"),
    ).transform(materialize)
    macro = per_q.groupBy("k").agg(
        (
            F.sum(F.col("p_at_k").cast("decimal(8,6)"))
            .cast("string")
            .cast("double")
            / F.count(F.lit(1))
        ).alias("mp"),
        (
            F.sum(F.col("r_at_k").cast("decimal(8,6)"))
            .cast("string")
            .cast("double")
            / F.count(F.lit(1))
        ).alias("mr"),
    )
    return (
        per_q.join(F.broadcast(macro), "k")
        .select(
            "query_id",
            "k",
            "n_hits",
            "p_at_k",
            "r_at_k",
            "f1_at_k",
            F.round("mp", 6).alias("macro_p"),
            F.round("mr", 6).alias("macro_r"),
        )
        .orderBy("k", "query_id")
    )
