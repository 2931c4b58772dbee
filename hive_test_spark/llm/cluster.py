"""SURVEY.md §2.L — distributed clustering over the embedding corpus.

``llm_kmeans_lloyd`` is the iterative-algorithm exhibit for the embedding
side of the pipeline: Lloyd's k-means expressed entirely as DataFrame ops
(broadcast centroid table, JVM higher-order-function distances, map-side-
combinable mean recompute). Clustering is the backbone of several scale
ops that already exist here — llm_semdedup routes through nearest
centroids, llm_ann_ivf probes coarse cells — and this operator is the
distributed trainer that PRODUCES those centroid tables.

Scale notes (100 TB): each Lloyd iteration is (a) one broadcast of the
k×dim centroid table (tiny — k≤65k × 64 doubles ≈ 32 MB, always
broadcastable), (b) one narrow pass computing argmin distance per vector
(no shuffle — the cross join is against a broadcast relation), and
(c) one map-side-combinable per-(cluster,pos) mean — the only shuffle,
keyed on k×dim rows. Nothing is ever collected to the driver; the
iteration count is FIXED so lineage stays shallow (convergence-driven
loops would materialize the assignment every few rounds). Distances
are pure JVM ``aggregate(zip_with(...))`` — no Python workers anywhere.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_test_spark.io import load_table, materialize
from hive_test_spark.registry import register

KMEANS_K = 8

# Squared euclidean distance between two double arrays, JVM-side.
_SQDIST = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"
)

# One DuckDB centroid-table build: per-(cluster, position) mean, re-listed
# in position order. {src} supplies (cluster, emb double-list) rows.
_DUCK_CENTROIDS = """
  SELECT cluster, list(comp_avg ORDER BY pos) AS centroid FROM (
    SELECT cluster, pos, AVG(comp) AS comp_avg FROM (
      SELECT cluster, generate_subscripts(emb, 1) AS pos, unnest(emb) AS comp
      FROM {src}
    ) x GROUP BY cluster, pos
  ) p GROUP BY cluster
"""

# One DuckDB assignment step: nearest centroid by rounded squared
# euclidean distance, ties to the lower cluster id.
_DUCK_ASSIGN = """
  SELECT vec_id, emb, cluster FROM (
    SELECT e.vec_id, e.emb, c.cluster,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY ROUND(list_sum(list_transform(
                        generate_series(1, len(c.centroid)),
                        i -> (e.emb[i] - c.centroid[i]) ^ 2)), 6),
                      c.cluster) AS rn
    FROM e CROSS JOIN {cents} c
  ) t WHERE rn = 1
"""

# The shared Lloyd train chain (seeded init -> update -> assign ->
# update), in BOTH renderings: one oracle CTE prefix (to c1, with an
# a2 variant for consumers of the final assignment) and one Spark
# builder — the _pq_train_encode pattern applied to the flat trainer,
# so an iteration/init/rounding change cannot drift llm_cluster_purity
# or llm_active_margin from the llm_kmeans_lloyd quantizer they grade.
_LLOYD_CTES = f"""e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    seeded AS (SELECT vec_id % {KMEANS_K} AS cluster, emb FROM e),
    c0 AS ({_DUCK_CENTROIDS.format(src="seeded")}),
    a1 AS ({_DUCK_ASSIGN.format(cents="c0")}),
    c1 AS ({_DUCK_CENTROIDS.format(src="a1")})"""

_LLOYD_CTES_A2 = f"""{_LLOYD_CTES},
    a2 AS ({_DUCK_ASSIGN.format(cents="c1")})"""

_KMEANS_ORACLE = f"""
    WITH {_LLOYD_CTES_A2},
    sizes AS (SELECT cluster, COUNT(*) AS cluster_n FROM a2 GROUP BY cluster)
    SELECT a2.vec_id, a2.cluster, sizes.cluster_n
    FROM a2 JOIN sizes USING (cluster)
"""


def _centroids(assigned: DataFrame) -> DataFrame:
    """Per-cluster, per-position mean → centroid arrays (position order
    restored via array_sort on (pos, value) structs — collect_list order
    is nondeterministic under parallel aggregation)."""
    per_pos = (
        assigned.select("cluster", F.posexplode("emb").alias("pos", "comp"))
        .groupBy("cluster", "pos")
        .agg(F.avg("comp").alias("comp_avg"))
    )
    return (
        per_pos.groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "comp_avg"))).alias("pc"))
        .select("cluster", F.expr("transform(pc, x -> x.comp_avg)").alias("centroid"))
    )


def _assign(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment. Distances are rounded to 6 decimals
    BEFORE the argmin so Spark's and DuckDB's last-ulp mean-summation
    differences can never flip an assignment; genuine ties break to the
    lower cluster id in both engines."""
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "emb",
        "cluster",
        F.round(F.expr(_SQDIST.format(a="emb", b="centroid")), 6).alias("d"),
    )
    w = Window.partitionBy("vec_id").orderBy("d", "cluster")
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("vec_id", "emb", "cluster")
    )


def _lloyd_chain(spark: SparkSession, sf_dir: str):
    """Spark twin of _LLOYD_CTES: seeded init -> update -> assign ->
    update. Returns (e, c1); call _assign(e, c1) for the final
    assignment (_LLOYD_CTES_A2)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb")
    )
    c0 = _centroids(e.select((F.col("vec_id") % KMEANS_K).alias("cluster"), "emb"))
    a1 = _assign(e, c0)
    return e, _centroids(a1)


@register("llm_kmeans_lloyd", _KMEANS_ORACLE)
def llm_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, deterministic hash-sharded init, two
    assignment rounds with one centroid update between) over the
    embedding corpus; output is the final integer assignment
    (vec_id, cluster, cluster_n) — exactly the coarse-quantizer table
    llm_ann_ivf / llm_semdedup consume.

    Init is ``vec_id % k`` shard means: fully deterministic and
    distributed (k-means|| sampling would add driver round-trips; at
    100 TB a hash-sharded init converges the same and costs one pass).
    The oracle unrolls the identical seeded-init → assign → update →
    assign pipeline as chained CTEs, so the comparison covers the full
    Lloyd arithmetic — init means, both argmin rounds, and the
    intermediate centroid update — not just the final regrouping."""
    e, c1 = _lloyd_chain(spark, sf_dir)
    a2 = _assign(e, c1)
    sizes = a2.groupBy("cluster").agg(F.count(F.lit(1)).alias("cluster_n"))
    return a2.join(sizes, "cluster").select("vec_id", "cluster", "cluster_n")


# Product quantization geometry: M subspaces × SUB dims (M·SUB = 64, the
# fixture embedding width), K_PQ codewords per subspace codebook — a
# 32-bit code per vector (8 × log2(16) bits).
PQ_M = 8
PQ_SUB = 8
PQ_K = 16


def _pq_centroids(assigned: DataFrame) -> DataFrame:
    """Per-(subspace, cluster, position) mean → sub-centroid arrays; the
    subspace-keyed variant of _centroids."""
    per_pos = (
        assigned.select("m", "cluster", F.posexplode("sub").alias("pos", "comp"))
        .groupBy("m", "cluster", "pos")
        .agg(F.avg("comp").alias("comp_avg"))
    )
    return (
        per_pos.groupBy("m", "cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "comp_avg"))).alias("pc"))
        .select("m", "cluster", F.expr("transform(pc, x -> x.comp_avg)").alias("centroid"))
    )


def _pq_assign(subs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest sub-centroid per (vector, subspace): the codebook join is
    EQUI on the subspace id (each subvector only scores against its own
    K_PQ codewords — never the full M·K table), distances rounded to 6dp
    before the argmin, ties to the lower code (both engines)."""
    scored = subs.join(F.broadcast(cents), "m").select(
        "vec_id",
        "m",
        "sub",
        "cluster",
        F.round(F.expr(_SQDIST.format(a="sub", b="centroid")), 6).alias("d"),
    )
    w = Window.partitionBy("vec_id", "m").orderBy("d", "cluster")
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "sub", "cluster", "d")
    )


# DuckDB twins of the subspace-keyed centroid build / assign steps.
_DUCK_PQ_CENTROIDS = """
  SELECT m, cluster, list(comp_avg ORDER BY pos) AS centroid FROM (
    SELECT m, cluster, pos, AVG(comp) AS comp_avg FROM (
      SELECT m, cluster, generate_subscripts(sub, 1) AS pos, unnest(sub) AS comp
      FROM {src}
    ) x GROUP BY m, cluster, pos
  ) p GROUP BY m, cluster
"""

_DUCK_PQ_ASSIGN = """
  SELECT vec_id, m, sub, cluster, d FROM (
    SELECT s.vec_id, s.m, s.sub, c.cluster,
           ROUND(list_sum(list_transform(
                    generate_series(1, len(c.centroid)),
                    i -> (s.sub[i] - c.centroid[i]) ^ 2)), 6) AS d,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY ROUND(list_sum(list_transform(
                        generate_series(1, len(c.centroid)),
                        i -> (s.sub[i] - c.centroid[i]) ^ 2)), 6),
                      c.cluster) AS rn
    FROM subs s JOIN {cents} c ON c.m = s.m
  ) t WHERE rn = 1
"""

# The shared train/encode CTE chain: e → subs → seeded → c0 → a1 → c1 → a2.
_PQ_CHAIN_CTES = f"""e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    subs AS (
      SELECT vec_id, m.m,
             emb[m.m * {PQ_SUB} + 1 : (m.m + 1) * {PQ_SUB}] AS sub
      FROM e CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) m
    ),
    seeded AS (SELECT m, vec_id % {PQ_K} AS cluster, sub FROM subs),
    c0 AS ({_DUCK_PQ_CENTROIDS.format(src="seeded")}),
    a1 AS ({_DUCK_PQ_ASSIGN.format(cents="c0")}),
    c1 AS ({_DUCK_PQ_CENTROIDS.format(src="a1")}),
    a2 AS ({_DUCK_PQ_ASSIGN.format(cents="c1")})"""

_PQ_CODE_PIVOT = ",\n           ".join(
    f"MAX(CASE WHEN m = {m} THEN cluster END) AS code{m}" for m in range(PQ_M)
)

_PQ_ORACLE = f"""
    WITH {_PQ_CHAIN_CTES}
    SELECT vec_id,
           {_PQ_CODE_PIVOT},
           ROUND(SUM(d), 6) AS qerr
    FROM a2
    GROUP BY vec_id
"""


@register("llm_ann_pq", _PQ_ORACLE)
def llm_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization trainer + encoder [public method: Jégou et
    al. 2011's PQ — the compression layer of every large ANN index
    (FAISS IVF-PQ): split each vector into M=8 subspaces, learn a
    tiny k-means codebook per subspace, store each vector as M small
    codes]. The trainer runs the llm_kmeans_lloyd recipe per subspace
    (deterministic vec_id%k init, two Lloyd rounds) on the SUBVECTORS;
    the encoder emits the per-subspace code plus the total quantization
    error Σ‖sub − centroid‖², the fidelity number a PQ deployment
    monitors. 64 dims × 8 bytes compress to 8 codes — the reason
    a 100 TB embedding corpus fits an in-memory ANN index at all.

    At 100 TB: subvector explode is narrow (M× rows, each 1/M width);
    every codebook join is EQUI on the subspace id against a broadcast
    M·K×(dim/M) table (k=65k codebooks ≈ 32 MB — always
    broadcastable); centroid updates are map-side-combinable on
    (m, cluster, pos); the argmin window partitions on (vec_id, m)
    with exactly K rows per partition. The oracle unrolls the whole
    per-subspace train/encode pipeline as chained CTEs — init means,
    both argmin rounds, the centroid update, and the final code
    pivot."""
    subs = _pq_subvectors(spark, sf_dir)
    _, a2 = _pq_train_encode(subs)
    # Encode: pivot the M codes wide + total quantization error.
    code_cols = [
        F.max(F.when(F.col("m") == m, F.col("cluster"))).alias(f"code{m}")
        for m in range(PQ_M)
    ]
    return a2.groupBy("vec_id").agg(
        *code_cols, F.round(F.sum("d"), 6).alias("qerr")
    )


def _pq_subvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, sub): the M-way subvector explode — narrow, each row
    1/M of the original width."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
    )
    m_ids = F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m")
    return e.select("vec_id", m_ids, "emb").select(
        "vec_id",
        "m",
        F.expr(f"slice(emb, m * {PQ_SUB} + 1, {PQ_SUB})").alias("sub"),
    )


def _pq_train_encode(subs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The PQ trainer: seeded init → update → assign → update → assign,
    per subspace. Returns (final codebook c1, final assignment a2)."""
    c0 = _pq_centroids(
        subs.select("m", (F.col("vec_id") % PQ_K).alias("cluster"), "sub")
    )
    a1 = _pq_assign(subs, c0)
    c1 = _pq_centroids(a1)
    a2 = _pq_assign(subs, c1)
    return c1, a2


# ADC recall gate: bounded probe panel (every 50th vector), exact-truth
# depth, and the ADC shortlist depth the deployment would rerank exactly.
PQ_PROBE_MOD = 50
PQ_RECALL_K = 10
PQ_ADC_SHORTLIST = 50

_PQ_RECALL_ORACLE = f"""
    WITH {_PQ_CHAIN_CTES},
    probes AS (SELECT vec_id AS probe_id, emb FROM e
               WHERE vec_id % {PQ_PROBE_MOD} = 0),
    exact AS (
      SELECT probe_id, neighbor_id FROM (
        SELECT p.probe_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY p.probe_id
                 ORDER BY ROUND(list_sum(list_transform(
                            generate_series(1, len(c.emb)),
                            i -> (p.emb[i] - c.emb[i]) ^ 2)), 6),
                          c.vec_id) AS rn
        FROM probes p JOIN e c ON c.vec_id <> p.probe_id
      ) t WHERE rn <= {PQ_RECALL_K}
    ),
    psubs AS (
      SELECT s.vec_id AS probe_id, s.m, s.sub FROM subs s
      WHERE s.vec_id % {PQ_PROBE_MOD} = 0
    ),
    partials AS (
      SELECT p.probe_id, c.m, c.cluster,
             ROUND(list_sum(list_transform(
                      generate_series(1, len(c.centroid)),
                      i -> (p.sub[i] - c.centroid[i]) ^ 2)), 6) AS pd
      FROM psubs p JOIN c1 c ON c.m = p.m
    ),
    adc AS (
      SELECT probe_id, neighbor_id FROM (
        SELECT pt.probe_id, a.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY pt.probe_id
                 ORDER BY ROUND(SUM(pt.pd), 6), a.vec_id) AS rn
        FROM a2 a
        JOIN partials pt ON pt.m = a.m AND pt.cluster = a.cluster
        WHERE a.vec_id <> pt.probe_id
        GROUP BY pt.probe_id, a.vec_id
      ) t WHERE rn <= {PQ_ADC_SHORTLIST}
    )
    SELECT x.probe_id,
           COUNT(*) AS n_exact,
           COUNT(d.neighbor_id) AS n_found,
           ROUND(COUNT(d.neighbor_id) * 1.0 / COUNT(*), 6) AS recall_at_k
    FROM exact x LEFT JOIN adc d
      ON d.probe_id = x.probe_id AND d.neighbor_id = x.neighbor_id
    GROUP BY x.probe_id
"""


@register("llm_ann_pq_recall", _PQ_RECALL_ORACLE)
def llm_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC shortlist-recall acceptance gate for the PQ index
    [public method: FAISS-style asymmetric distance computation — the
    probe stays EXACT, the corpus is its codes; distance = Σ_m
    lookup(probe, m, code_m) from an M×K partial-distance table
    computed once per probe]. Deployments do not serve ADC ranks
    directly: they take an ADC SHORTLIST (top-{PQ_ADC_SHORTLIST}
    here) and rerank it exactly, so the gated number is how much of
    the true top-{PQ_RECALL_K} the shortlist captures — pure
    quantization loss, the number that chooses M and K (fixture
    measurement drove this op's geometry from 4×16d codes, 8% direct
    recall, to 8×8d, 62% shortlist recall). Completes the
    acceptance-gate triad: llm_ann_recall gates LSH,
    llm_ann_ivf_recall gates IVF, this gates PQ.

    At 100 TB: the partial-distance table is |probes|·M·K rows
    (bounded — probes are an eval panel) and broadcasts over the CODE
    table (M rows per corpus vector, integers — the whole point: ADC
    scans codes, never raw vectors); the Σ_m is a map-side-combinable
    groupBy on (probe, vec). The exact leg is the usual bounded-probe
    × corpus pass that every recall gate pays for ground truth. Both
    legs rank on 6dp-rounded distances with vec_id tie-breaks, so both
    engines pick identical top-k sets."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
    )
    probes = e.filter(F.col("vec_id") % PQ_PROBE_MOD == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("emb").alias("p_emb")
    )
    corpus = e.select(F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb"))
    w_exact = Window.partitionBy("probe_id").orderBy("d", "c_id")
    exact = (
        F.broadcast(probes)
        .join(corpus, F.col("c_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "c_id",
            F.round(F.expr(_SQDIST.format(a="p_emb", b="c_emb")), 6).alias("d"),
        )
        .select("*", F.row_number().over(w_exact).alias("rn"))
        .filter(F.col("rn") <= PQ_RECALL_K)
        .select("probe_id", F.col("c_id").alias("neighbor_id"))
    )
    subs = _pq_subvectors(spark, sf_dir)
    c1, a2 = _pq_train_encode(subs)
    psubs = subs.filter(F.col("vec_id") % PQ_PROBE_MOD == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("m").alias("pm"), "sub"
    )
    partials = psubs.join(F.broadcast(c1), F.col("pm") == F.col("m")).select(
        "probe_id",
        "m",
        "cluster",
        F.round(F.expr(_SQDIST.format(a="sub", b="centroid")), 6).alias("pd"),
    )
    codes = a2.select(F.col("vec_id").alias("c_id"), "m", "cluster")
    w_adc = Window.partitionBy("probe_id").orderBy("adc_d", "c_id")
    adc = (
        codes.join(F.broadcast(partials), ["m", "cluster"])
        .filter(F.col("c_id") != F.col("probe_id"))
        .groupBy("probe_id", "c_id")
        .agg(F.round(F.sum("pd"), 6).alias("adc_d"))
        .select("*", F.row_number().over(w_adc).alias("rn"))
        .filter(F.col("rn") <= PQ_ADC_SHORTLIST)
        .select("probe_id", F.col("c_id").alias("neighbor_id"))
    )
    found = adc.select(
        F.col("probe_id").alias("a_probe"), F.col("neighbor_id").alias("a_nb")
    )
    return (
        exact.join(
            found,
            (F.col("probe_id") == F.col("a_probe"))
            & (F.col("neighbor_id") == F.col("a_nb")),
            "left",
        )
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("a_nb").alias("n_found"),
            F.round(F.count("a_nb") / F.count(F.lit(1)), 6).alias("recall_at_k"),
        )
    )


_PURITY_ORACLE = f"""
    WITH {_LLOYD_CTES_A2},
    joined AS (
      SELECT a2.vec_id, a2.cluster, emb_t.label
      FROM a2 JOIN embeddings emb_t ON emb_t.vec_id = a2.vec_id
    ),
    cell AS (
      SELECT cluster, label, COUNT(*) AS n
      FROM joined GROUP BY cluster, label
    ),
    top AS (
      SELECT cluster, label AS majority_label, n AS n_majority, n_total
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster
                                         ORDER BY n DESC, label) AS rn,
                   SUM(n) OVER (PARTITION BY cluster) AS n_total
            FROM cell) t
      WHERE rn = 1
    )
    SELECT cluster, CAST(majority_label AS INT) AS majority_label,
           CAST(n_majority AS BIGINT) AS n_majority,
           CAST(n_total AS BIGINT) AS n_total,
           ROUND(CAST(n_majority AS DOUBLE) / n_total, 6) AS purity
    FROM top
    ORDER BY cluster
"""


@register("llm_cluster_purity", _PURITY_ORACLE)
def llm_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-purity evaluation of the k-means assignment against the
    fixture's ground-truth labels [public method: purity — each
    cluster's majority-label share, the first clustering-quality
    number reported beside NMI/ARI]: re-runs the llm_kmeans_lloyd
    train pipeline, joins assignments back to labels, and reports per
    cluster its majority label, member counts, and purity. Low purity
    on a cluster = the quantizer is splitting or merging semantic
    groups — the QA signal that gates llm_semdedup / llm_ann_ivf,
    which both trust these cells.

    At 100 TB: the label join keys on vec_id (co-partitioned with the
    assignment's own keying); the cell matrix is k×|labels| — tiny —
    and the majority pick is a window over that matrix. Everything
    upstream is the proven Lloyd shape."""
    e, c1 = _lloyd_chain(spark, sf_dir)
    a2 = _assign(e, c1)
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    cell = (
        a2.join(labels, "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_pick = Window.partitionBy("cluster").orderBy(F.col("n").desc(), "label")
    w_tot = Window.partitionBy("cluster")
    top = (
        cell.select(
            "cluster",
            "label",
            "n",
            F.row_number().over(w_pick).alias("rn"),
            F.sum("n").over(w_tot).alias("n_total"),
        )
        .filter(F.col("rn") == 1)
    )
    return top.select(
        "cluster",
        F.col("label").cast("int").alias("majority_label"),
        F.col("n").alias("n_majority"),
        "n_total",
        F.round(F.col("n").cast("double") / F.col("n_total"), 6).alias("purity"),
    ).orderBy("cluster")


# Active-learning margin sampling: labeling-panel depth.
_MARGIN_TOPK = 25

_MARGIN_ORACLE = f"""
    WITH {_LLOYD_CTES},
    scored AS (
      SELECT e.vec_id, c.cluster,
             ROUND(list_sum(list_transform(
                      generate_series(1, len(c.centroid)),
                      i -> (e.emb[i] - c.centroid[i]) ^ 2)), 6) AS d,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY ROUND(list_sum(list_transform(
                          generate_series(1, len(c.centroid)),
                          i -> (e.emb[i] - c.centroid[i]) ^ 2)), 6),
                        c.cluster) AS rn
      FROM e CROSS JOIN c1 c
    ),
    pivoted AS (
      SELECT vec_id,
             MAX(CASE WHEN rn = 1 THEN cluster END) AS nearest_cluster,
             MAX(CASE WHEN rn = 1 THEN d END) AS d1,
             MAX(CASE WHEN rn = 2 THEN d END) AS d2
      FROM scored WHERE rn <= 2 GROUP BY vec_id
    )
    SELECT vec_id, CAST(nearest_cluster AS INT) AS nearest_cluster,
           d1, d2, ROUND(d2 - d1, 6) AS margin
    FROM pivoted
    ORDER BY margin, vec_id
    LIMIT {_MARGIN_TOPK}
"""


@register("llm_active_margin", _MARGIN_ORACLE)
def llm_active_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based uncertainty sampling [public method: active
    learning's margin criterion — the items nearest a decision
    boundary are the most informative to label next; here the
    boundary is between the two closest Lloyd centroids, so margin =
    d₂ − d₁]. The bottom-{_MARGIN_TOPK} margin panel is exactly the
    batch a labeling (or LLM-judging) budget should spend itself on,
    and the complement of llm_hard_negative_mining's pair view: that
    op feeds contrastive training, this one feeds annotation routing.

    At 100 TB: distances come from the broadcast k×dim centroid
    table (the Lloyd invariant — never a vector×vector product); the
    two-nearest pivot is a per-vector window over K rows; the global
    bottom-k compiles to TakeOrderedAndProject. Centroid training
    reuses the first Lloyd round (one update), sharing its cost with
    the kmeans/purity exhibits."""
    e, c1 = _lloyd_chain(spark, sf_dir)
    scored = e.crossJoin(F.broadcast(c1)).select(
        "vec_id",
        "cluster",
        F.round(F.expr(_SQDIST.format(a="emb", b="centroid")), 6).alias("d"),
    )
    w = Window.partitionBy("vec_id").orderBy("d", "cluster")
    pivoted = (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 2)
        .groupBy("vec_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("cluster"))).alias(
                "nearest_cluster"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("d"))).alias("d1"),
            F.max(F.when(F.col("rn") == 2, F.col("d"))).alias("d2"),
        )
    )
    return (
        pivoted.select(
            "vec_id",
            F.col("nearest_cluster").cast("int").alias("nearest_cluster"),
            "d1",
            "d2",
            F.round(F.col("d2") - F.col("d1"), 6).alias("margin"),
        )
        .orderBy("margin", "vec_id")
        .limit(_MARGIN_TOPK)
    )


# Greedy k-center (farthest-point) coreset size.
KCENTER_K = 8

_DUCK_PDIST = (
    "ROUND(list_sum(list_transform(generate_series(1, len({p}.emb)), "
    "i -> ({p}.emb[i] - {c}.emb[i]) ^ 2)), 6)"
)


def _kcenter_oracle() -> str:
    parts = [
        """e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    sel1 AS (SELECT vec_id, emb FROM e
             WHERE vec_id = (SELECT MIN(vec_id) FROM e)),
    d1 AS (SELECT e.vec_id, e.emb, """
        + _DUCK_PDIST.format(p="e", c="s")
        + """ AS d
           FROM e CROSS JOIN sel1 s)"""
    ]
    for t in range(2, KCENTER_K + 1):
        prev = t - 1
        parts.append(
            f"""sel{t} AS (SELECT vec_id, emb, d FROM d{prev}
             ORDER BY d DESC, vec_id LIMIT 1),
    d{t} AS (SELECT p.vec_id, p.emb,
                    LEAST(p.d, {_DUCK_PDIST.format(p='p', c='s')}) AS d
             FROM d{prev} p CROSS JOIN sel{t} s)"""
        )
    rows = ["SELECT 1 AS step, vec_id AS center_id, 0.0 AS radius FROM sel1"]
    rows += [
        f"SELECT {t}, vec_id, d FROM sel{t}" for t in range(2, KCENTER_K + 1)
    ]
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    "
        + "\n    UNION ALL ".join(rows)
        + "\n    ORDER BY step"
    )


@register("llm_coreset_kcenter", _kcenter_oracle())
def llm_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection [public method: farthest-point
    sampling / the Gonzalez 2-approximation — pick the point farthest
    from everything chosen so far; the selection whose radius bounds
    how well k exemplars cover the corpus. Data-selection pipelines
    use it to build maximally-diverse eval panels and seed sets —
    the diversity-first complement of llm_active_margin's
    uncertainty-first panel]. Selection order is deterministic: seed =
    min vec_id, ties on the rounded distance break to the lower id,
    and each step's reported radius is the max-min distance at
    selection time — a non-increasing sequence by construction.

    At 100 TB: each of the K−1 steps is one narrow pass (distance to
    the single broadcast new center + LEAST with the running min) and
    one TakeOrderedAndProject argmax — never a pairwise product; the
    running min-distance frame is materialize-truncated per step
    (the llm_mmr_diversify lineage rule: each step references the
    previous frame twice). K is a constant, so the whole selection is
    K linear passes."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
    )
    seed = e.orderBy("vec_id").limit(1)
    sel = seed.select(
        F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb")
    ).transform(materialize)
    d = (
        e.crossJoin(sel)
        .select(
            "vec_id",
            "emb",
            F.round(F.expr(_SQDIST.format(a="emb", b="c_emb")), 6).alias("d"),
        )
        .transform(materialize)
    )
    picks = [(1, sel.select(F.col("c_id").alias("center_id"),
                            F.lit(0.0).alias("radius")))]
    for step in range(2, KCENTER_K + 1):
        top = (
            d.orderBy(F.col("d").desc(), "vec_id")
            .limit(1)
            .transform(materialize)
        )
        picks.append(
            (
                step,
                top.select(
                    F.col("vec_id").alias("center_id"),
                    F.col("d").alias("radius"),
                ),
            )
        )
        new_c = top.select(
            F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb")
        )
        d = (
            d.crossJoin(new_c)
            .select(
                "vec_id",
                "emb",
                F.least(
                    F.col("d"),
                    F.round(F.expr(_SQDIST.format(a="emb", b="c_emb")), 6),
                ).alias("d"),
            )
            .transform(materialize)
        )
    rows = [frame.select(F.lit(step).alias("step"), "center_id", "radius") for step, frame in picks]
    return reduce(DataFrame.unionByName, rows).orderBy("step")


# Power iteration: fixed deterministic init (uniform unit vector), a
# fixed iteration count, and per-iteration 6dp rounding of the
# normalized iterate so both engines feed IDENTICAL vectors into the
# next round (the _assign round-before-argmin rule, applied to state).
_PCA_ITERS = 4
_PCA_DIM = 64
_PCA_V0 = 0.125  # 1/sqrt(64): uniform unit start vector

_PCA_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
)


def _pca_oracle() -> str:
    ctes = [
        "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
        " AS emb FROM embeddings)",
        f"v0 AS (SELECT list_transform(generate_series(1, {_PCA_DIM}),"
        f" i -> {_PCA_V0}) AS v)",
        f"pos AS (SELECT unnest(generate_series(1, {_PCA_DIM})) AS pos)",
    ]
    for k in range(1, _PCA_ITERS + 1):
        ctes.append(
            f"av{k} AS (SELECT e.vec_id, e.emb,"
            f" list_dot_product(e.emb, (SELECT v FROM v{k - 1})) AS av FROM e)"
        )
        ctes.append(
            f"t{k} AS (SELECT p.pos, SUM(a.emb[p.pos] * a.av) AS t"
            f" FROM av{k} a CROSS JOIN pos p GROUP BY p.pos)"
        )
        ctes.append(f"n{k} AS (SELECT sqrt(SUM(t * t)) AS nrm FROM t{k})")
        ctes.append(
            f"v{k} AS (SELECT list(ROUND(t.t / n.nrm, 6) ORDER BY t.pos) AS v"
            f" FROM t{k} t CROSS JOIN n{k} n)"
        )
    last = _PCA_ITERS
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined},
    fro AS (SELECT SUM(list_dot_product(emb, emb)) AS fro FROM e)
    SELECT p.pos,
           ROUND((SELECT v FROM v{last})[p.pos], 6) AS component,
           ROUND((SELECT nrm FROM n{last}), 4) AS eigval,
           ROUND((SELECT nrm FROM n{last}) / (SELECT fro FROM fro), 6)
             AS explained_ratio
    FROM pos p
    ORDER BY p.pos
    """


@register("llm_pca_power_iter", _pca_oracle())
def llm_pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by distributed
    power iteration on the (uncentered) Gram operator [public method:
    the classic power method; v <- normalize((A^T A) v), the route
    PySpark's own RowMatrix/ARPACK paths and every streaming-PCA
    system take when the corpus can't be materialized as a matrix].
    Per iteration the corpus is scanned ONCE, fused into two
    map-side-combinable shapes: the scalar score per row, av =
    <emb, v>, against the broadcast 1-row iterate flows straight
    into the dimension-keyed aggregate t[pos] = SUM(emb[pos] * av) —
    64 groups — followed by tiny norm + rebuild frames (the
    _centroids collect-struct idiom; nothing ever leaves the
    cluster). The
    iterate is ROUNDED to 6dp each round, so Spark and DuckDB (whose
    oracle unrolls the same fixed iterations as chained CTEs) track
    bit-identical state; eigval is the operator norm ||A^T A v||
    (top singular value squared), explained_ratio its share of the
    Frobenius mass SUM||x||^2 — the deflation-ready PCA acceptance
    number (dominant-direction share, the llm_embed_standardize /
    whitening precursor).

    At 100 TB: per iteration one broadcast of a 64-double vector and
    one 64-group shuffle — depth-constant cost; the corpus never
    shuffles. Fixed iteration count keeps lineage shallow (the
    graph_pagerank rule); a convergence-driven variant would
    materialize every ~10 rounds like llm_dedup_clusters."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
    )
    v = spark.range(1).select(
        F.expr(
            f"transform(sequence(1, {_PCA_DIM}), i -> CAST({_PCA_V0} AS DOUBLE))"
        ).alias("v")
    )
    nrm = None
    for _ in range(_PCA_ITERS):
        av = e.crossJoin(v).select(
            "emb", F.expr(_PCA_DOT.format(a="emb", b="v")).alias("av")
        )
        t = (
            av.select(F.posexplode("emb").alias("pos0", "x"), "av")
            .groupBy((F.col("pos0") + 1).alias("pos"))
            .agg(F.sum(F.col("x") * F.col("av")).alias("t"))
        )
        nrm = t.agg(F.sqrt(F.sum(F.col("t") * F.col("t"))).alias("nrm"))
        v = (
            t.crossJoin(nrm)
            .select("pos", F.round(F.col("t") / F.col("nrm"), 6).alias("c"))
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc")
            )
            .select(F.expr("transform(pc, x -> x.c)").alias("v"))
        )
    fro = e.agg(
        F.sum(F.expr(_PCA_DOT.format(a="emb", b="emb"))).alias("fro")
    )
    final = (
        spark.range(1, _PCA_DIM + 1)
        .select(F.col("id").cast("int").alias("pos"))
        .crossJoin(F.broadcast(v))
        .crossJoin(nrm)
        .crossJoin(fro)
    )
    return final.select(
        "pos",
        F.round(F.expr("element_at(v, pos)"), 6).alias("component"),
        F.round("nrm", 4).alias("eigval"),
        F.round(F.col("nrm") / F.col("fro"), 6).alias("explained_ratio"),
    ).orderBy("pos")


# IVF+PQ compound index: coarse-quantize probes to their nprobe nearest
# label cells, then rank ONLY those cells' vectors by PQ asymmetric
# distance — the FAISS IVFADC composition of llm_ann_ivf (routing) and
# llm_ann_pq (compression).
IVFPQ_NPROBE = 2
IVFPQ_K = 10


def _ivfpq_ctes() -> str:
    """The shared IVFADC oracle prefix (through the ``adc`` distance
    table) — consumed by both llm_ann_ivfpq (shortlist) and
    llm_ann_ivfpq_recall (acceptance gate), so the routing + ADC
    arithmetic cannot drift between the index and its gate."""
    from hive_test_spark.llm.similarity import _DUCK_LABEL_CENTROIDS, N_PROBES

    return f"""{_PQ_CHAIN_CTES},
    {_DUCK_LABEL_CENTROIDS},
    probes AS (SELECT vec_id AS probe_id, emb FROM e WHERE vec_id < {N_PROBES}),
    cells AS (
      SELECT probe_id, cell FROM (
        SELECT p.probe_id, c.label AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY p.probe_id
                 ORDER BY ROUND(list_cosine_similarity(p.emb, c.centroid), 6)
                          DESC, c.label) AS rn
        FROM probes p CROSS JOIN centroids c
      ) t WHERE rn <= {IVFPQ_NPROBE}
    ),
    psubs AS (
      SELECT vec_id AS probe_id, m, sub FROM subs WHERE vec_id < {N_PROBES}
    ),
    partials AS (
      SELECT p.probe_id, c.m, c.cluster,
             ROUND(list_sum(list_transform(
                      generate_series(1, len(c.centroid)),
                      i -> (p.sub[i] - c.centroid[i]) ^ 2)), 6) AS pd
      FROM psubs p JOIN c1 c ON c.m = p.m
    ),
    corp AS (
      SELECT a.vec_id, a.m, a.cluster, emb2.label
      FROM a2 a JOIN embeddings emb2 ON emb2.vec_id = a.vec_id
    ),
    adc AS (
      SELECT cl.probe_id, cl.cell, co.vec_id AS neighbor_id,
             ROUND(SUM(pt.pd), 6) AS adc_dist
      FROM cells cl
      JOIN corp co ON co.label = cl.cell AND co.vec_id <> cl.probe_id
      JOIN partials pt ON pt.probe_id = cl.probe_id
                      AND pt.m = co.m AND pt.cluster = co.cluster
      GROUP BY cl.probe_id, cl.cell, co.vec_id
    )"""


def _ivfpq_oracle() -> str:
    return f"""
    WITH {_ivfpq_ctes()}
    SELECT probe_id, neighbor_id, cell, adc_dist, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY adc_dist, neighbor_id) AS rnk
      FROM adc
    ) t WHERE rnk <= {IVFPQ_K}
    ORDER BY probe_id, rnk
    """


@register("llm_ann_ivfpq", _ivfpq_oracle())
def llm_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ compound ANN serving path [public method: Jégou et al.
    2011's IVFADC, the FAISS default at billion scale — an inverted
    file routes each query to nprobe coarse cells, and ONLY those
    cells' vectors are ranked, by asymmetric distance against their
    PQ codes]: composes llm_ann_ivf's label-cell routing (nprobe=2,
    cosine to the per-label mean centroids) with llm_ann_pq's 8x8d
    codebooks; emits the per-probe ADC shortlist (top-10 with cell
    provenance) a deployment reranks exactly. Both engines rank on
    6dp-rounded cell cosines and ADC sums with id tie-breaks, so the
    routed sets and shortlists match exactly.

    At 100 TB this is THE serving plan the separate index ops build
    toward: the scan is |cells probed| / |cells| of the corpus (the
    IVF win), touches only integer codes + an M x K partial-distance
    table per probe (the PQ win — raw vectors never leave the index
    build), and every join is equi (cell id, then (m, code)); the
    partial-distance table is probe-bounded and broadcasts. Recall is
    gated end-to-end by llm_ann_ivfpq_recall (routing loss x
    quantization loss in one number), per index family alongside
    llm_ann_ivf_recall / llm_ann_pq_recall; llm_ann_nprobe_curve
    prices the nprobe knob."""
    _, adc = _ivfpq_adc(spark, sf_dir)
    w_rank = Window.partitionBy("probe_id").orderBy("adc_dist", "neighbor_id")
    return (
        adc.select("*", F.row_number().over(w_rank).alias("rnk"))
        .filter(F.col("rnk") <= IVFPQ_K)
        .select("probe_id", "neighbor_id", "cell", "adc_dist", "rnk")
        .orderBy("probe_id", "rnk")
    )


def _ivfpq_adc(spark: SparkSession, sf_dir: str):
    """Spark twin of _ivfpq_ctes(): returns (e, adc) where ``e`` is the
    double-cast corpus (vec_id, emb, label) and ``adc`` the per-(probe,
    candidate) asymmetric-distance table over the routed cells."""
    from hive_test_spark.llm.similarity import N_PROBES, _label_centroids, _NORM

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
        "label",
    )
    probes = e.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("emb").alias("p_emb"),
        F.expr(_NORM.format(a="emb")).alias("p_norm"),
    )
    cents = _label_centroids(spark, sf_dir)
    cos = F.round(
        F.expr(_PCA_DOT.format(a="p_emb", b="centroid"))
        / (F.col("p_norm") * F.col("c_norm")),
        6,
    )
    w_cell = Window.partitionBy("probe_id").orderBy(F.col("cs").desc(), "label")
    cells = (
        probes.crossJoin(cents)
        .select("probe_id", "label", cos.alias("cs"))
        .select("*", F.row_number().over(w_cell).alias("rn"))
        .filter(F.col("rn") <= IVFPQ_NPROBE)
        .select("probe_id", F.col("label").alias("cell"))
    )
    subs = _pq_subvectors(spark, sf_dir)
    c1, a2 = _pq_train_encode(subs)
    psubs = subs.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("m").alias("pm"), "sub"
    )
    partials = psubs.join(F.broadcast(c1), F.col("pm") == F.col("m")).select(
        "probe_id",
        "m",
        "cluster",
        F.round(F.expr(_SQDIST.format(a="sub", b="centroid")), 6).alias("pd"),
    )
    corp = a2.select("vec_id", "m", "cluster").join(
        e.select("vec_id", "label"), "vec_id"
    )
    adc = (
        cells.join(corp, (F.col("label") == F.col("cell")) & (F.col("vec_id") != F.col("probe_id")))
        .join(partials, ["probe_id", "m", "cluster"])
        .groupBy("probe_id", "cell", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("pd"), 6).alias("adc_dist"))
    )
    return e, adc


def _ivfpq_recall_oracle() -> str:
    from hive_test_spark.llm.similarity import N_PROBES  # noqa: F401 (doc parity)

    return f"""
    WITH {_ivfpq_ctes()},
    exact AS (
      SELECT probe_id, neighbor_id FROM (
        SELECT p.probe_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY p.probe_id
                 ORDER BY ROUND(list_sum(list_transform(
                            generate_series(1, len(c.emb)),
                            i -> (p.emb[i] - c.emb[i]) ^ 2)), 6),
                          c.vec_id) AS rn
        FROM probes p JOIN e c ON c.vec_id <> p.probe_id
      ) t WHERE rn <= {PQ_RECALL_K}
    ),
    short AS (
      SELECT probe_id, neighbor_id FROM (
        SELECT probe_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY adc_dist, neighbor_id) AS rnk
        FROM adc
      ) t WHERE rnk <= {IVFPQ_K}
    )
    SELECT x.probe_id,
           COUNT(*) AS n_exact,
           COUNT(s.neighbor_id) AS n_found,
           ROUND(COUNT(s.neighbor_id) * 1.0 / COUNT(*), 6) AS recall_at_k
    FROM exact x LEFT JOIN short s
      ON s.probe_id = x.probe_id AND s.neighbor_id = x.neighbor_id
    GROUP BY x.probe_id
    ORDER BY x.probe_id
    """


@register("llm_ann_ivfpq_recall", _ivfpq_recall_oracle())
def llm_ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END recall acceptance gate for the IVF+PQ compound index:
    how much of the true exact top-10 the routed ADC
    shortlist captures — routing loss (a true neighbor living in an
    unprobed cell) TIMES quantization loss (ADC misranking inside a
    probed cell) in one per-probe number, which is exactly what a
    deployment observes. Completes the per-family gate symmetry:
    llm_ann_recall gates LSH, llm_ann_ivf_recall gates IVF,
    llm_ann_pq_recall gates PQ alone, this gates their composition
    (shared _ivfpq_ctes()/_ivfpq_adc machinery, so the gated
    arithmetic IS the index's arithmetic).

    At 100 TB: the ADC leg is the llm_ann_ivfpq serving plan verbatim;
    the exact leg is the usual bounded-probe x corpus ground-truth
    pass every recall gate pays (probes are an eval panel, never the
    corpus). Both engines rank on 6dp-rounded distances with id
    tie-breaks, and the recall join is pair-keyed."""
    e, adc = _ivfpq_adc(spark, sf_dir)
    probes = e.filter(F.col("vec_id") < _ivfpq_nprobes()).select(
        F.col("vec_id").alias("probe_id"), F.col("emb").alias("p_emb")
    )
    corpus = e.select(F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb"))
    w_exact = Window.partitionBy("probe_id").orderBy("d", "c_id")
    exact = (
        F.broadcast(probes)
        .join(corpus, F.col("c_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "c_id",
            F.round(F.expr(_SQDIST.format(a="p_emb", b="c_emb")), 6).alias("d"),
        )
        .select("*", F.row_number().over(w_exact).alias("rn"))
        .filter(F.col("rn") <= PQ_RECALL_K)
        .select("probe_id", F.col("c_id").alias("neighbor_id"))
    )
    w_rank = Window.partitionBy("probe_id").orderBy("adc_dist", "neighbor_id")
    short = (
        adc.select("probe_id", "neighbor_id", "adc_dist")
        .select("*", F.row_number().over(w_rank).alias("rnk"))
        .filter(F.col("rnk") <= IVFPQ_K)
        .select("probe_id", F.col("neighbor_id").alias("s_nb"))
    )
    return (
        exact.join(
            short,
            (short.probe_id == exact.probe_id) & (F.col("s_nb") == F.col("neighbor_id")),
            "left",
        )
        .drop(short.probe_id)
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("s_nb").alias("n_found"),
            F.round(F.count("s_nb") * 1.0 / F.count(F.lit(1)), 6).alias(
                "recall_at_k"
            ),
        )
        .orderBy("probe_id")
    )


def _ivfpq_nprobes() -> int:
    from hive_test_spark.llm.similarity import N_PROBES

    return N_PROBES


# ---------------------------------------------------------------------------
# Round-12: internal clustering-validity indices over the shared Lloyd
# chain (no-label complements to llm_cluster_purity's external grade).

_LLOYD_CTES_C2 = f"""{_LLOYD_CTES_A2},
    c2 AS ({_DUCK_CENTROIDS.format(src="a2")})"""

# Rounded (6dp) squared euclidean vector->centroid distance, DuckDB side
# (the _DUCK_ASSIGN distance expression, shared verbatim).
_DUCK_VDIST = """ROUND(list_sum(list_transform(
                   generate_series(1, len(c.centroid)),
                   i -> (a2.emb[i] - c.centroid[i]) ^ 2)), 6)"""


@register(
    "llm_silhouette",
    f"""
    WITH {_LLOYD_CTES_C2},
    dist AS (
      SELECT a2.vec_id, a2.cluster, c.cluster AS cc,
             SQRT({_DUCK_VDIST}) AS d
      FROM a2 CROSS JOIN c2 c
    ),
    ab AS (
      SELECT vec_id, cluster,
             MAX(CASE WHEN cc = cluster THEN d END) AS a,
             MIN(CASE WHEN cc <> cluster THEN d END) AS b
      FROM dist GROUP BY vec_id, cluster
    ),
    s AS (
      SELECT vec_id, cluster,
             CAST(ROUND((b - a) / GREATEST(a, b), 6) AS DECIMAL(9,6)) AS sil,
             CAST(ROUND(a, 6) AS DECIMAL(12,6)) AS ad
      FROM ab
    ),
    per_c AS (
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(CAST(SUM(ad) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mean_a,
             CAST(CAST(SUM(sil) AS VARCHAR) AS DOUBLE) / COUNT(*) AS mean_sil
      FROM s GROUP BY cluster
    ),
    overall AS (
      SELECT CAST(CAST(SUM(sil) AS VARCHAR) AS DOUBLE) / COUNT(*) AS o
      FROM s
    )
    SELECT cluster, n_members,
           ROUND(mean_a, 6) AS mean_intra_dist,
           ROUND(mean_sil, 6) AS mean_silhouette,
           ROUND(o, 6) AS overall_silhouette
    FROM per_c CROSS JOIN overall
    ORDER BY cluster
    """,
)
def llm_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette over the shared Lloyd
    assignment [public method: Rousseeuw 1987 silhouette with the
    medoid/centroid simplification (Hruschka et al. 2004): a(i) =
    dist to OWN centroid, b(i) = min dist to another centroid, s =
    (b-a)/max(a,b) — O(n k) instead of the O(n^2) pairwise original;
    the label-free validity grade beside llm_cluster_purity
    (label-based) and llm_cluster_density_audit (radius-based)]:
    distances are 6dp-rounded squared-euclidean (the _assign rule, so
    last-ulp centroid noise can never flip a sign), per-vector s is a
    single deterministic expression, and the per-cluster / overall
    means accumulate 6dp-rounded terms as exact DECIMAL surfaced via
    the string cast (SCALE.md 9ac) — partition-order-independent by
    construction.

    At 100 TB: one broadcast of the k x dim centroid table against
    the assignment (narrow pass, no shuffle), then a k-row combinable
    rollup — the Lloyd iteration's own profile; the full-pairwise
    silhouette is the O(n^2) rewrite this one replaces at scale.

    Parity note: a(i) > 0 always holds here (no member sits ON its
    centroid at 6dp), so GREATEST never sees the 0/0 guard case."""
    e, c1 = _lloyd_chain(spark, sf_dir)
    a2 = _assign(e, c1).transform(materialize)
    c2 = _centroids(a2)
    dist = a2.crossJoin(F.broadcast(c2.withColumnRenamed("cluster", "cc"))).select(
        "vec_id",
        "cluster",
        "cc",
        F.sqrt(
            F.round(F.expr(_SQDIST.format(a="emb", b="centroid")), 6)
        ).alias("d"),
    )
    ab = dist.groupBy("vec_id", "cluster").agg(
        F.max(F.when(F.col("cc") == F.col("cluster"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("cc") != F.col("cluster"), F.col("d"))).alias("b"),
    )
    s = ab.select(
        "vec_id",
        "cluster",
        F.round(
            (F.col("b") - F.col("a")) / F.greatest("a", "b"), 6
        )
        .cast("decimal(9,6)")
        .alias("sil"),
        F.round("a", 6).cast("decimal(12,6)").alias("ad"),
    ).transform(materialize)
    per_c = s.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        (
            F.sum("ad").cast("string").cast("double") / F.count(F.lit(1))
        ).alias("mean_a"),
        (
            F.sum("sil").cast("string").cast("double") / F.count(F.lit(1))
        ).alias("mean_sil"),
    )
    overall = s.agg(
        (
            F.sum("sil").cast("string").cast("double") / F.count(F.lit(1))
        ).alias("o")
    )
    return (
        per_c.crossJoin(overall)
        .select(
            "cluster",
            "n_members",
            F.round("mean_a", 6).alias("mean_intra_dist"),
            F.round("mean_sil", 6).alias("mean_silhouette"),
            F.round("o", 6).alias("overall_silhouette"),
        )
        .orderBy("cluster")
    )


@register(
    "llm_davies_bouldin",
    f"""
    WITH {_LLOYD_CTES_C2},
    scatter AS (
      SELECT a2.cluster,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             ROUND(CAST(CAST(SUM(CAST(ROUND(SQRT({_DUCK_VDIST}), 6)
                     AS DECIMAL(12,6))) AS VARCHAR) AS DOUBLE)
                   / COUNT(*), 6) AS s_i
      FROM a2 JOIN c2 c ON c.cluster = a2.cluster
      GROUP BY a2.cluster
    ),
    cd AS (
      SELECT i.cluster AS ci, j.cluster AS cj,
             SQRT(ROUND(list_sum(list_transform(
               generate_series(1, len(i.centroid)),
               p -> (i.centroid[p] - j.centroid[p]) ^ 2)), 6)) AS m_ij
      FROM c2 i JOIN c2 j ON i.cluster <> j.cluster
    ),
    r AS (
      SELECT cd.ci, cd.cj,
             ROUND((si.s_i + sj.s_i) / cd.m_ij, 6) AS r_ij
      FROM cd
      JOIN scatter si ON si.cluster = cd.ci
      JOIN scatter sj ON sj.cluster = cd.cj
    ),
    worst AS (
      SELECT ci AS cluster, cj AS worst_neighbor, r_ij AS r_max
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY ci
                        ORDER BY r_ij DESC, cj) AS rn FROM r) t
      WHERE rn = 1
    ),
    db AS (
      SELECT CAST(CAST(SUM(CAST(r_max AS DECIMAL(12,6))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*) AS db_index
      FROM worst
    )
    SELECT w.cluster, s.n_members, s.s_i AS scatter,
           w.worst_neighbor, w.r_max,
           ROUND(db.db_index, 6) AS db_index
    FROM worst w
    JOIN scatter s ON s.cluster = w.cluster
    CROSS JOIN db
    ORDER BY w.cluster
    """,
)
def llm_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin index over the shared Lloyd assignment [public
    method: Davies & Bouldin 1979 — R_ij = (S_i + S_j) / M_ij with
    S_i the mean member->centroid distance and M_ij the centroid
    separation; DB = mean over clusters of the worst R_ij. Lower is
    better; the separation-aware validity grade beside
    llm_silhouette (per-point) and llm_cluster_density_audit
    (radius)]: scatters accumulate 6dp-rounded distances as exact
    DECIMAL (SCALE.md 9ac) and are re-rounded at 6dp, centroid
    separations round the squared distance before SQRT (the _assign
    rule), so every R_ij is a single deterministic expression and
    the worst-neighbor pick breaks ties on cluster id in both
    engines.

    At 100 TB: one broadcast-centroid narrow pass + k-row combinable
    scatter rollup; the pair matrix is k x k — metadata-sized. The
    shape is identical for k in the tens of thousands (the pair
    matrix then shards by cluster-id range)."""
    e, c1 = _lloyd_chain(spark, sf_dir)
    a2 = _assign(e, c1).transform(materialize)
    c2 = _centroids(a2).transform(materialize)
    scatter = (
        a2.join(F.broadcast(c2), "cluster")
        .select(
            "cluster",
            F.round(
                F.sqrt(
                    F.round(F.expr(_SQDIST.format(a="emb", b="centroid")), 6)
                ),
                6,
            )
            .cast("decimal(12,6)")
            .alias("dd"),
        )
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.round(
                F.sum("dd").cast("string").cast("double") / F.count(F.lit(1)),
                6,
            ).alias("s_i"),
        )
    )
    ci = c2.select(F.col("cluster").alias("ci"), F.col("centroid").alias("ca"))
    cj = c2.select(F.col("cluster").alias("cj"), F.col("centroid").alias("cb"))
    cd = ci.join(F.broadcast(cj), F.col("ci") != F.col("cj")).select(
        "ci",
        "cj",
        F.sqrt(F.round(F.expr(_SQDIST.format(a="ca", b="cb")), 6)).alias(
            "m_ij"
        ),
    )
    si = scatter.select(F.col("cluster").alias("ci"), F.col("s_i").alias("sa"))
    sj = scatter.select(F.col("cluster").alias("cj"), F.col("s_i").alias("sb"))
    r = (
        cd.join(F.broadcast(si), "ci")
        .join(F.broadcast(sj), "cj")
        .select(
            "ci",
            "cj",
            F.round((F.col("sa") + F.col("sb")) / F.col("m_ij"), 6).alias(
                "r_ij"
            ),
        )
    )
    w_pick = Window.partitionBy("ci").orderBy(F.col("r_ij").desc(), "cj")
    worst = (
        r.select("*", F.row_number().over(w_pick).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            F.col("ci").alias("cluster"),
            F.col("cj").alias("worst_neighbor"),
            F.col("r_ij").alias("r_max"),
        )
        .transform(materialize)
    )
    db = worst.agg(
        (
            F.sum(F.col("r_max").cast("decimal(12,6)"))
            .cast("string")
            .cast("double")
            / F.count(F.lit(1))
        ).alias("db_index")
    )
    return (
        worst.join(F.broadcast(scatter), "cluster")
        .crossJoin(db)
        .select(
            "cluster",
            "n_members",
            F.col("s_i").alias("scatter"),
            "worst_neighbor",
            "r_max",
            F.round("db_index", 6).alias("db_index"),
        )
        .orderBy("cluster")
    )


@register(
    "llm_cluster_ari",
    f"""
    WITH {_LLOYD_CTES_A2},
    joined AS (
      SELECT a2.cluster, emb_t.label
      FROM a2 JOIN embeddings emb_t ON emb_t.vec_id = a2.vec_id
    ),
    cell AS (
      SELECT cluster, label, CAST(COUNT(*) AS BIGINT) AS nij
      FROM joined GROUP BY cluster, label
    ),
    sums AS (
      SELECT CAST(SUM(nij * (nij - 1) / 2) AS BIGINT) AS sum_cells,
             (SELECT CAST(SUM(a * (a - 1) / 2) AS BIGINT) FROM
               (SELECT SUM(nij) AS a FROM cell GROUP BY cluster) ra)
               AS sum_rows,
             (SELECT CAST(SUM(b * (b - 1) / 2) AS BIGINT) FROM
               (SELECT SUM(nij) AS b FROM cell GROUP BY label) cb)
               AS sum_cols,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM joined) AS n,
             (SELECT CAST(COUNT(DISTINCT cluster) AS BIGINT) FROM cell)
               AS n_clusters,
             (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM cell)
               AS n_labels
      FROM cell
    )
    SELECT n, n_clusters, n_labels, sum_cells, sum_rows, sum_cols,
           ROUND((sum_rows * 1.0 * sum_cols) / (n * (n - 1) / 2.0), 6)
             AS expected_index,
           ROUND((sum_rows + sum_cols) / 2.0, 6) AS max_index,
           ROUND((sum_cells - (sum_rows * 1.0 * sum_cols)
                              / (n * (n - 1) / 2.0))
                 / ((sum_rows + sum_cols) / 2.0
                    - (sum_rows * 1.0 * sum_cols) / (n * (n - 1) / 2.0)),
                 6) AS ari
    FROM sums
    """,
)
def llm_cluster_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index of the Lloyd assignment against the fixture
    labels [public method: Hubert & Arabie 1985 — pair-counting Rand
    index corrected for chance, ARI = (SUM C(nij,2) - E) / (max - E)
    with E = SUM C(ai,2) SUM C(bj,2) / C(n,2); the chance-corrected
    external grade beside llm_cluster_purity (majority share, not
    chance-corrected) — a random assignment scores ~0 here while
    purity can look respectable]: every term is an INTEGER
    pair-count over the k x |labels| contingency (one count rollup),
    so ARI is a single deterministic expression — no accumulation
    hazard anywhere.

    At 100 TB: the label join keys on vec_id (co-partitioned with the
    assignment), the contingency is k x |labels| — tiny — and the
    pair-count sums are combinable integer rollups over it.
    Everything upstream is the proven Lloyd shape."""
    e, c1 = _lloyd_chain(spark, sf_dir)
    a2 = _assign(e, c1)
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    cell = (
        a2.join(labels, "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("nij"))
        .transform(materialize)
    )
    sum_cells = cell.agg(
        F.sum((F.col("nij") * (F.col("nij") - 1) / 2).cast("long"))
        .cast("long")
        .alias("sum_cells"),
        F.countDistinct("cluster").cast("long").alias("n_clusters"),
        F.countDistinct("label").cast("long").alias("n_labels"),
        F.sum("nij").cast("long").alias("n"),
    )
    sum_rows = (
        cell.groupBy("cluster")
        .agg(F.sum("nij").alias("a"))
        .agg(
            F.sum((F.col("a") * (F.col("a") - 1) / 2).cast("long"))
            .cast("long")
            .alias("sum_rows")
        )
    )
    sum_cols = (
        cell.groupBy("label")
        .agg(F.sum("nij").alias("b"))
        .agg(
            F.sum((F.col("b") * (F.col("b") - 1) / 2).cast("long"))
            .cast("long")
            .alias("sum_cols")
        )
    )
    s = (
        sum_cells.crossJoin(sum_rows)
        .crossJoin(sum_cols)
    )
    npairs = F.col("n") * (F.col("n") - 1) / 2.0
    expected = (F.col("sum_rows") * 1.0 * F.col("sum_cols")) / npairs
    maxidx = (F.col("sum_rows") + F.col("sum_cols")) / 2.0
    return s.select(
        "n",
        "n_clusters",
        "n_labels",
        "sum_cells",
        "sum_rows",
        "sum_cols",
        F.round(expected, 6).alias("expected_index"),
        F.round(maxidx, 6).alias("max_index"),
        F.round(
            (F.col("sum_cells") - expected) / (maxidx - expected), 6
        ).alias("ari"),
    )
