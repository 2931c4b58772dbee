"""SURVEY.md §2.L extensions — training-data pipeline operators beyond the
core dedup/similarity/text set (BASELINE.json:6 mandates the family; these
are the remaining ops a 100 TB curation pipeline needs day-to-day).

Every operator here is DETERMINISTIC and fully DuckDB-oracle-verified —
including sampling (hash-based, not rand()) and MinHash-LSH (explicit
md5-derived signatures, not ml.MinHashLSH's seeded random permutations).
Determinism is not a test convenience: at 100 TB a re-run of a sampling or
dedup stage must select the *same* rows, or downstream incremental state
(dedup ledgers, train/eval splits) silently diverges.

Scale notes per operator are in each docstring. Common theme: everything is
a narrow projection, a map-side-combinable aggregation, or a bucketed
self-join on a bounded key (LSH band) — no all-pairs cross joins, no
driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hive_test_spark.io import load_table, materialize, side
from hive_test_spark.registry import register
from hive_test_spark.session import fanout


# ---------------------------------------------------------------------------
# Deterministic sampling
# ---------------------------------------------------------------------------

@register(
    "llm_hash_sample",
    """
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE substr(md5(text), 1, 1) IN ('0', '1')
    """,
)
def llm_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~1/8 sample: keep rows whose content-md5 starts with a
    hex digit in {0,1}. Unlike rand()/TABLESAMPLE, the selection is a pure
    function of the row, so re-runs (and the DuckDB oracle) pick identical
    rows. At scale this is a narrow per-row filter — no shuffle, fully
    pushed into the scan stage, and the sample rate tunes by widening the
    digit set (k/16) or taking more md5 chars (k/256, ...)."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(F.substring(F.md5("text"), 1, 1).isin("0", "1")).select(
        "doc_id", "lang", "n_chars"
    )


@register(
    "llm_stratified_sample",
    """
    SELECT doc_id, lang
    FROM documents
    WHERE CASE WHEN lang = 'en'
               THEN substr(md5(text), 1, 1) = '0'
               ELSE substr(md5(text), 1, 1) IN ('0','1','2','3','4','5','6','7')
          END
    """,
)
def llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus rebalancing: downsample
    the majority stratum (en → 1/16) while keeping minority languages at
    1/2. The per-stratum rate is a CASE over the same content hash as
    llm_hash_sample — still a narrow filter (the idiomatic alternative,
    df.sampleBy, is seeded-random and not reproducible across engines).
    At 100 TB: rates usually come from a small per-stratum config dim —
    broadcast-join it and compare the hash digit against the row's rate."""
    d = load_table(spark, sf_dir, "documents")
    digit = F.substring(F.md5("text"), 1, 1)
    keep = F.when(F.col("lang") == "en", digit == "0").otherwise(
        digit.isin(*"01234567")
    )
    return d.filter(keep).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Deterministic MinHash-LSH near-dedup (candidate generation + verification)
# ---------------------------------------------------------------------------

_MINHASH_K = 16  # signature length
_BAND_ROWS = 4   # rows per LSH band -> 4 bands, collision threshold ~ (1/4)^(1/4) ~ 0.71
_MINHASH_VERIFY_TAU = 0.9

# Oracle CTE fragments, composed by every minhash oracle: token sets and
# the (doc_id, k, mh) signature, the banded LSH index over it, and the
# distinct (doc_a, doc_b) candidate pairs that share a band key.
_MINHASH_SIG_CTES = f"""
    toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS tok FROM documents
    ),
    hashes AS (
      SELECT doc_id, t.k AS k, md5(t.k::VARCHAR || ':' || u.tok) AS h
      FROM (SELECT doc_id, unnest(tok) AS tok FROM toks) u
      CROSS JOIN range({_MINHASH_K}) t(k)
    ),
    sig AS (SELECT doc_id, k, min(h) AS mh FROM hashes GROUP BY doc_id, k)
"""
_MINHASH_BANDS_CTE = f"""
    bands AS (
      SELECT doc_id, k // {_BAND_ROWS} AS band, string_agg(mh, '|' ORDER BY mh) AS bkey
      FROM sig GROUP BY doc_id, k // {_BAND_ROWS}
    )
"""
_MINHASH_CAND_CTE = """
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
"""

# CTE chain shared by llm_minhash_det and llm_dedup_clusters oracles.
_MINHASH_CTES = f"""
    {_MINHASH_SIG_CTES}, {_MINHASH_BANDS_CTE}, {_MINHASH_CAND_CTE},
    verified AS (
      SELECT c.doc_a, c.doc_b,
             ROUND(CAST(len(list_intersect(ta.tok, tb.tok)) AS DOUBLE)
                   / len(list_distinct(list_concat(ta.tok, tb.tok))), 6) AS jaccard
      FROM cand c
      JOIN toks ta ON ta.doc_id = c.doc_a
      JOIN toks tb ON tb.doc_id = c.doc_b
      WHERE CAST(len(list_intersect(ta.tok, tb.tok)) AS DOUBLE)
            / len(list_distinct(list_concat(ta.tok, tb.tok))) >= {_MINHASH_VERIFY_TAU}
    )
"""

_MINHASH_ORACLE = f"""
    WITH {_MINHASH_CTES}
    SELECT doc_a, doc_b, jaccard FROM verified
"""


def _minhash_wide(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared signature build over an arbitrary documents frame, WIDE
    form: (token sets, one row per doc carrying its distinct-token count
    `n` plus all K min-hashes as columns m0..m{K-1}). The hash salt, K,
    and tokenization live HERE and only here — every minhash exhibit
    derives from this one chain, so a change cannot skew one exhibit
    against the others. Their oracle twin is ``_MINHASH_SIG_CTES``, the
    one signature fragment every minhash oracle composes.

    Optimization-round shape (guide §2.3/§2.4, r12): min() over a STRING
    agg buffer cannot hash-aggregate (Spark plans Sort+SortAggregate),
    so the old explode-×K chain sorted K·|corpus tokens| rows by
    (doc_id, k) — twice per self-join, since the broadcast boundary
    defeats exchange reuse. The wide form computes the K mins as K
    parallel agg columns over the UN-exploded token rows: one sort of
    |corpus tokens| rows keyed by doc_id alone, and the ×K row blow-up
    never materializes. Values are bitwise the ones the explode-×K
    formulation produced: same md5(k:tok) set, same min per (doc, k)."""
    toks = d.select("doc_id", F.array_distinct(F.split("text", " ")).alias("tok"))
    tokrows = toks.select("doc_id", F.explode("tok").alias("tok"))
    mins = tokrows.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.min(F.md5(F.concat_ws(":", F.lit(str(k)), F.col("tok")))).alias(f"m{k}")
            for k in range(_MINHASH_K)
        ],
    )
    return toks, mins


def _minhash_sig_from(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared signature build: (token sets, per-(doc, k) md5 min-hash
    signature frame) — the narrow (doc_id, k, mh) view of
    ``_minhash_wide``, value-identical to the old explode-×K build but
    without its K·|tokens| Sort+SortAggregate (see _minhash_wide)."""
    toks, mins = _minhash_wide(d)
    sig = mins.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("k"), F.col(f"m{k}").alias("mh"))
                    for k in range(_MINHASH_K)
                ]
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.k").alias("k"), F.col("s.mh").alias("mh"))
    return toks, sig


def _bands_from_wide(mins: DataFrame) -> DataFrame:
    """Banded LSH index built straight from the wide signature frame:
    (doc_id, n, band, bkey), one row per (doc, band), no aggregation —
    each band key is array_sort of its _BAND_ROWS min-hash COLUMNS
    joined '|' (collection order is irrelevant under the sort)."""
    n_bands = _MINHASH_K // _BAND_ROWS
    return mins.select(
        "doc_id",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.array_join(
                            F.array_sort(
                                F.array(
                                    *[
                                        F.col(f"m{_BAND_ROWS * b + j}")
                                        for j in range(_BAND_ROWS)
                                    ]
                                )
                            ),
                            "|",
                        ).alias("bkey"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("s"),
    ).select("doc_id", "n", F.col("s.band").alias("band"), F.col("s.bkey").alias("bkey"))


def bucket_pairs(
    rows: DataFrame,
    keys: list[str],
    member: str | Column,
    pair: tuple[str, str] = ("a", "b"),
) -> DataFrame:
    """Ordered pairs ``(a, b)``, a < b, of ``member`` values that share a
    bucket (``rows`` grouped by ``keys``) — the shared single-sided LSH
    candidate step, bucket-bounded, never all-pairs. ``pair`` names the
    two output columns.

    Each bucket collects its sorted members once, buckets of one are
    dropped, and the rest are re-spread across cores before every
    ordered pair is emitted by nested explode. A (bucket key)
    equi-self-join would evaluate the whole signature subtree twice (the
    BroadcastExchange boundary defeats exchange reuse), and the tiny
    post-agg table would be AQE-coalesced to ~1 partition, running the
    quadratic explosion on one core (the 1-split disease, SCALE.md §9y).
    A struct ``member`` sorts field by field, so struct pairs are ordered
    by their first field. A pair repeats once per shared bucket; callers
    prefilter, project and ``distinct`` themselves."""
    buckets = (
        rows.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(member)).alias("ids"))
        .filter(F.size("ids") > 1)
        .repartition(fanout(rows.sparkSession))
    )
    a, b = pair
    return buckets.select(F.posexplode("ids").alias("i", a), "ids").select(
        a, F.explode(F.slice("ids", F.col("i") + 2, F.size("ids"))).alias(b)
    )


def jaccard(a: str | Column, b: str | Column, na: Column, nb: Column) -> Column:
    """Exact Jaccard |A∩B| / |A∪B| of two arrays of sizes ``na`` and
    ``nb``. The arrays hold distinct elements, so |A∪B| = |A|+|B|−|A∩B|
    holds exactly and no per-pair array_distinct(concat(...)) is built.
    ``tests/test_shared_helpers.py`` pins the value bitwise against the
    oracle's |A∩B| / |distinct(A++B)|."""
    return F.size(F.array_intersect(a, b)).cast("double") / (
        na + nb - F.size(F.array_intersect(a, b))
    )


def size_ratio(na: Column, nb: Column) -> Column:
    """min/max of two set sizes: the cheap prefilter in front of
    ``jaccard``. |A∩B| <= min and |A∪B| >= max, so J <= min/max. Both
    are correctly rounded quotients of exact integers and rounding is
    monotone, so fl(jac) <= fl(min/max): ``size_ratio < tau`` (``<=``
    for a strict threshold) never drops a pair that ``jac >= tau``
    (``> tau``) keeps. ``tests/test_shared_helpers.py`` pins this."""
    return F.least(na, nb).cast("double") / F.greatest(na, nb)


def minhash_candidates(mins: DataFrame, tau: float) -> DataFrame:
    """Distinct (doc_a, doc_b) LSH candidate pairs, doc_a < doc_b, over
    the wide signature frame ``mins``. Buckets carry (doc_id, n) structs,
    so the size-ratio prefilter at ``tau`` runs when pairs are emitted,
    before the distinct: it shrinks both the distinct's shuffle and the
    token-array verify join."""
    return (
        bucket_pairs(
            _bands_from_wide(mins), ["band", "bkey"], F.struct("doc_id", "n")
        )
        .filter(size_ratio(F.col("a.n"), F.col("b.n")) >= tau)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def both_ends(pairs: DataFrame, per_doc: DataFrame, sf_dir: str) -> DataFrame:
    """``pairs`` with the non-id columns of ``per_doc`` (keyed by doc_id)
    attached to both ends: ``<col>_a`` on doc_a, ``<col>_b`` on doc_b.
    Both joins are size-gated by ``io.side`` on ``documents``: a
    broadcast while the corpus is dimension-sized, a doc_id-keyed
    shuffled hash join at scale (an unconditional broadcast hint would
    broadcast the whole corpus whatever its size)."""
    cols = [c for c in per_doc.columns if c != "doc_id"]
    for end in ("a", "b"):
        one = per_doc.select(
            F.col("doc_id").alias(f"doc_{end}"),
            *[F.col(c).alias(f"{c}_{end}") for c in cols],
        )
        pairs = pairs.join(side(one, sf_dir, "documents"), f"doc_{end}")
    return pairs


def _minhash_bands_from(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Signature stage over an arbitrary documents frame (static corpus
    or a streaming micro-batch): (token sets, banded LSH index). The
    index rows keep the doc's distinct-token count ``n`` so the
    incremental probe can run the size-ratio prefilter at candidate
    time."""
    toks, mins = _minhash_wide(d)
    return toks, _bands_from_wide(mins)


def _minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared candidate-generation + verification stage (see
    llm_minhash_det for the full docstring); also feeds
    llm_dedup_clusters. On this corpus the size-ratio prefilter kills
    ~55% of collision rows before the distinct."""
    toks, mins = _minhash_wide(load_table(spark, sf_dir, "documents"))
    jac = jaccard("tok_a", "tok_b", F.size("tok_a"), F.size("tok_b"))
    return (
        both_ends(minhash_candidates(mins, _MINHASH_VERIFY_TAU), toks, sf_dir)
        .filter(jac >= _MINHASH_VERIFY_TAU)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@register("llm_minhash_det", _MINHASH_ORACLE)
def llm_minhash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MinHash-LSH near-dedup, end to end: explicit md5-based
    min-hash signatures → banded bucket keys → candidate pairs via a
    self-join on (band, band_key) → exact-Jaccard verification ≥ 0.9.

    Unlike ml.MinHashLSH (seeded random permutations → rows-only check,
    see llm_near_dedup_minhash) every stage here is a pure function of the
    content, so the whole pipeline hash-matches the DuckDB oracle.

    Scale shape (the production near-dedup recipe):
    - signatures: explode tokens ×K salts → groupBy(doc,k).min — narrow +
      map-side combinable; K=16 keeps the blow-up constant-factor.
    - candidates: join on the *band key*, never all-pairs; bucket sizes are
      bounded by real collisions, and a hot bucket (boilerplate docs) is
      exactly the skew AQE's skew-join split handles.
    - verification: token arrays re-joined only for candidate pairs
      (broadcast at this SF; at 100 TB both joins shuffle on doc_id).
    - output: pair count grows quadratically *inside* near-dup clusters
      (measured: 10.7k pairs over 500 docs → 954k over 5000 at sf0.1 on
      this dup-heavy corpus). At 100 TB the last stage feeds connected
      components (llm_dedup_clusters below) and emits one representative
      per cluster instead of all pairs.
    """
    return _minhash_verified_pairs(spark, sf_dir)


# Incremental split: doc_id % _INCR_MOD == 0 is the "incoming batch",
# the rest is the already-indexed corpus.
_INCR_MOD = 5

_INCR_MINHASH_ORACLE = f"""
    WITH {_MINHASH_SIG_CTES}, {_MINHASH_BANDS_CTE},
    icand AS (
      SELECT DISTINCT i.doc_id AS in_id, e.doc_id AS ex_id
      FROM bands i JOIN bands e ON i.band = e.band AND i.bkey = e.bkey
      WHERE i.doc_id % {_INCR_MOD} = 0 AND e.doc_id % {_INCR_MOD} <> 0
    ),
    iver AS (
      SELECT c.in_id, c.ex_id,
             CAST(len(list_intersect(ti.tok, te.tok)) AS DOUBLE)
               / len(list_distinct(list_concat(ti.tok, te.tok))) AS jac
      FROM icand c
      JOIN toks ti ON ti.doc_id = c.in_id
      JOIN toks te ON te.doc_id = c.ex_id
      WHERE CAST(len(list_intersect(ti.tok, te.tok)) AS DOUBLE)
            / len(list_distinct(list_concat(ti.tok, te.tok)))
            >= {_MINHASH_VERIFY_TAU}
    ),
    ibest AS (
      SELECT in_id, ex_id, jac,
             ROW_NUMBER() OVER (PARTITION BY in_id ORDER BY jac DESC, ex_id) AS rn,
             COUNT(*) OVER (PARTITION BY in_id) AS n_near_dups
      FROM iver
    )
    SELECT d.doc_id,
           CAST(COALESCE(b.n_near_dups, 0) AS BIGINT) AS n_near_dups,
           b.ex_id AS best_match_id,
           ROUND(b.jac, 6) AS best_jaccard,
           (b.ex_id IS NULL) AS is_new
    FROM (SELECT doc_id FROM documents WHERE doc_id % {_INCR_MOD} = 0) d
    LEFT JOIN (SELECT * FROM ibest WHERE rn = 1) b ON b.in_id = d.doc_id
    ORDER BY d.doc_id
"""


@register("llm_incremental_minhash", _INCR_MINHASH_ORACLE)
def llm_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: probe a STORED LSH band index with an
    incoming batch [public method: production near-dedup is never
    re-run corpus-wide per ingest — the band index (doc_id, band,
    band_key) persists as a table and each new batch probes it; only
    llm_cross_dedup's exact-digest analogue existed before this]. The
    corpus splits deterministically (doc_id % {_INCR_MOD}: ≈20%
    incoming, ≈80% indexed); the incoming side's band keys join the
    index on (band, band_key) — candidates only, never batch×corpus —
    then exact Jaccard ≥ {_MINHASH_VERIFY_TAU} verifies, and each
    incoming doc gets a DECISION ROW: how many near-dups it hit, its
    best match (deterministic (jaccard, doc_id) tiebreak), and an
    `is_new` keep/drop verdict — the record an ingest pipeline writes
    back next to the batch.

    At 100 TB: the index probe shuffles |batch|·bands rows against the
    index's (band, band_key) layout — bucket the stored index by
    band_key and the probe is shuffle-free on the index side; the
    verify join touches token sets for candidate pairs only, and the
    per-doc rollup keys on the batch (bounded). The full self-join
    (llm_minhash_det) runs once to bootstrap; this op is every
    subsequent ingest tick. Index freshness: accepted docs append
    their band rows (insert-only, no rebuild)."""
    toks, bands = _minhash_bands_from(load_table(spark, sf_dir, "documents"))
    # Materialized once (r13): both probe sides filter from ONE banded
    # index, so the corpus-wide signature aggregation runs once instead
    # of twice (in_bands and ex_bands each re-planned the whole
    # scan→tokenize→min-hash chain), and the candidate join plans
    # against the relation's REAL size instead of the rewritten
    # subtree's tiny static estimate — the r12 pathology where the
    # planner broadcast-built candidate×batch-tokens and probed it from
    # ~1 partition. ~4 small rows per doc (band, bkey, n), the same
    # persisted-index stand-in stream_incremental_neardup checkpoints.
    bands = bands.transform(materialize)
    decisions = _probe_band_index(
        incoming_docs=load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _INCR_MOD == 0)
        .select("doc_id"),
        in_toks=toks.filter(F.col("doc_id") % _INCR_MOD == 0),
        in_bands=bands.filter(F.col("doc_id") % _INCR_MOD == 0),
        ex_toks=toks.filter(F.col("doc_id") % _INCR_MOD != 0),
        ex_bands=bands.filter(F.col("doc_id") % _INCR_MOD != 0),
    )
    return decisions.orderBy("doc_id")


def _probe_band_index(
    incoming_docs: DataFrame,
    in_toks: DataFrame,
    in_bands: DataFrame,
    ex_toks: DataFrame,
    ex_bands: DataFrame,
) -> DataFrame:
    """Incremental probe shared by llm_incremental_minhash (batch split)
    and stream_incremental_neardup (per-micro-batch foreachBatch): join
    the incoming side's band keys against the stored index, verify with
    exact Jaccard, emit one decision row per incoming doc. Each doc's
    decision depends only on itself and the static index, so the probe
    is embarrassingly parallel across micro-batches.

    Join strategy: ONLY the incoming batch's token table is broadcast —
    it is bounded by batch size, the thing a probe controls. The
    index-side token join must shuffle on doc_id: the index is
    corpus-sized, and a broadcast hint there would materialize every
    stored doc's token set in memory on every probe tick (caught in
    round-6 review; hints bypass the size threshold, so at scale that
    is an OOM, not a fallback).

    r13 verify-leg rework (guide §2.3/§8; measured 30.8 s full vs 4.8 s
    candidate stage at sf0.1 — the per-pair array work WAS the op):
    - the ``size_ratio`` prefilter runs at collision time, BEFORE the
      distinct — it needs only the 2 ints the index rows carry and
      drops 56% of the distinct pairs (2.15M → 0.95M);
    - the index-side shuffle_hash join runs FIRST, while the pair rows
      are two bare ids, and the batch-token broadcast join attaches
      tok_i after — so the shuffle moves 16-byte pair keys, never the
      incoming docs' token payloads (§8: move heavy bytes once)."""
    cand = (
        in_bands.alias("i")
        .join(
            ex_bands.alias("e"),
            (F.col("i.band") == F.col("e.band"))
            & (F.col("i.bkey") == F.col("e.bkey")),
        )
        .filter(size_ratio(F.col("i.n"), F.col("e.n")) >= _MINHASH_VERIFY_TAU)
        .select(
            F.col("i.doc_id").alias("in_id"), F.col("e.doc_id").alias("ex_id")
        )
        .distinct()
    )
    ti, te = in_toks.alias("ti"), ex_toks.alias("te")
    tok_i, tok_e = F.col("ti.tok"), F.col("te.tok")
    jac = jaccard(tok_i, tok_e, F.size(tok_i), F.size(tok_e))
    ver = (
        # shuffle_hash (r12): pins the documented shuffle-on-doc_id
        # schedule. The rewritten candidate subtree's size estimate
        # reads tiny, and without the hint the planner broadcast-built
        # the CANDIDATE×batch-token side and probed it from the index
        # scan's few partitions — the verify ran near-single-core
        # (measured 55 s vs 9 s at sf0.1).
        cand.join(te.hint("shuffle_hash"), F.col("ex_id") == F.col("te.doc_id"))
        .join(ti, F.col("in_id") == F.col("ti.doc_id"))
        .filter(jac >= _MINHASH_VERIFY_TAU)
        .select("in_id", "ex_id", jac.alias("jac"))
    )
    w_best = Window.partitionBy("in_id").orderBy(
        F.col("jac").desc(), F.col("ex_id")
    )
    best = (
        ver.select(
            "in_id",
            "ex_id",
            "jac",
            F.row_number().over(w_best).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("in_id")).alias(
                "n_near_dups"
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return incoming_docs.join(
        best, F.col("doc_id") == F.col("in_id"), "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("n_near_dups"), F.lit(0)).cast("bigint").alias(
            "n_near_dups"
        ),
        F.col("ex_id").alias("best_match_id"),
        F.round("jac", 6).alias("best_jaccard"),
        F.col("ex_id").isNull().alias("is_new"),
    )


# ---------------------------------------------------------------------------
# Cluster-representative dedup (connected components over near-dup pairs)
# ---------------------------------------------------------------------------

# Extends _MINHASH_CTES with transitive closure → per-doc cluster labels;
# shared by llm_dedup_clusters and llm_dedup_report oracles.
_CLUSTER_CTES = f"""
    {_MINHASH_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM verified
      UNION
      SELECT doc_b, doc_a FROM verified
    ),
    reach (src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
      SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      FROM reach GROUP BY src
    ),
    labels AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
"""

_CLUSTER_ORACLE = f"""
    WITH RECURSIVE {_CLUSTER_CTES}
    SELECT doc_id, cluster_id, (cluster_id = doc_id) AS is_representative
    FROM labels
"""


@register("llm_dedup_clusters", _CLUSTER_ORACLE)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified near-dup pair graph: every
    document gets a cluster_id = smallest doc_id reachable through
    near-duplicate edges; keeping `is_representative` rows IS the dedup.
    This is the scale-correct final stage of near-dedup (emit one winner
    per cluster, not O(cluster²) pairs).

    Implementation: iterative min-label propagation — labels start as
    doc_id; each round every node takes min(own label, neighbors' labels)
    until a fixpoint. Deterministic, so the DuckDB recursive-CTE oracle
    (transitive closure → min reachable id) hash-matches exactly.

    Scale notes (100 TB): each round is one shuffle join on node id —
    the same loop GraphX/GraphFrames connected-components runs. Rounds
    needed = graph diameter (near-dup clusters are dense, so typically
    ≤ 5). Each round goes through io.materialize, which truncates the
    previous round's lineage — without that the plan doubles per iteration. The
    convergence check is an aggregate (one boolean), not a collect of
    data rows.
    """
    # Materialized once (r13): the CC loop issues ~2 jobs per round and
    # each re-optimized the full candidate+verify lineage behind the
    # persisted edge cache; a checkpoint leaf cuts that replanning
    # (llm_dedup_clusters 14.1–15.6 s → 11.5–13.5 s at sf0.1, identical
    # labels) — the same shape llm_cluster_density_audit already uses.
    pairs = (
        _minhash_verified_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .transform(materialize)
    )
    return _cluster_labels_from(spark, sf_dir, pairs)


def _cluster_labels_from(
    spark: SparkSession, sf_dir: str, pairs: DataFrame
) -> DataFrame:
    """CC label propagation over an arbitrary (doc_a, doc_b) pair frame
    (split out r12 so llm_cluster_density_audit can share ONE verified-
    pairs pass between the labels and its pair-density numerator)."""
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).toDF("src", "dst").persist()

    d = load_table(spark, sf_dir, "documents")
    # materialize rather than persist: it truncates the logical plan to a
    # leaf each round. The pointer-doubling step below references `labels`
    # twice per round, so with persist alone the *plan* (not the data)
    # doubles every iteration — Spark OOMs just stringifying it by round ~10.
    labels = d.select("doc_id", F.col("doc_id").alias("cluster_id")).transform(materialize)

    # Min-label propagation with pointer doubling: each round takes the min
    # of (own label, neighbors' labels, label-of-own-label). The third term
    # is path compression — chains collapse in O(log diameter) rounds
    # instead of O(diameter), the same trick GraphX's small-star/large-star
    # CC uses.
    # try/finally: a non-convergence raise must still release the
    # persisted pair graph, or it leaks in the block manager for the
    # rest of the session.
    try:
        for _ in range(25):  # ≥ log2(diameter) with slack; fixtures converge in ≤5
            nbr_min = (
                edges.join(labels, edges.dst == labels.doc_id)
                .groupBy("src")
                .agg(F.min("cluster_id").alias("nbr_min"))
            )
            x, y = labels.alias("x"), labels.alias("y")
            lab2 = x.join(y, F.col("x.cluster_id") == F.col("y.doc_id")).select(
                F.col("x.doc_id").alias("d2"), F.col("y.cluster_id").alias("ll")
            )
            new_label = F.least(
                F.col("cluster_id"),
                F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                F.coalesce(F.col("ll"), F.col("cluster_id")),
            )
            # The convergence flag rides the checkpointed frame (r13):
            # the old formulation re-joined new labels against old
            # labels — one extra shuffle join per round just to ask
            # "did anything move". Labels only ever decrease, so
            # new < old IS the change test, computable in the same
            # projection; the check below scans cached checkpoint
            # blocks instead of joining.
            new_labels = (
                labels.join(nbr_min, labels.doc_id == nbr_min.src, "left")
                .join(lab2, labels.doc_id == lab2.d2, "left")
                .select(
                    "doc_id",
                    new_label.alias("new_cid"),
                    (new_label < F.col("cluster_id")).alias("chg"),
                )
                .transform(materialize)
            )
            changed = new_labels.filter("chg").limit(1).count()
            labels = new_labels.select(
                "doc_id", F.col("new_cid").alias("cluster_id")
            )
            if changed == 0:
                break
        else:
            raise RuntimeError("label propagation did not converge in 25 rounds")
    finally:
        edges.unpersist()
    return labels.select(
        "doc_id",
        "cluster_id",
        (F.col("cluster_id") == F.col("doc_id")).alias("is_representative"),
    )


# ---------------------------------------------------------------------------
# Document chunking (context-window splitting)
# ---------------------------------------------------------------------------

_CHUNK_WIDTH = 100
_CHUNK_STRIDE = 80


@register(
    "llm_chunk_split",
    f"""
    WITH seq AS (
      SELECT doc_id, text,
             unnest(generate_series(0, (length(text) - 1) // {_CHUNK_STRIDE})) AS k
      FROM documents WHERE length(text) >= 1
    )
    SELECT doc_id, k AS chunk_idx,
           substr(text, k * {_CHUNK_STRIDE} + 1, {_CHUNK_WIDTH}) AS chunk_text,
           length(substr(text, k * {_CHUNK_STRIDE} + 1, {_CHUNK_WIDTH})) AS chunk_len
    FROM seq
    """,
)
def llm_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into overlapping context windows (width 100 chars,
    stride 80 → 20-char overlap), the standard pre-tokenization chunking
    step for LLM training corpora. Pure generate-and-project: sequence →
    posexplode → substring. Narrow (no shuffle); output row count is
    len/stride per doc, so the stage streams at any scale. Token-based
    chunking swaps substring for slice() over the split-token array."""
    # Guard: an empty text gives n_chunks_minus1 = -1, where Spark's
    # sequence(0, -1) DESCENDS to [0, -1] (two bogus rows) while the
    # oracle's generate_series is empty — the llm_rouge_overlap
    # divergence class. Filter both sides.
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 1)
    n_chunks_minus1 = F.floor((F.length("text") - 1) / _CHUNK_STRIDE).cast("int")
    chunked = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0), n_chunks_minus1)).alias("chunk_idx"),
    )
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.expr(f"substring(text, chunk_idx * {_CHUNK_STRIDE} + 1, {_CHUNK_WIDTH})").alias(
            "chunk_text"
        ),
        F.length(
            F.expr(f"substring(text, chunk_idx * {_CHUNK_STRIDE} + 1, {_CHUNK_WIDTH})")
        ).cast("long").alias("chunk_len"),
    )


# ---------------------------------------------------------------------------
# Corpus-level stopword / boilerplate strip
# ---------------------------------------------------------------------------

@register(
    "llm_stopword_strip",
    """
    WITH counts AS (
      SELECT u.token, count(*) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) u
      GROUP BY u.token
    ),
    top10 AS (SELECT token FROM counts ORDER BY c DESC, token LIMIT 10),
    stop AS (SELECT list(token) AS stoplist FROM top10)
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_orig,
           len(list_filter(string_split(text, ' '),
                           x -> NOT list_contains(s.stoplist, x))) AS n_kept,
           array_to_string(list_filter(string_split(text, ' '),
                                       x -> NOT list_contains(s.stoplist, x)),
                           ' ') AS kept_text
    FROM documents CROSS JOIN stop s
    """,
)
def llm_stopword_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-driven boilerplate removal: compute the global top-10 tokens
    by frequency (ties broken by token), broadcast that tiny stoplist, and
    filter each document's token stream against it (order- and
    multiplicity-preserving — array_except would dedup, so a higher-order
    filter() is used instead).

    Scale shape: pass 1 is an explode + map-side-combinable count + global
    top-K (tiny result); pass 2 is a broadcast cross-join of a 1-row
    stoplist — no shuffle touches the corpus itself."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stop = (
        counts.orderBy(F.col("c").desc(), "token")
        .limit(10)
        .agg(F.collect_list("token").alias("stoplist"))
    )
    toks = F.split("text", " ")
    kept = F.filter(toks, lambda x: ~F.array_contains(F.col("stoplist"), x))
    return (
        d.crossJoin(stop)
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("n_orig"),
            F.size(kept).cast("long").alias("n_kept"),
            F.array_join(kept, " ").alias("kept_text"),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

_EMAIL_RE = "[a-z]+[0-9]+@[a-z]+\\.[a-z]+"
_PHONE_RE = "555-[0-9]{4}"


@register(
    "llm_pii_redact",
    f"""
    WITH synth AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com or call 555-'
                  || lpad(doc_id::VARCHAR, 4, '0') AS raw
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(raw, '{_EMAIL_RE}'))
             + len(regexp_extract_all(raw, '{_PHONE_RE}')) AS n_pii,
           regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<email>', 'g'),
                          '{_PHONE_RE}', '<phone>', 'g') AS redacted
    FROM synth
    """,
)
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training corpora: count and redact email/phone
    patterns via regexp_replace. The fixture corpus is synthetic lowercase
    words with no natural PII, so a deterministic contact string is
    appended first (a pure projection) — the redaction stage itself is
    exactly what runs on real data. Narrow per-row regex work, JVM-side
    (codegen'd), no Python in the loop; at 100 TB this is scan-bound."""
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id"),
        F.lit("@example.com or call 555-"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"),
    )
    n_pii = (
        F.regexp_count(raw, F.lit(_EMAIL_RE)) + F.regexp_count(raw, F.lit(_PHONE_RE))
    ).cast("long")
    redacted = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<email>"), _PHONE_RE, "<phone>"
    )
    return d.select("doc_id", n_pii.alias("n_pii"), redacted.alias("redacted"))


# ---------------------------------------------------------------------------
# Multimodal: video frame sampling (stubbed codec, real plumbing)
# ---------------------------------------------------------------------------

_FRAME_BYTES = 32
_FRAME_EVERY = 4


def _framesample_batches(batches):
    """mapInPandas kernel: treat each payload as a frame-array (32-byte
    frames), keep every 4th frame, emit per-frame metadata. A real video
    decoder (pyav/ffmpeg — NOT in this container, see llm/multimodal.py)
    would replace the byte-slicing with container demux + frame decode;
    the Arrow-batch shape, schema, and sampling logic are identical."""
    import hashlib

    import pandas as pd

    for pdf in batches:
        out = {"doc_id": [], "frame_idx": [], "frame_md5": [], "frame_len": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n_frames = (len(payload) - 1) // _FRAME_BYTES + 1
            for idx in range(0, n_frames, _FRAME_EVERY):
                frame = payload[idx * _FRAME_BYTES : (idx + 1) * _FRAME_BYTES]
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(idx)
                out["frame_md5"].append(hashlib.md5(frame).hexdigest())
                out["frame_len"].append(len(frame))
        yield pd.DataFrame(out)


@register(
    "llm_multimodal_framesample",
    f"""
    WITH seq AS (
      SELECT doc_id, text,
             unnest(generate_series(0, (length(text) - 1) // {_FRAME_EVERY * _FRAME_BYTES})) AS k
      FROM documents
    )
    SELECT doc_id,
           {_FRAME_EVERY} * k AS frame_idx,
           md5(substr(text, {_FRAME_EVERY} * k * {_FRAME_BYTES} + 1, {_FRAME_BYTES})) AS frame_md5,
           length(substr(text, {_FRAME_EVERY} * k * {_FRAME_BYTES} + 1, {_FRAME_BYTES})) AS frame_len
    FROM seq
    """,
)
def llm_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: binary payload → mapInPandas that
    slices fixed-size 'frames' and keeps every 4th → per-frame metadata
    rows (index, md5, size). The codec is stubbed (document bytes stand in
    for a video container — ascii text, so the DuckDB oracle re-derives
    every frame hash from substr(text)); the distributed shape is real:
    payloads never leave their partition, Arrow streams batches to Python,
    and output is a narrow per-row expansion. frame_idx is the source
    frame number, so downstream temporal ops (clip assembly, scene splits)
    keep their anchor."""
    d = load_table(spark, sf_dir, "documents")
    binary = d.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    schema = "doc_id long, frame_idx long, frame_md5 string, frame_len long"
    return binary.mapInPandas(_framesample_batches, schema)


@register(
    "llm_dedup_report",
    f"""
    WITH RECURSIVE {_CLUSTER_CTES},
    sizes AS (SELECT cluster_id, count(*) AS c FROM labels GROUP BY cluster_id)
    SELECT c AS cluster_size, count(*) AS n_clusters, CAST(SUM(c - 1) AS BIGINT) AS n_removable
    FROM sizes GROUP BY c
    """,
)
def llm_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup audit report: distribution of near-dup cluster sizes plus how
    many documents each size class would remove (size − 1 survivors per
    cluster). This is the artifact a curation run ships for review before
    committing a destructive dedup — at 100 TB you look at this table
    (tiny: one row per distinct cluster size) before dropping petabytes.
    Two map-side-combinable aggregations over the cluster labels."""
    labels = llm_dedup_clusters(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("c"))
    return (
        sizes.groupBy(F.col("c").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum(F.col("c") - 1).alias("n_removable"),
        )
    )


_E2E_QUALITY_TH = 0.66  # ~median fixture quality — both classes populated
_E2E_CAP = 100


@register(
    "llm_pipeline_e2e",
    f"""
    WITH q AS (
      SELECT doc_id, lang, source, text,
             0.5 * LEAST(n_chars / 300.0, 1.0)
             + 0.5 * (len(list_distinct(string_split(text, ' '))) * 1.0
                      / len(string_split(text, ' '))) AS quality
      FROM documents
    ),
    flags AS (
      SELECT *, quality >= {_E2E_QUALITY_TH} AS passed_quality,
             md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS vocab_fp
      FROM q
    ),
    canon AS (
      SELECT vocab_fp, min(doc_id) AS keeper
      FROM flags WHERE passed_quality GROUP BY vocab_fp
    ),
    c2 AS (
      SELECT f.doc_id, f.lang, f.source, f.text, f.passed_quality,
             COALESCE(c.keeper = f.doc_id, FALSE) AS is_canonical
      FROM flags f LEFT JOIN canon c ON c.vocab_fp = f.vocab_fp
    ),
    ranked AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rn
      FROM c2 WHERE is_canonical
    )
    SELECT c2.doc_id, c2.lang, c2.source, c2.passed_quality, c2.is_canonical,
           COALESCE(r.rn <= {_E2E_CAP}, FALSE) AS final_keep
    FROM c2 LEFT JOIN ranked r ON r.doc_id = c2.doc_id
    """,
)
def llm_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline END-TO-END as ONE lazy plan: quality gate →
    bag-of-words exact dedup (lowest-id canonical) → per-language cap —
    every doc annotated with its per-stage verdict. No stage
    materializes: Catalyst fuses the quality projection into both the
    canonical-group aggregate and the final join, so the corpus is
    scanned twice (flags side + dedup agg side), not once per stage, and
    only survivors reach the cap window. This is the architectural
    argument of the whole engine: declare the pipeline, let the optimizer
    schedule it. At 100 TB each stage keys a different shuffle
    (fingerprint, then lang) — no stage needs the full corpus on one
    node, and checkpointing between stages is a cache() choice, not a
    rewrite."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    quality = 0.5 * F.least(F.col("n_chars") / 300.0, F.lit(1.0)) + 0.5 * (
        F.size(F.array_distinct(F.split(F.col("text"), " ")))
        / F.size(F.split(F.col("text"), " "))
    )
    flags = d.select(
        "doc_id", "lang", "source", "text",
        (quality >= _E2E_QUALITY_TH).alias("passed_quality"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias("vocab_fp"),
    )
    canon = (
        flags.filter("passed_quality")
        .groupBy("vocab_fp")
        .agg(F.min("doc_id").alias("keeper"))
    )
    c2 = flags.join(canon, "vocab_fp", "left").select(
        "doc_id", "lang", "source", "text", "passed_quality",
        F.coalesce(F.col("keeper") == F.col("doc_id"), F.lit(False)).alias("is_canonical"),
    )
    w = Window.partitionBy("lang").orderBy(F.md5("text"), F.col("doc_id"))
    ranked = (
        c2.filter("is_canonical")
        .select("doc_id", F.row_number().over(w).alias("rn"))
    )
    return c2.join(ranked, "doc_id", "left").select(
        "doc_id", "lang", "source", "passed_quality", "is_canonical",
        F.coalesce(F.col("rn") <= _E2E_CAP, F.lit(False)).alias("final_keep"),
    )


# LSH tuning sweep: (bands, rows-per-band) configs tiling the K=16
# signature, from aggressive (high-threshold) to permissive banding.
_LSH_CONFIGS = ((4, 4), (8, 2), (16, 1))

_LSH_TUNE_ORACLE = f"""
    WITH {_MINHASH_SIG_CTES},
    configs AS (SELECT * FROM (VALUES {", ".join(f"({b}, {r})" for b, r in _LSH_CONFIGS)}) AS t(bands, rows_per_band)),
    banded AS (
      SELECT c.bands, c.rows_per_band, s.doc_id,
             s.k // c.rows_per_band AS band,
             string_agg(s.mh, '|' ORDER BY s.mh) AS bkey
      FROM sig s CROSS JOIN configs c
      GROUP BY c.bands, c.rows_per_band, s.doc_id, s.k // c.rows_per_band
    ),
    buckets AS (
      SELECT bands, rows_per_band, band, bkey, COUNT(*) AS sz
      FROM banded GROUP BY bands, rows_per_band, band, bkey
    ),
    pairs AS (
      SELECT DISTINCT a.bands, a.rows_per_band,
             a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.bands = b.bands AND a.rows_per_band = b.rows_per_band
       AND a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT c.bands, c.rows_per_band,
           ROUND(power(1.0 / c.bands, 1.0 / c.rows_per_band), 6) AS s_threshold,
           COALESCE(bk.n_multi_buckets, 0) AS n_multi_buckets,
           COALESCE(p.n_candidate_pairs, 0) AS n_candidate_pairs
    FROM configs c
    LEFT JOIN (SELECT bands, rows_per_band, COUNT(*) AS n_multi_buckets
               FROM buckets WHERE sz >= 2 GROUP BY bands, rows_per_band) bk
      USING (bands, rows_per_band)
    LEFT JOIN (SELECT bands, rows_per_band, COUNT(*) AS n_candidate_pairs
               FROM pairs GROUP BY bands, rows_per_band) p
      USING (bands, rows_per_band)
    ORDER BY c.bands
"""


@register("llm_lsh_tuning_curve", _LSH_TUNE_ORACLE)
def llm_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding parameter sweep [public method: the (b, r) S-curve
    trade-off from Mining of Massive Datasets — collision threshold
    s* ≈ (1/b)^(1/r); more bands = lower threshold = more candidates].
    One K={_MINHASH_K} signature table (the llm_minhash_det
    construction) feeds every configuration; per config the sweep
    reports the theoretical threshold beside the MEASURED multi-doc
    bucket count and distinct candidate-pair volume — the table a
    dedup operator reads to pick banding before committing a 100 TB
    run (candidate volume is the cost driver; threshold is the recall
    driver).

    At 100 TB: signatures are computed once (map-side-combinable min);
    the config fan-out multiplies the SIGNATURE table (K rows/doc),
    not the corpus; banding is a groupBy on (config, doc, band) and
    candidates come from the (band, bkey) equi-self-join per config —
    bucket-bounded, never all-pairs, identical to the production
    near-dedup shape it tunes."""
    d = load_table(spark, sf_dir, "documents")
    # One signature build (the shared _minhash_sig_from chain) feeds all
    # three configs: checkpoint it.
    _, sig = _minhash_sig_from(d)
    sig = sig.transform(materialize)
    # VALUES through SQL plans as a JVM LocalRelation — createDataFrame
    # over a Python list would plan applySchemaToPythonRDD instead.
    configs = spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(f"({b}, {r})" for b, r in _LSH_CONFIGS)
        + " AS t(bands, rows_per_band)"
    )
    banded = (
        sig.crossJoin(configs)
        .groupBy(
            "bands",
            "rows_per_band",
            "doc_id",
            (F.col("k") / F.col("rows_per_band")).cast("int").alias("band"),
        )
        .agg(F.array_join(F.array_sort(F.collect_list("mh")), "|").alias("bkey"))
    )
    buckets = banded.groupBy("bands", "rows_per_band", "band", "bkey").agg(
        F.count(F.lit(1)).alias("sz")
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bands") == F.col("b.bands"))
            & (F.col("a.rows_per_band") == F.col("b.rows_per_band"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.bands").alias("bands"),
            F.col("a.rows_per_band").alias("rows_per_band"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    bk = (
        buckets.filter(F.col("sz") >= 2)
        .groupBy("bands", "rows_per_band")
        .agg(F.count(F.lit(1)).alias("n_multi_buckets"))
    )
    pc = pairs.groupBy("bands", "rows_per_band").agg(
        F.count(F.lit(1)).alias("n_candidate_pairs")
    )
    return (
        configs.join(bk, ["bands", "rows_per_band"], "left")
        .join(pc, ["bands", "rows_per_band"], "left")
        .select(
            "bands",
            "rows_per_band",
            F.round(
                F.pow(1.0 / F.col("bands"), 1.0 / F.col("rows_per_band")), 6
            ).alias("s_threshold"),
            F.coalesce("n_multi_buckets", F.lit(0)).alias("n_multi_buckets"),
            F.coalesce("n_candidate_pairs", F.lit(0)).alias("n_candidate_pairs"),
        )
        .orderBy("bands")
    )


# Dedup-methods Venn: token-level MinHash-verified pairs vs label-blocked
# embedding-cosine pairs (the llm_embed_neardup construction, cos >= 0.25).
_VENN_COS_TAU = 0.25

_VENN_ORACLE = f"""
    WITH {_MINHASH_CTES},
    tokpairs AS (SELECT doc_a, doc_b FROM verified),
    embpairs AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM embeddings a
      JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE ROUND(list_cosine_similarity(
                    list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                    list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6)
            >= {_VENN_COS_TAU}
    ),
    joined AS (
      SELECT COALESCE(t.doc_a, e.doc_a) AS doc_a,
             CAST(t.doc_a IS NOT NULL AS INT) AS in_token,
             CAST(e.doc_a IS NOT NULL AS INT) AS in_embed
      FROM tokpairs t
      FULL OUTER JOIN embpairs e
        ON e.doc_a = t.doc_a AND e.doc_b = t.doc_b
    )
    SELECT CAST(SUM(in_token * in_embed) AS BIGINT) AS n_both,
           CAST(SUM(in_token * (1 - in_embed)) AS BIGINT) AS n_token_only,
           CAST(SUM((1 - in_token) * in_embed) AS BIGINT) AS n_embed_only,
           ROUND(SUM(in_token * in_embed) * 1.0
                 / SUM(CASE WHEN in_token = 1 OR in_embed = 1 THEN 1 END), 6)
             AS jaccard_of_methods
    FROM joined
    """


@register("llm_dedup_method_venn", _VENN_ORACLE)
def llm_dedup_method_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-methods Venn audit [public practice: before trusting ONE
    near-dup definition at corpus scale, measure how the candidate
    sets of independent methods overlap — token-level MinHash-verified
    Jaccard pairs vs embedding-cosine pairs catch different duplicate
    phenomena (lexical rewrites vs semantic paraphrases), and the
    overlap Jaccard between the METHODS is the number that justifies
    running one, the other, or both]. Both pair sets reuse their
    production constructions (the llm_minhash_det pipeline; the
    label-blocked cosine join), canonicalized a<b, FULL OUTER joined
    on the pair key.

    At 100 TB: each leg is its own proven bucketed shape; the Venn
    join keys on (doc_a, doc_b) — pair-dimension sized, tiny relative
    to the corpus — and the scorecard is a 1-row reduce. The same
    audit slots in llm_shingle_containment or llm_semdedup as a third
    leg by unioning another pair frame."""
    from hive_test_spark.llm.similarity import _with_norm, cosine

    tok = _minhash_verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    e = _with_norm(load_table(spark, sf_dir, "embeddings"))
    a = e.select(
        F.col("vec_id").alias("e_a"),
        "label",
        F.col("embedding").alias("a_emb"),
        F.col("norm").alias("a_norm"),
    )
    b = e.select(
        F.col("vec_id").alias("e_b"),
        F.col("label").alias("b_label"),
        F.col("embedding").alias("b_emb"),
        F.col("norm").alias("b_norm"),
    )
    emb = (
        a.join(
            b,
            (F.col("label") == F.col("b_label")) & (F.col("e_a") < F.col("e_b")),
        )
        .select(
            "e_a",
            "e_b",
            F.round(
                cosine("a_emb", "b_emb") / (F.col("a_norm") * F.col("b_norm")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _VENN_COS_TAU)
        .select("e_a", "e_b")
    )
    joined = tok.withColumn("in_token", F.lit(1)).join(
        emb.withColumn("in_embed", F.lit(1)),
        (F.col("doc_a") == F.col("e_a")) & (F.col("doc_b") == F.col("e_b")),
        "full_outer",
    ).select(
        F.coalesce("in_token", F.lit(0)).alias("in_token"),
        F.coalesce("in_embed", F.lit(0)).alias("in_embed"),
    )
    both = F.sum(F.col("in_token") * F.col("in_embed"))
    return joined.agg(
        both.alias("n_both"),
        F.sum(F.col("in_token") * (1 - F.col("in_embed"))).alias("n_token_only"),
        F.sum((1 - F.col("in_token")) * F.col("in_embed")).alias("n_embed_only"),
        F.round(
            both
            / F.sum(
                F.when((F.col("in_token") == 1) | (F.col("in_embed") == 1), 1)
            ),
            6,
        ).alias("jaccard_of_methods"),
    )


# Near-dedup threshold sweep over the SAME candidate set.
_SWEEP_TAUS = (0.7, 0.8, 0.9, 0.95)

_DEDUP_SWEEP_ORACLE = f"""
    WITH {_MINHASH_SIG_CTES}, {_MINHASH_BANDS_CTE}, {_MINHASH_CAND_CTE},
    scored AS (
      SELECT c.doc_a, c.doc_b,
             ROUND(CAST(len(list_intersect(ta.tok, tb.tok)) AS DOUBLE)
                   / len(list_distinct(list_concat(ta.tok, tb.tok))), 6) AS jaccard
      FROM cand c
      JOIN toks ta ON ta.doc_id = c.doc_a
      JOIN toks tb ON tb.doc_id = c.doc_b
    ),
    taus AS (SELECT unnest(ARRAY{list(_SWEEP_TAUS)}) AS tau)
    SELECT t.tau,
           CAST(COUNT(CASE WHEN s.jaccard >= t.tau THEN 1 END) AS BIGINT)
             AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN s.jaccard >= t.tau THEN s.doc_b END)
                AS BIGINT) AS n_docs_dropped,
           ROUND(COUNT(DISTINCT CASE WHEN s.jaccard >= t.tau THEN s.doc_b END)
                 * 1.0 / (SELECT COUNT(*) FROM documents), 6) AS drop_share
    FROM taus t CROSS JOIN scored s
    GROUP BY t.tau
    ORDER BY t.tau
"""


@register("llm_dedup_threshold_sweep", _DEDUP_SWEEP_ORACLE)
def llm_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup threshold sensitivity sweep [public practice: before
    committing a Jaccard cutoff corpus-wide, price each candidate τ —
    pair volume, documents dropped (higher-id-loses convention), and
    corpus share lost — from ONE scored candidate table; the
    τ-selection companion of llm_lsh_tuning_curve's (b, r) sweep:
    that prices CANDIDATE GENERATION, this prices the VERIFY cut].
    Candidates and exact Jaccards compute once (the llm_minhash_det
    chain, unfiltered); the τ fan-out multiplies the PAIR table, not
    the corpus.

    At 100 TB: everything up to scoring is the proven banded shape;
    the sweep adds |τ|×pairs rows of integer/boolean work and a
    drop-count DISTINCT bounded by the duplicate population. A
    steepening drop_share between adjacent τ values is the signal the
    threshold sits on a duplicate-density cliff — exactly what you
    want to know before deleting 10% of a corpus."""
    d = load_table(spark, sf_dir, "documents")
    toks, mins = _minhash_wide(d)
    # Prefilter at the sweep's FLOOR tau with a rounding margin (see
    # size_ratio): a dropped pair has fl(jac) < 0.6999, so even its
    # ROUND(jac, 6) stays < 0.7 = min(_SWEEP_TAUS) and no tau row could
    # count it; every aggregate is unchanged.
    cand = minhash_candidates(mins, min(_SWEEP_TAUS) - 1e-4)
    jac = jaccard("tok_a", "tok_b", F.size("tok_a"), F.size("tok_b"))
    scored = (
        both_ends(cand, toks, sf_dir)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .transform(materialize)
    )
    taus = spark.sql(
        "SELECT CAST(tau AS DOUBLE) AS tau FROM VALUES "
        + ", ".join(f"({t!r})" for t in _SWEEP_TAUS)
        + " AS t(tau)"
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("total"))
    hit = F.when(F.col("jaccard") >= F.col("tau"), 1)
    hit_doc = F.when(F.col("jaccard") >= F.col("tau"), F.col("doc_b"))
    return (
        scored.crossJoin(taus)
        .groupBy("tau")
        .agg(
            F.count(hit).alias("n_pairs"),
            F.countDistinct(hit_doc).alias("n_docs_dropped"),
        )
        .crossJoin(n_docs)
        .select(
            "tau",
            "n_pairs",
            "n_docs_dropped",
            F.round(F.col("n_docs_dropped") / F.col("total"), 6).alias(
                "drop_share"
            ),
        )
        .orderBy("tau")
    )


_MH_EST_ORACLE = f"""
    WITH {_MINHASH_SIG_CTES}, {_MINHASH_BANDS_CTE}, {_MINHASH_CAND_CTE},
    est AS (
      SELECT c.doc_a, c.doc_b,
             ROUND(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)
                   * 1.0 / {_MINHASH_K}, 6) AS sig_estimate
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b AND sb.k = sa.k
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT e.doc_a, e.doc_b, e.sig_estimate,
           ROUND(CAST(len(list_intersect(ta.tok, tb.tok)) AS DOUBLE)
                 / len(list_distinct(list_concat(ta.tok, tb.tok))), 6)
             AS exact_jaccard,
           ROUND(e.sig_estimate
                 - CAST(len(list_intersect(ta.tok, tb.tok)) AS DOUBLE)
                   / len(list_distinct(list_concat(ta.tok, tb.tok))), 6)
             AS estimator_error
    FROM est e
    JOIN toks ta ON ta.doc_id = e.doc_a
    JOIN toks tb ON tb.doc_id = e.doc_b
    ORDER BY e.doc_a, e.doc_b
"""


@register("llm_minhash_estimator_error", _MH_EST_ORACLE)
def llm_minhash_estimator_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator-accuracy audit [public method: the matching-
    minhash fraction IS an unbiased Jaccard estimator (P[min agrees] =
    J), with sd √(J(1−J)/K) at K={_MINHASH_K} — before a pipeline
    replaces exact verification with the signature estimate (saving
    the token-array join entirely), it measures the estimator error on
    real candidate pairs]. For every LSH candidate pair: the
    signature-match fraction, the exact Jaccard, and the signed error
    — at K=16, |error| beyond ~3·√(J(1−J)/16) ≈ 0.37 would indicate a
    broken hash family. The audit also surfaces POST-SELECTION bias:
    the estimator is unbiased unconditionally, but candidate pairs
    are selected BECAUSE a band matched, which conditions on
    signatures agreeing — the measured mean error is positive (~+0.04
    on the fixture), the quantified warning against reading
    LSH-selected estimates as unbiased Jaccards.

    At 100 TB: the signature attach is a doc_id-keyed join of the WIDE
    (one row, K columns) signature table — candidate-bounded like every
    stage of the chain, no K× row blow-up; the exact leg exists only
    for the audit and is exactly the cost the estimator would remove."""
    d = load_table(spark, sf_dir, "documents")
    toks, mins = _minhash_wide(d)
    toks = toks.transform(materialize)
    mins = mins.transform(materialize)
    cand = bucket_pairs(
        _bands_from_wide(mins), ["band", "bkey"], "doc_id", ("doc_a", "doc_b")
    ).distinct()
    # r12 (guide §2.3): the match fraction compares the K signature
    # COLUMNS of the wide frame row-to-row — one row per pair — instead
    # of exploding each pair into K (doc, k, mh) rows, joining twice and
    # re-grouping (a K× row blow-up and a shuffle for the same sum of
    # indicators; measured 40 s → 11 s at sf0.1). Same integer match
    # count, same /K double division, bitwise-identical estimate.
    n_match = sum(
        F.when(F.col(f"m{k}_a") == F.col(f"m{k}_b"), 1).otherwise(0)
        for k in range(_MINHASH_K)
    )
    est = both_ends(cand, mins.drop("n"), sf_dir).select(
        "doc_a",
        "doc_b",
        F.round(n_match / F.lit(float(_MINHASH_K)), 6).alias("sig_estimate"),
    )
    exact = jaccard("tok_a", "tok_b", F.size("tok_a"), F.size("tok_b"))
    return (
        both_ends(est, toks, sf_dir)
        .select(
            "doc_a",
            "doc_b",
            "sig_estimate",
            F.round(exact, 6).alias("exact_jaccard"),
            F.round(F.col("sig_estimate") - exact, 6).alias("estimator_error"),
        )
        .orderBy("doc_a", "doc_b")
    )


_DUP_BY_SRC_ORACLE = f"""
    WITH {_MINHASH_CTES},
    dup_docs AS (
      SELECT doc_a AS doc_id FROM verified
      UNION
      SELECT doc_b FROM verified
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(COUNT(dd.doc_id) AS BIGINT) AS n_in_dup_pair,
           ROUND(COUNT(dd.doc_id) * 1.0 / COUNT(*), 6) AS dup_rate
    FROM documents d
    LEFT JOIN dup_docs dd ON dd.doc_id = d.doc_id
    GROUP BY d.source
    ORDER BY d.source
"""


@register("llm_dup_rate_by_source", _DUP_BY_SRC_ORACLE)
def llm_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication concentration by source [public practice: the
    actionable output of a dedup run is rarely the pair list — it is
    WHICH SOURCES the duplication concentrates in, because "drop or
    down-weight src17" is a one-line policy where per-pair deletion is
    a pipeline; the same report drives crawl-frontier and licensing
    decisions]. Docs appearing in any MinHash-verified pair (the
    production τ=0.9 cut) mark as duplicated; a per-source rollup
    reports the rate — sources far above the corpus base rate are the
    boilerplate/mirror suspects.

    At 100 TB: the verified-pair chain is the proven bucketed shape;
    the doc-mark UNION is pair-dimension sized and the source rollup
    is a left-join + combinable count on the doc key. Feeds
    llm_domain_cap (the enforcement half) and llm_dataset_mix (the
    reweighting half)."""
    pairs = _minhash_verified_pairs(spark, sf_dir)
    dup_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        d.join(dup_docs, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("is_dup").alias("n_in_dup_pair"),
            F.round(F.count("is_dup") / F.count(F.lit(1)), 6).alias("dup_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Soft dedup: down-weight near-duplicates instead of dropping them
# ---------------------------------------------------------------------------


@register(
    "llm_soft_dedup_weights",
    f"""
    WITH RECURSIVE {_CLUSTER_CTES},
    sizes AS (
      SELECT cluster_id, COUNT(*) AS cluster_size
      FROM labels GROUP BY cluster_id
    )
    SELECT l.doc_id, d.source, l.cluster_id,
           CAST(s.cluster_size AS BIGINT) AS cluster_size,
           ROUND(1.0 / s.cluster_size, 6) AS weight
    FROM labels l
    JOIN sizes s ON s.cluster_id = l.cluster_id
    JOIN documents d ON d.doc_id = l.doc_id
    ORDER BY l.doc_id
    """,
)
def llm_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication: keep every document but down-weight near-dup
    cluster members to weight = 1/cluster_size, so each cluster
    contributes one document's worth of training mass [public method:
    sampling-weight dedup as in SoftDeDup (arXiv 2024) and the
    cluster-reweighting alternative to hard removal discussed in
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al. 2022) — hard dedup is the degenerate weight {{1 for the
    representative, 0 otherwise}}]. Downstream, `llm_pack_sequences` /
    `llm_dataset_mix` consume the weight column as a sampling
    multiplier instead of filtering on is_representative.

    Built on the SAME verified near-dup clusters as llm_dedup_clusters
    (min-label-propagation CC over MinHash-LSH candidates verified by
    exact Jaccard), so hard and soft dedup can never disagree about
    what a duplicate is.

    At 100 TB: cluster sizes are one map-side-combinable count on
    cluster_id; the weight join is same-key and the doc-metadata join
    is on doc_id (the storage key). Beyond the CC labels the op adds
    ONE shuffle. Weights are exact reciprocals of integers, rounded at
    emission — engine-independent by construction."""
    labels = llm_dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        labels.join(sizes, "cluster_id")
        .join(d, "doc_id")
        .select(
            "doc_id",
            "source",
            "cluster_id",
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.round(1.0 / F.col("cluster_size"), 6).alias("weight"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Cluster-density audit: how much does CC chain-inflate the clusters?
# ---------------------------------------------------------------------------


@register(
    "llm_cluster_density_audit",
    f"""
    WITH RECURSIVE {_CLUSTER_CTES},
    sizes AS (
      SELECT cluster_id, COUNT(*) AS sz FROM labels GROUP BY cluster_id
    ),
    pair_home AS (
      SELECT la.cluster_id, COUNT(*) AS n_pairs
      FROM verified v
      JOIN labels la ON la.doc_id = v.doc_a
      GROUP BY la.cluster_id
    )
    SELECT s.sz AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(COALESCE(p.n_pairs, 0)) AS BIGINT) AS verified_pairs,
           CAST(SUM(s.sz * (s.sz - 1) / 2) AS BIGINT) AS possible_pairs,
           ROUND(SUM(COALESCE(p.n_pairs, 0)) * 1.0
                 / NULLIF(SUM(s.sz * (s.sz - 1) / 2), 0), 6) AS density
    FROM sizes s LEFT JOIN pair_home p ON p.cluster_id = s.cluster_id
    WHERE s.sz >= 2
    GROUP BY s.sz
    ORDER BY s.sz
    """,
)
def llm_cluster_density_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-inflation audit of the CC dedup clusters [public method:
    connected components is TRANSITIVE but near-duplicate similarity is
    NOT — A~B and B~C do not imply A~C, so CC clusters can chain
    unrelated documents through intermediates. The standard diagnostic
    is edge density: verified pairs observed per cluster vs C(size, 2)
    possible. Density 1.0 = clique (every member is a verified near-dup
    of every other — safe to drop all but one); low density at large
    sizes = chaining (a destructive dedup would remove documents never
    actually verified similar to their cluster representative)].
    Reported per cluster size on the SAME labels + verified pairs as
    llm_dedup_clusters, so the audit prices exactly the clusters the
    dedup would act on.

    Both endpoints of a verified pair share a cluster by construction
    (CC is built from these edges), so homing each pair by doc_a alone
    is exact, not an approximation.

    At 100 TB: two joins keyed on doc_id/cluster_id over the (already
    bounded) verified-pair set and the label table, then a rollup on
    the tiny cluster-size domain — nothing quadratic beyond what the
    LSH candidate generation already bounded."""
    # ONE verified-pairs pass (r12): checkpointed, then shared by the CC
    # labels and the density numerator — previously the whole candidate
    # + verify chain ran twice (once inside llm_dedup_clusters, once
    # here).
    pairs = (
        _minhash_verified_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .transform(materialize)
    )
    labels = _cluster_labels_from(spark, sf_dir, pairs).select(
        "doc_id", "cluster_id"
    )
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    pair_home = (
        pairs.join(
            labels.select(F.col("doc_id").alias("doc_a"), "cluster_id"), "doc_a"
        )
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    possible = F.col("sz") * (F.col("sz") - 1) / 2
    return (
        sizes.filter(F.col("sz") >= 2)
        .join(pair_home, "cluster_id", "left")
        .groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum(F.coalesce(F.col("n_pairs"), F.lit(0)))
            .cast("bigint")
            .alias("verified_pairs"),
            F.sum(possible).cast("bigint").alias("possible_pairs"),
            F.round(
                F.sum(F.coalesce(F.col("n_pairs"), F.lit(0)))
                / F.nullif(F.sum(possible), F.lit(0)),
                6,
            ).alias("density"),
        )
        .orderBy("cluster_size")
    )
