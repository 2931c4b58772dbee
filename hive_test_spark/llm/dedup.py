"""SURVEY.md §2.L (1/4) — deduplication operators for LLM data pipelines
(driver-mandated extension, BASELINE.json:6).

Exact dedup, exact Jaccard (small-scale oracle), MinHash-LSH near-dedup,
and SimHash fingerprint dedup over the `documents` table.

Scale notes (100 TB): exact dedup = one hash-shuffle on the digest.
MinHash-LSH is the linear-scale near-dup path: shingle → minhash
signatures → band-bucket join (candidates only) — never the O(n²)
all-pairs join; the exact-Jaccard operator exists as its correctness
oracle on fixture scale and is itself blocked by a token-prefix key at
scale. SimHash reduces each doc to one 48-bit integer whose buckets
(exact-match or low-Hamming) are shuffle keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_test_spark.io import load_table, materialize, side
from hive_test_spark.llm.pipeline import both_ends, bucket_pairs, jaccard, size_ratio
from hive_test_spark.registry import register, register_sql
from hive_test_spark.session import fanout, tune


# Exact/normalized dedup: md5 of normalized text, keep lowest doc_id
# per digest (deterministic winner — not dropDuplicates, whose survivor
# is partition-order-dependent).
#
# Shape: GROUP BY digest with MIN rather than a ROW_NUMBER() window —
# the aggregate gets a map-side partial combine (each partition emits at
# most one row per digest before the shuffle), where the window variant
# must shuffle *every* row and sort each hash partition. At 100 TB
# that's the difference between shuffling unique-digest counts and
# shuffling the whole corpus.
register_sql(
    "llm_exact_dedup",
    """
    SELECT min(doc_id) AS doc_id, md5(lower(trim(text))) AS content_hash
    FROM {documents}
    GROUP BY md5(lower(trim(text)))
    """,
)


# Threshold chosen so the fixture vocabulary (small shared word pool,
# FIXTURES.md documents.text) yields a non-trivial but bounded pair set.
JACCARD_THRESHOLD = 0.5


@register(
    "llm_jaccard_exact",
    """
    WITH toks AS (
      SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.tok, b.tok))), 6) AS jaccard
    FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
          / len(list_distinct(list_concat(a.tok, b.tok))) >= 0.5
    """,
)
def llm_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram/token Jaccard similarity pairs (≥ 0.5). All-pairs is
    intentional here: it is the ground-truth oracle for the LSH variant;
    the scale path IS llm_near_dedup_minhash.

    Two execution notes that keep even the fixture-scale gate honest
    (they cut the sf0.1 smoke from a 120 s timeout to seconds without
    changing a single output value):
    - the streamed side of the nested-loop join is repartitioned: the
      corpus arrives as ONE parquet split at fixture scale, which would
      pin the entire O(N^2) loop to a single core;
    - |A∪B| computes as |A| + |B| − |A∩B| from sizes precomputed once
      per doc (the arrays are distinct, so this is an identity), instead
      of materializing array_distinct(concat(...)) per PAIR — that was
      half the per-pair array work."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.array_sort(F.array_distinct(F.split(F.col("text"), " "))).alias("tok"),
    ).withColumn("n", F.size("tok"))
    a = toks.repartition(fanout(spark)).alias("a")
    b = toks.alias("b")
    jac = jaccard(F.col("a.tok"), F.col("b.tok"), F.col("a.n"), F.col("b.n"))
    # The size_ratio prefilter skips the O(|A|+|B|) array_intersect for
    # size-mismatched pairs and never drops a kept pair (see size_ratio).
    ratio = size_ratio(F.col("a.n"), F.col("b.n"))
    # All three predicates live IN the join condition, cheapest first
    # (r13, guide §1.2 per-task work): written as chained .filter()s the
    # optimizer AND-ed them into the nested-loop condition with the
    # array-intersect Jaccard evaluated BEFORE the doc_id ordering test,
    # so the per-pair array work ran for BOTH orderings of every pair.
    # Explicit conjunct order (id test → 2-int ratio → arrays) halves
    # the intersect evaluations; measured 9.8 s → 6.0 s at sf0.1, same
    # 8 926 373 rows. The order is empirical, measured on Spark 4.1: the
    # optimizer does not guarantee to keep conjuncts as written, so
    # re-measure after a Spark upgrade. The jac conjunct still compares
    # the UNROUNDED value, exactly as the oracle's WHERE does — filtering
    # the rounded column would admit pairs in [tau - 5e-7, tau) that
    # DuckDB drops.
    return (
        a.join(
            b,
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (ratio >= JACCARD_THRESHOLD)
            & (jac >= JACCARD_THRESHOLD),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


def minhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs (spark.ml hash family):
    tokens → HashingTF set-vectors → MinHashLSH signatures → bucket
    equi-join → feature-space Jaccard rescore keeping distance < 0.5
    (i.e. similarity > 0.5).

    This computes EXACTLY the set `MinHashLSH.approxSimilarityJoin`
    would return (same seeded signatures, same OR-amplified bucket
    collision rule, same binary-vector Jaccard distance, same strict
    threshold) but schedules it the way a 100 TB run must:

    - candidate generation is SINGLE-SIDED over (doc_id, table,
      hashval) buckets — three scalars plus a size — where
      approxSimilarityJoin drags both 2^16-dim feature vectors through
      an explode-join and evaluates keyDistance per COLLISION row. On a
      dup-heavy corpus (this fixture: ~124M bucket collisions at sf0.1)
      that is the difference between a bounded bucket explode and a
      >9-minute timeout;
    - a value-identical size-ratio prefilter runs at pair-emission
      time, then candidate pairs DISTINCT, then rescore once per PAIR,
      not once per collision (OR-amplification makes near-dup pairs
      collide in up to all 8 tables);
    - the rescore is in FEATURE space, like keyDistance: each doc's
      active HashingTF indices are recovered by hashing the VOCAB (a
      distinct over tokens, joined back token→bucket), so
      |A∩B|/|A∪B| over bucket sets equals the binary-vector Jaccard
      bit-for-bit, HashingTF collisions included. No driver collect,
      no Python UDF; the vocab map is an equi-join (broadcast here,
      shuffle-join at web-scale vocabularies).

    Returns (doc_a, doc_b, est_jaccard) with doc_a < doc_b; the pair
    SET depends on the seeded permutations, which is why the registered
    query aggregates it to seed-independent properties instead of
    emitting it raw."""
    from pyspark.ml.feature import HashingTF, MinHashLSH
    from pyspark.ml.functions import vector_to_array

    tune(spark)
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.array_distinct(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.size("tok") > 0)
    tf = HashingTF(inputCol="tok", outputCol="features", numFeatures=1 << 16, binary=True)
    feat = tf.transform(toks)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feat)

    # Per-doc LSH signature rows: (doc_id, table, hashval) — the slim
    # join key approxSimilarityJoin never exposes.
    sigs = (
        model.transform(feat)
        .select("doc_id", F.posexplode("hashes").alias("t", "hv"))
        .select("doc_id", "t", vector_to_array("hv").getItem(0).alias("hval"))
    )

    # token → HashingTF bucket map, built by HashingTF itself over the
    # vocabulary (exactness: SQL hash() is NOT HashingTF's murmur3).
    # The bucket is read from the SPARSE vector's index list (a 1-token
    # array hashes to exactly one active index), NOT by densifying to a
    # 2^16-element array per vocab row — O(1) per token instead of
    # O(numFeatures) (~512 KB transient per token), which is what keeps
    # the map viable at web-scale vocabularies.
    vocab = toks.select(F.explode("tok").alias("t")).distinct()
    vmap = (
        tf.transform(vocab.select(F.array("t").alias("tok"), "t"))
        .select(
            "t",
            F.unwrap_udt("features").getField("indices").getItem(0).alias("bucket"),
        )
    )
    bkts = (
        toks.select("doc_id", F.explode("tok").alias("t"))
        # Size-gated (r13): the vocab map spans the corpus vocabulary —
        # broadcast at fixture scale, shuffle join at web-scale vocab
        # (the docstring's schedule).
        .join(side(vmap, sf_dir, "documents"), "t")
        .groupBy("doc_id")
        .agg(F.collect_set("bucket").alias("bkt"))
        .withColumn("nb", F.size("bkt"))
    )

    # Candidate pairs from the (table, hashval) buckets (see
    # pipeline.bucket_pairs for the single-sided shape). Carrying nb
    # (the doc's distinct-HashingTF-bucket count — the same quantity the
    # rescore's na/nb uses) lets the size_ratio prefilter run BEFORE the
    # distinct. It shares the rescore's threshold: if one moves, the
    # other must move with it or candidates would be silently dropped.
    cand = (
        bucket_pairs(
            sigs.join(bkts.select("doc_id", "nb"), "doc_id"),
            ["t", "hval"],
            F.struct("doc_id", "nb"),
        )
        .filter(size_ratio(F.col("a.nb"), F.col("b.nb")) > JACCARD_THRESHOLD)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ba = bkts.select(
        F.col("doc_id").alias("doc_a"), F.col("bkt").alias("bkt_a"), F.col("nb").alias("na")
    )
    bb = bkts.select(
        F.col("doc_id").alias("doc_b"), F.col("bkt").alias("bkt_b"), F.col("nb").alias("nb")
    )
    fjac = jaccard("bkt_a", "bkt_b", F.col("na"), F.col("nb"))
    # No broadcast hints: the bucket-set tables span the ENTIRE corpus,
    # so at 100 TB these are doc_id-keyed shuffle joins (the schedule the
    # docstring describes); at fixture scale AQE auto-broadcasts the tiny
    # build sides on its own. A forced F.broadcast here would pin a
    # corpus-wide table to the driver at any real scale.
    return (
        cand.join(ba, "doc_a")
        .join(bb, "doc_b")
        .filter(fjac > JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(fjac, 6).alias("est_jaccard"))
    )


@register(
    "llm_near_dedup_minhash",
    f"""
    WITH toks AS (
      SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ),
    true_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
               / len(list_distinct(list_concat(a.tok, b.tok))) AS jac
      FROM toks a JOIN toks b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
            / len(list_distinct(list_concat(a.tok, b.tok))) > {JACCARD_THRESHOLD}
    )
    SELECT COUNT(*) AS n_true_pairs,
           ROUND(MIN(jac), 6) AS min_true_jaccard,
           ROUND(MAX(jac), 6) AS max_true_jaccard,
           TRUE AS candidates_all_true,
           TRUE AS recall_ok
    FROM true_pairs
    """,
)
def llm_near_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dedup, driver-hardened to a PROPERTY oracle (the
    same graduation agg_approx_distinct got in round 4): the raw LSH
    candidate-pair set can never hash-match an oracle (it depends on the
    seeded minhash permutations), so the ORACLED contract is the pair of
    guarantees LSH actually makes, checked in-query over the REAL
    candidate output and emitted next to exact, engine-independent
    ground-truth stats:

    - `candidates_all_true`: every emitted candidate pair truly has
      token Jaccard above threshold (precision — approxSimilarityJoin
      rescored on the raw token sets, with a small tolerance for
      HashingTF bucket collisions);
    - `recall_ok`: the candidates cover ≥ 90% of the exact
      strictly-above-threshold pairs (with 8 OR-amplified hash tables a
      pair at s=0.5 is missed with probability (1-s)^8 ≈ 0.4%);
    - `n_true_pairs` / `min|max_true_jaccard`: exact all-pairs ground
      truth both engines compute identically.

    The exact all-pairs leg is the FIXTURE-SCALE acceptance gate (the
    same pattern as llm_ann_recall); at 100 TB only the LSH leg runs —
    signatures per-row, band-bucket equi-join, rescore candidates only."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.array_distinct(F.split(F.col("text"), " ")).alias("tok"),
    ).withColumn("n", F.size("tok"))
    # Same two exactness-preserving speedups as llm_jaccard_exact: spread
    # the single-split streamed side across cores, and derive |A∪B| from
    # per-doc sizes instead of a per-pair array_distinct(concat(...)).
    a, b = toks.repartition(fanout(spark)).alias("a"), toks.alias("b")
    jac = jaccard(F.col("a.tok"), F.col("b.tok"), F.col("a.n"), F.col("b.n"))
    # Strict threshold, strict prefilter (see size_ratio).
    ratio = size_ratio(F.col("a.n"), F.col("b.n"))
    # Conjuncts in the join condition, cheapest first (r13, same
    # rationale and measurement as llm_jaccard_exact: the optimizer's
    # own AND-ordering ran the array-intersect Jaccard before the
    # doc_id ordering test, paying the per-pair array work twice).
    truth = (
        a.join(
            b,
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (ratio > JACCARD_THRESHOLD)
            & (jac > JACCARD_THRESHOLD),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jac"),
        )
    )
    # Materialized once (r12): the candidate set feeds BOTH the
    # precision and the recall leg; without the checkpoint the subtree
    # is computed twice AND its post-rewrite static size estimate reads
    # tiny, so the planner broadcast-built the multi-million-row pair
    # set on both legs (measured 3× the op's old wall time). The
    # checkpoint gives the planner the relation's REAL size (too big to
    # broadcast) and cuts the double compute. Lifetime (ADVICE r12): the
    # checkpointed blocks are MEMORY_AND_DISK and are released by the
    # ContextCleaner once the returned frame is garbage-collected; under
    # storage pressure in a long shared session they degrade to disk,
    # not failure, so no explicit unpersist hook is threaded through.
    cand = minhash_candidate_pairs(spark, sf_dir).select(
        "doc_a", "doc_b"
    ).transform(materialize)

    # Precision leg: rescore every candidate on raw token sets. The
    # token tables are broadcast EXPLICITLY (r12): the checkpointed cand
    # is a LogicalRDD whose size estimate reads tiny, and without hints
    # the planner broadcast-built the multi-million-row PAIR side and
    # probed it from the corpus scan's single partition — the whole
    # rescore on one core (measured 106 s vs 2.4 s hinted at sf0.1).
    # The rescore is part of the 100 TB leg, where both_ends' size gates
    # flip to doc_id-keyed shuffled hash joins.
    cand_jac = both_ends(cand, toks.drop("n"), sf_dir).select(
        jaccard("tok_a", "tok_b", F.size("tok_a"), F.size("tok_b")).alias("token_jac")
    )
    precision = cand_jac.agg(
        F.coalesce(
            # 0.45 not 0.5: HashingTF bucket collisions can nudge the
            # feature-space Jaccard slightly above the token-space value.
            F.bool_and(F.col("token_jac") > JACCARD_THRESHOLD - 0.05),
            F.lit(True),
        ).alias("candidates_all_true")
    )

    # Recall leg + exact ground-truth stats in one aggregate. The hit
    # side carries a shuffle_hash hint (r12): its checkpoint stats read
    # tiny, and the default plan broadcast-built the multi-million-row
    # pair set (driver + every task holds it); a shuffled hash join on
    # the (doc_a, doc_b) key measures the same and keeps memory flat.
    hit = cand.withColumn("hit", F.lit(1)).hint("shuffle_hash")
    stats = (
        truth.join(hit, ["doc_a", "doc_b"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.round(F.min("jac"), 6).alias("min_true_jaccard"),
            F.round(F.max("jac"), 6).alias("max_true_jaccard"),
            (
                F.count("hit") >= F.lit(0.9) * F.count(F.lit(1))
            ).alias("recall_ok"),
        )
    )
    return stats.crossJoin(precision).select(
        "n_true_pairs", "min_true_jaccard", "max_true_jaccard",
        "candidates_all_true", "recall_ok",
    )


# 48-bit SimHash: md5-derived per-token hashes keep Spark and DuckDB in
# exact agreement (both have md5; 48 bits stays inside BIGINT).
_SIMHASH_BITS = 48


# The fingerprint derivation (token hash -> per-bit votes), shared by
# the llm_simhash exhibit and the llm_simhash_hamming banded index so
# the two can never drift (the _MINHASH_SIG_CTES single-source rule).
_DUCK_SIMHASH_PREFIX = f"""tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
      FROM documents
    ),
    tok_hash AS (
      SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 12)) AS BIGINT) AS h
      FROM tok
    ),
    bits AS (
      SELECT doc_id, b.bit,
             SUM(CASE WHEN (h // (CAST(1 AS BIGINT) << b.bit)) % 2 = 1 THEN 1 ELSE -1 END) AS score
      FROM tok_hash
      CROSS JOIN (SELECT unnest(range(0, {_SIMHASH_BITS})) AS bit) b
      GROUP BY doc_id, b.bit
    )"""

_DUCK_SIMHASH_FP = """SELECT doc_id,
           CAST(SUM(CASE WHEN score > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits
    GROUP BY doc_id"""


@register(
    "llm_simhash",
    f"""
    WITH {_DUCK_SIMHASH_PREFIX}
    {_DUCK_SIMHASH_FP}
    """,
)
def llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprint (48-bit): per-token md5-derived hash,
    per-bit ±1 vote, sign → bit. Near-dups share low-Hamming fingerprints.

    All JVM-side set math (explode + bit ops + two hash aggs) — at scale
    this is a linear pipeline; candidate pairing then joins on fingerprint
    prefixes (bucketed Hamming search — llm_simhash_hamming), not
    all-pairs.
    """
    return _simhash_frame(spark, sf_dir)


def _simhash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash): the Spark twin of _DUCK_SIMHASH_PREFIX +
    _DUCK_SIMHASH_FP — shared by the llm_simhash exhibit and the
    llm_simhash_hamming banded index.

    r13 WIDE form (the _minhash_wide trick, guide §2.3): the per-bit ±1
    votes are {_SIMHASH_BITS} parallel integer-sum columns over the
    UN-exploded token-hash rows — the old crossJoin(bits) ×48 row
    blow-up and its second aggregation never materialize. Values are
    bitwise identical: same md5-derived h per (doc, token), same
    additive vote per (doc, bit) (integer sums are order-independent),
    same sign → bit composition."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("t"))
    tok_hash = tok.select(
        "doc_id", F.conv(F.substring(F.md5("t"), 1, 12), 16, 10).cast("bigint").alias("h")
    )
    scored = tok_hash.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"shiftright(h, {b}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    simhash = None
    for b in range(_SIMHASH_BITS):
        term = F.when(
            F.col(f"s{b}") > 0, F.lit(1 << b).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        simhash = term if simhash is None else simhash + term
    return scored.select("doc_id", simhash.alias("simhash"))


# Banded Hamming search over the 48-bit fingerprints: 4 bands x 12 bits.
# Pigeonhole: a pair within Hamming radius 3 differs in at most 3 of the
# 4 bands, so at least one band matches EXACTLY — the band equi-join is
# a complete (recall-1.0) index for radius <= bands - 1.
_SH_BANDS = 4
_SH_BAND_BITS = _SIMHASH_BITS // _SH_BANDS
_SH_BAND_MASK = (1 << _SH_BAND_BITS) - 1
_SH_RADIUS = _SH_BANDS - 1


@register(
    "llm_simhash_hamming",
    f"""
    WITH {_DUCK_SIMHASH_PREFIX},
    sim AS ({_DUCK_SIMHASH_FP}),
    bands AS (
      SELECT doc_id, simhash, b.band,
             (simhash >> (b.band * {_SH_BAND_BITS})) & {_SH_BAND_MASK} AS bval
      FROM sim CROSS JOIN (SELECT unnest(range(0, {_SH_BANDS})) AS band) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS fa, b.simhash AS fb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(fa, fb)) <= {_SH_RADIUS}
    """,
)
def llm_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Hamming near-dup search over SimHash fingerprints [public
    method: Manku, Jain & Das Sarma 2007 — Google's web-crawl
    near-dedup: split each f-bit fingerprint into B bands, bucket on
    each band's exact value, and verify only bucket collisions; the
    pigeonhole principle makes the index COMPLETE for Hamming radius
    B-1]. Completes the SimHash path the llm_simhash docstring
    promises: fingerprints ({_SIMHASH_BITS}-bit, shared builder
    _simhash_frame / _DUCK_SIMHASH_PREFIX so exhibit and index cannot
    drift) explode to {_SH_BANDS} (band, 12-bit value) keys; the
    candidate self-join is EQUI on (band, bval); verification is one
    integer bit_count(fa XOR fb) <= {_SH_RADIUS} per DISTINCT pair —
    no token arrays are ever re-joined (the structural contrast with
    llm_minhash_det, whose verification re-reads content).

    At 100 TB: the fingerprint table is 16 bytes/doc; the band
    explode is x{_SH_BANDS}; the self-join shuffles on the band key
    (hot boilerplate buckets are AQE skew-split shape, as in the
    minhash index); verification is pure integer codegen riding the
    join output — the cheapest near-dup verify in the whole dedup
    deck. Radius {_SH_RADIUS} of {_SIMHASH_BITS} bits ~= 94% bit
    agreement, the standard crawl-dedup operating point."""
    sim = _simhash_frame(spark, sf_dir)
    bands = sim.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(_SH_BANDS - 1))).alias("band"),
    ).select(
        "doc_id",
        "simhash",
        "band",
        F.expr(
            f"shiftright(simhash, band * {_SH_BAND_BITS}) & {_SH_BAND_MASK}"
        ).alias("bval"),
    )
    # Candidate pairs from the (band, bval) buckets (see
    # pipeline.bucket_pairs): the (doc_id, simhash) structs sort by
    # doc_id, so a < b holds per emission.
    cand = (
        bucket_pairs(bands, ["band", "bval"], F.struct("doc_id", "simhash"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("fa"),
            F.col("b.simhash").alias("fb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.expr("fa ^ fb"))
    return cand.filter(ham <= _SH_RADIUS).select(
        "doc_a", "doc_b", ham.cast("int").alias("hamming")
    )


# Canonical-document selection [public method: every dedup pipeline
# keeps ONE representative per duplicate group — C4/RefinedWeb keep by
# heuristic preference, not arbitrarily]: group exact duplicates by
# normalized-text hash, elect the survivor deterministically (longest
# text, then lowest doc_id — never "first seen", which is
# partition-order-dependent and breaks re-run reproducibility), and
# report each multi-copy group's survivor. llm_exact_dedup counts
# copies; this op makes the KEEP decision a writer consumes.
#
# The fixture's texts are all distinct, which would make this a 0-row
# vacuous pass (the trap documented in curation.py and avoided in
# llm_cross_dedup) — so a deterministic "re-crawl" twin of every 7th
# doc is injected (same normalized text via trailing whitespace,
# n_chars + 2), and the election provably picks it: longest text
# wins, exercising the survivor rule on every group.
#
# Scale shape: one shuffle on the 128-bit group hash (uniform by
# construction — no skew beyond true duplicate mass), ranking window
# and group count ride that same partitioning (single exchange
# total). At 100 TB the survivor election is exactly this plan over
# the hash-bucketed corpus.
register_sql(
    "llm_dedup_canonical",
    """
    WITH docs AS (
      SELECT doc_id, source, n_chars, text FROM {documents}
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, 'recrawl' AS source,
             n_chars + 2 AS n_chars, text || '  ' AS text
      FROM {documents} WHERE doc_id % 7 = 0
    ),
    keyed AS (
      SELECT doc_id, source, n_chars,
             md5(lower(trim(text))) AS grp
      FROM docs
    ),
    ranked AS (
      SELECT doc_id, source, n_chars, grp,
             ROW_NUMBER() OVER (PARTITION BY grp
                                ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY grp) AS n_copies
      FROM keyed
    )
    SELECT grp, n_copies,
           doc_id AS survivor_doc_id,
           source AS survivor_source,
           n_chars AS survivor_chars
    FROM ranked WHERE rn = 1 AND n_copies > 1
    """,
)


_CROSS_DEDUP_SPLIT = 250  # doc_id < split = existing corpus; rest = batch


@register(
    "llm_cross_dedup",
    f"""
    WITH corpus AS (
      SELECT DISTINCT md5(lower(trim(text))) AS content_hash
      FROM documents WHERE doc_id < {_CROSS_DEDUP_SPLIT}),
    incoming AS (
      SELECT doc_id, text FROM documents WHERE doc_id >= {_CROSS_DEDUP_SPLIT}
      UNION ALL
      SELECT doc_id + 1000 AS doc_id, text FROM documents WHERE doc_id < 50),
    batch AS (
      SELECT MIN(doc_id) AS doc_id, md5(lower(trim(text))) AS content_hash
      FROM incoming
      GROUP BY md5(lower(trim(text))))
    SELECT b.doc_id, b.content_hash
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM corpus c
                      WHERE c.content_hash = b.content_hash)
    ORDER BY doc_id
    """,
)
def llm_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-corpus) dedup — THE production dedup shape: a
    new ingest batch is deduped against the ALREADY-CURATED corpus, not
    the corpus against itself. Fixture split: doc_id < 250 plays the
    existing corpus, the rest the incoming batch — PLUS 50 injected
    re-crawls of corpus docs under shifted ids (doc_id + 1000), so the
    anti-join provably removes them (all 500 fixture texts are distinct;
    without the injection the cross-check would pass vacuously).
    Survivors are batch docs whose normalized digest is new; within-
    batch duplicates collapse to the lowest doc_id.

    Shape: within-batch groupBy(digest).min — map-side combinable —
    then LEFT ANTI against the corpus digest set; both anti sides are
    digest-sized, never document-sized. At 100 TB the corpus digest set
    lives as its own compact table (append survivors each ingest, never
    recompute), the anti-join shuffles digests only, and a bloom filter
    built from the corpus side (see scale_bloom_filter) prefilters the
    batch before the shuffle when the corpus is orders of magnitude
    larger than the batch — the incremental property is what makes
    dedup affordable per-ingest instead of per-corpus."""
    d = load_table(spark, sf_dir, "documents")
    digest = F.md5(F.lower(F.trim(F.col("text"))))
    corpus = (
        d.filter(F.col("doc_id") < _CROSS_DEDUP_SPLIT)
        .select(digest.alias("content_hash"))
        .distinct()
    )
    incoming = d.filter(F.col("doc_id") >= _CROSS_DEDUP_SPLIT).select(
        "doc_id", "text"
    ).unionAll(
        d.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 1000).alias("doc_id"), "text"
        )
    )
    batch = incoming.groupBy(digest.alias("content_hash")).agg(
        F.min("doc_id").alias("doc_id")
    )
    return (
        batch.join(corpus, "content_hash", "left_anti")
        .select("doc_id", "content_hash")
        .orderBy("doc_id")
    )


# Digest-collision audit for the hash keys the dedup family trusts:
# per source, count documents, distinct digests, and COLLISIONS —
# digests shared by documents with DIFFERENT text (md5 collisions or,
# the operationally common cause, a buggy normalization upstream
# hashing distinct docs identically). llm_exact_dedup and
# llm_cross_dedup treat digest equality as text equality; this is the
# audit that makes that assumption a checked invariant instead of
# faith. Expected collisions = 0, but the output keeps full per-source
# counts so the zero is pinned inside non-vacuous rows (the 0-row
# vacuous-pass trap from SURVEY §5).
#
# At 100 TB: two chained aggregations, both keyed on (source, digest)
# then source — map-side combinable, no joins, no all-pairs anything;
# COUNT(DISTINCT text) inside a digest group only ever sees the
# handful of rows sharing a 128-bit digest. Run it per ingest batch;
# alert on n_collisions > 0.
register_sql(
    "llm_collision_audit",
    """
    WITH digests AS (
      SELECT source, md5(text) AS digest, text FROM {documents}
    )
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_digests,
           CAST(SUM(n_texts - 1) AS BIGINT) AS n_collisions
    FROM (
      SELECT source, digest, COUNT(DISTINCT text) AS n_texts, COUNT(*) AS n
      FROM digests GROUP BY source, digest
    ) per_digest
    GROUP BY source
""",
)


# Containment detection: shingle width, rare-shingle blocking band, and
# the report threshold on max directional containment.
_CONT_W = 3
_CONT_DF_MAX = 4
_CONT_TAU = 0.6


@register(
    "llm_shingle_containment",
    f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, len(string_split(text, ' ')) - {_CONT_W - 1}),
               i -> array_to_string(string_split(text, ' ')[i:i+{_CONT_W - 1}], ' ')
             )) AS shingles
      FROM documents
      WHERE len(string_split(text, ' ')) >= {_CONT_W}
    ),
    posting AS (
      SELECT doc_id, unnest(shingles) AS g FROM sh
    ),
    df AS (
      SELECT g, COUNT(*) AS docfreq FROM posting GROUP BY g
    ),
    rare AS (
      SELECT p.doc_id, p.g FROM posting p JOIN df USING (g)
      WHERE df.docfreq BETWEEN 2 AND {_CONT_DF_MAX}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             len(sa.shingles) AS n_a, len(sb.shingles) AS n_b,
             len(list_intersect(sa.shingles, sb.shingles)) AS n_common
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, n_common,
           ROUND(CAST(n_common AS DOUBLE) / n_a, 6) AS containment_ab,
           ROUND(CAST(n_common AS DOUBLE) / n_b, 6) AS containment_ba,
           ROUND(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 6) AS jaccard
    FROM scored
    WHERE CAST(n_common AS DOUBLE) / LEAST(n_a, n_b) >= {_CONT_TAU}
    ORDER BY doc_a, doc_b
    """,
)
def llm_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment [public method: Broder 1997
    distinguishes RESEMBLANCE (Jaccard — what MinHash estimates) from
    CONTAINMENT |A∩B|/|A| — the quote/excerpt relation: a paragraph
    lifted into a larger document scores near-1 containment while its
    Jaccard stays low, so symmetric near-dup passes miss it]. {_CONT_W}-
    shingle sets per doc; candidates come from sharing a RARE shingle
    (corpus docfreq 2..{_CONT_DF_MAX}) — the blocking that bounds pair
    volume by Σ docfreq² over rare shingles, never doc×doc; both
    directional containments and the Jaccard are reported for pairs
    whose max containment clears {_CONT_TAU}.

    At 100 TB: postings and docfreq are the inverted-index shape
    (map-side combinable on the shingle key); the candidate join keys
    on rare shingles only — common boilerplate shingles never
    generate pairs, the opposite failure mode of LSH's hot buckets —
    and exact scoring touches candidate pairs alone (broadcast at
    this SF; doc-keyed shuffles at scale)."""
    d = load_table(spark, sf_dir, "documents")
    sh = d.filter(
        F.size(F.split("text", " ")) >= _CONT_W
    ).select(
        "doc_id",
        F.array_distinct(
            F.expr(
                f"transform(sequence(0, size(split(text, ' ')) - {_CONT_W}), "
                f"i -> concat_ws(' ', slice(split(text, ' '), i + 1, {_CONT_W})))"
            )
        ).alias("shingles"),
    ).transform(materialize)
    posting = sh.select("doc_id", F.explode("shingles").alias("g"))
    df = posting.groupBy("g").agg(F.count(F.lit(1)).alias("docfreq"))
    rare = posting.join(
        df.filter(F.col("docfreq").between(2, _CONT_DF_MAX)), "g"
    ).select("doc_id", "g")
    a, b = rare.alias("a"), rare.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    n_common = F.size(F.array_intersect("shingles_a", "shingles_b"))
    n_a, n_b = F.size("shingles_a"), F.size("shingles_b")
    return (
        both_ends(cand, sh, sf_dir)
        .select(
            "doc_a",
            "doc_b",
            n_common.alias("n_common"),
            n_a.alias("n_a"),
            n_b.alias("n_b"),
        )
        .filter(
            F.col("n_common").cast("double") / F.least("n_a", "n_b") >= _CONT_TAU
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(F.col("n_common").cast("double") / F.col("n_a"), 6).alias(
                "containment_ab"
            ),
            F.round(F.col("n_common").cast("double") / F.col("n_b"), 6).alias(
                "containment_ba"
            ),
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )
