"""SURVEY.md §2.M round-2 additions — corpus-curation operators a 100 TB
pretraining pipeline runs between raw crawl and tokenizer: benchmark
contamination detection, sequence packing, unigram-LM scoring, and
source-weighted dataset mixing.

Like llm/pipeline.py, every operator is DETERMINISTIC (md5-derived
pseudo-uniforms, never rand()) and DuckDB-oracle-verified. Determinism is
the operational requirement: re-running a mixing or packing stage on the
same snapshot must produce the identical training set, or checkpointed
downstream state (shard manifests, data orders) silently diverges.

Scale theme: contamination is a semi-join against a *bounded* benchmark
set (broadcast-able by construction); packing is windowed per shard so no
global sort exists; the unigram LM is two map-side-combinable aggregates
plus one vocabulary-keyed shuffle join (never broadcast — the llm_tfidf
lesson); mixing is a pure map with an aggregate on top.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_test_spark.io import load_table
from hive_test_spark.registry import register, register_sql

# 4-token shingles; benchmark probe set = every 53rd doc (deterministic,
# ~2% of corpus — the size class of a real eval suite vs a crawl). 5-grams
# at mod 97 flagged exactly 1 doc at sf0.01 — a vacuous-pass trap (the
# 0-row gotcha); 4/53 flags 18, a real report.
_NGRAM = 4
_PROBE_MOD = 53

# Packing: context length in whitespace tokens; shard count bounds window
# parallelism (at 100 TB this is #output shards, thousands).
_CTX_LEN = 512
_PACK_SHARDS = 8


@register(
    "llm_contamination",
    f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(lower(text), ' ') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, source, array_to_string(t[i:i+{_NGRAM - 1}], ' ') AS ng
      FROM (
        SELECT doc_id, source, t,
               unnest(generate_series(1, len(t) - {_NGRAM - 1})) AS i
        FROM toks WHERE len(t) >= {_NGRAM}
      )
    ),
    probe AS (
      SELECT DISTINCT doc_id AS p_id, ng FROM sh WHERE doc_id % {_PROBE_MOD} = 0
    ),
    train AS (
      SELECT doc_id, source, ng FROM sh WHERE doc_id % {_PROBE_MOD} <> 0
    )
    SELECT t.doc_id, t.source,
           COUNT(DISTINCT t.ng) AS n_shared_ngrams,
           COUNT(DISTINCT p.p_id) AS n_probes_hit
    FROM train t JOIN probe p USING (ng)
    GROUP BY t.doc_id, t.source
    """,
)
def llm_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan [public method: GPT-3 App. C / PaLM
    13-gram overlap decontamination]: flag training documents sharing any
    token n-gram with a held-out eval set (here {_NGRAM}-grams, probe set
    = doc_id % {_PROBE_MOD} == 0). Output = per-flagged-doc counts of
    shared n-grams and distinct probes hit — the report a curation run
    reviews before dropping/flagging.

    Spark-first: shingle via a JVM higher-order transform over
    sequence() (no Python), explode once, then an equi-join on the
    n-gram string. The probe side is broadcast BY CONSTRUCTION: eval
    suites are bounded (MBs) no matter how big the crawl is, so the join
    is map-side against 100 TB of train shingles — no shuffle of the big
    side at all. The n-gram count per doc is len(t) - k + 1, linear."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source", F.split(F.lower("text"), " ").alias("t"))
    sh = (
        toks.filter(F.size("t") >= _NGRAM)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (_NGRAM - 1)),
                    lambda i: F.array_join(F.slice("t", i, _NGRAM), " "),
                )
            ).alias("ng"),
        )
        .distinct()
    )
    probe = (
        sh.filter(F.col("doc_id") % _PROBE_MOD == 0)
        .select(F.col("doc_id").alias("p_id"), "ng")
        .distinct()
    )
    train = sh.filter(F.col("doc_id") % _PROBE_MOD != 0)
    return (
        train.join(F.broadcast(probe), "ng")
        .groupBy("doc_id", "source")
        .agg(
            F.countDistinct("ng").alias("n_shared_ngrams"),
            F.countDistinct("p_id").alias("n_probes_hit"),
        )
    )


@register(
    "llm_pack_sequences",
    f"""
    WITH tok AS (
      SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT shard, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM tok
    )
    SELECT shard,
           CAST(FLOOR((cum - n_tok) / {_CTX_LEN}.0) AS BIGINT) AS bin,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           ROUND(SUM(n_tok) / {_CTX_LEN}.0, 6) AS fill_ratio
    FROM c GROUP BY shard, bin
    """,
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing [public method: GPT-style pretraining packs docs
    into fixed-length context windows by streaming concatenation]: assign
    each doc to the {_CTX_LEN}-token bin where its first token lands
    (bin = floor(running_total_before_doc / ctx)), then report per-bin
    doc count and fill ratio — the packing manifest a shard writer
    consumes.

    Spark-first scale shape: the window is PARTITIONED BY shard
    (doc_id % {_PACK_SHARDS}), so there is no global total order — each
    shard packs independently in parallel, which is exactly how a
    1000-executor packing job must run (a single ORDER BY over 100 TB of
    docs would serialize on one reducer). Shard count becomes the output
    shard manifest; determinism comes from the (shard, doc_id) order."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = tok.withColumn("cum", F.sum("n_tok").over(w))
    return c.groupBy(
        "shard",
        F.floor((F.col("cum") - F.col("n_tok")) / float(_CTX_LEN)).alias("bin"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.round(F.sum("n_tok") / float(_CTX_LEN), 6).alias("fill_ratio"),
    )


@register(
    "llm_perplexity_proxy",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ),
    per_doc AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok
    ),
    corpus AS (
      SELECT tok, COUNT(*) AS ct FROM tok GROUP BY tok
    ),
    total AS (SELECT COUNT(*) AS t FROM tok)
    SELECT d.doc_id,
           CAST(SUM(d.c) AS BIGINT) AS n_tokens,
           ROUND(-SUM(d.c * ln(co.ct * 1.0 / total.t)) / SUM(d.c), 6) AS xent_nats
    FROM per_doc d JOIN corpus co USING (tok) CROSS JOIN total
    GROUP BY d.doc_id
    """,
)
def llm_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM cross-entropy per document [public method: CCNet /
    RedPajama quality signals score docs with a cheap LM; the unigram
    corpus model is the degenerate-but-useful baseline]: doc score =
    -(1/|d|) * sum_t c(t,d) * ln(p_corpus(t)). Low = stereotypical text,
    high = rare-token-heavy (gibberish or genuinely novel) — the ranking
    signal a quality-filter threshold consumes.

    Spark-first: two hash aggregates (per-doc-token and corpus-token,
    both map-side-combinable) + one join keyed on token. The corpus side
    is VOCABULARY-sized, so it is deliberately NOT broadcast (10^8+ terms
    at 100 TB — the llm_tfidf lesson); AQE may still choose broadcast at
    small scale. The corpus total is a 1-row plan, broadcast-crossed, not
    an eager .count() (no second pass over the data)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    per_doc = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    corpus = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("ct"))
    total = tok.agg(F.count(F.lit(1)).alias("t"))
    return (
        per_doc.join(corpus, "tok")
        .crossJoin(total)
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.round(
                -F.sum(F.col("c") * F.log(F.col("ct") / F.col("t"))) / F.sum("c"), 6
            ).alias("xent_nats"),
        )
    )


# The three-tier source weights shared by llm_dataset_mix (the sampler)
# and llm_token_budget (the planner) in BOTH renderings — one SQL CASE
# and one Column builder, so re-weighting a tier cannot decouple the
# planner from the sampler that realizes its plan.
_TIER_SQL = """CASE WHEN source IN ('src0','src1','src2','src3') THEN 1.0
                  WHEN source IN ('src4','src5','src6','src7','src8','src9') THEN 0.5
                  ELSE 0.2 END"""


def _tier_weight() -> "F.Column":
    return (
        F.when(F.col("source").isin("src0", "src1", "src2", "src3"), 1.0)
        .when(
            F.col("source").isin("src4", "src5", "src6", "src7", "src8", "src9"), 0.5
        )
        .otherwise(0.2)
    )


@register(
    "llm_dataset_mix",
    f"""
    WITH scored AS (
      SELECT source,
             {_TIER_SQL} AS target_rate,
             CAST(('0x' || substr(md5(concat(source, ':', CAST(doc_id AS VARCHAR))), 1, 4)) AS BIGINT)
               / 65536.0 AS u
      FROM documents
    )
    SELECT source, MIN(target_rate) AS target_rate,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (WHERE u < target_rate) AS n_kept,
           ROUND(COUNT(*) FILTER (WHERE u < target_rate) * 1.0 / COUNT(*), 6)
             AS achieved_rate
    FROM scored GROUP BY source
    """,
)
def llm_dataset_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted dataset mixing [public method: The Pile / Dolma mix
    corpora by per-source sampling weights]: keep each doc with
    probability target_rate(source), decided by a DETERMINISTIC
    md5-derived uniform in [0,1) keyed on (source, doc_id) — never
    rand(), so a re-run selects the identical training set and upsampling
    ratios are reproducible across the fleet. Output = the mixing report
    (target vs achieved rate per source).

    Spark-first: pure map (hash + compare) then one map-side-combinable
    aggregate; no shuffle of doc payloads, no skew (md5 uniformizes), and
    the same expression applied as a FILTER instead of a report is the
    production sampler. 16-bit hash slice keeps the uniform exact in both
    engines (no float64 precision loss)."""
    d = load_table(spark, sf_dir, "documents")
    rate = _tier_weight()
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", "source", F.col("doc_id").cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("long")
        / 65536.0
    )
    scored = d.select("source", rate.alias("target_rate"), u.alias("u"))
    return scored.groupBy("source").agg(
        F.min("target_rate").alias("target_rate"),
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("u") < F.col("target_rate"), 1)).alias("n_kept"),
        F.round(
            F.count(F.when(F.col("u") < F.col("target_rate"), 1)) / F.count(F.lit(1)),
            6,
        ).alias("achieved_rate"),
    )


_VOCAB_TIERS = (10, 50, 100, 500)


@register(
    "llm_vocab_coverage",
    f"""
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ),
    cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    total AS (SELECT SUM(c) AS t FROM cnt),
    ranked AS (
      SELECT tok, c,
             ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rnk,
             SUM(c) OVER (ORDER BY c DESC, tok ROWS UNBOUNDED PRECEDING) AS cum
      FROM cnt
    )
    SELECT k_tier,
           COUNT(*) AS n_types,
           CAST(MAX(cum) AS BIGINT) AS tokens_covered,
           ROUND(MAX(cum) * 1.0 / MAX(total.t), 6) AS coverage
    FROM ranked
    CROSS JOIN (VALUES {', '.join(f'({k})' for k in _VOCAB_TIERS)}) tiers(k_tier)
    CROSS JOIN total
    WHERE rnk <= k_tier
    GROUP BY k_tier
    """,
)
def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve [public method: the first report of any
    tokenizer build — what fraction of corpus token OCCURRENCES the
    top-K types cover (Zipf's law makes small K surprisingly high)]:
    rank types by frequency (deterministic tie-break on the token),
    running-coverage at each candidate vocab size {_VOCAB_TIERS}.
    The knee of this curve picks the vocab size; the tail IS the
    out-of-vocab rate.

    Spark-first: one map-side-combinable count, then a window over the
    VOCABULARY (not the corpus). The global ORDER BY c DESC is
    dimension-scale — fine to ~10^8 types; past that, range-partition
    by count bucket and rank within (the documented RFM/percent_rank
    rewrite). Tier membership is a broadcast 4-row cross — every tier
    reads the one ranked pass."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    cnt = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = cnt.agg(F.sum("c").alias("t"))
    w = Window.orderBy(F.col("c").desc(), "tok")
    ranked = cnt.select(
        "c",
        F.row_number().over(w).alias("rnk"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    tiers = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _VOCAB_TIERS])).alias("k_tier")
    )
    return (
        ranked.crossJoin(tiers)
        .crossJoin(total)
        .filter(F.col("rnk") <= F.col("k_tier"))
        .groupBy("k_tier")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.max("cum").alias("tokens_covered"),
            F.round(F.max("cum") / F.max("t"), 6).alias("coverage"),
        )
    )


_TEMP_ALPHA = 0.3


@register(
    "llm_sample_temperature",
    f"""
    WITH n AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
    p1 AS (
      SELECT source, n_docs,
             n_docs * 1.0 / SUM(n_docs) OVER () AS p_raw
      FROM n
    ),
    p AS (
      SELECT source, n_docs, p_raw,
             POW(p_raw, {_TEMP_ALPHA})
               / SUM(POW(p_raw, {_TEMP_ALPHA})) OVER () AS p_temp
      FROM p1
    )
    SELECT source, n_docs,
           ROUND(p_raw, 6) AS p_raw,
           ROUND(p_temp, 6) AS p_temp,
           ROUND(p_temp / p_raw, 6) AS upsample_factor
    FROM p
    """,
)
def llm_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights [public method:
    multilingual pretraining (mBERT/XLM-R/mT5) samples source i with
    p_i^alpha / Σ p_j^alpha, alpha={_TEMP_ALPHA} — flattening the
    natural distribution so small sources aren't starved]: per source,
    the raw share, the temperature share, and the implied
    up/down-sampling factor — the table a mixing run (llm_dataset_mix)
    consumes as its target rates.

    Spark-first: one map-side-combinable count, then window sums over
    the SOURCE dimension (tens to thousands of rows at any corpus
    scale) — the heavy data contributes exactly one aggregate pass.
    Deterministic; pairs with llm_dataset_mix's md5 sampler to make
    the full temperature pipeline reproducible."""
    d = load_table(spark, sf_dir, "documents")
    n = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    wall = Window.partitionBy()
    p1 = n.select(
        "source",
        "n_docs",
        (F.col("n_docs") / F.sum("n_docs").over(wall)).alias("p_raw"),
    )
    p = p1.select(
        "source",
        "n_docs",
        "p_raw",
        (
            F.pow("p_raw", _TEMP_ALPHA)
            / F.sum(F.pow("p_raw", _TEMP_ALPHA)).over(wall)
        ).alias("p_temp"),
    )
    return p.select(
        "source",
        "n_docs",
        F.round("p_raw", 6).alias("p_raw"),
        F.round("p_temp", 6).alias("p_temp"),
        F.round(F.col("p_temp") / F.col("p_raw"), 6).alias("upsample_factor"),
    )


_MANIFEST_SHARDS = 16


@register(
    "llm_shard_manifest",
    f"""
    WITH assign AS (
      SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % {_MANIFEST_SHARDS} AS shard,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    per AS (
      SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens
      FROM assign GROUP BY shard
    ),
    m AS (SELECT AVG(total_tokens) AS mean_tok FROM per)
    SELECT shard, n_docs, total_tokens,
           ROUND(total_tokens / m.mean_tok, 6) AS balance_ratio
    FROM per CROSS JOIN m
    """,
)
def llm_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-shard manifest + balance report [public method: every
    dataset release assigns docs to shards by a CONTENT-STABLE hash so
    re-runs and incremental additions land deterministically, then
    checks token balance before writing]: shard = md5(doc_id) mod
    {_MANIFEST_SHARDS}, per-shard doc/token totals and the
    tokens-vs-mean balance ratio — the go/no-go a shard writer reads
    (ratios far from 1.0 mean stragglers at training time).

    Spark-first: assignment is a pure map (the md5 uniformizes — no
    hot shard by construction), one combinable rollup, and the mean is
    a 1-row broadcast. In production the same expression feeds
    df.write.partitionBy(shard) / repartition(shard) so manifest and
    layout can never disagree."""
    d = load_table(spark, sf_dir, "documents")
    assign = d.select(
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % _MANIFEST_SHARDS
        ).alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    per = assign.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
    )
    m = per.agg(F.avg("total_tokens").alias("mean_tok"))
    return per.crossJoin(m).select(
        "shard",
        "n_docs",
        "total_tokens",
        F.round(F.col("total_tokens") / F.col("mean_tok"), 6).alias("balance_ratio"),
    )


_SPAN_N = 8  # word n-gram span length for duplicate-span reporting


@register(
    "llm_span_dedup",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+{_SPAN_N - 1}], ' ') AS ng
      FROM (
        SELECT doc_id, t, unnest(generate_series(1, len(t) - {_SPAN_N - 1})) AS i
        FROM toks WHERE len(t) >= {_SPAN_N}
      )
    ),
    shared AS (
      SELECT ng, count(*) AS n_docs FROM grams GROUP BY ng
    )
    SELECT g.doc_id,
           count(*) AS n_grams,
           count(*) FILTER (WHERE s.n_docs >= 2) AS n_dup_grams,
           ROUND(count(*) FILTER (WHERE s.n_docs >= 2) * 1.0 / count(*), 6) AS dup_frac,
           (count(*) FILTER (WHERE s.n_docs >= 2) * 1.0 / count(*)) <= 0.5 AS keep
    FROM grams g JOIN shared s USING (ng)
    GROUP BY g.doc_id
    """,
)
def llm_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span report (the ExactSubstr dedup signal, Lee et al.
    2022, word-granular): for each doc, the fraction of its distinct
    8-token spans that also appear in ANY other document; docs past 50%
    are flagged for removal. Two shuffles (distinct grams, gram→doc-count)
    plus one gram-keyed join back — never a doc×doc comparison. At 100 TB
    the gram join keys on xxhash64(ng) (fixed 8 bytes, not the span text)
    and the gram→count table stays shuffled, never broadcast (vocabulary-
    sized — the llm_tfidf lesson)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.lower("text"), " ").alias("t")).filter(
        F.size("t") >= _SPAN_N
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {_SPAN_N - 1}),"
                f" i -> array_join(slice(t, i, {_SPAN_N}), ' '))"
            )
        ).alias("ng"),
    ).distinct()
    shared = grams.groupBy("ng").agg(F.count(F.lit(1)).alias("n_docs"))
    dup = F.when(F.col("n_docs") >= 2, 1).otherwise(0)
    per_doc = (
        grams.join(shared, "ng")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(dup).alias("n_dup_grams"),
        )
    )
    frac = F.col("n_dup_grams") / F.col("n_grams")
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        F.round(frac, 6).alias("dup_frac"),
        (frac <= 0.5).alias("keep"),
    )


@register(
    "llm_entropy_filter",
    """
    WITH ch AS (
      SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
    ),
    cc AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY doc_id, c),
    tot AS (SELECT doc_id, sum(n) AS t FROM cc GROUP BY doc_id)
    SELECT cc.doc_id,
           ROUND(-sum((n / t) * log2(n / t)), 6) AS char_entropy,
           (-sum((n / t) * log2(n / t))) >= 4.05 AS keep
    FROM cc JOIN tot USING (doc_id)
    GROUP BY cc.doc_id
    """,
)
def llm_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality gate: Shannon entropy of the per-doc
    character distribution — low entropy means boilerplate/repetition
    (SEO spam, template pages), the information-theoretic complement of
    the ratio-based llm_quality_score and the repetition-window
    llm_repetition_filter. Two map-side-combinable aggregates keyed on
    (doc_id, char) then doc_id — alphabet size bounds state, so the
    second agg is ≤ |alphabet| rows per doc regardless of doc length."""
    d = load_table(spark, sf_dir, "documents")
    cc = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .filter(F.col("c") != "")
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cc.groupBy("doc_id").agg(F.sum("n").alias("t"))
    p = F.col("n") / F.col("t")
    ent = -F.sum(p * F.log2(p))
    return (
        cc.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.round(ent, 6).alias("char_entropy"),
            (ent >= 4.05).alias("keep"),
        )
    )


_DOMAIN_CAP = 100


# Per-domain document cap (web-corpus practice: no single domain may
# dominate the mix): keep at most 100 docs per language, chosen by
# content-hash rank so the survivor set is stable across reruns —
# seeded-random selection would diverge between engines and between
# snapshots. One window shuffle on the cap key. At 100 TB, rank with a
# two-level top-k (per-partition heap then per-key merge) when a single
# domain's rows exceed one task — the win_topk_per_group rewrite.
register_sql(
    "llm_domain_cap",
    f"""
    WITH ranked AS (
      SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
      FROM {{documents}}
    )
    SELECT doc_id, lang, source, rk
    FROM ranked WHERE rk <= {_DOMAIN_CAP}
    """,
)


@register(
    "llm_bpe_pair_counts",
    """
    WITH words AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    pairs AS (
      SELECT substr(w, i, 2) AS pair
      FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
            FROM words WHERE len(w) >= 2)
    )
    SELECT pair, count(*) AS n
    FROM pairs GROUP BY pair
    """,
)
def llm_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-training statistics, merge step 0: corpus-wide adjacent
    character-pair frequencies within words (every occurrence counts —
    these are exactly the counts whose argmax picks the first BPE merge).
    JVM-side throughout: split → explode → higher-order transform →
    two-phase count keyed on the pair. State is bounded by |alphabet|²
    regardless of corpus size, so at 100 TB this is one
    map-side-combinable aggregate over the token stream — the iterative
    merge loop re-runs it on the re-paired stream per merge round."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split(F.lower("text"), " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))


_DSIR_BUCKETS = 256  # 2 hex chars of md5(token) — portable hashed features


@register(
    "llm_importance_weights",
    """
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    bk AS (
      SELECT doc_id, lang, substr(md5(tok), 1, 2) AS bucket
      FROM toks WHERE tok <> ''
    ),
    doc_b AS (SELECT doc_id, bucket, count(*) AS n FROM bk GROUP BY doc_id, bucket),
    tgt AS (SELECT bucket, count(*) AS ct FROM bk WHERE lang = 'en' GROUP BY bucket),
    raw AS (SELECT bucket, count(*) AS cr FROM bk GROUP BY bucket),
    totals AS (
      SELECT (SELECT sum(ct) FROM tgt) AS t_tot, (SELECT sum(cr) FROM raw) AS r_tot
    )
    SELECT d.doc_id,
           ROUND(SUM(d.n * (ln((COALESCE(t.ct, 0) + 1.0) / (tot.t_tot + 256))
                          - ln((r.cr + 1.0) / (tot.r_tot + 256))))
                 / SUM(d.n), 6) AS dsir_weight
    FROM doc_b d
    JOIN raw r USING (bucket)
    LEFT JOIN tgt t USING (bucket)
    CROSS JOIN totals tot
    GROUP BY d.doc_id
    """,
)
def llm_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023): per-doc mean
    log-ratio of target vs raw distribution over 256 hashed token buckets
    (2 hex chars of md5 — engine-portable hashing), add-1 smoothed. The
    target here is the 'en' slice; production points it at a trusted
    high-quality corpus. Docs distributionally closer to the target score
    higher; sampling ∝ exp(weight) is the DSIR selection rule.

    Scale shape: the bucket→probability tables are BOUNDED at 256 rows by
    construction — broadcast-safe at any corpus size (unlike a vocabulary
    table — the llm_tfidf lesson does not apply when the feature space is
    hashed to a fixed width). Everything else is two map-side-combinable
    aggregates and one bucket-keyed join."""
    d = load_table(spark, sf_dir, "documents")
    bk = (
        d.select("doc_id", "lang", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .select("doc_id", "lang", F.substring(F.md5("tok"), 1, 2).alias("bucket"))
    )
    doc_b = bk.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("n"))
    tgt = bk.filter(F.col("lang") == "en").groupBy("bucket").agg(F.count(F.lit(1)).alias("ct"))
    raw = bk.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    totals = tgt.agg(F.sum("ct").alias("t_tot")).crossJoin(raw.agg(F.sum("cr").alias("r_tot")))
    log_ratio = F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1.0) / (F.col("t_tot") + _DSIR_BUCKETS)) - F.log(
        (F.col("cr") + 1.0) / (F.col("r_tot") + _DSIR_BUCKETS)
    )
    return (
        doc_b.join(raw, "bucket")
        .join(tgt, "bucket", "left")
        .crossJoin(totals)
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("n") * log_ratio) / F.sum("n"), 6).alias("dsir_weight"))
    )


_CURRICULUM_ORACLE = """
    WITH scored AS (SELECT doc_id, n_chars FROM documents),
    th AS (
      SELECT quantile_cont(n_chars, 0.25) AS q1,
             quantile_cont(n_chars, 0.50) AS q2,
             quantile_cont(n_chars, 0.75) AS q3
      FROM scored
    ),
    staged AS (
      SELECT doc_id,
             1 + CASE WHEN n_chars > q1 THEN 1 ELSE 0 END
               + CASE WHEN n_chars > q2 THEN 1 ELSE 0 END
               + CASE WHEN n_chars > q3 THEN 1 ELSE 0 END AS stage,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM scored CROSS JOIN th
    ),
    ranked AS (
      SELECT doc_id, stage,
             ROW_NUMBER() OVER (PARTITION BY stage ORDER BY h, doc_id) AS stage_rank
      FROM staged
    ),
    offsets AS (
      SELECT stage,
             CAST(COALESCE(SUM(COUNT(*)) OVER (
               ORDER BY stage ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS off
      FROM staged GROUP BY stage
    )
    SELECT r.doc_id, r.stage, r.stage_rank,
           CAST(o.off + r.stage_rank AS BIGINT) AS global_pos
    FROM ranked r JOIN offsets o USING (stage)
"""


@register("llm_curriculum_order", _CURRICULUM_ORACLE)
def llm_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering: bucket documents into difficulty stages
    (length quartiles as the difficulty proxy), deterministically shuffle
    WITHIN each stage (md5(doc_id) — never rand(): re-running on the same
    snapshot must reproduce the identical training order), and assign
    each doc its global training position.

    Scale shape — the global order is NEVER computed as one global sort:
    (1) stage thresholds are a 1-row exact-percentile aggregate broadcast
    back (at 100 TB: approx_percentile, same two-pass plan); (2) the
    in-stage shuffle rank is a window partitioned BY STAGE (at scale, by
    (stage, shard) with shard offsets, exactly like llm_pack_sequences);
    (3) global_pos = per-stage rank + the stage's offset from a 4-row
    cumulative-sum window joined back via broadcast. No single-partition
    window ever touches the corpus-sized side."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    th = docs.agg(
        F.percentile("n_chars", F.lit(0.25)).alias("q1"),
        F.percentile("n_chars", F.lit(0.50)).alias("q2"),
        F.percentile("n_chars", F.lit(0.75)).alias("q3"),
    )
    staged = docs.crossJoin(F.broadcast(th)).select(
        "doc_id",
        (
            F.lit(1)
            + (F.col("n_chars") > F.col("q1")).cast("int")
            + (F.col("n_chars") > F.col("q2")).cast("int")
            + (F.col("n_chars") > F.col("q3")).cast("int")
        ).alias("stage"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w_stage = Window.partitionBy("stage").orderBy("h", "doc_id")
    ranked = staged.select(
        "doc_id", "stage", F.row_number().over(w_stage).alias("stage_rank")
    )
    w_off = Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        staged.groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("stage", F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("off"))
    )
    return ranked.join(offsets, "stage").select(
        "doc_id",
        "stage",
        "stage_rank",
        (F.col("off") + F.col("stage_rank")).cast("long").alias("global_pos"),
    )


_EPOCH_SHARDS = 8
_N_EPOCHS = 2

_EPOCH_SHUFFLE_ORACLE = f"""
    WITH per_epoch AS (
      SELECT d.doc_id, e.epoch,
             md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS h
      FROM documents d
      CROSS JOIN (SELECT unnest(range({_N_EPOCHS})) AS epoch) e
    ),
    sharded AS (
      SELECT doc_id, epoch,
             ascii(substr(h, 1, 1)) % {_EPOCH_SHARDS} AS shard, h
      FROM per_epoch
    )
    SELECT doc_id, CAST(epoch AS INT) AS epoch, CAST(shard AS INT) AS shard,
           ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY h, doc_id)
             AS shard_pos
    FROM sharded
"""


@register("llm_epoch_shuffle", _EPOCH_SHUFFLE_ORACLE)
def llm_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-seeded dataloader reshuffle: every training epoch gets its
    own deterministic permutation (shuffle key = md5(epoch:doc_id) — the
    epoch is the SEED, so epoch 0 and epoch 1 produce different orders
    yet each is exactly reproducible from the snapshot), sharded so the
    order is defined per (epoch, shard) with no global sort. This is the
    data-order contract distributed training resumes depend on: restart
    at (epoch, shard, pos) and the stream continues byte-identically.

    At 100 TB: the per-epoch explode is a narrow 2x multiplier (epochs
    are consumed one at a time in production — the CROSS JOIN here just
    materializes both for the oracle); ranking is windowed per
    (epoch, shard) — thousands of independent partitions, never a
    single-partition window; shard routing is the hash itself, so the
    write is one partitionBy(epoch, shard) with files already in final
    order."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = docs.crossJoin(
        spark.range(_N_EPOCHS).select(F.col("id").cast("int").alias("epoch"))
    ).select(
        "doc_id",
        "epoch",
        F.md5(
            F.concat(
                F.col("epoch").cast("string"), F.lit(":"), F.col("doc_id").cast("string")
            )
        ).alias("h"),
    )
    sharded = epochs.select(
        "doc_id",
        "epoch",
        (F.ascii(F.substring("h", 1, 1)) % _EPOCH_SHARDS).cast("int").alias("shard"),
        "h",
    )
    w = Window.partitionBy("epoch", "shard").orderBy("h", "doc_id")
    return sharded.select(
        "doc_id", "epoch", "shard", F.row_number().over(w).alias("shard_pos")
    )


# Hash split: bucket = first md5 byte mod 100 → train <90, val <95, test.
_SPLIT_TRAIN, _SPLIT_VAL = 90, 95

_SPLIT_ORACLE = f"""
    WITH assigned AS (
      SELECT doc_id, source,
             CASE WHEN bucket < {_SPLIT_TRAIN} THEN 'train'
                  WHEN bucket < {_SPLIT_VAL} THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id, source,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
                 % 100 AS bucket
        FROM documents
      ) b
    )
    SELECT split, source, COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct
    FROM assigned GROUP BY split, source
"""


@register("llm_train_val_split", _SPLIT_ORACLE)
def llm_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by content-stable hash bucket
    (md5(doc_id) prefix mod 100 → 90/5/5): the split a curation pipeline
    must be able to REPRODUCE from the snapshot alone — a rand()-based
    split silently reshuffles documents between train and eval across
    reruns, which is leakage. The per-(split, source) rollup with
    distinct counts pins membership determinism, disjointness (each doc
    lands in exactly one split: n_docs == n_distinct per cell and totals
    conserve), and the per-source ratio balance reviewers check.

    At 100 TB: a pure map (one hash per row, no shuffle until the audit
    rollup); the split column is also the natural ``partitionBy`` so
    eval sets are partition-pruned reads. Keying the hash on a CONTENT
    id (here doc_id; in production the text digest) keeps membership
    stable under re-crawls — positional ids would reassign on any
    upstream reorder."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    assigned = d.select(
        "doc_id",
        "source",
        F.when(bucket < _SPLIT_TRAIN, "train")
        .when(bucket < _SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )
    return assigned.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("doc_id").alias("n_distinct"),
    )


_LEN_BUCKETS = (32, 64, 128, 256, 512, 1024, 2048)  # powers of two; last = cap


def _bucket_case_sql(col: str) -> str:
    branches = " ".join(
        f"WHEN {col} <= {b} THEN {b}" for b in _LEN_BUCKETS[:-1]
    )
    return f"CASE {branches} ELSE {_LEN_BUCKETS[-1]} END"


@register(
    "llm_length_buckets",
    f"""
    WITH lb_tok AS (
      SELECT doc_id,
             LEAST(len(string_split(text, ' ')), {_LEN_BUCKETS[-1]}) AS n_tok
      FROM documents
    ),
    lb AS (
      SELECT n_tok, CAST({_bucket_case_sql('n_tok')} AS BIGINT) AS bucket
      FROM lb_tok
    )
    SELECT bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           ROUND(1.0 - SUM(n_tok) * 1.0 / (COUNT(*) * bucket), 6) AS pad_waste
    FROM lb
    GROUP BY bucket
    """,
)
def llm_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucket batching manifest [public method: bucketed batching
    for variable-length sequence training — group examples into
    power-of-two length buckets so a batch pads only to its bucket's
    max, not the global max]: each doc lands in the smallest bucket of
    (32..2048) that holds its whitespace token count (over-long docs
    truncate into the 2048 cap), and the manifest reports per-bucket doc
    count, effective tokens, and the padding-waste fraction a loader
    would pay padding every doc to the bucket size. The complement of
    llm_pack_sequences: packing concatenates to eliminate padding,
    bucketing preserves doc boundaries and accepts bounded waste — this
    op quantifies exactly that tradeoff per bucket.

    Scale shape: one narrow projection (token count is computed, not
    materialized) into a 7-group map-side-combinable hash aggregate —
    the shuffle carries ≤7 rows per partition regardless of corpus
    size. The bucket boundary is a static CASE ladder, not
    pow(2, ceil(log2(n))): integer-exact on every engine, immune to the
    log-of-power-of-two FP boundary bug."""
    d = load_table(spark, sf_dir, "documents")
    cap = _LEN_BUCKETS[-1]
    n_tok = F.least(F.size(F.split("text", " ")).cast("long"), F.lit(cap))
    bucket = F.lit(cap).cast("long")
    for b in reversed(_LEN_BUCKETS[:-1]):
        bucket = F.when(F.col("n_tok") <= b, b).otherwise(bucket)
    return (
        d.select(n_tok.alias("n_tok"))
        .select("n_tok", bucket.cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(
                1.0 - F.sum("n_tok") / (F.count(F.lit(1)) * F.first("bucket")),
                6,
            ).alias("pad_waste"),
        )
    )


@register(
    "llm_html_strip",
    """
    WITH wrapped AS (
      SELECT source, n_chars, text,
             '<html><body><h1>' || source || '</h1>' || chr(10) ||
             '<p class="doc">' || text || '</p><br/></body></html>' AS html
      FROM documents
    ), stripped AS (
      SELECT source, n_chars, text,
             length(html) AS html_len,
             trim(regexp_replace(regexp_replace(html, '<[^>]*>', ' ', 'g'),
                                 '\\s+', ' ', 'g')) AS clean
      FROM wrapped
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN clean = source || ' ' || text
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok,
           CAST(SUM(html_len - length(clean)) AS BIGINT) AS markup_overhead,
           CAST(SUM(length(clean)) AS BIGINT) AS clean_chars
    FROM stripped
    GROUP BY source
    """,
)
def llm_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate stripping — the first stage of every web-corpus
    curation pipeline (CCNet/C4/RefinedWeb all begin by reducing markup
    to visible text). The fixture documents are plain text, so the op
    constructs a deterministic HTML wrapping (tags with attributes, a
    self-closing tag, a newline) and then runs the real extraction:
    tag removal via regexp, whitespace squeeze, trim. Because the
    wrapping is constructive, the EXACT recovered text is known
    (``source || ' ' || text``) — the round-trip flag must hold for
    every doc, and per-source markup-overhead/clean-char totals are
    hash-pinned. Both engines run the same RE2-compatible patterns
    (DuckDB needs the explicit 'g' flag where Spark replaces globally
    by default — a classic dialect trap, pinned here).

    At 100 TB: pure narrow map work — regexp_replace runs inside
    whole-stage codegen, no Python workers, no shuffle before the
    final per-source rollup. Real-world caveat documented: regex
    stripping is the cheap 80% tool; layout-aware extraction (e.g.
    trafilatura-class parsers) needs the Arrow-batched mapInPandas
    path (llm/multimodal.py pattern) because it is library code, not
    an expression."""
    d = load_table(spark, sf_dir, "documents")
    wrapped = d.select(
        "source",
        "text",
        F.concat(
            F.lit("<html><body><h1>"),
            F.col("source"),
            F.lit("</h1>\n"),
            F.lit('<p class="doc">'),
            F.col("text"),
            F.lit("</p><br/></body></html>"),
        ).alias("html"),
    )
    stripped = wrapped.select(
        "source",
        "text",
        F.length("html").alias("html_len"),
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.col("html"), "<[^>]*>", " "),
                r"\s+",
                " ",
            )
        ).alias("clean"),
    )
    return stripped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(
                F.col("clean")
                == F.concat(F.col("source"), F.lit(" "), F.col("text")),
                1,
            ).otherwise(0)
        ).alias("n_roundtrip_ok"),
        F.sum(F.col("html_len") - F.length("clean")).alias("markup_overhead"),
        F.sum(F.length("clean")).alias("clean_chars"),
    )


@register(
    "llm_preference_pairs",
    """
    WITH q AS (
      SELECT source, doc_id,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS q
      FROM documents
    ),
    r AS (
      SELECT source, doc_id, q,
             row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id DESC) AS rmax,
             row_number() OVER (PARTITION BY source ORDER BY q ASC, doc_id ASC) AS rmin,
             COUNT(*) OVER (PARTITION BY source) AS n_docs
      FROM q
    )
    SELECT source,
           MAX(CASE WHEN rmax = 1 THEN doc_id END) AS chosen_doc,
           MAX(CASE WHEN rmin = 1 THEN doc_id END) AS rejected_doc,
           ROUND(MAX(q), 6) AS chosen_q,
           ROUND(MIN(q), 6) AS rejected_q,
           ROUND(MAX(q) - MIN(q), 6) AS margin,
           MIN(n_docs) AS n_docs
    FROM r GROUP BY source HAVING MIN(n_docs) >= 2
    """,
)
def llm_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for DPO/RLHF-style training data
    [public method: pair a high-quality 'chosen' and low-quality
    'rejected' response per prompt group]: per source, pick the doc with
    the max and min quality proxy (distinct-token ratio), emit the pair
    with its quality margin. Deterministic: ties broken by doc_id on both
    sides, groups with a single doc dropped.

    Spark-first: ONE hash aggregate per source using max_by/min_by over
    the (q, doc_id) total order — constant state per group, map-side
    combinable, a single shuffle on source. The oracle spells the same
    endpoint choice with dual row_number CTEs (the evt_ohlc pattern).
    At 100 TB 'source' is the prompt/domain key (millions of groups,
    unskewed agg) — never a per-group sort or window over the corpus."""
    d = load_table(spark, sf_dir, "documents")
    tok = F.split("text", " ")
    q = d.select(
        "source",
        "doc_id",
        (
            F.size(F.array_distinct(tok)).cast("double") / F.size(tok)
        ).alias("q"),
    )
    return (
        q.groupBy("source")
        .agg(
            F.expr("max_by(doc_id, struct(q, doc_id))").alias("chosen_doc"),
            F.expr("min_by(doc_id, struct(q, doc_id))").alias("rejected_doc"),
            F.round(F.max("q"), 6).alias("chosen_q"),
            F.round(F.min("q"), 6).alias("rejected_q"),
            F.round(F.max("q") - F.min("q"), 6).alias("margin"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# Token-budget planner: total training budget as a multiple of corpus
# tokens (sf-independent), split across sources by the same tier weights
# the llm_dataset_mix sampler uses.
_BUDGET_MULT = 2.0


@register(
    "llm_token_budget",
    f"""
    WITH per_src AS (
      SELECT source,
             {_TIER_SQL} AS weight,
             COUNT(*) AS n_docs,
             CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS BIGINT)
               AS tokens_available
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT SUM(weight) AS w_sum,
             SUM(tokens_available) * {_BUDGET_MULT} AS budget
      FROM per_src
    )
    SELECT source, n_docs, tokens_available,
           ROUND(weight, 6) AS weight,
           ROUND(weight / w_sum, 6) AS share,
           ROUND(budget * weight / w_sum, 6) AS target_tokens,
           ROUND(budget * weight / w_sum / tokens_available, 6) AS epochs,
           budget * weight / w_sum / tokens_available > 1.0 AS oversampled
    FROM per_src, tot
    """,
)
def llm_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget planning — the data-recipe calculation run before a
    pretraining job [public method: Chinchilla-style token budgeting +
    Pile/Dolma source weighting]: given a total token budget (a multiple
    of corpus size, so the plan is sf-independent) and per-source mix
    weights, compute each source's token allocation and the implied
    epoch count; epochs > 1 flags sources that must be oversampled
    (repeated) to hit their share — the report that decides whether the
    mix is feasible before any shard is written.

    Scale shape: ONE map-side-combinable aggregate per source over a
    narrow (source, token-count) projection — the corpus is scanned
    exactly once — then the global totals come from an unpartitioned
    window over the |sources|-row aggregate (bounded, single task),
    then pure arithmetic. Pairs
    with llm_dataset_mix (the sampler that realizes the plan) and
    llm_epoch_shuffle (the order within each epoch)."""
    d = load_table(spark, sf_dir, "documents")
    weight = _tier_weight()
    re_t = F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)"))
    per_src = d.select("source", weight.alias("weight"), re_t.alias("nt")).groupBy(
        "source"
    ).agg(
        F.min("weight").alias("weight"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").cast("long").alias("tokens_available"),
    )
    # Global totals via an unpartitioned window over the PER-SOURCE rows
    # (|sources|, bounded) — not a second corpus scan / scalar re-agg.
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    totals = per_src.select(
        "*",
        F.sum("weight").over(wall).alias("w_sum"),
        (F.sum("tokens_available").over(wall) * _BUDGET_MULT).alias("budget"),
    )
    alloc = F.col("budget") * F.col("weight") / F.col("w_sum")
    return totals.select(
        "source",
        "n_docs",
        "tokens_available",
        F.round("weight", 6).alias("weight"),
        F.round(F.col("weight") / F.col("w_sum"), 6).alias("share"),
        F.round(alloc, 6).alias("target_tokens"),
        F.round(alloc / F.col("tokens_available"), 6).alias("epochs"),
        (alloc / F.col("tokens_available") > 1.0).alias("oversampled"),
    )


# URL canonicalization: params dropped before comparing URLs (the public
# crawl-dedup convention: tracking params never distinguish content).
_URL_TRACKING_PREFIXES = ("utm_", "fbclid=", "gclid=")
# SQL predicate built FROM the tuple (LIKE needs '_' escaped) so adding a
# tracker (e.g. "msclkid=") changes both renderings in one place.
_URL_TRACK_SQL = " AND ".join(
    "p NOT LIKE '{}%' ESCAPE '\\'".format(pref.replace("_", "\\_"))
    for pref in _URL_TRACKING_PREFIXES
)


@register(
    "llm_url_dedup",
    f"""
    WITH u AS (
      SELECT doc_id, source,
             (CASE WHEN doc_id % 4 = 0 THEN 'HTTPS' ELSE 'https' END)
             || '://'
             || (CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END)
             || '.Example.COM/p/' || CAST(doc_id % 10 AS VARCHAR)
             || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&page=1'
                      WHEN doc_id % 3 = 1 THEN '?page=1&utm_campaign=x'
                      ELSE '' END)
             || (CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END)
               AS url
      FROM documents
    ),
    parsed AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^([a-zA-Z]+)://', 1)) AS scheme,
             lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)) AS host,
             regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1) AS path,
             regexp_extract(url, '\\?([^#]*)', 1) AS query
      FROM u
    ),
    canon AS (
      SELECT doc_id, url,
             scheme || '://' || host || path ||
             CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canonical_url
      FROM (
        SELECT doc_id, url, scheme, host, path,
               -- array_to_string over an EMPTY filtered list is NULL in
               -- DuckDB (Spark's array_join gives '') — coalesce, or every
               -- no-query URL collapses into one NULL canonical key.
               COALESCE(array_to_string(
                 list_sort(list_filter(string_split(query, '&'),
                   p -> p <> '' AND {_URL_TRACK_SQL})),
                 '&'), '') AS kept
        FROM parsed
      )
    )
    SELECT canonical_url,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT url) AS n_raw_variants,
           MIN(doc_id) AS survivor_doc
    FROM canon
    GROUP BY canonical_url
    HAVING COUNT(*) >= 2
    """,
)
def llm_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the crawl-frontier stage that runs
    BEFORE any content dedup [public method: CommonCrawl/C4-style URL
    normalization]: the same page is fetched under case-varied hosts,
    tracking-parameter-laden queries, and fragment anchors; lowercasing
    scheme+host, dropping the fragment, filtering tracking params
    (utm_*/fbclid/gclid) and sorting the survivors collapses them to one
    canonical key. The fixture has no URL column, so the op CONSTRUCTS a
    deterministic messy URL per doc (case/params/fragment varied by
    doc_id residues, path collisions by doc_id % 10) and then runs the
    real normalization: regexp component split, higher-order
    filter/sort over params, recompose, group. Survivor = min(doc_id),
    the same canonical-election rule as llm_dedup_canonical.

    At 100 TB: canonicalization is pure narrow map work (regexp +
    array HOFs inside whole-stage codegen, no Python workers); the only
    shuffle is the final groupBy(canonical_url) — a map-side-combinable
    count keyed on the canonical hash, the cheapest dedup in the whole
    pipeline, which is exactly why real crawls run it first (every URL
    dropped here never reaches MinHash)."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 4 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(F.col("doc_id") % 2 == 0, F.upper("source")).otherwise(F.col("source")),
        F.lit(".Example.COM/p/"),
        (F.col("doc_id") % 10).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("?utm_source=feed&page=1"))
        .when(F.col("doc_id") % 3 == 1, F.lit("?page=1&utm_campaign=x"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )
    parsed = d.select(
        "doc_id",
        url.alias("url"),
        F.lower(F.regexp_extract(url, r"^([a-zA-Z]+)://", 1)).alias("scheme"),
        F.lower(F.regexp_extract(url, r"^[a-zA-Z]+://([^/?#]+)", 1)).alias("host"),
        F.regexp_extract(url, r"^[a-zA-Z]+://[^/?#]+([^?#]*)", 1).alias("path"),
        F.regexp_extract(url, r"\?([^#]*)", 1).alias("query"),
    )
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split("query", "&"),
                lambda p: reduce(
                    lambda acc, pref: acc & ~p.startswith(pref),
                    _URL_TRACKING_PREFIXES,
                    p != "",
                ),
            )
        ),
        "&",
    )
    canon = parsed.select(
        "doc_id",
        "url",
        F.concat(
            F.col("scheme"),
            F.lit("://"),
            F.col("host"),
            F.col("path"),
            F.when(kept == "", F.lit("")).otherwise(F.concat(F.lit("?"), kept)),
        ).alias("canonical_url"),
    )
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("url").alias("n_raw_variants"),
            F.min("doc_id").alias("survivor_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# C4-style blocklist, drawn from the fixture vocabulary so the filter has
# real discrimination; threshold on the token FRACTION (a containment
# test on this corpus would flag ~every doc — the vacuous-filter trap).
_BADWORDS = ("slow", "dup", "big")
_BADWORD_MAX_FRAC = 0.10


@register(
    "llm_badwords_filter",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                             t -> t IN ('slow', 'dup', 'big'))) AS n_bad
      FROM documents
    )
    SELECT doc_id, lang, n_tokens, n_bad,
           ROUND(CAST(n_bad AS DOUBLE) / n_tokens, 6) AS bad_frac,
           CAST(n_bad AS DOUBLE) / n_tokens <= {_BADWORD_MAX_FRAC} AS keep
    FROM scored
    """,
)
def llm_badwords_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon safety filter — the C4 "bad words" gate [public method:
    C4/RefinedWeb blocklist filtering], scored as a token fraction
    rather than C4's raw containment because on this small-vocabulary
    fixture containment would flag every document (the vacuous-pass
    trap the contamination op also documents). Tokens come from the
    same whitespace split the rest of the text family uses; the
    blocklist is a 3-word literal array evaluated with higher-order
    ``filter`` — at real blocklist sizes (hundreds of terms) the same
    expression stays an O(|tokens|·|list|) codegen loop, and the
    right upgrade is a broadcast semi-join of exploded tokens against
    a blocklist table (the llm_contamination shape), not a UDF.

    At 100 TB: shuffle-free — a pure per-row projection that fuses
    into whatever scan precedes it; emitting the (doc_id, keep, frac)
    verdict instead of dropping rows lets the downstream mix audit
    count what the filter removed (the llm_gopher_rules convention)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_bad = F.size(F.filter(toks, lambda t: t.isin(*_BADWORDS)))
    frac = n_bad.cast("double") / n_tokens
    return d.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        n_bad.alias("n_bad"),
        F.round(frac, 6).alias("bad_frac"),
        (frac <= F.lit(_BADWORD_MAX_FRAC)).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Paragraph-level exact dedup with reassembly (C4-style cleaning rewrite)
# ---------------------------------------------------------------------------

# Segment width in whitespace tokens. Real corpora segment on paragraph /
# three-sentence boundaries (C4, Raffel et al. 2020); this fixture's text
# is an unpunctuated token stream, so segments are fixed 5-token windows —
# the boundary rule is one line, the dataflow is identical.
_PARA_W = 5


@register(
    "llm_paragraph_dedup",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    segs AS (
      SELECT doc_id, k AS pos,
             array_to_string(
               list_slice(t, k * {_PARA_W} + 1, k * {_PARA_W} + {_PARA_W}), ' '
             ) AS seg
      FROM (
        SELECT doc_id, t,
               unnest(generate_series(0, (len(t) - 1) // {_PARA_W})) AS k
        FROM toks
      )
    ),
    ranked AS (
      SELECT doc_id, pos, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
      FROM segs
    ),
    kept AS (SELECT doc_id, pos, seg FROM ranked WHERE rn = 1),
    agg AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(seg, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, count(*) AS n_segs FROM segs GROUP BY doc_id)
    SELECT t.doc_id, t.n_segs,
           COALESCE(a.n_kept, 0) AS n_kept,
           COALESCE(a.clean_text, '') AS clean_text
    FROM tot t LEFT JOIN agg a USING (doc_id)
    """,
)
def llm_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup REWRITE (C4's repeated-span removal):
    segment every document into fixed token windows, keep only the
    globally FIRST occurrence of each distinct segment (ordered by
    (doc_id, pos) — first-writer-wins, the C4 rule), and reassemble each
    document's surviving segments in order into `clean_text`. Unlike
    `llm_span_dedup` (a per-doc dup-fraction REPORT), this produces the
    cleaned corpus itself.

    Dataflow: segment (narrow posexplode) → first-owner via
    groupBy(seg).min(struct(doc_id, pos)) — map-side combinable, strictly
    cheaper than the window-rank formulation — → equi-join back on seg →
    reassemble via groupBy(doc_id) + array_sort(collect_list). Two
    segment-keyed shuffles and one doc-keyed shuffle; never doc×doc. At
    100 TB: key the ownership agg/join on xxhash64(seg) (fixed 8 bytes,
    not span text — the llm_span_dedup discipline), and the reassembly
    state per doc is bounded by doc length, so AQE-sized doc_id
    partitions stream. Determinism is total: (doc_id, pos) is a total
    order, so re-running on the same snapshot yields byte-identical
    clean_text (the checkpoint-stability requirement in the module
    docstring)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    segs = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (size(t) - 1) div {_PARA_W}),"
                f" k -> array_join(slice(t, k * {_PARA_W} + 1, {_PARA_W}), ' '))"
            )
        ).alias("pos", "seg"),
    )
    own = segs.groupBy("seg").agg(F.min(F.struct("doc_id", "pos")).alias("o"))
    kept = segs.join(own, "seg").filter(
        (F.col("doc_id") == F.col("o.doc_id")) & (F.col("pos") == F.col("o.pos"))
    )
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, seg))),"
            " x -> x.seg), ' ')"
        ).alias("clean_text"),
    )
    tot = segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segs"))
    return tot.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_segs",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Context-length economics: truncate-vs-pack utilization per ctx size
# ---------------------------------------------------------------------------

_PACK_CTX_SWEEP = (64, 128, 256)


@register(
    "llm_pack_efficiency_curve",
    f"""
    WITH toks AS (
      SELECT doc_id, doc_id % 8 AS shard,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    shard_tot AS (
      SELECT shard, CAST(SUM(n_tok) AS BIGINT) AS shard_tok
      FROM toks GROUP BY shard
    ),
    grid AS (SELECT unnest(ARRAY[{", ".join(str(c) for c in _PACK_CTX_SWEEP)}]) AS ctx_len),
    unpacked AS (
      SELECT g.ctx_len,
             COUNT(*) AS n_docs,
             CAST(SUM(LEAST(t.n_tok, g.ctx_len)) AS BIGINT) AS tokens_kept,
             CAST(SUM(GREATEST(t.n_tok - g.ctx_len, 0)) AS BIGINT)
               AS tokens_truncated,
             ROUND(SUM(GREATEST(t.n_tok - g.ctx_len, 0)) * 1.0 / SUM(t.n_tok), 6)
               AS truncation_frac,
             ROUND(SUM(LEAST(t.n_tok, g.ctx_len)) * 1.0
                   / (COUNT(*) * g.ctx_len), 6) AS unpacked_utilization
      FROM toks t CROSS JOIN grid g
      GROUP BY g.ctx_len
    ),
    packed AS (
      SELECT g.ctx_len,
             ROUND(SUM(s.shard_tok) * 1.0
                   / (SUM(CAST(CEIL(s.shard_tok * 1.0 / g.ctx_len) AS BIGINT))
                      * g.ctx_len), 6) AS packed_utilization
      FROM shard_tot s CROSS JOIN grid g
      GROUP BY g.ctx_len
    )
    SELECT u.ctx_len, u.n_docs, u.tokens_kept, u.tokens_truncated,
           u.truncation_frac, u.unpacked_utilization, p.packed_utilization
    FROM unpacked u JOIN packed p ON p.ctx_len = u.ctx_len
    ORDER BY u.ctx_len
    """,
)
def llm_pack_efficiency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length economics table [public method: the standard
    motivation for sequence packing — one-doc-per-sequence training
    either pads (short docs waste compute) or truncates (long docs
    lose data); streaming packing fills every window except each
    shard's tail]. For ctx in {_PACK_CTX_SWEEP!r}: tokens kept vs
    truncated and the padded utilization under the one-doc-per-window
    model, next to the packed utilization (shard-wise streaming
    concatenation, llm_pack_sequences' model: Σtokens /
    (Σ_shard ceil(shard_tokens/ctx) · ctx)). The gap between the two
    utilization columns is the compute a packing shard-writer saves;
    truncation_frac is the data a truncating loader destroys —
    together they price the ctx choice before a training run.

    At 100 TB: one narrow token-count scan feeds a doc-level rollup
    crossed with the fixed 3-row ctx grid (broadcast), plus a
    shard-level (8-row) rollup for the packed side — no shuffle grows
    with ctx choices, and the curve costs one corpus pass."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        (F.col("doc_id") % 8).alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    shard_tot = toks.groupBy("shard").agg(F.sum("n_tok").alias("shard_tok"))
    # Literal-array explode, not createDataFrame: a local Python
    # relation would put an applySchemaToPythonRDD scan in the plan.
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(c) for c in _PACK_CTX_SWEEP])).alias("ctx_len")
    )
    ctx = F.col("ctx_len").cast("double")
    unpacked = (
        toks.crossJoin(grid)
        .groupBy("ctx_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.least(F.col("n_tok"), F.col("ctx_len").cast("long")))
            .cast("bigint")
            .alias("tokens_kept"),
            F.sum(F.greatest(F.col("n_tok") - F.col("ctx_len"), F.lit(0)))
            .cast("bigint")
            .alias("tokens_truncated"),
            F.round(
                F.sum(F.greatest(F.col("n_tok") - F.col("ctx_len"), F.lit(0)))
                / F.sum("n_tok"),
                6,
            ).alias("truncation_frac"),
            F.round(
                F.sum(F.least(F.col("n_tok"), F.col("ctx_len").cast("long")))
                / (F.count(F.lit(1)) * ctx),
                6,
            ).alias("unpacked_utilization"),
        )
    )
    packed = (
        shard_tot.crossJoin(grid)
        .groupBy("ctx_len")
        .agg(
            F.round(
                F.sum("shard_tok")
                / (F.sum(F.ceil(F.col("shard_tok") / ctx)) * ctx),
                6,
            ).alias("packed_utilization")
        )
    )
    return (
        unpacked.join(packed, "ctx_len")
        .select(
            "ctx_len",
            "n_docs",
            "tokens_kept",
            "tokens_truncated",
            "truncation_frac",
            "unpacked_utilization",
            "packed_utilization",
        )
        .orderBy("ctx_len")
    )
