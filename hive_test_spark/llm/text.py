"""SURVEY.md §2.L (3/4) — text analysis for LLM data pipelines
(driver-mandated extension, BASELINE.json:6): corpus stats, TF-IDF,
quality filtering/scoring, language-ID heuristic, token counting,
document fingerprinting.

Scale notes (100 TB): everything is explode → hash-agg or pure narrow
projection — JVM-only expressions (regexp, array HOFs, md5), no Python.
The explode fan-out (~tokens-per-doc) is the only data inflation, and it
feeds straight into map-side partial aggregation.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_test_spark.io import load_table, materialize
from hive_test_spark.registry import register, register_sql


@register(
    "llm_text_stats",
    """
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           ROUND(AVG(CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS avg_tokens,
           ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS avg_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per (lang, source): doc counts, token counts,
    length distribution."""
    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " "))
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok).alias("total_tokens"),
        F.round(F.avg(ntok.cast("double")), 6).alias("avg_tokens"),
        F.round(F.avg(F.col("n_chars").cast("double")), 6).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "llm_tfidf",
    """
    WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t
      GROUP BY doc_id, token
    ),
    docfreq AS (SELECT token, COUNT(*) AS dfreq FROM tf GROUP BY token)
    SELECT doc_id, token, tf, tfidf
    FROM (SELECT tf.doc_id, tf.token, tf.tf,
                 ROUND(tf.tf * ln((SELECT n_docs FROM n) / CAST(dfreq AS DOUBLE)), 6) AS tfidf,
                 ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY ROUND(tf.tf * ln((SELECT n_docs FROM n) / CAST(dfreq AS DOUBLE)), 6) DESC,
                            tf.token) AS rn
          FROM tf JOIN docfreq ON tf.token = docfreq.token) ranked
    WHERE rn <= 3
    """,
)
def llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit TF-IDF (tf × ln(N/df)), top-3 terms per document.
    Explicit formulation (not ml.HashingTF+IDF) so the oracle is exact;
    two hash-aggs + one broadcast-able df join — linear at scale."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    # N as a broadcast 1-row plan (no separate driver-side count job —
    # at 100 TB an eager .count() would be a second full pass).
    n_df = d.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        # No broadcast hint on the docfreq side: its cardinality is the
        # corpus vocabulary (10^8+ at 100 TB — a guaranteed OOM if forced).
        # AQE picks broadcast at runtime when df is genuinely small.
        tf.join(df, "token")
        .crossJoin(n_df)
        .select(
            "doc_id",
            "token",
            "tf",
            # rank on the ROUNDED score: DuckDB ln() and JVM Math.log()
            # are both 1-ulp libms, so an unrounded top-3 boundary could
            # elect different tokens per engine (the llm_pmi rule).
            F.round(
                F.col("tf") * F.log(F.col("_n_docs") / F.col("df").cast("double")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.select(
            "doc_id", "token", "tf", "tfidf",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@register(
    "llm_quality_filter",
    """
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE n_chars BETWEEN 150 AND 400
      AND lang IN ('en', 'es', 'de', 'fr')
      AND NOT regexp_matches(text, '[^a-z0-9 ]')
      AND len(list_distinct(string_split(text, ' '))) >= 10
    """,
)
def llm_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality gate: length bounds, language allowlist, charset
    check, minimum lexical diversity — all pushdown-friendly predicates."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(
        F.col("n_chars").between(150, 400)
        & F.col("lang").isin("en", "es", "de", "fr")
        & ~F.col("text").rlike("[^a-z0-9 ]")
        & (F.size(F.array_distinct(F.split("text", " "))) >= 10)
    ).select("doc_id", "lang", "n_chars")


@register(
    "llm_quality_score",
    """
    SELECT doc_id,
           ROUND(LEAST(CAST(n_chars AS DOUBLE) / 300.0, 1.0), 6) AS len_score,
           ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')), 6) AS diversity,
           ROUND(CAST(len(list_filter(string_split(text, ' '),
                                      t -> list_contains(['the','a','and','of','to'], t))) AS DOUBLE)
                 / len(string_split(text, ' ')), 6) AS stopword_ratio,
           ROUND(0.5 * LEAST(CAST(n_chars AS DOUBLE) / 300.0, 1.0)
                 + 0.5 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                          / len(string_split(text, ' '))), 6) AS quality
    FROM documents
    """,
)
def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: length saturation, lexical diversity,
    stopword ratio — the standard pretraining-corpus heuristics."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    ntok = F.size(toks).cast("double")
    len_score = F.least(F.col("n_chars").cast("double") / 300.0, F.lit(1.0))
    diversity = F.size(F.array_distinct(toks)).cast("double") / ntok
    stop_ratio = (
        F.size(F.expr("filter(split(text, ' '), t -> array_contains(array('the','a','and','of','to'), t))")).cast("double")
        / ntok
    )
    return d.select(
        "doc_id",
        F.round(len_score, 6).alias("len_score"),
        F.round(diversity, 6).alias("diversity"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(0.5 * len_score + 0.5 * diversity, 6).alias("quality"),
    )


# Marker token sets for the n-gram language heuristic. The fixture corpus
# is synthetic engine-vocabulary text, so markers use that vocabulary;
# real deployments swap in per-language stopword lists.
_LANG_MARKERS = {
    "en": ["join", "filter", "window"],
    "es": ["agg", "scan", "shuffle"],
    "de": ["spark", "hash", "sort"],
}


def _marker_sql(lang: str) -> str:
    arr = ", ".join(f"'{t}'" for t in _LANG_MARKERS[lang])
    return f"len(list_intersect(list_distinct(string_split(text, ' ')), [{arr}]))"


@register(
    "llm_lang_id",
    f"""
    SELECT doc_id, lang,
           CASE
             WHEN {_marker_sql('en')} >= {_marker_sql('es')}
              AND {_marker_sql('en')} >= {_marker_sql('de')}
              AND {_marker_sql('en')} > 0 THEN 'en'
             WHEN {_marker_sql('es')} >= {_marker_sql('de')}
              AND {_marker_sql('es')} > 0 THEN 'es'
             WHEN {_marker_sql('de')} > 0 THEN 'de'
             ELSE 'und'
           END AS predicted_lang
    FROM documents
    """,
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-token hit counts with a deterministic
    priority argmax (en > es > de on ties, 'und' when no markers hit)."""
    d = load_table(spark, sf_dir, "documents")

    def hits(lang: str):
        arr = ", ".join(f"'{t}'" for t in _LANG_MARKERS[lang])
        return F.size(
            F.array_intersect(F.array_distinct(F.split("text", " ")), F.expr(f"array({arr})"))
        )

    en, es, de = hits("en"), hits("es"), hits("de")
    return d.select(
        "doc_id",
        "lang",
        F.when((en >= es) & (en >= de) & (en > 0), "en")
        .when((es >= de) & (es > 0), "es")
        .when(de > 0, "de")
        .otherwise("und")
        .alias("predicted_lang"),
    )


@register(
    "llm_token_count",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS re_tokens,
           ROUND(CAST(n_chars AS DOUBLE)
                 / NULLIF(len(regexp_extract_all(text, '[a-z]+|[0-9]+')), 0), 6)
             AS chars_per_token
    FROM documents
    """,
)
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace split vs BPE-ish regex tokenizer
    ([a-z]+|[0-9]+ word pieces), plus chars-per-token — the standard
    pretraining budget metric."""
    d = load_table(spark, sf_dir, "documents")
    re_tokens = F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)"))
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        re_tokens.alias("re_tokens"),
        # NULLIF guard: a zero-token doc must be NULL in both engines,
        # not DuckDB's IEEE inf (the evt_survival divergence class).
        F.round(
            F.col("n_chars").cast("double")
            / F.nullif(re_tokens.cast("double"), F.lit(0.0)),
            6,
        ).alias(
            "chars_per_token"
        ),
    )


@register(
    "llm_fingerprint",
    """
    WITH sh AS (
      SELECT doc_id,
             list_transform(
               range(1, len(string_split(text, ' ')) - 1),
               i -> CAST(('0x' || substr(md5(array_to_string(string_split(text, ' ')[i:i+2], ' ')), 1, 12)) AS BIGINT)
             ) AS shingle_hashes
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    )
    SELECT doc_id,
           list_aggregate(shingle_hashes, 'min') AS fingerprint,
           len(shingle_hashes) AS n_shingles
    FROM sh
    """,
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: minimum 48-bit md5 hash over 3-token shingles
    (1-permutation MinHash / winnowing-style). Shared fingerprint ⇒
    near-dup candidate bucket. Pure JVM array HOFs, narrow pipeline."""
    # Guard: Spark's sequence(0, n-3) DESCENDS for <3-token docs (and a
    # negative i crashes slice), while DuckDB's range(1, n-1) is empty —
    # the llm_rouge_overlap divergence class. Filter both sides.
    d = load_table(spark, sf_dir, "documents").filter(
        F.size(F.split("text", " ")) >= 3
    )
    shingle_hashes = F.expr(
        "transform(sequence(0, size(split(text, ' ')) - 3), "
        "i -> CAST(conv(substring(md5(concat_ws(' ', slice(split(text, ' '), i + 1, 3))), 1, 12), 16, 10) AS BIGINT))"
    )
    return d.select(
        "doc_id",
        F.array_min(shingle_hashes).alias("fingerprint"),
        F.size(shingle_hashes).alias("n_shingles"),
    )


@register(
    "llm_ngram_stats",
    """
    WITH t AS (
      SELECT string_split(text, ' ') AS tok FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    b AS (
      SELECT unnest(list_transform(generate_series(1, len(tok) - 1),
                                   i -> tok[i] || ' ' || tok[i + 1])) AS bigram
      FROM t
    )
    SELECT bigram, COUNT(*) AS n
    FROM b GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def llm_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 bigrams — the n-gram statistics pass a curation
    pipeline runs for boilerplate detection and shingle-threshold tuning
    (complements the unigram passes: llm_token_count / llm_stopword_strip).

    Bigrams are built JVM-side with transform(sequence(...)) over the
    token array (no UDF), exploded, then counted. Scale shape: explode
    inflates to ~tokens-per-doc rows but the bigram groupBy is map-side
    combinable, and the final top-k compiles to TakeOrderedAndProject —
    per-partition heaps, no global sort shuffle. Spark arrays are
    0-indexed vs DuckDB's 1-indexed; both sides index explicitly."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.split(F.col("text"), " ").alias("t")).filter(F.size("t") >= 2)
    bigrams = toks.select(
        F.explode(
            F.expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1]))")
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


@register(
    "llm_bigram_lm",
    """
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    bg AS (
      SELECT doc_id, t[i] AS w1, array_to_string(t[i:i+1], ' ') AS bigram
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
            FROM toks WHERE len(t) >= 2)
    ),
    doc_bg AS (
      SELECT doc_id, w1, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, w1, bigram
    ),
    corpus_bg AS (SELECT bigram, COUNT(*) AS cb FROM bg GROUP BY bigram),
    corpus_w1 AS (SELECT w1, COUNT(*) AS cw FROM bg GROUP BY w1)
    SELECT d.doc_id,
           CAST(SUM(d.c) AS BIGINT) AS n_bigrams,
           ROUND(-SUM(d.c * ln(b.cb * 1.0 / w.cw)) / SUM(d.c), 6) AS xent2_nats
    FROM doc_bg d
    JOIN corpus_bg b USING (bigram)
    JOIN corpus_w1 w USING (w1)
    GROUP BY d.doc_id
    """,
)
def llm_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM cross-entropy per document [public method: CCNet-style
    quality scoring one order up from llm_perplexity_proxy's unigram
    model]: P(w2|w1) = c(w1 w2)/c(w1·) from corpus counts, doc score =
    -(1/|d|) Σ c_d(bigram) ln P. Doc bigrams are a subset of corpus
    bigrams, so no smoothing term is needed — the conditional is always
    defined. Lower = conventional word order, higher = unusual
    transitions; the pair (unigram, bigram) score is the standard
    quality-filter feature vector.

    Spark-first: shingle once with a JVM transform (no Python), then
    THREE map-side-combinable hash aggregates — (doc,bigram), (bigram),
    (prefix) — and two joins keyed on bigram/prefix. Both count sides
    are VOCABULARY-sized and deliberately not broadcast (the llm_tfidf
    lesson); AQE may still broadcast at toy scale. Everything shuffles
    counts, never text."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.lower("text"), " ").alias("t"))
    bg = toks.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("w1"),
                    F.array_join(F.slice("t", i, 2), " ").alias("bigram"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.bigram").alias("bigram"))
    doc_bg = bg.groupBy("doc_id", "w1", "bigram").agg(F.count(F.lit(1)).alias("c"))
    corpus_bg = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("cb"))
    corpus_w1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("cw"))
    return (
        doc_bg.join(corpus_bg, "bigram")
        .join(corpus_w1, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.round(
                -F.sum(F.col("c") * F.log(F.col("cb") / F.col("cw"))) / F.sum("c"), 6
            ).alias("xent2_nats"),
        )
    )


_SIG_TOPK = 3


@register(
    "llm_topic_signature",
    f"""
    WITH tok AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ),
    src AS (SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY source, tok),
    src_tot AS (SELECT source, SUM(c) AS st FROM src GROUP BY source),
    corp AS (SELECT tok, SUM(c) AS ct FROM src GROUP BY tok),
    corp_tot AS (SELECT SUM(c) AS t FROM src),
    scored AS (
      SELECT s.source, s.tok,
             ROUND(ln((s.c * 1.0 / st.st) / (co.ct * 1.0 / ct2.t)), 6) AS log_lift,
             s.c
      FROM src s
      JOIN src_tot st USING (source)
      JOIN corp co USING (tok)
      CROSS JOIN corp_tot ct2
      WHERE s.c >= 5
    )
    SELECT source, tok, log_lift, CAST(c AS BIGINT) AS n_occurrences
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY log_lift DESC, tok) AS rn
          FROM scored) r
    WHERE rn <= {_SIG_TOPK}
    """,
)
def llm_topic_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source topic signature [public method: log-lift / PMI keyword
    extraction — the tokens most over-represented in a source vs the
    corpus]: lift = ln(P(tok|source) / P(tok)), minimum-support 5,
    top-{_SIG_TOPK} per source with deterministic tie-break — the
    at-a-glance "what is this source about" report used to spot
    mislabeled or scraped-junk sources in a mixing run.

    Spark-first: counts roll up (source, tok) once (map-side-
    combinable); the corpus marginal REUSES those counts (no second
    corpus pass); joins are token-keyed, never a vocabulary broadcast;
    the top-k window partitions by source. Everything after the first
    agg is vocabulary-sized, not corpus-sized."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    src = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    src_tot = src.groupBy("source").agg(F.sum("c").alias("st"))
    corp = src.groupBy("tok").agg(F.sum("c").alias("ct"))
    corp_tot = src.agg(F.sum("c").alias("t"))
    scored = (
        src.filter(F.col("c") >= 5)
        .join(src_tot, "source")
        .join(corp, "tok")
        .crossJoin(corp_tot)
        .select(
            "source",
            "tok",
            F.round(
                F.log((F.col("c") / F.col("st")) / (F.col("ct") / F.col("t"))), 6
            ).alias("log_lift"),
            "c",
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("log_lift").desc(), "tok")
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _SIG_TOPK)
        .select("source", "tok", "log_lift", F.col("c").alias("n_occurrences"))
    )


# Fixed merge table (priority order), the classic high-frequency English
# merges; step-0 pair STATISTICS that would learn such a table are
# llm_bpe_pair_counts.
_BPE_MERGES = [("t", "h"), ("th", "e"), ("a", "n"), ("i", "n"), ("e", "r")]
_BPE_TOPK = 80

# THE segmentation pipeline, defined once in both renderings: space out
# characters, then apply the merge table in priority order. llm_bpe_apply
# (vocabulary distribution) and llm_bpe_roundtrip (losslessness audit)
# both consume these — a merge-table or padding tweak can never reach one
# op and silently skip the other.


def _bpe_merge_chain_sql(expr: str) -> str:
    for _a, _b in _BPE_MERGES:
        expr = f"replace({expr}, ' {_a} {_b} ', ' {_a}{_b} ')"
    return expr


_BPE_SPACED_SQL = "' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' '"
_BPE_MERGE_SQL = _bpe_merge_chain_sql("s")
_BPE_SEG_SQL = _bpe_merge_chain_sql(_BPE_SPACED_SQL)


def _bpe_segmented_col():
    """Spark twin: the merged space-separated subword string for word
    column ``w`` (untrimmed, boundary-spaced)."""
    s = F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")),
        F.lit(" "),
    )
    for a, b in _BPE_MERGES:
        s = F.replace(s, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    return s

_BPE_APPLY_ORACLE = f"""
    WITH words AS (
      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
      FROM documents
    ),
    w2 AS (SELECT w FROM words WHERE w <> ''),
    spaced AS (
      SELECT ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS s
      FROM w2
    ),
    merged AS (SELECT {_BPE_MERGE_SQL} AS s FROM spaced),
    tokens AS (SELECT unnest(string_split(trim(s), ' ')) AS token FROM merged)
    SELECT token, COUNT(*) AS n_occurrences
    FROM tokens GROUP BY token
    ORDER BY n_occurrences DESC, token
    LIMIT {_BPE_TOPK}
"""


@register("llm_bpe_apply", _BPE_APPLY_ORACLE)
def llm_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION: segment the corpus with a fixed,
    priority-ordered merge table (the inference half of byte-pair
    encoding; llm_bpe_pair_counts is the learning half's step-0
    statistics). Words are exploded to space-separated character
    sequences, each merge rewrites its pair left-to-right via
    ``replace`` — single-pass greedy application whose semantics
    (non-overlapping, left-to-right) are identical in Spark and DuckDB,
    which is exactly what the oracle pins — then the resulting subword
    vocabulary distribution (top-k by frequency, total-ordered) comes
    out of one aggregate.

    At 100 TB: tokenization is a pure map (codegen'd string expressions,
    no Python, no shuffle until the final vocabulary count, which is
    map-side-combinable and bounded by |vocab|). A production tokenizer
    with thousands of merges would fold the merge loop into one
    executor-side trie pass (pandas_udf) — same plan shape, the map
    stage just gets a constant factor heavier."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w"))
        .filter(F.col("w") != "")
    )
    tokens = words.select(
        F.explode(F.split(F.trim(_bpe_segmented_col()), " ")).alias("token")
    )
    return (
        tokens.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(_BPE_TOPK)
    )


# Dataset-card statistics block (the datasheet every released
# training corpus ships): doc counts, character volume, mean length,
# and an approximate token count (whitespace splits + 1), reported at
# THREE granularities in one pass — per (source, lang), per source,
# and corpus-total — via ROLLUP with GROUPING flags disambiguating
# the rolled-up rows. This is the reporting face of the curation
# pipeline: llm_text_stats feeds per-doc rows, this op is the
# publishable aggregate.
#
# At 100 TB: one Expand (3 replicas) + one shuffle produces all three
# granularities — the naive three-query version scans the corpus
# three times. The token proxy stays a codegen'd string expression;
# swapping in a real tokenizer moves it to llm_token_count's path
# without touching this plan.
register_sql(
    "llm_dataset_card",
    """
    SELECT source, lang,
           CAST(GROUPING(source) AS INT) AS g_source,
           CAST(GROUPING(lang) AS INT) AS g_lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           CAST(SUM(length(text) - length(replace(text, ' ', ''))) + COUNT(*)
                AS BIGINT) AS approx_tokens
    FROM {documents}
    GROUP BY ROLLUP (source, lang)
""",
)


@register(
    "llm_zipf_fit",
    """
    WITH freq AS (
      SELECT token, COUNT(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
      GROUP BY token
    ), ranked AS (
      SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rk
      FROM freq
    )
    SELECT COUNT(*) AS vocab_size,
           ROUND(regr_slope(ln(freq), ln(rk)), 6) AS zipf_slope,
           ROUND(regr_r2(ln(freq), ln(rk)), 6) AS zipf_r2,
           ROUND(SUM(CASE WHEN rk <= 5 THEN freq ELSE 0 END) * 1.0
                 / SUM(freq), 6) AS top5_share
    FROM ranked
    """,
)
def llm_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus token frequency distribution — the
    standard one-number health check of a training corpus (natural text
    shows log-freq ≈ slope·log-rank with slope near -1; boilerplate-
    heavy or template-generated corpora bend the curve, so slope + R²
    drifting across ingest batches is an early corruption signal; used
    as corpus QA in LLM-data pipelines, e.g. the Pile's analysis
    section). Token counts → frequency-ranked vocabulary →
    least-squares slope/R² of ln(freq) vs ln(rank) via the combinable
    regr_* sufficient-statistic aggregates, plus the head mass
    (top-5-token share). Rank ties break on token text so both engines
    rank identically.

    At 100 TB: the token count is the only corpus-sized pass (map-side
    combined groupBy). Everything after runs on the VOCABULARY
    (10^5-10^6 rows) — the global rank window is a dimension-scale
    sort, and the regr_* aggregates are single-pass partial+final, so
    no stage touches corpus-cardinality data twice."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = freq.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.col("freq").desc(), F.col("token")))
        .alias("rk"),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.round(F.expr("regr_slope(ln(freq), ln(rk))"), 6).alias("zipf_slope"),
        F.round(F.expr("regr_r2(ln(freq), ln(rk))"), 6).alias("zipf_r2"),
        F.round(
            F.sum(F.when(F.col("rk") <= 5, F.col("freq")).otherwise(F.lit(0)))
            / F.sum("freq"),
            6,
        ).alias("top5_share"),
    )


@register(
    "llm_corpus_drift",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
    ), st AS (
      SELECT source, token, COUNT(*) AS c FROM tok GROUP BY source, token
    ), src_tot AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM st GROUP BY source
    ), vocab AS (
      SELECT token, CAST(SUM(c) AS BIGINT) AS ct FROM st GROUP BY token
    ), grand AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n FROM st
    ), grid AS (
      SELECT s.source, v.token, s.ns, v.ct, g.n, COALESCE(x.c, 0) AS c
      FROM src_tot s CROSS JOIN vocab v CROSS JOIN grand g
      LEFT JOIN st x ON x.source = s.source AND x.token = v.token
    ), terms AS (
      SELECT source,
             c * 1.0 / ns AS p,
             (ct - c) * 1.0 / (n - ns) AS q
      FROM grid
    )
    SELECT source,
           CAST(SUM(CASE WHEN p > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tokens_present,
           ROUND(SUM(
               0.5 * CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2))
                          ELSE 0 END
             + 0.5 * CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2))
                          ELSE 0 END), 6) AS js_divergence
    FROM terms
    GROUP BY source
    """,
)
def llm_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: Jensen-Shannon divergence between
    each source's unigram distribution and the REST of the corpus —
    the mixture-QA statistic that catches a crawler or source whose
    language shifted (the CCNet/DSIR-style monitoring complement to
    llm_importance_weights, which reweights rather than flags). The
    corpus collapses once to (source, token) counts; a complete
    source×vocab grid (zeros included — absent tokens still contribute
    to the rest-side KL term) is built from the two marginals, and JS
    sums per source in log space with the 0·ln0 = 0 convention made
    explicit, since both engines would otherwise hit NULL/NaN paths.

    At 100 TB: the token count is the only corpus-scale pass. The grid
    is |sources| × |vocab| — dimension-scale for real vocabularies
    (20 × 10^5); for open-ended vocab, cap to the top-K tokens by
    corpus frequency first (the tail contributes negligibly to JS).
    The two cross joins are broadcast marginals, audited intentional —
    never corpus×corpus."""
    d = load_table(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    src_tot = st.groupBy("source").agg(F.sum("c").alias("ns"))
    vocab = st.groupBy("token").agg(F.sum("c").alias("ct"))
    grand = vocab.agg(F.sum("ct").alias("n"))
    grid = (
        src_tot.crossJoin(vocab)
        .crossJoin(grand)
        .join(st, ["source", "token"], "left")
        .na.fill({"c": 0})
    )
    p = F.col("c") / F.col("ns")
    q = (F.col("ct") - F.col("c")) / (F.col("n") - F.col("ns"))
    m = (p + q) / 2
    term = 0.5 * F.when(p > 0, p * F.log(p / m)).otherwise(0.0) + (
        0.5 * F.when(q > 0, q * F.log(q / m)).otherwise(0.0)
    )
    return grid.groupBy("source").agg(
        F.sum(F.when(p > 0, 1).otherwise(0)).cast("long").alias(
            "n_tokens_present"
        ),
        F.round(F.sum(term), 6).alias("js_divergence"),
    )


@register(
    "llm_langid_eval",
    f"""
    WITH pred AS (
      SELECT lang,
             CASE
               WHEN {_marker_sql('en')} >= {_marker_sql('es')}
                AND {_marker_sql('en')} >= {_marker_sql('de')}
                AND {_marker_sql('en')} > 0 THEN 'en'
               WHEN {_marker_sql('es')} >= {_marker_sql('de')}
                AND {_marker_sql('es')} > 0 THEN 'es'
               WHEN {_marker_sql('de')} > 0 THEN 'de'
               ELSE 'und'
             END AS predicted_lang
      FROM documents
    )
    SELECT lang, predicted_lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN lang = predicted_lang THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM pred
    GROUP BY lang, predicted_lang
    """,
)
def llm_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation confusion matrix for the llm_lang_id
    heuristic against the fixture's ground-truth ``lang`` column — the
    eval harness every pipeline classifier needs before its output
    gates data (a lang filter with silent 40% recall on 'de' quietly
    deletes a language from the corpus). The matrix is (actual,
    predicted, count) in long form — |langs|² bounded — with the
    diagonal marked, so per-language precision/recall/accuracy all
    derive from these rows; hash-pinning the matrix pins the
    classifier's entire behavior on this corpus, not just one summary
    number.

    At 100 TB: one map pass (the predictor is pure JVM expression
    work) + a bounded-alphabet rollup — evaluation costs no more than
    application, so run it on every labeled holdout shard. The same
    long-form matrix shape serves any classifier gate (quality,
    toxicity, format) with a labeled sample."""
    d = load_table(spark, sf_dir, "documents")

    def hits(lang: str):
        arr = ", ".join(f"'{t}'" for t in _LANG_MARKERS[lang])
        return F.size(
            F.array_intersect(
                F.array_distinct(F.split("text", " ")), F.expr(f"array({arr})")
            )
        )

    en, es, de = hits("en"), hits("es"), hits("de")
    pred = d.select(
        "lang",
        F.when((en >= es) & (en >= de) & (en > 0), "en")
        .when((es >= de) & (es > 0), "es")
        .when(de > 0, "de")
        .otherwise("und")
        .alias("predicted_lang"),
    )
    return pred.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("lang") == F.col("predicted_lang"), 1).otherwise(0)
        ).cast("long").alias("n_correct"),
    )


# Winnowing parameters: k-token shingles, window of w consecutive shingle
# hashes. Guarantee [Schleimer et al., SIGMOD'03]: any match of length
# >= w + k - 1 tokens shares at least one selected fingerprint.
_WINNOW_K = 3
_WINNOW_W = 4


@register(
    "llm_winnowing",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS tok FROM documents
      WHERE len(string_split(text, ' ')) >= {_WINNOW_K + _WINNOW_W - 1}
    ),
    h AS (
      SELECT doc_id,
             list_transform(
               range(1, len(tok) - {_WINNOW_K - 2}),
               i -> CAST(('0x' || substr(md5(array_to_string(tok[i:i+{_WINNOW_K - 1}], ' ')), 1, 12)) AS BIGINT)
             ) AS hs
      FROM t
    ),
    wins AS (
      SELECT doc_id,
             list_transform(
               range(1, len(hs) - {_WINNOW_W - 2}),
               p -> list_aggregate(hs[p:p+{_WINNOW_W - 1}], 'min')
             ) AS w
      FROM h
    ),
    perdoc AS (
      SELECT doc_id, len(w) AS n_windows, len(list_distinct(w)) AS n_fp
      FROM wins
    ),
    exploded AS (
      SELECT doc_id, unnest(list_distinct(w)) AS fp FROM wins
    ),
    shared AS (
      SELECT fp FROM exploded GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    ns AS (
      SELECT e.doc_id, COUNT(*) AS n_shared_fp
      FROM exploded e JOIN shared USING (fp) GROUP BY e.doc_id
    )
    SELECT p.doc_id, p.n_windows, p.n_fp,
           COALESCE(ns.n_shared_fp, 0) AS n_shared_fp,
           COALESCE(ns.n_shared_fp, 0) > 0 AS flagged
    FROM perdoc p LEFT JOIN ns USING (doc_id)
    """,
)
def llm_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints [public method: Schleimer, Wilkerson
    & Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03 — the MOSS algorithm]: hash every k-token shingle, then in
    every window of w consecutive hashes select the minimum — the selected
    set is a position-robust fingerprint with the guarantee that any
    shared run of >= w+k-1 tokens yields a shared fingerprint.
    Complements llm_fingerprint (ONE global min per doc) with the
    LOCAL variant whose density ~ 2/(w+1) supports substring-level
    matching. Output per doc: window/fingerprint counts, how many of its
    fingerprints other docs also selected, and the near-dup flag.

    Spark-first: shingle hashing and window-min selection are pure JVM
    array HOFs (transform/sequence/slice/array_min) — a narrow pipeline,
    no shuffle until the fingerprint equi-join. Cross-doc sharing groups
    by the 48-bit fingerprint value (gram-keyed, never doc x doc), the
    same bucketed shape as llm_span_dedup; at 100 TB the fingerprint
    groupBy is map-side combinable and the join back to docs is an
    equi-shuffle on a high-entropy hash key (no skew by construction)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("tok")).filter(
        F.size("tok") >= _WINNOW_K + _WINNOW_W - 1
    )
    hs = F.expr(
        f"transform(sequence(1, size(tok) - {_WINNOW_K - 1}), "
        f"i -> CAST(conv(substring(md5(concat_ws(' ', slice(tok, i, {_WINNOW_K}))), 1, 12), 16, 10) AS BIGINT))"
    )
    wins = (
        toks.withColumn("hs", hs)
        .select(
            "doc_id",
            F.expr(
                f"transform(sequence(1, size(hs) - {_WINNOW_W - 1}), "
                f"p -> array_min(slice(hs, p, {_WINNOW_W})))"
            ).alias("w"),
        )
    )
    perdoc = wins.select(
        "doc_id",
        F.size("w").alias("n_windows"),
        F.size(F.array_distinct("w")).alias("n_fp"),
    )
    exploded = wins.select("doc_id", F.explode(F.array_distinct("w")).alias("fp"))
    shared = (
        exploded.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("fp")
    )
    ns = (
        exploded.join(shared, "fp")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_fp"))
    )
    return perdoc.join(ns, "doc_id", "left").select(
        "doc_id",
        "n_windows",
        "n_fp",
        F.coalesce("n_shared_fp", F.lit(0)).alias("n_shared_fp"),
        (F.coalesce("n_shared_fp", F.lit(0)) > 0).alias("flagged"),
    )


@register(
    "llm_tokenizer_fertility",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS BIGINT) AS re_tokens,
           ROUND(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+'))) * 1.0
                 / NULLIF(SUM(len(string_split(text, ' '))), 0), 6) AS fertility,
           ROUND(SUM(n_chars) * 1.0
                 / NULLIF(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+'))), 0), 6)
             AS chars_per_token
    FROM documents GROUP BY lang
    """,
)
def llm_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — subword tokens per whitespace
    word and chars per token, THE cross-lingual tokenizer-QA report (high
    fertility = a language the vocab underserves; drives vocab rebalance
    before a pretraining run). Aggregates llm_token_count's per-doc
    counters to the lang grain.

    Scale shape: a single map-side-combinable hash aggregate over a
    narrow projection (lang, three token counters) — one shuffle of
    |langs| rows. Ratio-of-sums (not avg-of-ratios) on both sides, so
    long docs weigh proportionally."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(F.split("text", " "))
    re_t = F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)"))
    per = d.select("lang", ws.alias("ws"), re_t.alias("re"), "n_chars")
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws").cast("long").alias("ws_tokens"),
        F.sum("re").cast("long").alias("re_tokens"),
        # NULLIF guards: an all-punctuation language bucket must be NULL
        # in both engines, not DuckDB's IEEE inf.
        F.round(
            F.sum("re") * 1.0 / F.nullif(F.sum("ws"), F.lit(0)), 6
        ).alias("fertility"),
        F.round(
            F.sum("n_chars") * 1.0 / F.nullif(F.sum("re"), F.lit(0)), 6
        ).alias("chars_per_token"),
    )


# BM25 (Okapi, Lucene idf form) hyperparameters and the probe-query set:
# every 53rd doc (the llm_contamination probe convention, ~10 queries at
# 500 docs); a query = the doc's first 8 tokens, deduplicated.
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_PROBE_MOD = 53
_BM25_QUERY_TOKENS = 8
_BM25_TOPK = 5

# The shared BM25 inverted-index dataflow (postings, doc lengths, corpus
# stats, probe queries, ROUNDED per-(query, doc) scores) in BOTH
# renderings — one oracle CTE chain and one Spark builder — consumed by
# llm_bm25_score and llm_query_expansion_prf so the scoring formula and
# the rounded-rank rule live in exactly one place per rendering.
# The inverted-index CTE prefix (postings / doc lengths / corpus stats /
# document frequencies / probe queries) WITHOUT a scorer — the single
# source every BM25 oracle composes: the default-constant scorer below
# appends its `scored` CTE, and the tuning-curve oracle appends one
# (k1, b)-parameterized scoring leg per grid point.
_DUCK_BM25_INDEX = f"""tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t
      GROUP BY doc_id, token
    ),
    dlen AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avg_dl FROM dlen
    ),
    docfreq AS (SELECT token, COUNT(*) AS dfreq FROM tf GROUP BY token),
    queries AS (
      SELECT doc_id AS query_id, unnest(list_distinct(
               string_split(text, ' ')[1:{_BM25_QUERY_TOKENS}])) AS token
      FROM documents WHERE doc_id % {_BM25_PROBE_MOD} = 0
    )"""

_DUCK_BM25_CORE = f"""{_DUCK_BM25_INDEX},
    scored AS (
      SELECT q.query_id, tf.doc_id,
             ROUND(SUM(
               ln((s.n_docs - d.dfreq + 0.5) / (d.dfreq + 0.5) + 1.0)
               * tf.tf * ({_BM25_K1} + 1.0)
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                                        + {_BM25_B} * l.dl / s.avg_dl))
             ), 6) AS score
      FROM queries q
      JOIN tf ON tf.token = q.token
      JOIN docfreq d ON d.token = q.token
      JOIN dlen l ON l.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY q.query_id, tf.doc_id
    )"""


def _bm25_index_frames(spark: SparkSession, sf_dir: str):
    """Spark twin of _DUCK_BM25_INDEX: build the inverted-index frames
    ONCE and return (tf, dlen, stats, docfreq, queries). The postings,
    doc-length, and query frames each feed 2-3 stages; materialize
    them once (checkpoint = building the inverted index, which is
    exactly what a deployed BM25 system persists) — without it the
    audit showed nine document scans."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    tf = (
        d.select("doc_id", F.explode(toks).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(materialize)
    )
    dlen = d.select(
        "doc_id", F.size(toks).cast("double").alias("dl")
    ).transform(materialize)
    stats = dlen.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avg_dl"),
    )
    docfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("dfreq"))
    queries = d.filter(F.col("doc_id") % _BM25_PROBE_MOD == 0).select(
        F.col("doc_id").alias("query_id"),
        F.explode(F.array_distinct(F.slice(toks, 1, _BM25_QUERY_TOKENS))).alias(
            "token"
        ),
    ).transform(materialize)
    return tf, dlen, stats, docfreq, queries


def _bm25_score_frames(
    tf, dlen, stats, docfreq, queries, k1: float = _BM25_K1, b: float = _BM25_B
):
    """One (k1, b) scoring leg over prebuilt index frames — the Spark
    twin of the oracle's `scored` CTE. The per-(query, doc) score is
    ROUNDED before any rank consumes it (the llm_pmi_collocations
    rule): the sum is partial-aggregation-order-dependent at the last
    ulp."""
    idf = F.log(
        (F.col("n_docs") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5) + 1.0
    )
    norm = F.col("tf") + k1 * (
        1.0 - b + b * F.col("dl") / F.col("avg_dl")
    )
    return (
        queries
        .join(tf, "token")
        .join(docfreq, "token")
        .join(dlen, "doc_id")
        .crossJoin(stats)
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(
                F.sum(idf * F.col("tf") * (k1 + 1.0) / norm), 6
            ).alias("score")
        )
    )


def _bm25_corpus_scored(spark: SparkSession, sf_dir: str, k1: float = _BM25_K1, b: float = _BM25_B):
    """Spark twin of _DUCK_BM25_CORE (index build + one scoring leg).
    Returns (scored, tf, docfreq, stats, queries)."""
    tf, dlen, stats, docfreq, queries = _bm25_index_frames(spark, sf_dir)
    scored = _bm25_score_frames(tf, dlen, stats, docfreq, queries, k1=k1, b=b)
    return scored, tf, docfreq, stats, queries


@register(
    "llm_bm25_score",
    f"""
    WITH {_DUCK_BM25_CORE}
    SELECT query_id, doc_id, score, rk
    FROM (SELECT query_id, doc_id, score,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, doc_id) AS rk
          FROM scored)
    WHERE rk <= {_BM25_TOPK}
    """,
)
def llm_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval [public method: Okapi BM25 with Lucene's
    positive idf, k1={_BM25_K1}, b={_BM25_B}] — the sparse half of a
    hybrid retrieval pipeline, beside the dense llm_cosine_topk /
    llm_ann_* family: score every document against a bounded probe
    query set through the INVERTED INDEX — queries explode to (query,
    term) rows that equi-join the (term, doc, tf) postings on the term
    key, so cost is Σ postings(term ∈ queries), never |queries|×|docs|.
    Corpus stats (N, avgdl) ride along as a broadcast 1-row plan (the
    llm_tfidf convention — no driver-side count pass); per-(query, doc)
    partial scores sum in one map-side-combinable agg, and the top-k
    cut is the win_topk_per_group window.

    At 100 TB: the postings join shuffles on the term key (high
    cardinality, unskewed after stopwording — a boilerplate hot term is
    AQE-skew-split shape); the query set is bounded by construction so
    the scored pairs stay proportional to matched postings. The df
    (docfreq) side is vocabulary-sized and deliberately NOT
    force-broadcast, the llm_tfidf OOM lesson."""
    from pyspark.sql import Window

    scored, _, _, _, _ = _bm25_corpus_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.select(
            "query_id",
            "doc_id",
            "score",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= _BM25_TOPK)
    )


# PMI collocations: minimum pair frequency (rare pairs have unstable PMI)
# and report depth.
_PMI_MIN_PAIR = 5
_PMI_TOPK = 20


@register(
    "llm_pmi_collocations",
    f"""
    WITH toks AS (
      SELECT string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    uni AS (
      SELECT tok, COUNT(*) AS c1 FROM (SELECT unnest(t) AS tok FROM toks)
      GROUP BY tok
    ),
    tot AS (SELECT CAST(SUM(c1) AS DOUBLE) AS n_tok FROM uni),
    big AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks)
      ) GROUP BY w1, w2
      HAVING COUNT(*) >= {_PMI_MIN_PAIR}
    ),
    btot AS (SELECT CAST(SUM(c12) AS DOUBLE) AS n_big FROM
             (SELECT w1, w2, COUNT(*) AS c12 FROM (
                SELECT t[i] AS w1, t[i + 1] AS w2
                FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks)
              ) GROUP BY w1, w2))
    SELECT w1, w2, c12, u1.c1 AS c_w1, u2.c1 AS c_w2,
           ROUND(ln((CAST(c12 AS DOUBLE) * n_tok * n_tok)
                    / (n_big * u1.c1 * u2.c1)), 6) AS pmi
    FROM big
    JOIN uni u1 ON u1.tok = w1
    JOIN uni u2 ON u2.tok = w2
    CROSS JOIN tot CROSS JOIN btot
    ORDER BY pmi DESC, w1, w2
    LIMIT {_PMI_TOPK}
    """,
)
def llm_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-scored collocations [public method: Church & Hanks 1990's
    pointwise mutual information, the classic collocation-extraction
    measure — where llm_ngram_stats ranks bigrams by raw frequency,
    PMI normalizes by both unigram marginals, surfacing pairs that
    co-occur far above chance (multiword expressions, named entities)
    rather than pairs of merely common words]. PMI = ln(P(w1,w2) /
    (P(w1)·P(w2))) computed as ONE division of exact integer products
    (counts ≤ 2^26 keep every product under 2^53 — bit-exact in both
    engines); pairs below {_PMI_MIN_PAIR} occurrences are cut first
    (rare-pair PMI is noise), and the top-{_PMI_TOPK} sort keys on the
    ROUNDED score so ulp-level ln() differences cannot flip the order.

    At 100 TB: unigram and bigram counting are the map-side-combinable
    explode-then-reduce shape of llm_ngram_stats; the marginal joins
    key on single tokens — the vocabulary dimension — and stay
    un-broadcast (the llm_tfidf OOM lesson: a web-scale vocabulary is
    not a broadcast candidate; AQE may still elect one at small SF).
    The two 1-row totals ride broadcast nested loops. Top-k compiles
    to TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("t")).filter(F.size("t") >= 2)
    # uni feeds three branches (total + both marginals) and big_all two
    # (total + cut); un-truncated, every branch re-scans documents
    # (audit: 5 scans). Both frames are vocabulary-dimension after
    # their aggregates — checkpoint once, scan the corpus twice.
    uni = (
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c1"))
        .transform(materialize)
    )
    tot = uni.agg(F.sum("c1").cast("double").alias("n_tok"))
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(t[i - 1] AS w1, t[i] AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    big_all = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .transform(materialize)
    )
    btot = big_all.agg(F.sum("c12").cast("double").alias("n_big"))
    big = big_all.filter(F.col("c12") >= _PMI_MIN_PAIR)
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c1").alias("c_w1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c1").alias("c_w2"))
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(tot)
        .crossJoin(btot)
        .select(
            "w1",
            "w2",
            "c12",
            "c_w1",
            "c_w2",
            F.round(
                F.log(
                    (F.col("c12").cast("double") * F.col("n_tok") * F.col("n_tok"))
                    / (F.col("n_big") * F.col("c_w1") * F.col("c_w2"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(_PMI_TOPK)
    )


# Chat-template rendering: instruction scaffold with named placeholders,
# and the chars-per-token estimate used for budget planning.
_TMPL_SYSTEM = "You are a precise {lang} data engineering assistant."
_TMPL_USER = "Summarize the following document from {source}:\n{text}"
_TMPL_CHARS_PER_TOK = 4


@register(
    "llm_prompt_template_render",
    f"""
    WITH r AS (
      SELECT doc_id,
             replace('{_TMPL_SYSTEM}', '{{lang}}', lang) AS sys_msg,
             replace(replace('{_TMPL_USER}', '{{source}}', source),
                     '{{text}}', text) AS user_msg
      FROM documents
    )
    SELECT doc_id,
           length(sys_msg) AS sys_chars,
           length(user_msg) AS user_chars,
           CAST(ceil((length(sys_msg) + length(user_msg))
                     * 1.0 / {_TMPL_CHARS_PER_TOK}) AS BIGINT) AS est_tokens,
           md5(sys_msg || chr(10) || user_msg) AS prompt_digest
    FROM r
    """,
)
def llm_prompt_template_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT prompt-template rendering [public practice: the chat-format
    assembly step of every instruction-tuning pipeline — system/user
    scaffolds with named placeholders filled from document fields,
    plus the chars-per-token budget estimate]. Placeholders substitute
    via chained replace() (JVM-side, no format engine needed);
    the rendered bytes are pinned by an md5 digest instead of shipping
    multi-KB prompts through the comparator, and est_tokens uses the
    standard ~{_TMPL_CHARS_PER_TOK} chars/token heuristic that
    llm_token_budget refines with real token counts.

    At 100 TB: a pure narrow map over the corpus — render, measure,
    hash, no shuffle at all; the template rides into the plan as a
    literal. Composes upstream of llm_pack_sequences (budgeting) and
    llm_chunk_split (long docs)."""
    d = load_table(spark, sf_dir, "documents")
    sys_msg = F.expr(f"replace('{_TMPL_SYSTEM}', '{{lang}}', lang)")
    user_msg = F.expr(
        f"replace(replace('{_TMPL_USER}', '{{source}}', source), '{{text}}', text)"
    )
    r = d.select("doc_id", sys_msg.alias("sys_msg"), user_msg.alias("user_msg"))
    return r.select(
        "doc_id",
        F.length("sys_msg").cast("bigint").alias("sys_chars"),
        F.length("user_msg").cast("bigint").alias("user_chars"),
        F.ceil(
            (F.length("sys_msg") + F.length("user_msg"))
            / F.lit(float(_TMPL_CHARS_PER_TOK))
        )
        .cast("bigint")
        .alias("est_tokens"),
        F.md5(F.concat_ws("\n", "sys_msg", "user_msg")).alias("prompt_digest"),
    )


@register(
    "llm_ngram_novelty",
    """
    WITH dg AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
                      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS gram
        FROM documents
        WHERE len(string_split(text, ' ')) >= 2
      )
    ),
    df AS (SELECT gram, COUNT(*) AS docfreq FROM dg GROUP BY gram)
    SELECT dg.doc_id,
           COUNT(*) AS n_distinct_grams,
           CAST(SUM(CASE WHEN df.docfreq = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique_grams,
           ROUND(SUM(CASE WHEN df.docfreq = 1 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS novelty
    FROM dg JOIN df USING (gram)
    GROUP BY dg.doc_id
    """,
)
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty [public method: the "new text"
    signal — the fraction of a doc's distinct bigrams appearing in NO
    other document; low novelty flags boilerplate/templates before any
    pairwise dedup runs, high novelty marks content worth keeping —
    the cheap single-pass complement to llm_minhash_det]. Doc-distinct
    bigrams join corpus document-frequency on the GRAM key; a doc is
    its own one occurrence, so docfreq=1 means globally unique.

    At 100 TB: bigram explode reduces immediately to DISTINCT
    (doc, gram); docfreq is a map-side-combinable count on the gram
    key; the join keys on the gram dimension and stays un-broadcast
    (web-scale gram vocabularies are not broadcast candidates — the
    llm_tfidf rule); final rollup re-keys on doc_id."""
    d = load_table(spark, sf_dir, "documents")
    dg = (
        # Guard: sequence(1, n-1) DESCENDS for <2-token docs in Spark
        # (NULL grams) while DuckDB's generate_series(1, 0) is empty —
        # filter sub-bigram docs in BOTH engines (see llm_rouge_overlap).
        d.filter(F.size(F.split("text", " ")) >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(text, ' ')) - 1), "
                    "i -> concat(split(text, ' ')[i - 1], ' ', split(text, ' ')[i]))"
                )
            ).alias("gram"),
        )
        .distinct()
        # Two branches (docfreq, the doc-side join) reference this
        # frame — checkpoint so documents scans once (the audit rule).
        .transform(materialize)
    )
    df = dg.groupBy("gram").agg(F.count(F.lit(1)).alias("docfreq"))
    return (
        dg.join(df, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_grams"),
            F.sum(F.when(F.col("docfreq") == 1, 1).otherwise(0)).alias(
                "n_unique_grams"
            ),
            F.round(
                F.sum(F.when(F.col("docfreq") == 1, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("novelty"),
        )
    )


# Prefix-cache analysis depths (tokens).
_PREFIX_DEPTHS = (4, 8, 16)


@register(
    "llm_prefix_cache_hit",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    depths AS (SELECT unnest(ARRAY{list(_PREFIX_DEPTHS)}) AS depth),
    pfx AS (
      SELECT d.depth, array_to_string(t[1:d.depth], ' ') AS prefix,
             LEAST(len(t), d.depth) AS pfx_len
      FROM toks CROSS JOIN depths d
    ),
    grp AS (
      SELECT depth, prefix, pfx_len, COUNT(*) AS n
      FROM pfx GROUP BY depth, prefix, pfx_len
    )
    SELECT depth,
           COUNT(*) AS n_distinct_prefixes,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(SUM((n - 1) * pfx_len) AS BIGINT) AS reusable_prefix_tokens,
           ROUND(SUM((n - 1) * pfx_len) * 1.0 / SUM(n * pfx_len), 6)
             AS cache_hit_share
    FROM grp
    GROUP BY depth
    ORDER BY depth
    """,
)
def llm_prefix_cache_hit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-cache (KV-cache) reuse estimate [public method: serving
    stacks dedupe shared prompt prefixes (vLLM-style automatic prefix
    caching); before provisioning, you measure how much prefix mass a
    workload actually shares]. For each depth d, requests group by
    their first-d-token prefix; every request beyond the first in a
    group would hit the cache, so reusable mass = Σ (n−1)·len over
    groups and the hit share divides by total prefix tokens served.
    Rising share with depth = templated workloads (agents, RAG
    scaffolds); flat near zero = unique prompts, caching won't pay.

    At 100 TB: the prefix is a narrow map (slice + join — no token
    explode); the group key is the PREFIX STRING, so the rollup is
    map-side combinable and the depth fan-out multiplies rows by
    |depths|, not token count. At serving scale the same query runs
    over the request log stream (stream_tumbling_window's shape) with
    the prefix hashed (xxhash64) instead of carried verbatim."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    depths = spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(f"({x})" for x in _PREFIX_DEPTHS)
        + " AS t(depth)"
    )
    pfx = toks.crossJoin(depths).select(
        "depth",
        F.expr("array_join(slice(t, 1, depth), ' ')").alias("prefix"),
        F.least(F.size("t"), F.col("depth")).alias("pfx_len"),
    )
    grp = pfx.groupBy("depth", "prefix", "pfx_len").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        grp.groupBy("depth")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_prefixes"),
            F.sum("n").alias("n_docs"),
            F.sum((F.col("n") - 1) * F.col("pfx_len")).alias(
                "reusable_prefix_tokens"
            ),
            F.round(
                F.sum((F.col("n") - 1) * F.col("pfx_len"))
                / F.sum(F.col("n") * F.col("pfx_len")),
                6,
            ).alias("cache_hit_share"),
        )
        .orderBy("depth")
    )


# Pseudo-relevance feedback: feedback depth and expansion-term count.
_PRF_FEEDBACK = 3
_PRF_TERMS = 2


@register(
    "llm_query_expansion_prf",
    f"""
    WITH {_DUCK_BM25_CORE},
    feedback AS (
      SELECT query_id, doc_id FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rk
        FROM scored) t
      WHERE rk <= {_PRF_FEEDBACK}
    ),
    cand AS (
      SELECT f.query_id, tf.token,
             ROUND(SUM(tf.tf * ln((s.n_docs - d.dfreq + 0.5)
                                  / (d.dfreq + 0.5) + 1.0)), 6) AS weight,
             MAX(d.dfreq) AS dfreq
      FROM feedback f
      JOIN tf ON tf.doc_id = f.doc_id
      JOIN docfreq d ON d.token = tf.token
      CROSS JOIN stats s
      WHERE tf.token NOT IN (SELECT q.token FROM queries q
                             WHERE q.query_id = f.query_id)
      GROUP BY f.query_id, tf.token
    )
    SELECT query_id, rk AS exp_rank, token, weight, dfreq
    FROM (SELECT query_id, token, weight, dfreq,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY weight DESC, token) AS rk
          FROM cand) t
    WHERE rk <= {_PRF_TERMS}
    ORDER BY query_id, exp_rank
    """,
)
def llm_query_expansion_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion [public method:
    Rocchio-style PRF — assume BM25's top-{_PRF_FEEDBACK} documents
    are relevant, mine them for the highest tf·idf terms NOT already
    in the query, and expand with the top {_PRF_TERMS}; the classic
    recall lever layered on llm_bm25_score's sparse leg, upstream of
    llm_rrf_fusion]. The feedback ranking reuses the exact BM25
    scoring dataflow; expansion candidates are an anti-semi filter
    against the query's own terms, weighted by Σ tf·idf over the
    feedback set with the ordering on the ROUNDED weight (token
    tiebreak) so both engines elect identical terms.

    At 100 TB: everything up to feedback is the proven inverted-index
    shape; the candidate mine joins feedback (|queries|·{_PRF_FEEDBACK}
    rows, broadcast) against the postings on the DOC key, so the mined
    mass is feedback-doc length, not corpus size; the NOT-IN decorates
    as a left-anti join on (query, token)."""
    from pyspark.sql import Window

    scored, tf, docfreq, stats, queries = _bm25_corpus_scored(spark, sf_dir)
    idf = F.log(
        (F.col("n_docs") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5) + 1.0
    )
    w_fb = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    feedback = (
        scored.select("query_id", "doc_id", F.row_number().over(w_fb).alias("rk"))
        .filter(F.col("rk") <= _PRF_FEEDBACK)
        .select("query_id", "doc_id")
    )
    cand = (
        F.broadcast(feedback)
        .join(tf, "doc_id")
        .join(docfreq, "token")
        .crossJoin(stats)
        .join(queries, ["query_id", "token"], "left_anti")
        .groupBy("query_id", "token")
        .agg(
            F.round(F.sum(F.col("tf") * idf), 6).alias("weight"),
            F.max("dfreq").alias("dfreq"),
        )
    )
    w_exp = Window.partitionBy("query_id").orderBy(F.col("weight").desc(), "token")
    return (
        cand.select(
            "query_id",
            "token",
            "weight",
            "dfreq",
            F.row_number().over(w_exp).alias("exp_rank"),
        )
        .filter(F.col("exp_rank") <= _PRF_TERMS)
        .select("query_id", "exp_rank", "token", "weight", "dfreq")
        .orderBy("query_id", "exp_rank")
    )


# Watermark detection: greenlist fraction gamma and the flag threshold.
_WM_GAMMA = 0.5
_WM_Z_FLAG = 4.0


@register(
    "llm_watermark_detect",
    f"""
    WITH pairs AS (
      SELECT doc_id,
             t[i] AS prev_tok, t[i + 1] AS cur_tok
      FROM (SELECT doc_id, string_split(text, ' ') AS t,
                   unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS i
            FROM documents
            WHERE len(string_split(text, ' ')) >= 2)
    ),
    scored AS (
      SELECT doc_id, COUNT(*) AS n_pairs,
             CAST(SUM(CASE WHEN substring(md5(prev_tok || '|' || cur_tok), 1, 1)
                           IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_green
      FROM pairs GROUP BY doc_id
    )
    SELECT doc_id, n_pairs, n_green,
           ROUND(CAST(n_green AS DOUBLE) / n_pairs, 6) AS green_frac,
           ROUND((n_green - {_WM_GAMMA} * n_pairs)
                 / sqrt(n_pairs * {_WM_GAMMA} * (1.0 - {_WM_GAMMA})), 6) AS z,
           CAST((n_green - {_WM_GAMMA} * n_pairs)
                / sqrt(n_pairs * {_WM_GAMMA} * (1.0 - {_WM_GAMMA}))
                > {_WM_Z_FLAG} AS INT) AS flagged
    FROM scored
    """,
)
def llm_watermark_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical text-watermark detection [public method:
    Kirchenbauer et al. 2023 — a watermarking sampler boosts a
    context-keyed "greenlist" half of the vocabulary, so detection is
    a one-proportion z-test on the greenlist hit rate: z = (g − γn)/
    √(nγ(1−γ)), flagged above z={_WM_Z_FLAG}]. The greenlist member-
    ship of each (prev, cur) token bigram derives from an md5 parity
    — the identical deterministic stand-in for the keyed hash both
    engines share — and on this UNWATERMARKED corpus the z-scores
    should hover near 0 with zero flags: the correctly-calibrated
    negative result a detector must produce before anyone trusts its
    positives.

    At 100 TB: bigram explode → per-doc combinable counts — the
    llm_ngram_stats shape; the z arithmetic is per-group constant
    work. A real deployment swaps md5 for the watermark key's PRF and
    runs the same plan over candidate scraped corpora."""
    d = load_table(spark, sf_dir, "documents")
    pairs = d.filter(F.size(F.split("text", " ")) >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(split(text, ' ')) - 1), "
                "i -> concat(split(text, ' ')[i - 1], '|', split(text, ' ')[i]))"
            )
        ).alias("bigram"),
    )
    green = F.substring(F.md5("bigram"), 1, 1).isin(*"01234567")
    scored = pairs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(green, 1).otherwise(0)).alias("n_green"),
    )
    z = (F.col("n_green") - _WM_GAMMA * F.col("n_pairs")) / F.sqrt(
        F.col("n_pairs") * _WM_GAMMA * (1.0 - _WM_GAMMA)
    )
    return scored.select(
        "doc_id",
        "n_pairs",
        "n_green",
        F.round(F.col("n_green").cast("double") / F.col("n_pairs"), 6).alias(
            "green_frac"
        ),
        F.round(z, 6).alias("z"),
        (z > _WM_Z_FLAG).cast("int").alias("flagged"),
    )


# BPE trainer: number of merge rounds learned by llm_bpe_train.
_BPE_TRAIN_ROUNDS = 6


def _bpe_train_oracle() -> str:
    """Build the unrolled R-round BPE-training oracle. Each round: count
    adjacent token pairs (weighted by word frequency), pick the (count
    desc, left, right) argmax, rewrite every word with the merge. Words
    are encoded as '|tok||tok|...' strings so the rewrite is a plain
    non-overlapping left-to-right replace('|l||r|' -> '|lr|') — probed
    to behave identically in Spark and DuckDB, and exactly the greedy
    BPE merge (the consumed separator prevents re-merging across an
    already-merged token)."""
    ctes = [
        """
    w0 AS (
      SELECT regexp_replace(word, '(.)', '|\\1|', 'g') AS s, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE regexp_matches(word, '^[A-Za-z0-9]+$')
      GROUP BY 1
    )"""
    ]
    for r in range(1, _BPE_TRAIN_ROUNDS + 1):
        prev = f"w{r - 1}"
        ctes.append(f"""
    p{r} AS (
      SELECT split_part(g, ' ', 1) AS l, split_part(g, ' ', 2) AS r,
             CAST(SUM(cnt) AS BIGINT) AS c
      FROM (
        SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i + 1])) AS g, cnt
        FROM (SELECT string_split(trim({prev}.s, '|'), '||') AS t, cnt
              FROM {prev})
      ) GROUP BY 1, 2
    ),
    b{r} AS (
      SELECT l, r, c FROM p{r} ORDER BY c DESC, l, r LIMIT 1
    ),
    w{r} AS (
      SELECT replace({prev}.s, '|' || b.l || '||' || b.r || '|',
                     '|' || b.l || b.r || '|') AS s, cnt
      FROM {prev} CROSS JOIN b{r} b
    )""")
    merges = "\n    UNION ALL ".join(
        f"SELECT {r} AS round, l AS left_tok, r AS right_tok, "
        f"l || r AS merged_tok, c AS pair_count FROM b{r}"
        for r in range(1, _BPE_TRAIN_ROUNDS + 1)
    )
    return (
        "WITH " + ",".join(ctes) + f"\n    {merges}\n    ORDER BY round"
    )


@register("llm_bpe_train", _bpe_train_oracle())
def llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING as pure dataflow [public method: Sennrich
    et al. 2016's byte-pair-encoding merge learning — iteratively merge
    the most frequent adjacent token pair; completes the repo's BPE
    trio: llm_bpe_pair_counts is one round's statistics,
    llm_bpe_apply consumes a learned merge list, this LEARNS the
    list]. Words (letters/digits only) reduce to a frequency-weighted
    DISTINCT-WORD dimension once; each of the _BPE_TRAIN_ROUNDS (6)
    rounds is (a) a
    map-side-combinable pair count over that dimension, (b) a
    deterministic (count desc, left, right) argmax, (c) a broadcast of
    the 1-row winner and a string rewrite implementing the exact
    greedy non-overlapping merge (tokens ride as '|tok||tok|' strings;
    replace('|l||r|','|lr|') was probed to behave identically in both
    engines, and the consumed separator is precisely BPE's no-overlap
    rule). All counts are integers and all keys strings — the whole
    merge table hash-matches cross-engine with no floating point
    anywhere.

    At 100 TB: the corpus-scale pass happens ONCE (word frequency
    rollup — map-side combinable; vocab is Zipf-bounded, orders of
    magnitude below the corpus); every training round then runs on the
    vocabulary dimension only — the reason real BPE trainers
    (SentencePiece, HF tokenizers) train on word counts, not raw text.
    The driver-side loop is constant-depth (_BPE_TRAIN_ROUNDS) with a
    per-round materialize truncating lineage, the repo's unrolled-
    loop rule; a 50k-merge production run would checkpoint the vocab
    table every few hundred rounds and skip recount via pair-delta
    updates (only words containing the merged pair change — the
    SentencePiece optimization)."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word").rlike("^[A-Za-z0-9]+$"))
        .groupBy(
            F.regexp_replace("word", "(.)", "|$1|").alias("s")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(materialize)
    )
    merge_rows = []
    cur = words
    for r in range(1, _BPE_TRAIN_ROUNDS + 1):
        toks = cur.select(
            F.split(F.expr("trim(BOTH '|' FROM s)"), "\\|\\|").alias("t"),
            "cnt",
        )
        pairs = (
            # Guard: sequence(1, n-1) DESCENDS to [1, 0] for fully-merged
            # single-token words (the llm_rouge_overlap lesson) — they
            # contribute no pairs; DuckDB's generate_series(1, 0) agrees
            # by being empty.
            toks.filter(F.size("t") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(t) - 1), "
                        "i -> struct(element_at(t, i) as l, "
                        "element_at(t, i + 1) as r))"
                    )
                ).alias("p"),
                "cnt",
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").cast("bigint").alias("c"))
        )
        best = pairs.orderBy(
            F.col("c").desc(), F.col("l"), F.col("r")
        ).limit(1).transform(materialize)
        merge_rows.append(
            best.select(
                F.lit(r).cast("bigint").alias("round"),
                F.col("l").alias("left_tok"),
                F.col("r").alias("right_tok"),
                F.concat("l", "r").alias("merged_tok"),
                F.col("c").alias("pair_count"),
            )
        )
        cur = (
            cur.crossJoin(best)
            .select(
                F.replace(
                    F.col("s"),
                    F.concat(F.lit("|"), "l", F.lit("||"), "r", F.lit("|")),
                    F.concat(F.lit("|"), "l", "r", F.lit("|")),
                ).alias("s"),
                "cnt",
            )
            .transform(materialize)
        )
    return reduce(DataFrame.unionByName, merge_rows).orderBy("round")


@register(
    "llm_heaps_law",
    """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS doc_len FROM d),
    offs AS (
      SELECT doc_id,
             COALESCE(SUM(doc_len) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM lens
    ),
    tok AS (
      SELECT doc_id, i AS pos, t[i] AS token
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM d)
    ),
    first_occ AS (
      SELECT tok.token, MIN(o.off + tok.pos) AS first_pos
      FROM tok JOIN offs o USING (doc_id)
      GROUP BY tok.token
    ),
    ranked AS (
      SELECT first_pos,
             CAST(ROW_NUMBER() OVER (ORDER BY first_pos) AS BIGINT) AS v
      FROM first_occ
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
           (SELECT CAST(SUM(doc_len) AS BIGINT) FROM lens) AS total_tokens,
           ROUND(REGR_SLOPE(ln(v), ln(first_pos)), 4) AS beta,
           ROUND(EXP(REGR_INTERCEPT(ln(v), ln(first_pos))), 4) AS k_fit,
           ROUND(REGR_R2(ln(v), ln(first_pos)), 4) AS r2
    FROM ranked
    """,
)
def llm_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'/Herdan's-law vocabulary-growth fit [public method: V(N) =
    K * N^beta, the classic type-token growth law — the capacity-planning
    complement to llm_zipf_fit (a corpus whose beta drifts up is
    accumulating novel tokens faster: OCR noise, a new language, or a
    crawler gone off-domain; also sizes tokenizer vocab ahead of a
    training run)]. Token stream order is DETERMINISTIC: docs by doc_id,
    tokens by position; global position = per-doc prefix-sum offset +
    in-doc position. Each type's FIRST occurrence position is its N
    coordinate and its first-occurrence rank is its V coordinate — the
    exact vocabulary-growth curve sampled at every new-type arrival —
    then one log-log OLS (regr_slope/intercept/r2, identical builtins in
    both engines) fits (K, beta).

    At 100 TB: the corpus-scale passes are the doc-length rollup and the
    (token -> min position) rollup, both map-side combinable; the prefix
    sum and the final rank are windows over the DOC and VOCAB dimensions
    respectively (the evt_pareto_share trade-off — at petabyte scale,
    subsample checkpoint docs or shard the prefix-sum by range first).
    The fit itself is a 1-row reduction of combinable sufficient
    statistics, like agg_corr_matrix."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    # lens feeds the offset window AND the corpus total; checkpoint so
    # the corpus is tokenized once (the multi-branch audit rule).
    lens = d.select(
        "doc_id", F.size("t").cast("bigint").alias("doc_len")
    ).transform(materialize)
    w_off = (
        Window.orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = lens.select(
        "doc_id", F.coalesce(F.sum("doc_len").over(w_off), F.lit(0)).alias("off")
    )
    tok = d.select(
        "doc_id", F.posexplode("t").alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    first_occ = (
        tok.join(offs, "doc_id")
        .groupBy("token")
        .agg(F.min(F.col("off") + F.col("pos")).alias("first_pos"))
    )
    ranked = first_occ.select(
        "first_pos",
        F.row_number().over(Window.orderBy("first_pos")).cast("bigint").alias("v"),
    )
    total = lens.agg(F.sum("doc_len").cast("bigint").alias("total_tokens"))
    fit = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.round(F.regr_slope(F.log("v"), F.log("first_pos")), 4).alias("beta"),
        F.round(
            F.exp(F.regr_intercept(F.log("v"), F.log("first_pos"))), 4
        ).alias("k_fit"),
        F.round(F.regr_r2(F.log("v"), F.log("first_pos")), 4).alias("r2"),
    )
    return fit.crossJoin(total).select(
        "vocab_size", "total_tokens", "beta", "k_fit", "r2"
    )


# ---------------------------------------------------------------------------
# BPE round-trip losslessness audit
# ---------------------------------------------------------------------------


@register(
    "llm_bpe_roundtrip",
    f"""
    WITH words AS (
      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
      FROM documents
    ),
    w2 AS (SELECT w FROM words WHERE w <> ''),
    seg AS (
      SELECT w, trim({_BPE_SEG_SQL}) AS segmented
      FROM w2
    ),
    checked AS (
      SELECT w, segmented,
             len(string_split(segmented, ' ')) AS n_subwords,
             (replace(segmented, ' ', '') = w) AS lossless
      FROM seg
    )
    SELECT COUNT(*) AS n_words,
           CAST(SUM(CASE WHEN lossless THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lossless,
           (COUNT(*) = SUM(CASE WHEN lossless THEN 1 ELSE 0 END))
             AS all_lossless,
           CAST(SUM(n_subwords) AS BIGINT) AS total_subwords,
           ROUND(AVG(n_subwords), 6) AS avg_subwords_per_word
    FROM checked
    """,
)
def llm_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer losslessness audit: segment every word with the BPE
    merge table (llm_bpe_apply's exact pipeline), DEtokenize by
    concatenating the subwords, and prove byte equality with the
    original word — corpus-wide counts plus the all_lossless verdict
    [public method: the reversibility check every tokenizer release
    ships; a tokenizer that drops or duplicates bytes corrupts
    training data silently, and the failure mode is exactly the
    string-plumbing layer this pins (boundary spaces, regex char
    splitting, merge-order rewrites)].

    The compression ratio (avg subwords per word) rides along — the
    metric a merge table is sized by (llm_tokenizer_fertility reports
    its per-language cousin).

    At 100 TB: a pure codegen'd string map (split → space-out → merge
    rewrites → concat-compare) followed by one combinable 1-row
    rollup; zero shuffles before the final reduce, no Python
    anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w"))
        .filter(F.col("w") != "")
    )
    checked = words.select(
        "w",
        F.trim(_bpe_segmented_col()).alias("segmented"),
    ).select(
        F.size(F.split("segmented", " ")).alias("n_subwords"),
        (F.replace(F.col("segmented"), F.lit(" "), F.lit("")) == F.col("w")).alias(
            "lossless"
        ),
    )
    return checked.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.col("lossless").cast("int")).cast("bigint").alias("n_lossless"),
        (
            F.count(F.lit(1)) == F.sum(F.col("lossless").cast("int"))
        ).alias("all_lossless"),
        F.sum("n_subwords").cast("bigint").alias("total_subwords"),
        F.round(F.avg("n_subwords"), 6).alias("avg_subwords_per_word"),
    )


# BM25 tuning grid: the classic corners — short-doc-light (low b),
# Robertson defaults, and aggressive length-normalization — priced by
# SELF-RETRIEVAL (each query is the first tokens OF a document, so the
# config should rank that document first).
_BM25_GRID = ((0.9, 0.4), (1.2, 0.75), (2.0, 0.9))


def _duck_bm25_config_leg(k1: float, b: float) -> str:
    """One grid point's self-retrieval reduction (consumes the shared
    CTEs from _DUCK_BM25_INDEX)."""
    return f"""
      SELECT CAST({k1} AS DOUBLE) AS k1, CAST({b} AS DOUBLE) AS b,
             CAST(COUNT(*) AS BIGINT) AS n_queries,
             ROUND(AVG(CASE WHEN self_rank = 1 THEN 1.0 ELSE 0.0 END), 6)
               AS top1_rate,
             ROUND(AVG(1.0 / self_rank), 6) AS mrr,
             ROUND(AVG(CAST(self_rank AS DOUBLE)), 6) AS mean_self_rank
      FROM (
        SELECT query_id, MAX(CASE WHEN doc_id = query_id THEN rk END)
                 AS self_rank
        FROM (
          SELECT query_id, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY score DESC, doc_id) AS rk
          FROM (
            SELECT q.query_id, tf.doc_id,
                   ROUND(SUM(
                     ln((s.n_docs - d.dfreq + 0.5) / (d.dfreq + 0.5) + 1.0)
                     * tf.tf * ({k1} + 1.0)
                     / (tf.tf + {k1} * (1.0 - {b} + {b} * l.dl / s.avg_dl))
                   ), 6) AS score
            FROM queries q
            JOIN tf ON tf.token = q.token
            JOIN docfreq d ON d.token = q.token
            JOIN dlen l ON l.doc_id = tf.doc_id
            CROSS JOIN stats s
            GROUP BY q.query_id, tf.doc_id
          ) sc
        ) rk
        GROUP BY query_id
      ) sr
    """


def _bm25_tuning_oracle() -> str:
    legs = " UNION ALL ".join(
        _duck_bm25_config_leg(k1, b) for k1, b in _BM25_GRID
    )
    return f"""
    WITH {_DUCK_BM25_INDEX}
    SELECT * FROM ({legs}) u
    ORDER BY k1, b
    """


@register("llm_bm25_tuning_curve", _bm25_tuning_oracle())
def llm_bm25_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1, b) tuning curve priced by SELF-RETRIEVAL [public
    method: Robertson's grid — k1 trades term-frequency saturation, b
    trades document-length normalization; since each probe query here
    IS a document's opening tokens, the config's job is to rank that
    source document first, so MRR / top-1 / mean-self-rank measure the
    knob directly with no external judgments]. Completes the
    index-economics deck: llm_lsh_tuning_curve prices (bands, rows),
    llm_ann_nprobe_curve prices nprobe, llm_pack_efficiency_curve
    prices ctx, llm_dedup_threshold_sweep prices tau — this prices the
    lexical retriever the RRF/NDCG hybrid ops consume. The grid legs
    run the IDENTICAL arithmetic as llm_bm25_score with (k1, b)
    injected (_bm25_score_frames — default args keep the verified
    scorer bit-unchanged).

    At 100 TB: the inverted index (postings/doclen/queries) is built
    ONCE (_bm25_index_frames, called a single time here — the
    checkpointed frames every grid leg reuses, exactly how a
    deployment sweeps parameters against a persisted index); each grid
    point re-scores only the matched postings and reduces per query.
    Scores are 6dp-rounded before ranks; ties break on doc_id."""
    from pyspark.sql import Window

    frames = _bm25_index_frames(spark, sf_dir)
    legs = []
    for k1, b in _BM25_GRID:
        scored = _bm25_score_frames(*frames, k1=k1, b=b)
        w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
        self_rank = (
            scored.select(
                "query_id", "doc_id", F.row_number().over(w).alias("rk")
            )
            .filter(F.col("doc_id") == F.col("query_id"))
            .select("query_id", F.col("rk").alias("self_rank"))
        )
        legs.append(
            self_rank.agg(
                F.count(F.lit(1)).cast("long").alias("n_queries"),
                F.round(
                    F.avg(F.when(F.col("self_rank") == 1, 1.0).otherwise(0.0)), 6
                ).alias("top1_rate"),
                F.round(F.avg(1.0 / F.col("self_rank")), 6).alias("mrr"),
                F.round(F.avg(F.col("self_rank").cast("double")), 6).alias(
                    "mean_self_rank"
                ),
            ).select(
                F.lit(float(k1)).alias("k1"),
                F.lit(float(b)).alias("b"),
                "n_queries",
                "top1_rate",
                "mrr",
                "mean_self_rank",
            )
        )
    return reduce(DataFrame.unionByName, legs).orderBy("k1", "b")


# RBO configuration: compare the two extreme corners of the BM25 tuning
# grid at depth K with persistence p. Each doc common to both top-K
# prefixes first appears at depth m = max(rank_a, rank_b) and then stays,
# so its total RBO contribution is the closed-form constant
# w(m) = (1-p) * sum_{d=m..K} p^(d-1)/d — precomputed in Python and
# injected into BOTH engines as identical shortest-roundtrip double
# literals, so the rank-weighted sum is bit-identical by construction.
_RBO_P = 0.9
_RBO_K = 10
_RBO_CFG_A = (0.9, 0.4)
_RBO_CFG_B = (2.0, 0.9)
_RBO_W = [
    (1.0 - _RBO_P) * sum(_RBO_P ** (d - 1) / d for d in range(m, _RBO_K + 1))
    for m in range(1, _RBO_K + 1)
]
# The 'D' suffix / ::DOUBLE cast pins the literals to DOUBLE in each
# engine — a bare 17-digit decimal literal parses as DECIMAL in both
# Spark and DuckDB, silently switching the fold to exact decimal
# arithmetic (caught by the RBO fuzz grammar).
_RBO_W_SQL_SPARK = ", ".join(repr(w) + "D" for w in _RBO_W)
_RBO_W_SQL_DUCK = ", ".join(f"CAST({w!r} AS DOUBLE)" for w in _RBO_W)


def _duck_rbo_ranked(name: str, k1: float, b: float) -> str:
    """Top-K ranked list for one (k1, b) config — the identical scoring
    arithmetic as _duck_bm25_config_leg, cut at rank K."""
    return f"""{name} AS (
      SELECT query_id, doc_id, rk FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rk
        FROM (
          SELECT q.query_id, tf.doc_id,
                 ROUND(SUM(
                   ln((s.n_docs - d.dfreq + 0.5) / (d.dfreq + 0.5) + 1.0)
                   * tf.tf * ({k1} + 1.0)
                   / (tf.tf + {k1} * (1.0 - {b} + {b} * l.dl / s.avg_dl))
                 ), 6) AS score
          FROM queries q
          JOIN tf ON tf.token = q.token
          JOIN docfreq d ON d.token = q.token
          JOIN dlen l ON l.doc_id = tf.doc_id
          CROSS JOIN stats s
          GROUP BY q.query_id, tf.doc_id
        ) sc
      ) r WHERE rk <= {_RBO_K}
    )"""


@register(
    "llm_rank_rbo",
    f"""
    WITH {_DUCK_BM25_INDEX},
    {_duck_rbo_ranked("ra", *_RBO_CFG_A)},
    {_duck_rbo_ranked("rb", *_RBO_CFG_B)},
    common AS (
      SELECT a.query_id,
             ([{_RBO_W_SQL_DUCK}])[GREATEST(a.rk, b.rk)] AS w
      FROM ra a JOIN rb b
        ON b.query_id = a.query_id AND b.doc_id = a.doc_id
    ),
    per_q AS (
      SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_common,
             SUM(w) AS rbo
      FROM common GROUP BY query_id
    )
    SELECT q.query_id,
           COALESCE(p.n_common, 0) AS n_common,
           ROUND(COALESCE(p.n_common, 0) / CAST({_RBO_K} AS DOUBLE), 6)
             AS overlap_at_k,
           ROUND(COALESCE(p.rbo, 0.0), 6) AS rbo
    FROM (SELECT DISTINCT query_id FROM queries) q
    LEFT JOIN per_q p ON p.query_id = q.query_id
    ORDER BY q.query_id
    """,
)
def llm_rank_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap between two retriever configurations
    [public method: Webber, Moffat & Zobel 2010 — the top-weighted
    rank-similarity measure for INDEFINITE rankings; the standard way
    to quantify how much a retriever config change actually reorders
    results, beside llm_ndcg_eval (quality vs judgments) and
    llm_judge_agreement (rater consistency)]: the two extreme corners
    of the BM25 tuning grid ({_RBO_CFG_A} vs {_RBO_CFG_B}) are ranked
    to depth K={_RBO_K} over the SAME prebuilt inverted index
    (_bm25_index_frames — one build, two scoring legs, the tuning-curve
    hoist), and per query RBO@K = (1-p) sum p^(d-1) X_d / d folds to a
    per-common-doc closed-form weight w(max(rank_a, rank_b)) injected
    into both engines as identical double literals — no per-depth
    explode, one equi-join on (query, doc). Queries whose top-K
    prefixes share nothing survive via the LEFT join with RBO 0.

    At 100 TB: the scoring legs are the audited BM25 postings-join
    shape; the RBO fold adds one (query, doc)-keyed equi-join over two
    K-bounded lists and a per-query sum — cost proportional to the
    probe panel, never the corpus."""
    from pyspark.sql import Window

    frames = _bm25_index_frames(spark, sf_dir)
    queries = frames[4]

    def ranked(k1: float, b: float, rk_name: str) -> DataFrame:
        scored = _bm25_score_frames(*frames, k1=k1, b=b)
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), "doc_id"
        )
        return (
            scored.select(
                "query_id", "doc_id", F.row_number().over(w).alias(rk_name)
            )
            .filter(F.col(rk_name) <= _RBO_K)
        )

    ra = ranked(*_RBO_CFG_A, "ra")
    rb = ranked(*_RBO_CFG_B, "rb")
    warr = F.expr(f"array({_RBO_W_SQL_SPARK})")
    common = ra.join(rb, ["query_id", "doc_id"]).select(
        "query_id",
        F.element_at(warr, F.greatest("ra", "rb").cast("int")).alias("w"),
    )
    per_q = common.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum("w").alias("rbo"),
    )
    universe = queries.select("query_id").distinct()
    return (
        universe.join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
            F.round(
                F.coalesce(F.col("n_common"), F.lit(0))
                / float(_RBO_K),
                6,
            ).alias("overlap_at_k"),
            F.round(F.coalesce(F.col("rbo"), F.lit(0.0)), 6).alias("rbo"),
        )
        .orderBy("query_id")
    )


@register(
    "llm_chao1_vocab",
    """
    WITH tok AS (
      SELECT 'token' AS unit, unnest(string_split(text, ' ')) AS g
      FROM documents
      UNION ALL
      SELECT 'trigram' AS unit,
             unnest(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 2),
               i -> string_split(text, ' ')[i] || ' '
                    || string_split(text, ' ')[i + 1] || ' '
                    || string_split(text, ' ')[i + 2])) AS g
      FROM documents WHERE len(string_split(text, ' ')) >= 3
    ),
    counts AS (SELECT unit, g, COUNT(*) AS c FROM tok GROUP BY unit, g),
    s AS (
      SELECT unit,
             CAST(COUNT(*) AS BIGINT) AS vocab_size,
             CAST(SUM(c) AS BIGINT) AS total_tokens,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM counts GROUP BY unit
    )
    SELECT unit, vocab_size, total_tokens, f1, f2,
           ROUND(vocab_size
                 + CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0 * (f2 + 1)), 6)
             AS chao1,
           ROUND(1.0 - CAST(f1 AS DOUBLE) / total_tokens, 6)
             AS gt_coverage
    FROM s ORDER BY unit
    """,
)
def llm_chao1_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 vocabulary-richness estimate + Good-Turing coverage per
    census unit [public methods: Chao 1984 (bias-corrected form,
    defined at f2 = 0) and Good 1953 — how many types does the unseen
    tail hide, and what probability mass is already covered?]: the
    census member of the corpus-statistics deck beside llm_heaps_law
    (growth-curve fit) and llm_zipf_fit (frequency shape) — a
    tokenizer-vocab sizing and crawl-completeness readout. Two units
    ride one frame: raw TOKENS (this synthetic corpus's closed
    31-type vocabulary — f1 = 0, Chao1 = V, coverage = 1, the
    saturated negative-result row) and word TRIGRAMS (a genuinely
    open tail: thousands of singletons, so Chao1 projects real unseen
    mass). Chao1 = V + f1(f1-1)/(2(f2+1)); coverage = 1 - f1/N.
    Everything reduces over INTEGER frequency-of-frequency rollups —
    the only doubles are two final single divisions, so the result is
    partition-order-independent with no decimal machinery needed.

    At 100 TB: one explode + two map-side-combinable aggregates per
    unit (type counts, then the per-unit census); the token-count
    frame is the one llm_tfidf/llm_zipf_fit already shuffle. No
    windows, no joins, nothing driver-side."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    uni = d.select(
        F.lit("token").alias("unit"), F.explode(toks).alias("g")
    )
    tri_expr = (
        "transform(sequence(1, size(split(text, ' ')) - 2), "
        "i -> concat(split(text, ' ')[i - 1], ' ', split(text, ' ')[i], "
        "' ', split(text, ' ')[i + 1]))"
    )
    tri = (
        d.filter(F.size(toks) >= 3)
        .select(F.explode(F.expr(tri_expr)).alias("g"))
        .select(F.lit("trigram").alias("unit"), "g")
    )
    counts = (
        uni.unionByName(tri)
        .groupBy("unit", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s = counts.groupBy("unit").agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum("c").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("long")
        .alias("f2"),
    )
    return s.select(
        "unit",
        "vocab_size",
        "total_tokens",
        "f1",
        "f2",
        F.round(
            F.col("vocab_size")
            + F.col("f1").cast("double")
            * (F.col("f1") - 1)
            / (2.0 * (F.col("f2") + 1)),
            6,
        ).alias("chao1"),
        F.round(
            1.0 - F.col("f1").cast("double") / F.col("total_tokens"), 6
        ).alias("gt_coverage"),
    ).orderBy("unit")
