"""SURVEY.md §2.M round-2 additions (batch 2) — document-quality and
embedding-compression operators from the published pretraining-curation
playbook: Gopher-style repetition filtering, composite heuristic rules,
CCNet-style per-language perplexity bucketing, and int8 embedding
quantization QA.

House rules as everywhere: deterministic (no rand()), DuckDB-oracled,
scalar output columns only (driver canonicalizer), ROUND(.,6) on every
float, explicit tie-breaks on any ordering.

Scale theme (100 TB): every per-document signal here is a map +
map-side-combinable aggregate keyed on doc_id — the natural partition
key — so nothing shuffles document payloads. The only corpus-wide joins
are vocabulary-keyed (never broadcast: the llm_tfidf lesson) and the
bucketing window partitions by language, never a global sort.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_test_spark.io import load_table, materialize
from hive_test_spark.operators.analytics import midrank
from hive_test_spark.registry import register

# Repetition thresholds (Gopher App. A uses duplicate-n-gram fractions;
# tuned to the fixture corpus so the flag actually discriminates:
# 2-gram dup frac median 0.028 / max 0.133, top-token share median 0.093).
_DUP2_MAX = 0.06
_TOP1_MAX = 0.12

# Composite heuristic rule bounds (Gopher/C4-style, fixture-calibrated:
# token counts 10..99 median 56, mean word len 3.7..5.3, stopword frac
# mean 0.062 over the 8-word stop set).
_WC_LO, _WC_HI = 30, 80
_MWL_LO, _MWL_HI = 3.8, 10.0
_STOP_MIN = 0.05


def _text_signals():
    """The shared lexical signal Columns (lowered token array, word
    count, stopword fraction, mean word length) that every rule-judge
    op in this module derives its predicates from — one definition so
    the judge semantics cannot drift between the agreement / majority /
    Wilson-CI / calibration / McNemar / Bradley-Terry ops (each SQL
    oracle re-states them; the Spark side states them once here)."""
    t = F.split(F.lower("text"), " ")
    wc = F.size(t)
    stop_frac = (
        F.size(F.filter(t, lambda x: x.isin(*_STOPWORDS))).cast("double") / wc
    )
    mwl = F.aggregate(t, F.lit(0), lambda a, x: a + F.length(x)).cast("double") / wc
    return t, wc, stop_frac, mwl


def _judge_preds():
    """The two deterministic rule judges of the eval deck: j1 =
    word-count + stopword gate, j2 = mean-word-length gate."""
    _, wc, stop_frac, mwl = _text_signals()
    j1 = wc.between(_WC_LO, _WC_HI) & (stop_frac >= _STOP_MIN)
    j2 = mwl.between(_MWL_LO, _MWL_HI) & (wc >= _WC_LO)
    return j1, j2
_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "on")

_QUANT_BITS_MAX = 127  # symmetric int8


@register(
    "llm_repetition_filter",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ),
    ng2 AS (
      SELECT doc_id, array_to_string(t[i:i+1], ' ') AS ng
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
            FROM toks WHERE len(t) >= 2)
    ),
    per2 AS (SELECT doc_id, ng, COUNT(*) AS c FROM ng2 GROUP BY doc_id, ng),
    d2 AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_2grams,
             (SUM(c) - COUNT(*)) * 1.0 / SUM(c) AS dup2
      FROM per2 GROUP BY doc_id
    ),
    tok1 AS (
      SELECT doc_id, unnest(t) AS tok FROM toks
    ),
    per1 AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok1 GROUP BY doc_id, tok),
    d1 AS (
      SELECT doc_id, MAX(c) * 1.0 / SUM(c) AS top1 FROM per1 GROUP BY doc_id
    )
    SELECT d2.doc_id, d2.n_2grams,
           ROUND(d2.dup2, 6) AS dup_2gram_frac,
           ROUND(d1.top1, 6) AS top_tok_share,
           CAST(d2.dup2 > {_DUP2_MAX} OR d1.top1 > {_TOP1_MAX} AS INT) AS flagged
    FROM d2 JOIN d1 USING (doc_id)
    """,
)
def llm_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter [public method: Gopher (Rae et
    al. 2021) App. A drops docs by duplicate-n-gram and top-n-gram
    fractions]: per doc, the fraction of 2-gram occurrences that are
    repeats (1 - distinct/total) and the share of the single most
    frequent token; flag docs exceeding either bound — the
    boilerplate/spam signal used before any cross-document dedup.

    Spark-first: shingle with a JVM higher-order transform over
    sequence() (no Python), two hash aggregates keyed on (doc_id, gram)
    then doc_id — all map-side-combinable, partitioned by the natural
    doc key, so 100 TB of text never shuffles more than its gram counts.
    The two signal branches join on doc_id (co-partitioned aggregates;
    AQE picks the local strategy)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.lower("text"), " ").alias("t"))
    ng2 = toks.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.array_join(F.slice("t", i, 2), " "),
            )
        ).alias("ng"),
    )
    per2 = ng2.groupBy("doc_id", "ng").agg(F.count(F.lit(1)).alias("c"))
    d2 = per2.groupBy("doc_id").agg(
        F.sum("c").alias("n_2grams"),
        ((F.sum("c") - F.count(F.lit(1))) / F.sum("c")).alias("dup2"),
    )
    tok1 = toks.select("doc_id", F.explode("t").alias("tok"))
    per1 = tok1.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    d1 = per1.groupBy("doc_id").agg((F.max("c") / F.sum("c")).alias("top1"))
    return d2.join(d1, "doc_id").select(
        "doc_id",
        "n_2grams",
        F.round("dup2", 6).alias("dup_2gram_frac"),
        F.round("top1", 6).alias("top_tok_share"),
        ((F.col("dup2") > _DUP2_MAX) | (F.col("top1") > _TOP1_MAX))
        .cast("int")
        .alias("flagged"),
    )


@register(
    "llm_gopher_rules",
    f"""
    WITH sig AS (
      SELECT source,
             len(string_split(lower(text), ' ')) AS wc,
             list_aggregate(list_transform(string_split(lower(text), ' '),
                                           x -> len(x)), 'sum') * 1.0
               / len(string_split(lower(text), ' ')) AS mwl,
             len(list_filter(string_split(lower(text), ' '),
                             x -> x IN {_STOPWORDS!r})) * 1.0
               / len(string_split(lower(text), ' ')) AS stop_frac
      FROM documents
    )
    SELECT source, COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE wc BETWEEN {_WC_LO} AND {_WC_HI}) AS n_pass_wordcount,
           COUNT(*) FILTER (WHERE mwl BETWEEN {_MWL_LO} AND {_MWL_HI}) AS n_pass_wordlen,
           COUNT(*) FILTER (WHERE stop_frac >= {_STOP_MIN}) AS n_pass_stopword,
           COUNT(*) FILTER (WHERE wc BETWEEN {_WC_LO} AND {_WC_HI}
                              AND mwl BETWEEN {_MWL_LO} AND {_MWL_HI}
                              AND stop_frac >= {_STOP_MIN}) AS n_pass_all
    FROM sig GROUP BY source
    """,
)
def llm_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite heuristic quality rules [public method: Gopher's doc
    filters / C4's heuristics — word-count bounds, mean-word-length
    bounds, stopword presence]: evaluate each rule per document, report
    the per-source pass matrix — the dashboard a curation run reviews to
    see WHICH rule kills WHICH source before committing a filter.

    Spark-first: every signal is a JVM higher-order expression over the
    token array (aggregate/filter lambdas — zero Python), computed in
    one map pass; the rollup is a single map-side-combinable aggregate
    on the low-cardinality source key. At 100 TB this is scan-bound, the
    optimal shape."""
    d = load_table(spark, sf_dir, "documents")
    t = F.split(F.lower("text"), " ")
    wc = F.size(t)
    mwl = (
        F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x)).cast("double") / wc
    )
    stop_frac = (
        F.size(F.filter(t, lambda x: x.isin(*_STOPWORDS))).cast("double") / wc
    )
    sig = d.select(
        "source", wc.alias("wc"), mwl.alias("mwl"), stop_frac.alias("stop_frac")
    )
    p_wc = F.col("wc").between(_WC_LO, _WC_HI)
    p_mwl = F.col("mwl").between(_MWL_LO, _MWL_HI)
    p_stop = F.col("stop_frac") >= _STOP_MIN
    return sig.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(p_wc, 1)).alias("n_pass_wordcount"),
        F.count(F.when(p_mwl, 1)).alias("n_pass_wordlen"),
        F.count(F.when(p_stop, 1)).alias("n_pass_stopword"),
        F.count(F.when(p_wc & p_mwl & p_stop, 1)).alias("n_pass_all"),
    )


@register(
    "llm_ccnet_bucket",
    """
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, lang, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, lang, tok
    ),
    corpus AS (SELECT tok, COUNT(*) AS ct FROM tok GROUP BY tok),
    total AS (SELECT COUNT(*) AS t FROM tok),
    xent AS (
      SELECT d.doc_id, d.lang,
             ROUND(-SUM(d.c * ln(co.ct * 1.0 / total.t)) / SUM(d.c), 6) AS x
      FROM per_doc d JOIN corpus co USING (tok) CROSS JOIN total
      GROUP BY d.doc_id, d.lang
    ),
    b AS (
      SELECT lang, x,
             NTILE(3) OVER (PARTITION BY lang ORDER BY x, doc_id) AS tercile
      FROM xent
    )
    SELECT lang, tercile,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
             AS bucket,
           COUNT(*) AS n_docs,
           ROUND(AVG(x), 6) AS avg_xent,
           ROUND(MIN(x), 6) AS min_xent,
           ROUND(MAX(x), 6) AS max_xent
    FROM b GROUP BY lang, tercile
    """,
)
def llm_ccnet_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language perplexity bucketing [public method: CCNet (Wenzek et
    al. 2020) splits each language's crawl into head/middle/tail by LM
    perplexity terciles; RedPajama/LLaMA keep head+middle]: score every
    doc with the unigram cross-entropy (llm_perplexity_proxy's model),
    NTILE(3) within language on the ROUNDED score (so both engines rank
    identical values; tie-break doc_id), report each bucket's size and
    score range.

    Spark-first: the two LM aggregates are map-side-combinable; the
    vocabulary join is shuffle-keyed on token (never broadcast). The
    bucketing window partitions BY LANGUAGE — ~100 partitions at crawl
    scale, each sorted independently — never a global ORDER BY. At
    1000 executors the per-language sorts parallelize; skew (en >> rest)
    is bounded by per-language volume, the same skew CCNet itself
    shards by."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    per_doc = tok.groupBy("doc_id", "lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    corpus = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("ct"))
    total = tok.agg(F.count(F.lit(1)).alias("t"))
    xent = (
        per_doc.join(corpus, "tok")
        .crossJoin(total)
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                -F.sum(F.col("c") * F.log(F.col("ct") / F.col("t"))) / F.sum("c"), 6
            ).alias("x")
        )
    )
    w = Window.partitionBy("lang").orderBy("x", "doc_id")
    b = xent.select("lang", "x", F.ntile(3).over(w).alias("tercile"))
    return b.groupBy("lang", "tercile").agg(
        F.expr(
            "CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END"
        ).alias("bucket"),
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("x"), 6).alias("avg_xent"),
        F.round(F.min("x"), 6).alias("min_xent"),
        F.round(F.max("x"), 6).alias("max_xent"),
    )


@register(
    "llm_embed_quantize",
    f"""
    WITH v AS (
      SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    s AS (
      SELECT label, e,
             NULLIF(list_aggregate(list_transform(e, x -> abs(x)), 'max'), 0)
               / {_QUANT_BITS_MAX}.0 AS scale
      FROM v
    ),
    m AS (
      SELECT label, scale,
             list_aggregate(list_transform(e,
               x -> abs(x - round(x / scale) * scale)), 'max') AS max_err,
             list_aggregate(list_transform(e,
               x -> x * round(x / scale) * scale), 'sum')
             / (sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum'))
                * sqrt(list_aggregate(list_transform(e,
                    x -> round(x / scale) * scale * round(x / scale) * scale),
                    'sum'))) AS cos_rec
      FROM s
    )
    SELECT label, COUNT(*) AS n_vecs,
           ROUND(AVG(scale), 6) AS avg_scale,
           ROUND(AVG(max_err), 6) AS avg_max_abs_err,
           ROUND(AVG(cos_rec), 6) AS avg_cos_reconstruction
    FROM m GROUP BY label
    """,
)
def llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization QA [public method: faiss /
    vector-DB scalar quantization — per-vector scale = max|x|/127,
    q = round(x/scale), 4x storage cut]: quantize, dequantize, and report
    per-label reconstruction quality (max abs error, cosine between
    original and reconstructed) — the acceptance report before swapping
    a 100 TB float32 embedding store for int8.

    Spark-first: everything is JVM higher-order lambdas over the
    array<float> column (transform/aggregate — no Python, no explode:
    the 64-wide vector never becomes 64 rows); one map pass then a
    map-side-combinable aggregate on the 10-value label key. The
    dequantized value round(x/s)*s is recomputed from x inline rather
    than materializing a second array column — cheaper than shuffling
    two copies of every vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))
    v = emb.select("label", e.alias("e"))
    # NULLIF guard: an all-zero vector has scale 0, where round(x/scale)
    # is NULL in Spark but NaN in DuckDB — NULL the scale in both so the
    # AVG rollup (which skips NULLs identically) agrees by construction.
    scale = (
        F.nullif(F.array_max(F.transform("e", lambda x: F.abs(x))), F.lit(0.0))
        / float(_QUANT_BITS_MAX)
    )
    s = v.select("label", "e", scale.alias("scale"))
    deq = "round(x / scale) * scale"
    m = s.select(
        "label",
        "scale",
        F.expr(f"array_max(transform(e, x -> abs(x - {deq})))").alias("max_err"),
        (
            F.expr(f"aggregate(transform(e, x -> x * {deq}), 0D, (a, v) -> a + v)")
            / (
                F.sqrt(F.expr("aggregate(transform(e, x -> x * x), 0D, (a, v) -> a + v)"))
                * F.sqrt(
                    F.expr(
                        f"aggregate(transform(e, x -> ({deq}) * ({deq})), 0D, (a, v) -> a + v)"
                    )
                )
            )
        ).alias("cos_rec"),
    )
    return m.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("scale"), 6).alias("avg_scale"),
        F.round(F.avg("max_err"), 6).alias("avg_max_abs_err"),
        F.round(F.avg("cos_rec"), 6).alias("avg_cos_reconstruction"),
    )


@register(
    "llm_embed_norm_audit",
    """
    WITH per_vec AS (
      SELECT label,
             len(embedding) AS dim,
             sqrt(list_sum(list_transform(embedding,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               AS l2_norm,
             len(list_filter(embedding,
                             x -> isnan(x) OR NOT isfinite(x))) AS n_bad
      FROM embeddings
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(SUM(CASE WHEN dim = 64 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dim_ok,
           CAST(SUM(n_bad) AS BIGINT) AS n_nonfinite,
           ROUND(MIN(l2_norm), 6) AS min_norm,
           ROUND(MAX(l2_norm), 6) AS max_norm,
           ROUND(AVG(l2_norm), 6) AS avg_norm
    FROM per_vec
    GROUP BY label
    """,
)
def llm_embed_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table QA audit — the ingest gate every vector corpus
    needs before ANN/semdedup consume it: per label, vector count,
    dimension conformance (dim == 64), non-finite element count
    (NaN/Inf poison cosine math silently), and the L2-norm envelope
    (min/max/avg — collapsed or exploding norms flag a broken encoder
    run). All per-vector math is higher-order functions over the array
    column (cast to double INSIDE the fold so both engines run the
    same left-to-right double accumulation) — no explode, so the row
    count never multiplies by the dimension. The zeros (n_nonfinite,
    dim mismatches) are pinned inside non-vacuous rows, same policy as
    llm_collision_audit.

    At 100 TB: one narrow map pass + a label-keyed rollup (map-side
    combined). This audit is the cheap precondition that makes the
    expensive ops trustworthy — run it per ingest batch, diff the
    norm envelope across batches to catch encoder drift."""
    e = load_table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    bad = F.size(
        F.filter(
            "embedding",
            lambda x: F.isnan(x) | (F.abs(x.cast("double")) > F.lit(1e308)),
        )
    )
    per_vec = e.select(
        "label",
        F.size("embedding").alias("dim"),
        F.sqrt(sq).alias("l2_norm"),
        bad.alias("n_bad"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.when(F.col("dim") == 64, 1).otherwise(0)).alias("n_dim_ok"),
        F.sum("n_bad").cast("long").alias("n_nonfinite"),
        F.round(F.min("l2_norm"), 6).alias("min_norm"),
        F.round(F.max("l2_norm"), 6).alias("max_norm"),
        F.round(F.avg("l2_norm"), 6).alias("avg_norm"),
    )


# Code-likeness keyword list: the synthetic corpus's stand-in for language
# keywords (def/class/return/import in a real crawl). Swappable constant —
# the operator shape (JVM array filter + density threshold) is the
# deliverable, the lexicon is config.
_CODE_KWS = ("hash", "join", "sort", "merge", "scan", "filter", "query", "agg")
_CODE_TAU = 0.45

_KW_SQL = ", ".join(f"'{k}'" for k in _CODE_KWS)


@register(
    "llm_code_detect",
    f"""
    WITH t AS (
      SELECT doc_id, lang, string_split(lower(text), ' ') AS tok FROM documents
    )
    SELECT doc_id, lang,
           len(tok) AS n_tok,
           len(list_filter(tok, x -> list_contains([{_KW_SQL}], x))) AS kw_hits,
           len(list_intersect(list_distinct(tok), [{_KW_SQL}])) AS kw_distinct,
           ROUND(CAST(len(list_filter(tok, x -> list_contains([{_KW_SQL}], x))) AS DOUBLE)
                 / len(tok), 6) AS code_density,
           CAST(len(list_filter(tok, x -> list_contains([{_KW_SQL}], x))) AS DOUBLE)
                 / len(tok) >= {_CODE_TAU} AS is_code
    FROM t
    """,
)
def llm_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection — the heuristic classifier a pretraining
    pipeline runs to route documents to code/prose-specific filtering
    (real lexicons: language keywords, brace/semicolon density, indent
    ratios; this corpus has no punctuation so the lexicon constant stands
    in). Per doc: keyword hit count, distinct-keyword coverage, density,
    and the >= tau class flag.

    Spark-first: one narrow projection — lower/split once, then JVM
    higher-order filter + array_intersect against an 8-element literal
    array (constant-folded, no join, no UDF, no shuffle at all). At
    100 TB this is a pure map stage that fuses into whatever scan or
    filter precedes it; per-row cost is O(tokens x |lexicon|) with the
    lexicon in L1."""
    d = load_table(spark, sf_dir, "documents")
    kw_arr = ", ".join(f"'{k}'" for k in _CODE_KWS)
    t = d.select(
        "doc_id", "lang", F.split(F.lower("text"), " ").alias("tok")
    )
    hits = F.expr(f"size(filter(tok, x -> x IN ({kw_arr})))")
    return t.select(
        "doc_id",
        "lang",
        F.size("tok").alias("n_tok"),
        hits.alias("kw_hits"),
        F.size(
            F.array_intersect(
                F.array_distinct("tok"),
                F.array(*[F.lit(k) for k in _CODE_KWS]),
            )
        ).alias("kw_distinct"),
        F.round(hits.cast("double") / F.size("tok"), 6).alias("code_density"),
        (hits.cast("double") / F.size("tok") >= _CODE_TAU).alias("is_code"),
    )


# ROUGE-2 eval pairs: every _ROUGE_STRIDE-th doc is a "reference", its
# successor the "candidate" (deterministic stand-in for model outputs —
# the fixture has no generated text; what the op exercises is the
# clipped-overlap dataflow).
_ROUGE_STRIDE = 25


@register(
    "llm_rouge_overlap",
    f"""
    WITH pairs AS (
      SELECT doc_id AS ref_id, doc_id + 1 AS cand_id FROM documents
      WHERE doc_id % {_ROUGE_STRIDE} = 0
        AND doc_id + 1 IN (SELECT doc_id FROM documents)
    ),
    grams AS (
      SELECT doc_id, gram, COUNT(*) AS c FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
                      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS gram
        FROM documents
        WHERE len(string_split(text, ' ')) >= 2
      ) GROUP BY doc_id, gram
    ),
    totals AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams FROM grams GROUP BY doc_id
    ),
    scored AS (
      SELECT p.ref_id, p.cand_id,
             CAST(SUM(CASE WHEN c.c IS NULL THEN 0 ELSE LEAST(r.c, c.c) END) AS BIGINT) AS overlap
      FROM pairs p
      JOIN grams r ON r.doc_id = p.ref_id
      LEFT JOIN grams c ON c.doc_id = p.cand_id AND c.gram = r.gram
      GROUP BY p.ref_id, p.cand_id
    )
    SELECT s.ref_id, s.cand_id,
           tr.n_bigrams AS ref_bigrams, tc.n_bigrams AS cand_bigrams, overlap,
           ROUND(CAST(overlap AS DOUBLE) / tc.n_bigrams, 6) AS rouge2_p,
           ROUND(CAST(overlap AS DOUBLE) / tr.n_bigrams, 6) AS rouge2_r,
           CASE WHEN overlap = 0 THEN 0.0
                ELSE ROUND(2.0 * overlap / (CAST(tr.n_bigrams AS DOUBLE) + tc.n_bigrams), 6)
           END AS rouge2_f1
    FROM scored s
    JOIN totals tr ON tr.doc_id = s.ref_id
    JOIN totals tc ON tc.doc_id = s.cand_id
    ORDER BY s.ref_id
    """,
)
def llm_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 overlap scoring between paired documents [public method:
    Lin 2004's clipped-n-gram recall metric, the standard summarization
    /generation eval — here run reference-vs-candidate over a
    deterministic doc pairing since the fixture carries no model
    outputs; the dataflow is exactly what an eval harness runs over
    (prompt, generation) tables]. Per-doc bigram COUNTS (not sets —
    ROUGE clips per-gram: overlap = Σ min(c_ref, c_cand)) are joined on
    the gram key; precision divides by candidate mass, recall by
    reference mass, F1 is their harmonic mean with the 0/0 case pinned
    to 0 in both engines.

    At 100 TB: bigram explosion is corpus-linear but immediately
    reduced per (doc, gram); the overlap join keys on (doc pair, gram)
    after a semi-filter to the docs that appear in pairs — eval sets
    are bounded, so the joined mass is |pairs|·doc_len, never
    corpus-wide. The F.broadcast on the pairs frame keeps the gram-side
    scan shuffle-free."""
    d = load_table(spark, sf_dir, "documents")
    ids = d.select("doc_id")
    pairs = (
        d.filter(F.col("doc_id") % _ROUGE_STRIDE == 0)
        .select(
            F.col("doc_id").alias("ref_id"),
            (F.col("doc_id") + 1).alias("cand_id"),
        )
        .join(
            ids.select(F.col("doc_id").alias("cand_id")), "cand_id", "left_semi"
        )
    )
    grams = (
        # Guard: Spark's sequence(1, n-1) DESCENDS ([1,0]) for docs with
        # <2 tokens, emitting NULL grams, while DuckDB's
        # generate_series(1, 0) is empty — filter sub-bigram docs out of
        # BOTH engines so the gram sets agree by construction.
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
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        # Three branches (ref side, cand side, totals) reference the
        # gram counts; checkpoint the reduced frame so documents is
        # scanned once for grams (audit showed 6 scans without it).
        .transform(materialize)
    )
    r = grams.select(
        F.col("doc_id").alias("ref_id"),
        F.col("gram"),
        F.col("c").alias("rc"),
    )
    cgr = grams.select(
        F.col("doc_id").alias("c_cand"),
        F.col("gram").alias("cgram"),
        F.col("c").alias("cc"),
    )
    totals = grams.groupBy("doc_id").agg(F.sum("c").alias("n_bigrams"))
    overlap = (
        pairs
        .join(r, "ref_id")
        .join(
            cgr,
            (F.col("c_cand") == F.col("cand_id"))
            & (F.col("cgram") == F.col("gram")),
            "left",
        )
        .groupBy("ref_id", "cand_id")
        .agg(
            F.sum(
                # NOT coalesce(least(...)): least() in BOTH engines ignores
                # NULLs, so an unmatched gram would contribute rc, not 0.
                F.when(F.col("cc").isNull(), F.lit(0)).otherwise(
                    F.least("rc", "cc")
                )
            ).alias("overlap")
        )
    )
    tr = totals.select(
        F.col("doc_id").alias("ref_id"), F.col("n_bigrams").alias("ref_bigrams")
    )
    tc = totals.select(
        F.col("doc_id").alias("cand_id"),
        F.col("n_bigrams").alias("cand_bigrams"),
    )
    return (
        overlap.join(tr, "ref_id")
        .join(tc, "cand_id")
        .select(
            "ref_id",
            "cand_id",
            "ref_bigrams",
            "cand_bigrams",
            "overlap",
            F.round(F.col("overlap").cast("double") / F.col("cand_bigrams"), 6).alias(
                "rouge2_p"
            ),
            F.round(F.col("overlap").cast("double") / F.col("ref_bigrams"), 6).alias(
                "rouge2_r"
            ),
            F.when(F.col("overlap") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.lit(2.0)
                    * F.col("overlap")
                    / (F.col("ref_bigrams").cast("double") + F.col("cand_bigrams")),
                    6,
                )
            )
            .alias("rouge2_f1"),
        )
        .orderBy("ref_id")
    )


# k-anonymity threshold: an equivalence class smaller than _KANON_K
# re-identifies its members.
_KANON_K = 5


@register(
    "llm_kanonymity",
    f"""
    WITH qi AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket
      FROM customer
    ),
    cls AS (
      SELECT c_mktsegment, c_nationkey, bal_bucket, COUNT(*) AS class_size
      FROM qi GROUP BY 1, 2, 3
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_classes,
           CAST(SUM(class_size) AS BIGINT) AS n_rows,
           MIN(class_size) AS min_class_size,
           COUNT(*) FILTER (WHERE class_size < {_KANON_K}) AS n_violating_classes,
           CAST(COALESCE(SUM(class_size) FILTER (WHERE class_size < {_KANON_K}), 0)
                AS BIGINT) AS n_rows_at_risk,
           ROUND(COALESCE(SUM(class_size) FILTER (WHERE class_size < {_KANON_K}), 0)
                 * 1.0 / SUM(class_size), 6) AS risk_share
    FROM cls GROUP BY c_mktsegment
    """,
)
def llm_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over customer quasi-identifiers [public
    method: Sweeney 2002's k-anonymity — a release is k-anonymous when
    every quasi-identifier equivalence class holds ≥ k rows; the
    pre-release privacy screen that pairs with llm_pii_redact's
    column-level masking and dml_gdpr_erasure's row-level deletes].
    The QI tuple is (market segment, nation, $1000 account-balance
    bucket); classes below k={_KANON_K} are violations, rolled up per
    segment with the row mass at risk — the report that tells a
    publisher which strata need coarser generalization.

    At 100 TB: two stacked map-side-combinable aggregates on
    progressively coarser keys (QI-tuple → segment) — the
    evt_rate_limit shape; the QI class count is bounded by the
    attribute-domain product, not row count, so the second stage is
    dimension-sized. The FILTER-ed aggregates compile to
    count(CASE WHEN) — no second scan per metric."""
    c = load_table(spark, sf_dir, "customer")
    qi = c.select(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_bucket"),
    )
    cls = qi.groupBy("c_mktsegment", "c_nationkey", "bal_bucket").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    viol = F.col("class_size") < _KANON_K
    return cls.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("class_size").alias("n_rows"),
        F.min("class_size").alias("min_class_size"),
        F.count(F.when(viol, 1)).alias("n_violating_classes"),
        F.coalesce(F.sum(F.when(viol, F.col("class_size"))), F.lit(0)).alias(
            "n_rows_at_risk"
        ),
        F.round(
            F.coalesce(F.sum(F.when(viol, F.col("class_size"))), F.lit(0))
            / F.sum("class_size"),
            6,
        ).alias("risk_share"),
    )


@register(
    "llm_judge_agreement",
    f"""
    WITH sig AS (
      SELECT doc_id,
             len(string_split(lower(text), ' ')) AS wc,
             len(list_filter(string_split(lower(text), ' '),
                             x -> x IN {_STOPWORDS!r})) * 1.0
               / len(string_split(lower(text), ' ')) AS stop_frac,
             list_aggregate(list_transform(string_split(lower(text), ' '),
                                           x -> len(x)), 'sum') * 1.0
               / len(string_split(lower(text), ' ')) AS mwl
      FROM documents
    ),
    rated AS (
      SELECT doc_id,
             CAST(wc BETWEEN {_WC_LO} AND {_WC_HI}
                  AND stop_frac >= {_STOP_MIN} AS INT) AS rater_a,
             CAST(mwl BETWEEN {_MWL_LO} AND {_MWL_HI}
                  AND wc >= {_WC_LO} AS INT) AS rater_b
      FROM sig
    )
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(rater_a * rater_b) AS BIGINT) AS n_both_pass,
           CAST(SUM((1 - rater_a) * (1 - rater_b)) AS BIGINT) AS n_both_fail,
           CAST(SUM(CASE WHEN rater_a <> rater_b THEN 1 ELSE 0 END) AS BIGINT)
             AS n_disagree,
           ROUND(SUM(CASE WHEN rater_a = rater_b THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS p_observed,
           ROUND((AVG(rater_a) * AVG(rater_b))
                 + ((1 - AVG(rater_a)) * (1 - AVG(rater_b))), 6) AS p_expected,
           ROUND(((SUM(CASE WHEN rater_a = rater_b THEN 1 ELSE 0 END) * 1.0
                   / COUNT(*))
                  - ((AVG(rater_a) * AVG(rater_b))
                     + ((1 - AVG(rater_a)) * (1 - AVG(rater_b)))))
                 / (1.0 - ((AVG(rater_a) * AVG(rater_b))
                           + ((1 - AVG(rater_a)) * (1 - AVG(rater_b))))),
                 6) AS kappa
    FROM rated
    """,
)
def llm_judge_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-rater agreement between two quality judges [public
    method: Cohen's kappa — chance-corrected agreement, THE metric
    reported when validating one labeling policy (or LLM judge)
    against another before trusting either at corpus scale]. The two
    raters are deterministic rule judges built from the Gopher-rule
    signals (rater A: word-count + stopword gate; rater B: word-length
    + length floor), scored in one pass; kappa = (p_o − p_e)/(1 − p_e)
    with the marginal-product chance agreement. Low kappa between two
    plausible judges is the warning that a filter choice is policy,
    not ground truth.

    At 100 TB: one narrow map computes both verdicts per document and
    ONE map-side-combinable aggregate reduces to the 2×2 agreement
    table — scan-bound; the kappa arithmetic is a 1-row epilogue. The
    same dataflow scores (human, model) or (model, model) label pairs
    by swapping the rater expressions for label columns."""
    d = load_table(spark, sf_dir, "documents")
    j1, j2 = _judge_preds()
    rated = d.select(
        j1.cast("int").alias("rater_a"),
        j2.cast("int").alias("rater_b"),
    )
    agree = F.sum(F.when(F.col("rater_a") == F.col("rater_b"), 1).otherwise(0))
    pa, pb = F.avg("rater_a"), F.avg("rater_b")
    n = F.count(F.lit(1))
    po = agree * F.lit(1.0) / n
    pe = (pa * pb) + ((1 - pa) * (1 - pb))
    return rated.agg(
        n.alias("n_docs"),
        F.sum(F.col("rater_a") * F.col("rater_b")).alias("n_both_pass"),
        F.sum((1 - F.col("rater_a")) * (1 - F.col("rater_b"))).alias("n_both_fail"),
        F.sum(F.when(F.col("rater_a") != F.col("rater_b"), 1).otherwise(0)).alias(
            "n_disagree"
        ),
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


@register(
    "llm_ensemble_majority",
    f"""
    WITH sig AS (
      SELECT doc_id,
             len(string_split(lower(text), ' ')) AS wc,
             len(list_filter(string_split(lower(text), ' '),
                             x -> x IN {_STOPWORDS!r})) * 1.0
               / len(string_split(lower(text), ' ')) AS stop_frac,
             list_aggregate(list_transform(string_split(lower(text), ' '),
                                           x -> len(x)), 'sum') * 1.0
               / len(string_split(lower(text), ' ')) AS mwl,
             n_chars
      FROM documents
    ),
    votes AS (
      SELECT doc_id,
             CAST(wc BETWEEN {_WC_LO} AND {_WC_HI}
                  AND stop_frac >= {_STOP_MIN} AS INT) AS j1,
             CAST(mwl BETWEEN {_MWL_LO} AND {_MWL_HI}
                  AND wc >= {_WC_LO} AS INT) AS j2,
             CAST(n_chars BETWEEN 150 AND 400 AS INT) AS j3
      FROM sig
    ),
    labeled AS (
      SELECT doc_id, j1, j2, j3,
             CAST(j1 + j2 + j3 >= 2 AS INT) AS majority
      FROM votes
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(majority) AS BIGINT) AS n_pass_majority,
      CAST(SUM(CASE WHEN j1 + j2 + j3 IN (0, 3) THEN 1 ELSE 0 END) AS BIGINT)
        AS n_unanimous,
      ROUND(AVG(CASE WHEN j1 = majority THEN 1.0 ELSE 0.0 END), 6) AS acc_j1,
      ROUND(AVG(CASE WHEN j2 = majority THEN 1.0 ELSE 0.0 END), 6) AS acc_j2,
      ROUND(AVG(CASE WHEN j3 = majority THEN 1.0 ELSE 0.0 END), 6) AS acc_j3
    FROM labeled
    """,
)
def llm_ensemble_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote label aggregation over a judge ensemble [public
    method: the crowdsourcing/LLM-ensemble baseline — majority label
    per item plus each judge's agreement-with-majority rate, which is
    Dawid-Skene's iteration-zero confusion estimate; the rate tells
    you which judge to retire or reweight before the next pass].
    Three deterministic rule judges (the llm_judge_agreement pair
    plus a length judge) vote per document in one narrow map; the
    scorecard reduces to majority pass mass, unanimity, and per-judge
    accuracies.

    At 100 TB: one map + ONE combinable aggregate — scan-bound; with
    J judges the vote is a J-column sum, and swapping rule judges for
    (item, judge, label) long-form model outputs turns the map into a
    pivot on the item key (the agg_pivot shape) with no other
    change."""
    d = load_table(spark, sf_dir, "documents")
    j1, j2 = _judge_preds()
    votes = d.select(
        j1.cast("int").alias("j1"),
        j2.cast("int").alias("j2"),
        F.col("n_chars").between(150, 400).cast("int").alias("j3"),
    )
    labeled = votes.select(
        "j1",
        "j2",
        "j3",
        ((F.col("j1") + F.col("j2") + F.col("j3")) >= 2).cast("int").alias("majority"),
    )
    return labeled.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("majority").alias("n_pass_majority"),
        F.sum(
            F.when((F.col("j1") + F.col("j2") + F.col("j3")).isin(0, 3), 1).otherwise(0)
        ).alias("n_unanimous"),
        F.round(F.avg(F.when(F.col("j1") == F.col("majority"), 1.0).otherwise(0.0)), 6).alias("acc_j1"),
        F.round(F.avg(F.when(F.col("j2") == F.col("majority"), 1.0).otherwise(0.0)), 6).alias("acc_j2"),
        F.round(F.avg(F.when(F.col("j3") == F.col("majority"), 1.0).otherwise(0.0)), 6).alias("acc_j3"),
    )


# Wilson interval z for 95% two-sided coverage.
_WILSON_Z = 1.959964


@register(
    "llm_eval_wilson_ci",
    f"""
    WITH rated AS (
      SELECT lang,
             CAST(len(string_split(lower(text), ' '))
                    BETWEEN {_WC_LO} AND {_WC_HI}
                  AND len(list_filter(string_split(lower(text), ' '),
                                      x -> x IN {_STOPWORDS!r})) * 1.0
                      / len(string_split(lower(text), ' ')) >= {_STOP_MIN}
                  AS INT) AS pass
      FROM documents
    ),
    agg AS (
      SELECT lang, COUNT(*) AS n, CAST(SUM(pass) AS BIGINT) AS n_pass,
             SUM(pass) * 1.0 / COUNT(*) AS p
      FROM rated GROUP BY lang
    )
    SELECT lang, n, n_pass, ROUND(p, 6) AS pass_rate,
           ROUND((p + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
                  - {_WILSON_Z} * sqrt(p * (1 - p) / n
                        + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
                 / (1 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS ci_lo,
           ROUND((p + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
                  + {_WILSON_Z} * sqrt(p * (1 - p) / n
                        + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
                 / (1 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS ci_hi
    FROM agg
    ORDER BY lang
    """,
)
def llm_eval_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified pass-rate reporting with Wilson 95% intervals
    [public method: the Wilson score interval — the binomial CI that
    stays sane at small n and extreme rates, which is exactly the
    regime per-language eval strata live in; an eval table quoting
    rates without intervals on 20-doc strata is the classic
    benchmark-reporting sin]. The Gopher-gate verdict is the binary
    metric; one combinable aggregate per language produces (n, passes)
    and the closed-form interval is a per-group epilogue — both
    engines evaluate the identical formula on identical exact counts.

    At 100 TB: scan-bound map + 5-key aggregate, the evt_benford
    shape; the interval math adds zero distributed work. Swapping the
    rule verdict for a model-grade column reports real eval runs with
    no other change."""
    d = load_table(spark, sf_dir, "documents")
    j1, _ = _judge_preds()
    rated = d.select("lang", j1.cast("int").alias("pass"))
    agg = rated.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pass").alias("n_pass"),
        (F.sum("pass") / F.count(F.lit(1))).alias("p"),
    )
    z = _WILSON_Z
    n, p = F.col("n"), F.col("p")
    center = p + z * z / (2 * n)
    half = z * F.sqrt(p * (1 - p) / n + z * z / (4.0 * n * n))
    denom = 1 + z * z / n
    return agg.select(
        "lang",
        "n",
        "n_pass",
        F.round(p, 6).alias("pass_rate"),
        F.round((center - half) / denom, 6).alias("ci_lo"),
        F.round((center + half) / denom, 6).alias("ci_hi"),
    ).orderBy("lang")


# Otsu auto-threshold: histogram resolution over the [0, 1] score range.
_OTSU_BINS = 20


@register(
    "llm_otsu_threshold",
    f"""
    WITH scored AS (
      SELECT LEAST({_OTSU_BINS - 1}, CAST(floor(
               len(list_filter(string_split(lower(text), ' '),
                               x -> x IN {_STOPWORDS!r})) * 1.0
               / len(string_split(lower(text), ' ')) * {_OTSU_BINS}) AS INT))
             AS bin
      FROM documents
    ),
    hist AS (
      SELECT bin, COUNT(*) AS n FROM scored GROUP BY bin
    ),
    cum AS (
      SELECT bin, n,
             SUM(n) OVER (ORDER BY bin) AS cn,
             SUM(n * (bin + 0.5)) OVER (ORDER BY bin) AS cmass,
             SUM(n) OVER () AS total,
             SUM(n * (bin + 0.5)) OVER () AS tmass
      FROM hist
    ),
    split AS (
      SELECT bin,
             CAST(cn AS DOUBLE) / total AS w0,
             1.0 - CAST(cn AS DOUBLE) / total AS w1,
             cmass / cn AS mu0,
             (tmass - cmass) / NULLIF(total - cn, 0) AS mu1
      FROM cum WHERE cn < total
    ),
    scoredsplit AS (
      SELECT bin,
             ROUND(w0 * w1 * (mu0 - mu1) * (mu0 - mu1), 6) AS between_var
      FROM split
    )
    SELECT bin AS threshold_bin,
           ROUND((bin + 1.0) / {_OTSU_BINS}, 6) AS threshold_score,
           between_var
    FROM scoredsplit
    ORDER BY between_var DESC, bin
    LIMIT 1
    """,
)
def llm_otsu_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Otsu automatic threshold selection [public method: Otsu 1979 —
    pick the cut maximizing between-class variance w₀w₁(μ₀−μ₁)² over
    a histogram; the image-binarization classic applied where curation
    actually needs it: choosing a quality-score cutoff from the DATA
    instead of hand-tuning (the {_STOP_MIN} constant the Gopher gate
    hardcodes is exactly the kind of number this derives)]. The
    stopword-fraction score bins into {_OTSU_BINS} cells; cumulative
    window sums over the BIN dimension give every candidate split's
    class weights and means in one pass, and the argmax elects on the
    ROUNDED variance with a bin tiebreak.

    At 100 TB: one scan → {_OTSU_BINS}-key combinable histogram; every
    candidate threshold evaluates over the bin dimension (windows on
    ≤{_OTSU_BINS} rows). This is the general recipe for
    histogram-functional optimization (Otsu, entropy thresholds,
    quantile sketches): reduce once, optimize on the reduction."""
    d = load_table(spark, sf_dir, "documents")
    t = F.split(F.lower("text"), " ")
    score = F.size(F.filter(t, lambda x: x.isin(*_STOPWORDS))).cast("double") / F.size(t)
    binned = d.select(
        F.least(
            F.lit(_OTSU_BINS - 1), F.floor(score * _OTSU_BINS).cast("int")
        ).alias("bin")
    )
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n"))
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    mass = F.col("n") * (F.col("bin") + 0.5)
    cum = hist.select(
        "bin",
        F.sum("n").over(w_cum).alias("cn"),
        F.sum(mass).over(w_cum).alias("cmass"),
        F.sum("n").over(w_all).alias("total"),
        F.sum(mass).over(w_all).alias("tmass"),
    )
    split = cum.filter(F.col("cn") < F.col("total")).select(
        "bin",
        (F.col("cn").cast("double") / F.col("total")).alias("w0"),
        (1.0 - F.col("cn").cast("double") / F.col("total")).alias("w1"),
        (F.col("cmass") / F.col("cn")).alias("mu0"),
        (
            (F.col("tmass") - F.col("cmass"))
            / F.nullif(F.col("total") - F.col("cn"), F.lit(0))
        ).alias("mu1"),
    )
    return (
        split.select(
            F.col("bin").alias("threshold_bin"),
            F.round((F.col("bin") + 1.0) / _OTSU_BINS, 6).alias("threshold_score"),
            F.round(
                F.col("w0")
                * F.col("w1")
                * (F.col("mu0") - F.col("mu1"))
                * (F.col("mu0") - F.col("mu1")),
                6,
            ).alias("between_var"),
        )
        .orderBy(F.col("between_var").desc(), "threshold_bin")
        .limit(1)
    )


# pass@k estimation: samples per problem, k, and the problem panel.
_PAK_N = 10
_PAK_K = 4
_PAK_PROBLEM_MOD = 10


@register(
    "llm_pass_at_k",
    f"""
    WITH problems AS (
      SELECT doc_id AS problem_id,
             length(text) % 7 + 1 AS difficulty
      FROM documents WHERE doc_id % {_PAK_PROBLEM_MOD} = 0
    ),
    samples AS (
      SELECT p.problem_id, s.i,
             CAST(CAST('0x' || substring(
                    md5(CAST(p.problem_id AS VARCHAR) || ':' || CAST(s.i AS VARCHAR)),
                    1, 2) AS INTEGER) % 8 >= p.difficulty AS INT) AS correct
      FROM problems p
      CROSS JOIN (SELECT unnest(generate_series(0, {_PAK_N - 1})) AS i) s
    ),
    agg AS (
      SELECT problem_id, COUNT(*) AS n, CAST(SUM(correct) AS BIGINT) AS c
      FROM samples GROUP BY problem_id
    )
    SELECT problem_id, n, c,
           ROUND(CASE WHEN n - c < {_PAK_K} THEN 1.0
                 ELSE 1.0 - ((n - c) * 1.0 / n)
                          * ((n - c - 1.0) / (n - 1))
                          * ((n - c - 2.0) / (n - 2))
                          * ((n - c - 3.0) / (n - 3))
                 END, 6) AS pass_at_k
    FROM agg
    ORDER BY problem_id
    """,
)
def llm_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@k estimation [public method: Chen et al. 2021
    (HumanEval) — the naive "any of k random samples passed" is
    biased; the unbiased form is 1 − C(n−c, k)/C(n, k) over n graded
    samples with c correct, expanded here as the telescoping product
    Π(n−c−i)/(n−i) for k={_PAK_K}]. Sample verdicts are deterministic
    md5-parity draws whose pass odds vary by a per-problem difficulty
    (the fixture carries no real execution results; the ESTIMATOR
    arithmetic and its dataflow are what the op pins — swap the
    verdict column for real grader output and nothing else changes).

    At 100 TB: problems × n-samples is the bounded eval grid; the
    per-problem (n, c) rollup is map-side combinable and the estimator
    is a per-group epilogue on exact integers — bit-identical in both
    engines, no floating accumulation at all until the final
    division chain."""
    d = load_table(spark, sf_dir, "documents")
    problems = d.filter(F.col("doc_id") % _PAK_PROBLEM_MOD == 0).select(
        F.col("doc_id").alias("problem_id"),
        (F.length("text") % 7 + 1).alias("difficulty"),
    )
    samples = (
        problems.select(
            "problem_id",
            "difficulty",
            F.explode(F.sequence(F.lit(0), F.lit(_PAK_N - 1))).alias("i"),
        )
        .select(
            "problem_id",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col("problem_id").cast("string"),
                                F.col("i").cast("string"),
                            )
                        ),
                        1,
                        2,
                    ),
                    16,
                    10,
                ).cast("int")
                % 8
                >= F.col("difficulty")
            )
            .cast("int")
            .alias("correct"),
        )
    )
    agg = samples.groupBy("problem_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("correct").alias("c")
    )
    nf = F.col("n").cast("double")
    cf = F.col("c").cast("double")
    prod = (
        ((nf - cf) / nf)
        * ((nf - cf - 1.0) / (nf - 1))
        * ((nf - cf - 2.0) / (nf - 2))
        * ((nf - cf - 3.0) / (nf - 3))
    )
    return agg.select(
        "problem_id",
        "n",
        "c",
        F.round(
            F.when(F.col("n") - F.col("c") < _PAK_K, F.lit(1.0)).otherwise(
                F.lit(1.0) - prod
            ),
            6,
        ).alias("pass_at_k"),
    ).orderBy("problem_id")


# Bradley-Terry: fixed minorization-maximization iterations.
_BT_ITERS = 3

# One DuckDB MM step over the symmetric battle-count table nn(i, j, n)
# and win totals w(i): p'_i = W_i / Σ_j n_ij/(p_i + p_j), then
# sum-normalized; rounded per step so both engines iterate identically.
_DUCK_BT_STEP = """
  SELECT i, ROUND(raw / SUM(raw) OVER (), 8) AS p FROM (
    SELECT w.i, w.wins * 1.0 / SUM(nn.n / (pi.p + pj.p)) AS raw
    FROM w
    JOIN nn ON nn.i = w.i
    JOIN {prev} pi ON pi.i = nn.i
    JOIN {prev} pj ON pj.i = nn.j
    GROUP BY w.i, w.wins
  ) t
"""

_BT_ORACLE = f"""
    WITH scored AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(lower(text), ' '),
                             x -> x IN {_STOPWORDS!r})) * 1.0
               / len(string_split(lower(text), ' ')) AS q
      FROM documents
    ),
    battles AS (
      SELECT a.lang AS la, b.lang AS lb,
             CAST(a.q >= b.q AS INT) AS win_a
      FROM scored a JOIN scored b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 2 = 0 AND a.lang <> b.lang
    ),
    nn AS (
      SELECT i, j, COUNT(*) AS n FROM (
        SELECT la AS i, lb AS j FROM battles
        UNION ALL SELECT lb, la FROM battles
      ) GROUP BY i, j
    ),
    w AS (
      SELECT i, CAST(SUM(win) AS BIGINT) AS wins FROM (
        SELECT la AS i, win_a AS win FROM battles
        UNION ALL SELECT lb, 1 - win_a FROM battles
      ) GROUP BY i
    ),
    p0 AS (
      SELECT i, ROUND(1.0 / (SELECT COUNT(*) FROM w), 8) AS p FROM w
    ),
    p1 AS ({_DUCK_BT_STEP.format(prev="p0")}),
    p2 AS ({_DUCK_BT_STEP.format(prev="p1")}),
    p3 AS ({_DUCK_BT_STEP.format(prev="p2")})
    SELECT w.i AS lang, w.wins,
           CAST((SELECT SUM(n) FROM nn WHERE nn.i = w.i) AS BIGINT) AS n_battles,
           ROUND(p3.p, 6) AS bt_score,
           CAST(ROW_NUMBER() OVER (ORDER BY p3.p DESC, w.i) AS INT) AS rank
    FROM w JOIN p3 ON p3.i = w.i
    ORDER BY rank
"""


@register("llm_bradley_terry", _BT_ORACLE)
def llm_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry pairwise-preference ratings [public method: the
    model behind arena leaderboards — P(i beats j) = p_i/(p_i+p_j),
    fit by {_BT_ITERS} fixed minorization-maximization rounds; here
    the "players" are language slices battling via deterministic doc
    pairings judged on the quality score, and swapping in real (model
    A, model B, winner) rows re-ranks models with no dataflow change].
    Battle counts and win totals aggregate once; each MM round is a
    pair-table join against the current ratings + one combinable sum,
    normalized and ROUNDED per step (the evt_markov_stationary
    pinning rule), with the honest fixed-budget caveat the other
    iterative ops share.

    At 100 TB: battles reduce to the player-pair dimension before any
    iteration (map-side combinable); every MM round runs on |players|²
    rows — leaderboard-sized however many battles stream in."""
    d = load_table(spark, sf_dir, "documents")
    t = F.split(F.lower("text"), " ")
    q = F.size(F.filter(t, lambda x: x.isin(*_STOPWORDS))).cast("double") / F.size(t)
    scored = d.select("doc_id", "lang", q.alias("q"))
    a = scored.select(
        F.col("doc_id").alias("id_a"), F.col("lang").alias("la"), F.col("q").alias("qa")
    ).filter(F.col("id_a") % 2 == 0)
    b = scored.select(
        F.col("doc_id").alias("id_b"), F.col("lang").alias("lb"), F.col("q").alias("qb")
    )
    battles = (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .filter(F.col("la") != F.col("lb"))
        .select(
            "la",
            "lb",
            # Ties award A outright: with id_b = id_a + 1 the old
            # (qa = qb AND id_a < id_b) clause was vacuously true, a
            # hidden always-win-A masquerading as a symmetric tiebreak —
            # state the actual semantics.
            (F.col("qa") >= F.col("qb")).cast("int").alias("win_a"),
        )
        .transform(materialize)
    )
    nn = (
        battles.select(F.col("la").alias("i"), F.col("lb").alias("j"))
        .unionAll(battles.select(F.col("lb").alias("i"), F.col("la").alias("j")))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(materialize)
    )
    w = (
        battles.select(F.col("la").alias("i"), F.col("win_a").alias("win"))
        .unionAll(
            battles.select(F.col("lb").alias("i"), (1 - F.col("win_a")).alias("win"))
        )
        .groupBy("i")
        .agg(F.sum("win").alias("wins"))
        .transform(materialize)
    )
    n_players = w.agg(F.count(F.lit(1)).alias("np"))
    p = w.crossJoin(n_players).select(
        "i", F.round(F.lit(1.0) / F.col("np"), 8).alias("p")
    )
    for _ in range(_BT_ITERS):
        pi = p.select(F.col("i").alias("pi_i"), F.col("p").alias("pi_p"))
        pj = p.select(F.col("i").alias("pj_i"), F.col("p").alias("pj_p"))
        denom = (
            nn.join(pi, nn.i == pi.pi_i)
            .join(pj, nn.j == pj.pj_i)
            .groupBy(F.col("i").alias("d_i"))
            .agg(F.sum(F.col("n") / (F.col("pi_p") + F.col("pj_p"))).alias("den"))
        )
        raw = w.join(denom, w.i == denom.d_i).select(
            "i", (F.col("wins") / F.col("den")).alias("raw")
        )
        p = raw.select(
            "i",
            F.round(
                F.col("raw") / F.sum("raw").over(Window.partitionBy()), 8
            ).alias("p"),
        ).transform(materialize)
    nbat = nn.groupBy("i").agg(F.sum("n").alias("n_battles"))
    return (
        w.join(p, "i")
        .join(nbat, "i")
        .select(
            F.col("i").alias("lang"),
            "wins",
            "n_battles",
            F.round("p", 6).alias("bt_score"),
            F.row_number()
            .over(Window.orderBy(F.col("p").desc(), F.col("i")))
            .cast("int")
            .alias("rank"),
        )
        .orderBy("rank")
    )


# Best-of-N curve: sample pool size, the n sweep, and the exact
# order-statistic weights C(i-1, n-1)/C(N, n) shared by both engines as
# one literal table (math.comb at import time — no runtime randomness).
_BON_N = 10
_BON_SWEEP = (1, 2, 4, 8)


def _bon_weights() -> list[tuple[int, int, float]]:
    from math import comb

    out = []
    for n in _BON_SWEEP:
        for i in range(1, _BON_N + 1):
            w = comb(i - 1, n - 1) / comb(_BON_N, n)
            if w > 0:
                out.append((n, i, w))
    return out


_BON_VALUES = ", ".join(f"({n}, {i}, {w!r})" for n, i, w in _bon_weights())

_BON_ORACLE = f"""
    WITH problems AS (
      SELECT doc_id AS problem_id FROM documents
      WHERE doc_id % {_PAK_PROBLEM_MOD} = 0
    ),
    samples AS (
      SELECT p.problem_id, s.i AS samp,
             ROUND(CAST(CAST('0x' || substring(
                     md5(CAST(p.problem_id AS VARCHAR) || '#' || CAST(s.i AS VARCHAR)),
                     1, 2) AS INTEGER) AS DOUBLE) / 255.0, 6) AS score
      FROM problems p
      CROSS JOIN (SELECT unnest(generate_series(0, {_BON_N - 1})) AS i) s
    ),
    ranked AS (
      SELECT problem_id, score,
             ROW_NUMBER() OVER (PARTITION BY problem_id
                                ORDER BY score, samp) AS rk
      FROM samples
    ),
    weights AS (
      SELECT * FROM (VALUES {_BON_VALUES}) AS t(n, i, w)
    )
    SELECT r.problem_id, w.n,
           ROUND(SUM(w.w * r.score), 6) AS expected_best
    FROM ranked r JOIN weights w ON w.i = r.rk
    GROUP BY r.problem_id, w.n
    ORDER BY r.problem_id, w.n
"""


@register("llm_best_of_n_curve", _BON_ORACLE)
def llm_best_of_n_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Best-of-N uplift curve [public method: the unbiased
    order-statistic estimator from the HumanEval methodology —
    E[max of a random n-subset of N graded samples] =
    Σᵢ s₍ᵢ₎·C(i−1, n−1)/C(N, n) over the ASCENDING-sorted scores;
    no resampling, no randomness, the whole curve from one grading
    pass]. The n ∈ {_BON_SWEEP} sweep is how BoN serving and reward-
    model evals pick their sampling budget: where the curve flattens,
    extra samples stop paying. Scores are deterministic md5 draws
    standing in for reward-model grades (the llm_pass_at_k
    convention); the weight table is ONE literal relation generated
    from math.comb at import, identical in both engines.

    At 100 TB: the grid is |problems|×N (bounded eval panel); the
    rank is a per-problem window over N rows, the weight join is a
    broadcast of ≤|sweep|·N literal rows, and the curve reduces
    map-side per (problem, n)."""
    d = load_table(spark, sf_dir, "documents")
    problems = d.filter(F.col("doc_id") % _PAK_PROBLEM_MOD == 0).select(
        F.col("doc_id").alias("problem_id")
    )
    samples = problems.select(
        "problem_id",
        F.explode(F.sequence(F.lit(0), F.lit(_BON_N - 1))).alias("samp"),
    ).select(
        "problem_id",
        "samp",
        F.round(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "#",
                            F.col("problem_id").cast("string"),
                            F.col("samp").cast("string"),
                        )
                    ),
                    1,
                    2,
                ),
                16,
                10,
            ).cast("double")
            / 255.0,
            6,
        ).alias("score"),
    )
    w_rank = Window.partitionBy("problem_id").orderBy("score", "samp")
    ranked = samples.select(
        "problem_id", "score", F.row_number().over(w_rank).alias("rk")
    )
    weights = spark.sql(
        f"SELECT * FROM VALUES {_BON_VALUES} AS t(n, i, w)"
    )
    return (
        ranked.join(weights, F.col("i") == F.col("rk"))
        .groupBy("problem_id", "n")
        .agg(F.round(F.sum(F.col("w") * F.col("score")), 6).alias("expected_best"))
        .orderBy("problem_id", "n")
    )


@register(
    "llm_judge_length_bias",
    f"""
    WITH rated AS (
      SELECT n_chars,
             CAST(len(string_split(lower(text), ' '))
                    BETWEEN {_WC_LO} AND {_WC_HI}
                  AND len(list_filter(string_split(lower(text), ' '),
                                      x -> x IN {_STOPWORDS!r})) * 1.0
                      / len(string_split(lower(text), ' ')) >= {_STOP_MIN}
                  AS INT) AS j1,
             CAST(list_aggregate(list_transform(string_split(lower(text), ' '),
                                                x -> len(x)), 'sum') * 1.0
                    / len(string_split(lower(text), ' '))
                    BETWEEN {_MWL_LO} AND {_MWL_HI}
                  AND len(string_split(lower(text), ' ')) >= {_WC_LO}
                  AS INT) AS j2,
             CAST(n_chars BETWEEN 150 AND 400 AS INT) AS j3
      FROM documents
    )
    SELECT 'j1' AS judge, COUNT(*) AS n,
           ROUND(AVG(j1), 6) AS pass_rate,
           ROUND(corr(j1, n_chars), 6) AS length_corr
    FROM rated
    UNION ALL
    SELECT 'j2', COUNT(*), ROUND(AVG(j2), 6), ROUND(corr(j2, n_chars), 6)
    FROM rated
    UNION ALL
    SELECT 'j3', COUNT(*), ROUND(AVG(j3), 6), ROUND(corr(j3, n_chars), 6)
    FROM rated
    ORDER BY judge
    """,
)
def llm_judge_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judge length-bias audit [public concern: LLM-judge and reward-
    model evals systematically prefer LONGER outputs; the standard
    first check is the point-biserial correlation between verdict and
    length — a judge whose corr dwarfs the others is scoring length,
    not quality]. The three llm_ensemble_majority rule judges each get
    corr(verdict, n_chars) from ONE shared pass — and the audit works:
    j2 looks like a CONTENT judge (word-length bounds) but its length
    FLOOR makes the verdict monotone in length (corr ≈ 0.72 on the
    fixture), while the two BAND judges sit near zero or negative —
    exactly the hidden-length-proxy failure this audit exists to
    catch.

    At 100 TB: one narrow map computes all verdicts; corr carries
    constant moment state per judge, so the scorecard is scan-bound
    (the evt_power_analysis shape). Swapping rule verdicts for model
    grades audits real judges unchanged."""
    d = load_table(spark, sf_dir, "documents")
    j1, j2 = _judge_preds()
    rated = d.select(
        "n_chars",
        j1.cast("int").alias("j1"),
        j2.cast("int").alias("j2"),
        F.col("n_chars").between(150, 400).cast("int").alias("j3"),
    ).transform(materialize)
    rows = []
    for j in ("j1", "j2", "j3"):
        rows.append(
            rated.agg(
                F.lit(j).alias("judge"),
                F.count(F.lit(1)).alias("n"),
                F.round(F.avg(j), 6).alias("pass_rate"),
                F.round(F.corr(j, "n_chars"), 6).alias("length_corr"),
            )
        )
    return reduce(DataFrame.unionByName, rows).orderBy("judge")


# Calibration: confidence-bin count for the reliability diagram / ECE.
_ECE_BINS = 10


@register(
    "llm_calibration_ece",
    f"""
    WITH rated AS (
      SELECT ROUND(1.0 / (1.0 + exp(-(
               len(list_filter(string_split(lower(text), ' '),
                               x -> x IN {_STOPWORDS!r})) * 1.0
                 / len(string_split(lower(text), ' ')) * 40.0 - 2.0))), 6)
               AS conf,
             CAST(len(string_split(lower(text), ' '))
                    BETWEEN {_WC_LO} AND {_WC_HI}
                  AND len(list_filter(string_split(lower(text), ' '),
                                      x -> x IN {_STOPWORDS!r})) * 1.0
                      / len(string_split(lower(text), ' ')) >= {_STOP_MIN}
                  AS INT) AS label
      FROM documents
    ),
    binned AS (
      SELECT LEAST({_ECE_BINS - 1},
                   CAST(floor(conf * {_ECE_BINS}) AS INT)) AS bin,
             conf, label
      FROM rated
    ),
    per_bin AS (
      SELECT bin, COUNT(*) AS n,
             ROUND(AVG(conf), 6) AS mean_conf,
             ROUND(AVG(label), 6) AS accuracy
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM per_bin)
    SELECT bin, n, mean_conf, accuracy,
           ROUND(abs(mean_conf - accuracy), 6) AS gap,
           ROUND((SELECT SUM(p.n * abs(p.mean_conf - p.accuracy)) / t.total
                  FROM per_bin p), 6) AS ece
    FROM per_bin CROSS JOIN tot t
    ORDER BY bin
    """,
)
def llm_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error [public
    method: ECE — bin predictions by confidence, compare each bin's
    mean confidence against its empirical accuracy, weight gaps by
    bin mass; the standard audit before using a classifier's scores
    as probabilities (filter thresholds, routing, abstention all
    assume calibration)]. Confidence is a logistic over the stopword
    signal, the label is the Gopher-gate verdict — deterministic
    stand-ins in the established grader-proxy convention; every row
    carries the bin diagnostics AND the corpus-level ECE so the
    reliability diagram and its summary ship in one result.

    At 100 TB: one narrow map + a {_ECE_BINS}-key combinable rollup
    (the evt_benford shape); the ECE epilogue runs over the bin
    dimension. Swapping conf/label for model scores and graded truth
    audits real classifiers unchanged."""
    d = load_table(spark, sf_dir, "documents")
    _, _, stop_frac, _ = _text_signals()
    j1, _ = _judge_preds()
    conf = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-(stop_frac * 40.0 - 2.0))), 6
    )
    label = j1.cast("int")
    binned = d.select(
        F.least(
            F.lit(_ECE_BINS - 1), F.floor(conf * _ECE_BINS).cast("int")
        ).alias("bin"),
        conf.alias("conf"),
        label.alias("label"),
    )
    per_bin = (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("conf"), 6).alias("mean_conf"),
            F.round(F.avg("label"), 6).alias("accuracy"),
        )
        .transform(materialize)
    )
    ece = per_bin.agg(
        F.round(
            F.sum(F.col("n") * F.abs(F.col("mean_conf") - F.col("accuracy")))
            / F.sum("n"),
            6,
        ).alias("ece")
    )
    return (
        per_bin.crossJoin(ece)
        .select(
            "bin",
            "n",
            "mean_conf",
            "accuracy",
            F.round(F.abs(F.col("mean_conf") - F.col("accuracy")), 6).alias("gap"),
            "ece",
        )
        .orderBy("bin")
    )


@register(
    "llm_eval_mcnemar",
    f"""
    WITH rated AS (
      SELECT CAST(len(string_split(lower(text), ' '))
                    BETWEEN {_WC_LO} AND {_WC_HI}
                  AND len(list_filter(string_split(lower(text), ' '),
                                      x -> x IN {_STOPWORDS!r})) * 1.0
                      / len(string_split(lower(text), ' ')) >= {_STOP_MIN}
                  AS INT) AS a,
             CAST(list_aggregate(list_transform(string_split(lower(text), ' '),
                                                x -> len(x)), 'sum') * 1.0
                    / len(string_split(lower(text), ' '))
                    BETWEEN {_MWL_LO} AND {_MWL_HI}
                  AND len(string_split(lower(text), ' ')) >= {_WC_LO}
                  AS INT) AS b
      FROM documents
    )
    SELECT COUNT(*) AS n_items,
           CAST(SUM(a * (1 - b)) AS BIGINT) AS n_a_only,
           CAST(SUM((1 - a) * b) AS BIGINT) AS n_b_only,
           CAST(SUM(a * b) AS BIGINT) AS n_both,
           ROUND(power(abs(SUM(a * (1 - b)) - SUM((1 - a) * b)) - 1, 2)
                 * 1.0 / NULLIF(SUM(a * (1 - b)) + SUM((1 - a) * b), 0), 6)
             AS mcnemar_chi2,
           CAST(power(abs(SUM(a * (1 - b)) - SUM((1 - a) * b)) - 1, 2)
                * 1.0 / NULLIF(SUM(a * (1 - b)) + SUM((1 - a) * b), 0)
                > 3.841459 AS INT) AS significant_05
    FROM rated
    """,
)
def llm_eval_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test for model comparison [public method: when
    two systems are graded on the SAME items, the right significance
    test ignores the items both pass or both fail and asks whether the
    DISCORDANT counts (A-only vs B-only) could be a fair coin — χ² =
    (|b−c|−1)²/(b+c) with continuity correction against the 3.84
    one-df critical value; the aggregate-accuracy z-test overstates
    significance because it ignores the pairing]. The two rule judges
    stand in for systems A and B (the grader-proxy convention); one
    combinable pass produces the 2×2 discordance table and the closed
    form is a 1-row epilogue on exact integers.

    At 100 TB: scan-bound single aggregate — and the shape is the
    point: paired eval comparison at corpus scale needs ONE pass over
    the joined verdicts, never per-item driver loops."""
    d = load_table(spark, sf_dir, "documents")
    j1, j2 = _judge_preds()
    rated = d.select(j1.cast("int").alias("a"), j2.cast("int").alias("b"))
    a_only = F.sum(F.col("a") * (1 - F.col("b")))
    b_only = F.sum((1 - F.col("a")) * F.col("b"))
    chi2 = (
        F.pow(F.abs(a_only - b_only) - 1, 2)
        / F.nullif(a_only + b_only, F.lit(0))
    )
    return rated.agg(
        F.count(F.lit(1)).alias("n_items"),
        a_only.alias("n_a_only"),
        b_only.alias("n_b_only"),
        F.sum(F.col("a") * F.col("b")).alias("n_both"),
        F.round(chi2, 6).alias("mcnemar_chi2"),
        (chi2 > 3.841459).cast("int").alias("significant_05"),
    )


# ---------------------------------------------------------------------------
# Group-relative advantage normalization (GRPO-style post-training prep)
# ---------------------------------------------------------------------------

_GRPO_PROMPT_MOD = 5  # every 5th doc is a prompt -> 100 prompt groups
_GRPO_G = 8  # rollouts per prompt group


@register(
    "llm_grpo_advantage",
    f"""
    WITH prompts AS (
      SELECT doc_id AS prompt_id, length(text) % 50 AS base
      FROM documents WHERE doc_id % {_GRPO_PROMPT_MOD} = 0
    ),
    rollouts AS (
      SELECT p.prompt_id, s.i,
             p.base + CAST('0x' || substring(
               md5(CAST(p.prompt_id AS VARCHAR) || ':' || CAST(s.i AS VARCHAR)),
               1, 2) AS INTEGER) % 50 AS reward
      FROM prompts p
      CROSS JOIN (SELECT unnest(generate_series(0, {_GRPO_G - 1})) AS i) s
    ),
    stats AS (
      SELECT prompt_id,
             CAST(SUM(reward) AS BIGINT) AS s,
             CAST(SUM(reward * reward) AS BIGINT) AS q
      FROM rollouts GROUP BY prompt_id
    )
    SELECT r.prompt_id, r.i AS rollout, CAST(r.reward AS BIGINT) AS reward,
           ROUND(t.s / {_GRPO_G}.0, 6) AS group_mean,
           ROUND(sqrt(t.q / {_GRPO_G}.0 - (t.s / {_GRPO_G}.0) * (t.s / {_GRPO_G}.0)), 6)
             AS group_std,
           ROUND(COALESCE(
             (r.reward - t.s / {_GRPO_G}.0)
             / NULLIF(sqrt(t.q / {_GRPO_G}.0 - (t.s / {_GRPO_G}.0) * (t.s / {_GRPO_G}.0)), 0),
             0), 6) AS advantage
    FROM rollouts r JOIN stats t ON t.prompt_id = r.prompt_id
    ORDER BY r.prompt_id, r.i
    """,
)
def llm_grpo_advantage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-relative advantage normalization [public method: GRPO,
    Shao et al. 2024 (DeepSeekMath) — the critic-free policy-gradient
    baseline: advantage_i = (r_i - mean(group)) / std(group) over the
    G rollouts sharing a prompt]. Rewards are deterministic md5 draws
    shifted by a per-prompt base (the fixture carries no real reward
    model; swap the reward column for scored rollouts and the dataflow
    is production-ready).

    Determinism discipline: mean and POPULATION std are derived from
    the exact integer sums (S, Q) — var = Q/G - (S/G)^2 — never from a
    builtin stddev, whose Welford vs two-pass accumulation order can
    differ across engines at the ULP; sqrt is IEEE correctly-rounded,
    so both engines agree by construction. Zero-variance groups get
    advantage 0 (NULLIF guard).

    At 100 TB: rollout scoring is the expensive upstream; this op is
    one map-side-combinable (S, Q) rollup keyed on prompt_id followed
    by a same-key join back — with prompt-bucketed rollout storage the
    join co-locates and the whole normalization is shuffle-once."""
    d = load_table(spark, sf_dir, "documents")
    prompts = d.filter(F.col("doc_id") % _GRPO_PROMPT_MOD == 0).select(
        F.col("doc_id").alias("prompt_id"),
        (F.length("text") % 50).alias("base"),
    )
    rollouts = prompts.select(
        "prompt_id",
        "base",
        F.explode(F.sequence(F.lit(0), F.lit(_GRPO_G - 1))).alias("i"),
    ).select(
        "prompt_id",
        "i",
        (
            F.col("base")
            + F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("prompt_id").cast("string"),
                            F.col("i").cast("string"),
                        )
                    ),
                    1,
                    2,
                ),
                16,
                10,
            ).cast("int")
            % 50
        ).alias("reward"),
    )
    # Referenced twice (the (S,Q) rollup and the join-back): materialize
    # so the documents scan + md5 reward map run once (the graph_triangles
    # rule; without it the expensive upstream executes per reference).
    rollouts = rollouts.transform(materialize)
    stats = rollouts.groupBy("prompt_id").agg(
        F.sum("reward").alias("s"),
        F.sum(F.col("reward") * F.col("reward")).alias("q"),
    )
    g = float(_GRPO_G)
    mean = F.col("s") / g
    std = F.sqrt(F.col("q") / g - mean * mean)
    return (
        rollouts.join(stats, "prompt_id")
        .select(
            "prompt_id",
            F.col("i").alias("rollout"),
            F.col("reward").cast("bigint").alias("reward"),
            F.round(mean, 6).alias("group_mean"),
            F.round(std, 6).alias("group_std"),
            F.round(
                F.coalesce(
                    (F.col("reward") - mean) / F.nullif(std, F.lit(0)),
                    F.lit(0),
                ),
                6,
            ).alias("advantage"),
        )
        .orderBy("prompt_id", "rollout")
    )


# ---------------------------------------------------------------------------
# ROC-AUC of the quality classifier (rank-based, tie-averaged)
# ---------------------------------------------------------------------------


@register(
    "llm_roc_auc",
    f"""
    WITH rated AS (
      SELECT ROUND(1.0 / (1.0 + exp(-(
               len(list_filter(string_split(lower(text), ' '),
                               x -> x IN {_STOPWORDS!r})) * 1.0
                 / len(string_split(lower(text), ' ')) * 40.0 - 2.0))), 6)
               AS conf,
             CAST(len(string_split(lower(text), ' '))
                    BETWEEN {_WC_LO} AND {_WC_HI}
                  AND len(list_filter(string_split(lower(text), ' '),
                                      x -> x IN {_STOPWORDS!r})) * 1.0
                      / len(string_split(lower(text), ' ')) >= {_STOP_MIN}
                  AS INT) AS label
      FROM documents
    ),
    per_score AS (
      SELECT conf, COUNT(*) AS n, CAST(SUM(label) AS BIGINT) AS n_pos
      FROM rated GROUP BY conf
    ),
    ranked AS (
      SELECT n, n_pos,
             COALESCE(SUM(n) OVER (ORDER BY conf
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (n + 1) / 2.0 AS avg_rank
      FROM per_score
    ),
    tot AS (
      SELECT CAST(SUM(n_pos) AS BIGINT) AS n1,
             CAST(SUM(n - n_pos) AS BIGINT) AS n0,
             SUM(n_pos * avg_rank) AS pos_rank_sum
      FROM ranked
    )
    SELECT n1 AS n_pos, n0 AS n_neg,
           ROUND((pos_rank_sum - n1 * (n1 + 1) / 2.0) / (n1 * n0), 6) AS auc,
           ROUND(2.0 * (pos_rank_sum - n1 * (n1 + 1) / 2.0) / (n1 * n0) - 1.0, 6)
             AS gini
    FROM tot
    """,
)
def llm_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the quality classifier via the rank statistic [public
    method: AUC = (R1 - n1(n1+1)/2) / (n1*n0) where R1 is the positive
    class's rank sum with AVERAGE ranks on ties — the Mann-Whitney
    identity; no threshold sweep needed]. Same confidence/label pair as
    llm_calibration_ece, completing the classifier-audit deck: ECE
    measures calibration, AUC measures discrimination — a model can
    ace one and fail the other, so a curation gate ships both.

    Tie handling is exact: scores roll up to a per-distinct-score
    (n, n_pos) histogram first, average ranks derive from the running
    count prefix — integers and halves all the way, identical in both
    engines by construction.

    At 100 TB: one combinable rollup keyed on the (bounded) score grid,
    then a prefix scan over distinct scores — the distributed-AUC
    recipe. With a continuous score, bin to fixed precision first
    (the rollup already rounds to 6 decimals), which bounds the
    ordered pass by the grid size, not the corpus."""
    d = load_table(spark, sf_dir, "documents")
    _, _, stop_frac, _ = _text_signals()
    j1, _ = _judge_preds()
    conf = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-(stop_frac * 40.0 - 2.0))), 6
    )
    per_score = (
        d.select(conf.alias("conf"), j1.cast("int").alias("label"))
        .groupBy("conf")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("label").alias("n_pos"))
    )
    # Bounded ordered pass over the distinct-score grid (never the corpus).
    ranked = per_score.select("n", "n_pos", midrank("n", "conf").alias("avg_rank"))
    tot = ranked.agg(
        F.sum("n_pos").cast("bigint").alias("n1"),
        F.sum(F.col("n") - F.col("n_pos")).cast("bigint").alias("n0"),
        F.sum(F.col("n_pos") * F.col("avg_rank")).alias("pos_rank_sum"),
    )
    auc = (F.col("pos_rank_sum") - F.col("n1") * (F.col("n1") + 1) / 2.0) / (
        F.col("n1") * F.col("n0")
    )
    return tot.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        F.round(auc, 6).alias("auc"),
        F.round(2.0 * auc - 1.0, 6).alias("gini"),
    )


# Deterministic DP release: epsilon-1 Laplace noise derived from md5 (a
# keyed inverse-CDF transform — both engines compute identical digests,
# so the "noise" is reproducible and oracle-checkable; a production
# release swaps the digest for a real CSPRNG draw and DROPS true_n).
_DP_EPS = 1.0

_DP_NOISE = (
    "(-1.0 / {eps}) * sign({u} - 0.5) * ln(1.0 - 2.0 * abs({u} - 0.5))"
)
_DP_U_DUCK = (
    "(CAST(('0x' || substr(md5('dp:' || lang || ':' || source), 1, 8)) AS BIGINT)"
    " / 4294967296.0)"
)
_DP_U_SPARK = (
    "(CAST(conv(substring(md5(concat('dp:', lang, ':', source)), 1, 8), 16, 10)"
    " AS BIGINT) / 4294967296.0D)"
)


@register(
    "llm_dp_counts",
    f"""
    WITH g AS (
      SELECT lang, source, COUNT(*) AS true_n
      FROM documents GROUP BY lang, source
    )
    SELECT lang, source, true_n,
           ROUND(GREATEST(0.0, true_n + {_DP_NOISE.format(eps=_DP_EPS, u=_DP_U_DUCK)}), 3)
             AS dp_count,
           CAST({_DP_EPS} AS DOUBLE) AS epsilon,
           1 AS sensitivity
    FROM g
    ORDER BY lang, source
    """,
)
def llm_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram release of per-(lang, source)
    document counts [public method: Dwork et al. 2006 — the Laplace
    mechanism; count queries have sensitivity 1, so noise ~
    Lap(1/epsilon) gives epsilon-DP, and the non-negativity clamp is
    DP-safe post-processing]. The Laplace draw is the INVERSE-CDF
    transform -1/eps * sign(u-1/2) * ln(1-2|u-1/2|) of an md5-derived
    uniform keyed on the group (the llm_hash_sample idiom), so both
    engines produce bit-identical releases and the oracle can
    hash-check a mechanism that is normally untestable; a production
    release swaps in a real CSPRNG and drops true_n from the output.
    Pairs with llm_kanonymity: that op suppresses small groups, this
    one noises every group under a quantified budget.

    At 100 TB: one map-side-combinable count — the noise is a pure
    per-group map over |lang x source| rows. Per-release epsilon and
    sensitivity ride along as the budget-ledger columns an auditor
    sums across releases."""
    d = load_table(spark, sf_dir, "documents")
    noise = _DP_NOISE.format(eps=_DP_EPS, u=_DP_U_SPARK)
    return (
        d.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .selectExpr(
            "lang",
            "source",
            "true_n",
            f"ROUND(GREATEST(0.0D, true_n + {noise}), 3) AS dp_count",
            f"CAST({_DP_EPS} AS DOUBLE) AS epsilon",
            "1 AS sensitivity",
        )
        .orderBy("lang", "source")
    )
