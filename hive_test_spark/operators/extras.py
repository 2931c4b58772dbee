"""Late-round surface completions: OUTER lateral view, windowed distinct
count, filtered/argmax aggregates, grouped median, and an hourly
distinct-user rollup on `events`.

These close small but real gaps in the Hive query surface (SURVEY.md §2.H
lists ``LATERAL VIEW OUTER`` as part of the UDTF grammar [Hive-public];
``count_if``/``max_by``/``min_by``/``median`` are in the shared
Hive/Spark builtin family [Spark-public]) and in the event-analytics set
(§2.M). All are pure built-in compositions with full DuckDB oracles.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_test_spark.io import load_table, scratch_dir
from hive_test_spark.registry import register, register_sql
from hive_test_spark.sources.scans import _sf_tag


@register(
    "udtf_explode_outer",
    """
    WITH base AS (
      SELECT p_partkey,
             CASE WHEN p_size < 25 THEN string_split(p_name, ' ')
                  ELSE CAST([] AS VARCHAR[]) END AS words
      FROM part)
    SELECT p_partkey, unnest(words) AS word FROM base WHERE len(words) > 0
    UNION ALL
    SELECT p_partkey, CAST(NULL AS VARCHAR) AS word
    FROM base WHERE len(words) = 0
    """,
)
def udtf_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW OUTER explode: rows whose array is empty (or null)
    survive with a NULL element instead of vanishing — the Hive grammar's
    OUTER modifier. Spark's ``explode_outer`` is the exact builtin; like
    plain Generate it is a narrow map-side transform, so at 100 TB it
    streams with no shuffle and the only cost is the fan-out multiplier."""
    p = load_table(spark, sf_dir, "part")
    words = F.when(F.col("p_size") < 25, F.split("p_name", " ")).otherwise(
        F.array().cast("array<string>")
    )
    return p.select("p_partkey", F.explode_outer(words).alias("word"))


@register(
    "win_distinct_count",
    """
    SELECT o.o_orderkey, o.o_custkey, d.n_prio
    FROM orders o
    JOIN (SELECT o_custkey,
                 COUNT(DISTINCT o_orderpriority) AS n_prio
          FROM orders GROUP BY o_custkey) d
      ON o.o_custkey = d.o_custkey
    """,
)
def win_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT x) OVER (PARTITION BY k): Spark's windowed aggregates
    reject DISTINCT outright, so the idiomatic rewrite is
    ``size(collect_set(x) OVER w)`` — one shuffle on the partition key,
    set dedup inside the window frame. The oracle uses the equivalent
    groupBy-then-join formulation. At 100 TB prefer that join form when
    per-key cardinality is high (collect_set materializes the set per ROW
    in the worst case; the groupBy form materializes it once per KEY), or
    ``approx_count_distinct`` when an estimate suffices."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.size(F.collect_set("o_orderpriority").over(w)).cast("long").alias("n_prio"),
    )


@register(
    "agg_count_if_argminmax",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
           arg_max(o_orderstatus, o_orderkey) AS last_key_status,
           arg_min(o_orderstatus, o_orderkey) AS first_key_status
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_count_if_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered count (``count_if`` / FILTER clause) and argmax/argmin
    (``max_by``/``min_by``) in one grouped aggregate. The ordering key
    (o_orderkey) is unique, which is what makes max_by deterministic —
    with ties it is pick-any in both engines. All three are map-side
    combinable (partial count + partial (key,val) max), so at 100 TB
    this is a single standard two-phase aggregate with no extra pass."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 150000).alias("n_big"),
        F.max_by("o_orderstatus", "o_orderkey").alias("last_key_status"),
        F.min_by("o_orderstatus", "o_orderkey").alias("first_key_status"),
    )


# Exact grouped median (percentile-0.5 with linear interpolation —
# identical even/odd-count semantics in Spark and DuckDB). Exact
# percentiles buffer the group's values per key, so at 100 TB swap to
# ``percentile_approx`` (a fixed-size mergeable digest, map-side
# combinable) — the exact form here is what makes it oracle-able.
register_sql(
    "agg_median",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(median(l_quantity), 6) AS median_qty,
           ROUND(median(l_extendedprice), 6) AS median_price
    FROM {lineitem} GROUP BY l_returnflag, l_linestatus
    """,
)


# Hourly active-user rollup: distinct users and event volume per
# (hour, event_type) — the batch twin of a streaming DAU/HAU counter.
# COUNT(DISTINCT) plans as Expand + two-phase aggregate keyed on
# (h, event_type, user_id): the first phase dedups map-side, so the
# shuffle carries at most one row per (hour, type, user) — bounded by
# distinct users, not raw event volume. At 100 TB that bound is the
# whole game; if an estimate suffices, approx_count_distinct drops the
# Expand entirely.
register_sql(
    "evt_distinct_users_hourly",
    """
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
           event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM {events} GROUP BY 1, 2
    """,
)


@register(
    "evt_sequence_match",
    """
    WITH s AS (
      SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t1
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    v AS (
      SELECT s.user_id, s.t1, min(CAST(e.ts AS TIMESTAMP)) AS t2
      FROM s JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'view'
       AND CAST(e.ts AS TIMESTAMP) > s.t1
      GROUP BY s.user_id, s.t1),
    p AS (
      SELECT v.user_id, v.t1, v.t2, min(CAST(e.ts AS TIMESTAMP)) AS t3
      FROM v JOIN events e
        ON e.user_id = v.user_id AND e.event_type = 'purchase'
       AND CAST(e.ts AS TIMESTAMP) > v.t2
      GROUP BY v.user_id, v.t1, v.t2)
    SELECT user_id, t1 AS signup_ts, t2 AS view_ts, t3 AS purchase_ts
    FROM p
    """,
)
def evt_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style ordered sequence: users whose events contain
    signup → view → purchase in strict timestamp order (greedy
    earliest-match at each step). Unlike ``evt_funnel``'s join-chain plan,
    this collects each user's (ts, type) events in ONE shuffle and scans
    the array JVM-side with higher-order lambdas — k sequence steps cost
    zero extra shuffles (the join formulation costs k-1 extra shuffles of
    the fact table). The trade: per-user state must fit in memory, so at
    100 TB cap whale users (count filter first) or fall back to the join
    chain; the oracle IS that join chain, which doubles as the proof the
    two strategies agree."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    g = ev.groupBy("user_id").agg(
        F.collect_list(F.struct("ts", "event_type")).alias("evs")
    )
    step = "array_min(transform(filter(evs, x -> x.event_type = '{t}'{after}), x -> x.ts))"
    g = (
        g.withColumn("t1", F.expr(step.format(t="signup", after="")))
        .withColumn("t2", F.expr(step.format(t="view", after=" AND x.ts > t1")))
        .withColumn("t3", F.expr(step.format(t="purchase", after=" AND x.ts > t2")))
    )
    return g.filter(F.col("t3").isNotNull()).select(
        "user_id",
        F.col("t1").alias("signup_ts"),
        F.col("t2").alias("view_ts"),
        F.col("t3").alias("purchase_ts"),
    )


@register(
    "scale_compaction",
    "SELECT * FROM orders",
)
def scale_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance op every 100 TB lake
    needs (streaming ingest and over-parallel writes leave thousands of
    KB-sized files; scan cost is then dominated by per-file open/footer
    overhead). Deliberately fragments `orders` into 64 files, then rewrites
    to ceil(total_bytes / 128 MiB) files via ``repartition(n)`` — the same
    bin-packing rule as Delta/Iceberg OPTIMIZE. Sizing reads only driver-
    side file metadata (never the data); the oracle proves the rewrite is
    byte-lossless. At 100 TB run per partition with
    ``spark.sql.files.maxRecordsPerFile`` as the secondary bound, and
    prefer ``repartitionByRange`` on a filter column so compaction also
    restores min/max pruning (see ``scale_zorder``)."""
    tag = _sf_tag(sf_dir)
    frag = scratch_dir("compact", tag, "orders_frag")
    compact = scratch_dir("compact", tag, "orders_compact")
    shutil.rmtree(frag, ignore_errors=True)
    shutil.rmtree(compact, ignore_errors=True)
    # mode("overwrite"): a silently-failed rmtree (EPERM/NFS lag) must
    # not turn the rewrite into a path-already-exists crash.
    load_table(spark, sf_dir, "orders").repartition(64).write.mode(
        "overwrite"
    ).parquet(frag)
    files = glob.glob(os.path.join(frag, "*.parquet"))
    total = sum(os.path.getsize(f) for f in files)
    n_target = max(1, math.ceil(total / (128 << 20)))
    spark.read.parquet(frag).repartition(n_target).write.mode(
        "overwrite"
    ).parquet(compact)
    out_files = glob.glob(os.path.join(compact, "*.parquet"))
    if len(out_files) != n_target:  # not assert: survives python -O
        raise RuntimeError(
            f"compaction produced {len(out_files)} files, expected {n_target}"
        )
    return spark.read.parquet(compact)




@register(
    "agg_sketch_distinct",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS within_5pct,
           TRUE AS merge_consistent
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL, the
    warehouse path to COUNT(DISTINCT) at 100 TB): per group, (a) the
    sketch estimate must land within 5% of exact, and (b) merging
    per-linestatus PARTIAL sketches via hll_union_agg must equal
    sketching the group directly to within the same band (union drops
    the HIP per-update history, so EXACT equality does not survive
    merging — only the error bound does, and that bound is what makes
    sketches shardable across partitions/days with no re-scan). Both
    properties are PROVEN IN THE RESULT (boolean columns the oracle pins
    to TRUE alongside the exact counts) — a failed sketch fails the hash
    gate, so this is a full oracle check, not rows-only."""
    li = load_table(spark, sf_dir, "lineitem")
    direct = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.expr("hll_sketch_estimate(hll_sketch_agg(l_partkey))").alias("est_direct"),
    )
    partials = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.expr("hll_sketch_agg(l_partkey)").alias("sk")
    )
    merged = partials.groupBy("l_returnflag").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_merged")
    )
    return (
        direct.join(merged, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("est_direct") - F.col("exact_parts"))
                / F.col("exact_parts")
                <= 0.05
            ).alias("within_5pct"),
            (
                F.abs(F.col("est_merged") - F.col("exact_parts"))
                / F.col("exact_parts")
                <= 0.05
            ).alias("merge_consistent"),
        )
    )


@register(
    "agg_bitmap_distinct",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting via roaring-style bitmaps
    [Spark-public: bitmap_bit_position / bitmap_construct_agg /
    bitmap_count, SPARK-44810] — the scale-path alternative to both
    Expand-based exact COUNT(DISTINCT) and HLL approx_count_distinct.

    Shape: bucket each key into a 32k-position bitmap
    ((flag, bucket) → bitmap_construct_agg), then SUM(bitmap_count) per
    flag. Both phases are COMBINABLE hash aggs (bitmaps OR-merge
    map-side), so the fact shuffles only (flag, bucket, 4KB-bitmap)
    partials — never an Expand duplication of the fact stream, and
    unlike HLL the answer is EXACT. Each distinct column runs its own
    scan+aggregate pipeline (the two prune to different column sets, so
    no scan reuse exists to share); at 100 TB you'd pre-project the two
    key columns once and cache that slice if both counts ship together.
    The oracle is plain COUNT(DISTINCT): the bitmap pipeline must
    reproduce it bit-for-bit. At 100 TB: shuffle volume is
    |groups| × |key-space|/32768 × 4KB, independent of row count."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_partkey", "l_suppkey"
    )
    parts = (
        li.groupBy(
            "l_returnflag",
            F.expr("bitmap_bucket_number(l_partkey)").alias("bkt"),
        )
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))").alias("bm"))
        .groupBy("l_returnflag")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_parts"))
    )
    supps = (
        li.groupBy(
            "l_returnflag",
            F.expr("bitmap_bucket_number(l_suppkey)").alias("bkt"),
        )
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(l_suppkey))").alias("bm"))
        .groupBy("l_returnflag")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_supps"))
    )
    return (
        parts.join(supps, "l_returnflag")
        .select("l_returnflag", "n_parts", "n_supps")
        .orderBy("l_returnflag")
    )


@register(
    "agg_approx_topk",
    """
    SELECT l_returnflag,
           array_to_string(list_transform(
             (SELECT list(cnt ORDER BY cnt DESC, pk)[:10]
              FROM (SELECT l_partkey AS pk, COUNT(*) AS cnt
                    FROM lineitem li2
                    WHERE li2.l_returnflag = li.l_returnflag
                    GROUP BY l_partkey) t),
             c -> CAST(c AS VARCHAR)), '|') AS topk_counts,
           COUNT(*) AS n_rows
    FROM lineitem li
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based heavy hitters [Spark-public: approx_top_k,
    SPARK-48714 — the frequent-items sketch surface next to HLL
    (agg_sketch_distinct) and bitmap (agg_bitmap_distinct)]: top-10
    part keys per return flag. maxItemsTracked=50000 ≥ any SF's distinct
    parts, so the sketch is operating in its EXACT regime and the oracle
    pins the full count VECTOR (sorted, pipe-joined) against the true
    GROUP BY — not just "it ran". Items themselves are tie-ambiguous
    (many parts share a count; either side may order tied items
    differently) so counts, which are tie-invariant, are the contract.

    At 100 TB: the sketch is a combinable aggregate — each partition
    tracks a bounded map, partials merge on the 3-value flag key; the
    exact GROUP BY alternative shuffles |parts| rows per flag. When the
    key space exceeds maxItemsTracked the counts become approximate with
    the usual space-saving guarantees — size the budget to the heavy
    tail you care about."""
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    sk = li.groupBy("l_returnflag").agg(
        F.expr("approx_top_k(l_partkey, 10, 50000)").alias("topk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return sk.select(
        "l_returnflag",
        F.array_join(
            F.expr("transform(topk, e -> CAST(e.count AS STRING))"), "|"
        ).alias("topk_counts"),
        "n_rows",
    ).orderBy("l_returnflag")


# Bitwise aggregates over a packed flag bitfield [Spark-public:
# bit_and / bit_or / bit_xor aggregate functions, SPARK-27879]: five
# boolean attributes are fused into ONE integer mask column, then a
# single group-by answers "which flags hold for every row"
# (BIT_AND), "which flags ever occur" (BIT_OR) and the parity
# fingerprint (BIT_XOR) per return flag.
#
# At 100 TB this packing is the point: N boolean predicates aggregate
# as ONE 8-byte column with three combinable integer aggregates —
# map-side partials shuffle one row per (partition × group) — instead
# of N separate bool_and/bool_or columns (agg_bool covers that
# surface) or N² CASE pivots. Bitfield fusion is the same trick
# roaring bitmaps scale up (agg_bitmap_distinct); here the key space
# is the flag set itself, so a plain BIGINT suffices.
register_sql(
    "agg_bit_ops",
    """
    SELECT l_returnflag,
           BIT_AND(mask) AS common_bits,
           BIT_OR(mask) AS seen_bits,
           BIT_XOR(mask) AS parity_bits,
           COUNT(*) AS n_rows
    FROM (
      SELECT l_returnflag,
             CAST((CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)
                + (CASE WHEN l_discount > 0.05 THEN 2 ELSE 0 END)
                + (CASE WHEN l_tax > 0.04 THEN 4 ELSE 0 END)
                + (CASE WHEN l_linenumber >= 4 THEN 8 ELSE 0 END)
                + (CASE WHEN l_linestatus = 'F' THEN 16 ELSE 0 END)
               AS BIGINT) AS mask
      FROM {lineitem}
    ) t
    GROUP BY l_returnflag
    """,
)


@register(
    "scale_codec_tradeoff",
    """
    SELECT c.codec,
           s.n AS n_rows,
           TRUE AS rows_ok,
           TRUE AS sum_ok,
           TRUE AS compressed_not_larger
    FROM (VALUES ('none'), ('snappy'), ('zstd')) c(codec)
    CROSS JOIN (SELECT COUNT(*) AS n FROM lineitem) s
    ORDER BY c.codec
    """,
)
def scale_codec_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-codec tradeoff audit — the sibling table-maintenance knob
    to scale_compaction: the SAME lineitem projection is written three
    times with compression none/snappy/zstd, and each copy is proven
    byte-lossless by re-reading it and checking row count and an exact
    integer key sum against the source IN-QUERY (boolean columns the
    oracle pins TRUE — a corrupted or dropped row fails the hash gate).
    ``compressed_not_larger`` pins the robust size invariant (each
    codec's on-disk bytes <= 1.05x the uncompressed copy, from
    driver-side file metadata only — the scale_compaction sizing
    idiom; the 5% slack absorbs codec/writer-version footer and
    page-header overhead so a parquet upgrade can't flip the pinned
    boolean on data that is still correctly round-tripping); the exact
    byte counts are codec-version-dependent and deliberately NOT
    emitted.

    At 100 TB this choice is real money: parquet+zstd typically halves
    snappy's footprint at ~equal scan throughput, and the audit shape —
    write, re-read, aggregate-compare — is exactly how a lake migration
    validates a codec switch before flipping the table default."""
    tag = _sf_tag(sf_dir)
    src = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_shipdate"
    )
    codecs = ("none", "snappy", "zstd")
    paths, sizes = {}, {}
    for codec in codecs:
        p = scratch_dir("codec", tag, codec)
        shutil.rmtree(p, ignore_errors=True)
        src.write.mode("overwrite").option("compression", codec).parquet(p)
        paths[codec] = p
        sizes[codec] = sum(
            os.path.getsize(f) for f in glob.glob(os.path.join(p, "*.parquet"))
        )
    src_agg = src.agg(
        F.count(F.lit(1)).alias("src_n"),
        F.sum("l_orderkey").alias("src_sum"),
    )
    parts = []
    for codec in codecs:
        rb = spark.read.parquet(paths[codec]).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_orderkey").alias("rb_sum"),
        )
        parts.append(
            rb.crossJoin(src_agg).select(
                F.lit(codec).alias("codec"),
                "n_rows",
                (F.col("n_rows") == F.col("src_n")).alias("rows_ok"),
                (F.col("rb_sum") == F.col("src_sum")).alias("sum_ok"),
                F.lit(bool(sizes[codec] <= sizes["none"] * 1.05)).alias(
                    "compressed_not_larger"
                ),
            )
        )
    return reduce(DataFrame.unionByName, parts).orderBy("codec")
