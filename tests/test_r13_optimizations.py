"""Focused tests for the round-13 optimization internals (fast tier).

Each test pins the VALUE-IDENTITY argument an optimization relies on,
at sf0.001 so the whole file stays in seconds:

- the probe's size-ratio prefilter can never change the decision rows;
- the banded index keeps the per-doc token count the prefilter needs;
- the wide-form SimHash equals the old crossJoin(bits) formulation;
- skipping the trailing no-data micro-batch leaves the dedup sink
  identical, and the conf that skips it is restored once the query
  has started.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _fp(df, *cols):
    """Order-insensitive value fingerprint (count + xxhash64 sum)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64(*cols)).alias("h")
    ).collect()[0]
    return (row["n"], row["h"])


def test_bands_carry_token_count(spark):
    """_minhash_bands_from keeps `n` — the column the probe's
    size-ratio prefilter reads (r13; dropping it would silently break
    the prefilter's soundness argument)."""
    from hive_test_spark.io import load_table
    from hive_test_spark.llm.pipeline import _minhash_bands_from

    toks, bands = _minhash_bands_from(load_table(spark, SF_DIR, "documents"))
    assert {"doc_id", "n", "band", "bkey"} <= set(bands.columns)
    bad = bands.filter(F.col("n") <= 0).count()
    assert bad == 0


def test_probe_prefilter_value_identical(spark):
    """The probe's collision-time prefilter (min(n)/max(n) >= tau) must
    never change a decision row: compare _probe_band_index against the
    same probe WITHOUT the prefilter (the pre-r13 pair set is a
    superset; verification must collapse both to identical outputs)."""
    from hive_test_spark.io import load_table
    from hive_test_spark.llm import pipeline as P

    toks, bands = P._minhash_bands_from(load_table(spark, SF_DIR, "documents"))
    incoming = (
        load_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") % P._INCR_MOD == 0)
        .select("doc_id")
    )
    args = dict(
        incoming_docs=incoming,
        in_toks=toks.filter(F.col("doc_id") % P._INCR_MOD == 0),
        in_bands=bands.filter(F.col("doc_id") % P._INCR_MOD == 0),
        ex_toks=toks.filter(F.col("doc_id") % P._INCR_MOD != 0),
        ex_bands=bands.filter(F.col("doc_id") % P._INCR_MOD != 0),
    )
    with_pre = P._probe_band_index(**args)
    # no-prefilter variant: force every collision through by faking n=1
    # on both sides (ratio == 1 passes any tau)
    args_nopre = dict(
        args,
        in_bands=args["in_bands"].withColumn("n", F.lit(1)),
        ex_bands=args["ex_bands"].withColumn("n", F.lit(1)),
    )
    no_pre = P._probe_band_index(**args_nopre)
    cols = ["doc_id", "n_near_dups", "best_match_id", "is_new"]
    assert _fp(
        with_pre.select(*cols, F.format_number("best_jaccard", 6).alias("j")),
        *cols, "j",
    ) == _fp(
        no_pre.select(*cols, F.format_number("best_jaccard", 6).alias("j")),
        *cols, "j",
    )


def test_simhash_wide_equals_crossjoin_form(spark):
    """The r13 wide-form SimHash (48 parallel vote columns) is bitwise
    the old explode-×48 formulation."""
    from hive_test_spark.io import load_table
    from hive_test_spark.llm import dedup as D

    new = D._simhash_frame(spark, SF_DIR)

    d = load_table(spark, SF_DIR, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("t")
    )
    tok_hash = tok.select(
        "doc_id",
        F.conv(F.substring(F.md5("t"), 1, 12), 16, 10).cast("bigint").alias("h"),
    )
    bits = spark.range(D._SIMHASH_BITS).select(F.col("id").cast("int").alias("bit"))
    scored = (
        tok_hash.crossJoin(F.broadcast(bits))
        .groupBy("doc_id", "bit")
        .agg(
            F.sum(
                F.when(F.expr("shiftright(h, bit) & 1") == 1, 1).otherwise(-1)
            ).alias("score")
        )
    )
    old = scored.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("score") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias("simhash")
    )
    assert _fp(new, "doc_id", "simhash") == _fp(old, "doc_id", "simhash")


def test_stream_dedup_sink_identical_without_final_batch(spark):
    """final_watermark_batch=False may only be used where the trailing
    no-data batch emits nothing: prove the dedup sink is identical
    either way."""
    from hive_test_spark.streaming.live import _read_events_stream, _run_to_memory

    def run(flag):
        ev = _read_events_stream(spark, SF_DIR, copies=2)
        deduped = ev.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
        out = _run_to_memory(deduped, "append", final_watermark_batch=flag)
        return _fp(
            out.select("event_id", "event_type", "user_id"),
            "event_id", "event_type", "user_id",
        )

    assert run(True) == run(False)


def test_final_batch_conf_restored_once_started(spark, monkeypatch):
    """final_watermark_batch=False restores the session-global
    noDataMicroBatches conf as soon as start() returns, and the started
    query keeps the value it was started with: a watermarked append-mode
    window count emits only in the final no-data batch, so it stays empty
    without that batch and is non-empty with it."""
    from pyspark.sql.streaming import StreamingQuery

    from hive_test_spark.streaming.live import _read_events_stream, _run_to_memory

    conf_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(conf_key, None)
    during = []
    await_termination = StreamingQuery.awaitTermination

    def spy(self, timeout=None):
        during.append(spark.conf.get(conf_key, None))
        return await_termination(self, timeout)

    monkeypatch.setattr(StreamingQuery, "awaitTermination", spy)

    def run(flag):
        ev = _read_events_stream(spark, SF_DIR)
        agg = ev.withWatermark("ts", "10 minutes").groupBy(F.window("ts", "10 minutes")).count()
        return _run_to_memory(agg, "append", final_watermark_batch=flag).count()

    assert run(True) > 0
    assert run(False) == 0
    assert during == [before, before]
    assert spark.conf.get(conf_key, None) == before
