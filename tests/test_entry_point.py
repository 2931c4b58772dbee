"""The registry's query wrapper is the one entry point of every query: it
tunes the session before the body runs and labels the build's jobs with
the key, restoring the caller's label afterwards (registry.register)."""

from __future__ import annotations

import pytest

from hive_test_spark import registry as reg
from tests.conftest import SF_DIR

_TZ = "spark.sql.session.timeZone"
_PARTS = "spark.sql.shuffle.partitions"
_DESC = "spark.job.description"


@pytest.fixture
def temp_key():
    """Register probes under temporary keys; drop them afterwards."""
    keys: list[str] = []

    def add(key, fn):
        keys.append(key)
        return reg.register(key)(fn)

    try:
        yield add
    finally:
        for k in keys:
            reg.QUERIES.pop(k, None)


@pytest.fixture
def detuned(spark):
    """A session whose timezone and shuffle partitions are not the tuned
    values, as a driver-built session may be; restored afterwards."""
    from hive_test_spark.session import shuffle_partitions

    saved = {k: spark.conf.get(k) for k in (_TZ, _PARTS)}
    tuned = {_TZ: "UTC", _PARTS: str(shuffle_partitions(spark))}

    def detune():
        spark.conf.set(_TZ, "America/Los_Angeles")
        spark.conf.set(_PARTS, "7")

    try:
        yield detune, tuned
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_every_entry_tunes_before_the_body(spark, registry, detuned, temp_key):
    import __spark_entry__ as mod

    detune, tuned = detuned
    qs, _ = registry
    seen = {}

    def probe(spark, sf_dir):
        seen.update({k: spark.conf.get(k) for k in tuned})
        return spark.range(1)

    probe = temp_key("test_entry_conf_probe", probe)
    builds = {
        "flagship_pricing_summary": lambda: qs["flagship_pricing_summary"](spark, SF_DIR),
        "project_select": lambda: qs["project_select"](spark, SF_DIR),
        "entry": lambda: mod.entry(spark),
        "probe": lambda: probe(spark, SF_DIR),
    }
    for name, build in builds.items():
        detune()
        build()
        got = {k: spark.conf.get(k) for k in tuned}
        assert got == tuned, name
    # The body itself already ran on the tuned session.
    assert seen == tuned


def test_build_jobs_carry_the_key(spark, temp_key):
    sc = spark.sparkContext

    def label(spark, sf_dir):
        return spark.sparkContext.getLocalProperty(_DESC)

    def fail(spark, sf_dir):
        raise RuntimeError("probe")

    label = temp_key("test_entry_label_probe", label)
    fail = temp_key("test_entry_fail_probe", fail)
    outer = sc.getLocalProperty(_DESC)
    try:
        sc.setLocalProperty(_DESC, "outer")
        assert label(spark, SF_DIR) == "test_entry_label_probe"
        assert sc.getLocalProperty(_DESC) == "outer"
        with pytest.raises(RuntimeError, match="probe"):
            fail(spark, SF_DIR)
        assert sc.getLocalProperty(_DESC) == "outer"
        # With no outer label, none is left behind.
        sc.setLocalProperty(_DESC, None)
        assert label(spark, SF_DIR) == "test_entry_label_probe"
        assert sc.getLocalProperty(_DESC) is None
    finally:
        sc.setLocalProperty(_DESC, outer)



def test_tune_reapplies_every_runtime_conf(spark):
    """A session built elsewhere may hold other values for any of the
    runtime confs; ``tune`` puts back every one of them."""
    from hive_test_spark.session import _RUNTIME_CONFS, tune

    saved = {k: spark.conf.get(k, None) for k in _RUNTIME_CONFS}
    try:
        for k in _RUNTIME_CONFS:
            spark.conf.unset(k)
        assert {k: spark.conf.get(k, None) for k in _RUNTIME_CONFS} != _RUNTIME_CONFS
        tune(spark)
        assert {k: spark.conf.get(k) for k in _RUNTIME_CONFS} == _RUNTIME_CONFS
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
