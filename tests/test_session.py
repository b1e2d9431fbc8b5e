"""The session factory: ``session_conf`` defaults and what the live
session applies of them."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from diabetes_etl_spark import session as session_mod
from diabetes_etl_spark.plans.registry import all_queries
from diabetes_etl_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    get_spark,
    session_conf,
)

SHUF = "spark.sql.shuffle.partitions"
CACHE = "spark.sql.codegen.cache.maxEntries"
JAVA_OPTS = "spark.driver.defaultJavaOptions"
TIER4_FLAGS = (
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
)
MASTERS = ("local[4]", "local[*]", "spark://master:7077", "yarn", "k8s://https://host:443")


# -- shuffle-partitions pin is local-only ------------------------------------


def test_session_conf_pins_shuffle_partitions_locally():
    conf = session_conf("local[32]", cpus=32)
    assert conf[SHUF] == "32"
    assert conf["spark.sql.adaptive.enabled"] == "true"


def test_session_conf_leaves_cluster_shuffle_partitions_alone():
    for master in (
        "spark://master:7077",
        "yarn",
        "k8s://https://host:443",
    ):
        conf = session_conf(master, cpus=32)
        assert SHUF not in conf, master
        # AQE stays in charge of initial partitioning on the cluster
        assert conf["spark.sql.adaptive.enabled"] == "true"


def test_session_conf_explicit_override_always_wins():
    assert session_conf("yarn", shuffle_partitions=400, cpus=32)[SHUF] == "400"
    assert session_conf("local[4]", shuffle_partitions=7, cpus=4)[SHUF] == "7"


# -- codegen cache and driver JIT thresholds ---------------------------------


@pytest.mark.parametrize("master", MASTERS)
def test_session_conf_sizes_codegen_cache_and_sets_driver_jit_flags(master):
    conf = session_conf(master, cpus=4)
    assert conf[CACHE] == str(CODEGEN_CACHE_ENTRIES)
    assert CODEGEN_CACHE_ENTRIES > 100  # Spark's default, which evicted
    assert conf[JAVA_OPTS].split() == list(TIER4_FLAGS)


@pytest.mark.parametrize("master", MASTERS)
def test_session_conf_never_sets_extra_java_options(master):
    # extraJavaOptions belongs to the caller; the JVM launcher puts
    # defaultJavaOptions before it, so both apply
    conf = session_conf(master, shuffle_partitions=8, cpus=4)
    assert not any("extraJavaOptions" in k for k in conf)


class _RecordingBuilder:
    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))


def test_extra_conf_overrides_cache_and_jit_defaults(monkeypatch):
    builder = _RecordingBuilder()
    monkeypatch.setattr(session_mod, "SparkSession", SimpleNamespace(builder=builder))
    get_spark(extra_conf={CACHE: "100", JAVA_OPTS: "-XX:TieredStopAtLevel=1"})
    assert builder.conf[CACHE] == "100"
    assert builder.conf[JAVA_OPTS] == "-XX:TieredStopAtLevel=1"


def test_live_session_applies_cache_size_and_jit_flags(spark):
    assert spark.conf.get(CACHE) == str(CODEGEN_CACHE_ENTRIES)
    runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = set(runtime.getInputArguments())
    assert set(TIER4_FLAGS) <= args


# -- a warm rerun compiles nothing -------------------------------------------

# about 130 generated classes at sf0.001, more than Spark's default
# cache of 100, from queries that each rerun in well under a second
WARM_QUERIES = (
    "events_sessionize_sql", "medallion_events_gold", "window_running_lead_lag",
    "q3_shipping_priority", "asof_purchase_last_click", "q1_pricing_summary",
    "window_topk_per_group", "quantiles_by_flag", "agg_global_kpis",
)


def _codegen_cache(spark):
    """Spark's static generated-code cache (``CodeGenerator.cache``)."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    return field.get(None)


def test_warm_rerun_compiles_no_generated_code(spark, sf_dir):
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compilations = metrics.METRIC_COMPILATION_TIME()
    specs = all_queries(include_extended=True)

    def run_all():
        for q in WARM_QUERIES:
            specs[q].fn(spark, sf_dir).toPandas()

    # start from an empty cache, as a fresh JVM does, whatever ran before
    _codegen_cache(spark).invalidateAll()
    before = compilations.getCount()
    run_all()
    first = compilations.getCount() - before
    assert first > 100, f"the query set compiles only {first} classes"
    run_all()
    assert compilations.getCount() - before == first
