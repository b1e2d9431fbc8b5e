"""SparkSession factory with scale-aware defaults.

Defaults are tuned for local[N] testing but chosen so the same code is
correct on a multi-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting) — the OSS
  equivalent of the reference's `pipelines.autoOptimize.managed=true`
  (reference: src/diabetes_etl_pipeline.py:49-52).
- `spark.sql.session.timeZone=UTC` so timestamp semantics match the
  DuckDB oracle and are cluster-tz-independent.
- shuffle partitions default to the local core count; on a real cluster
  AQE coalesces from a higher initial number, so we only pin it down
  when running locally.
- Arrow enabled for any pandas-UDF path (vectorized transfer).
- `spark.sql.codegen.cache.maxEntries=4096` (Spark's default is 100).
  The engine serves more distinct whole-stage-codegen classes than 100,
  so the default cache evicted and Janino recompiled plans that had
  already run, on every pass, and the JIT then compiled each new class
  again. On a 4-core VM, the third pass of the benchmark's 16
  `relational_sql` queries in one session (`tools/jvm_cpu.py`) made
  251 Janino compilations (510 generated classes); with 4096 it makes
  none, and the benchmark's peak RSS does not rise. One cache entry is
  one compilation; two cold passes of each of the three benchmark
  workloads in one session make about 630, so 4096 is more than 6x
  that. The cache is static and per JVM; entries are evicted
  least-recently-used.
- HotSpot's tier-4 (C2) thresholds at 10x their JDK 17 defaults, in
  `spark.driver.defaultJavaOptions` (`DRIVER_JIT_OPTIONS`). C1 still
  compiles every method quickly; C2 waits until a method has run 10x
  more often, so cold Catalyst/planner code is no longer recompiled by
  C2, while a hot loop over millions of rows reaches C2 after a fixed,
  small number of extra iterations. In that third pass the JIT's
  compile time fell from 19.0 s to 9.6 s with the cache alone, to
  5.3 s with the flags alone and to 3.7 s with both, and the process
  CPU from 35.8 s to 19.5 s. The price is paid where a plan is new: a
  query's first run at sf0.1 took 0.3-1.2 s longer, while its warm
  runs kept their speed. `defaultJavaOptions` is used, not
  `extraJavaOptions`: the launcher puts it before the caller's own
  `extraJavaOptions`, so both apply. Only the driver JVM that
  `get_spark` launches gets the flags; cluster executors keep stock
  thresholds. Two alternatives were measured and rejected:
  - C1 only (`-XX:TieredStopAtLevel=1`): pass CPU fell to 20 s, but at
    sf0.1 hot-loop queries ran 1.6-1.8x slower in wall time
    (`q1_pricing_summary` 2.9 -> 5.0 s, `agg_global_kpis` 2.7 -> 4.8 s,
    `quantiles_by_flag` 3.6 -> 5.7 s; the pass 33 -> 39-40 s).
  - `-XX:CompileThresholdScaling=10`: it delays tier 3 (C1 with
    profiling) as well, which raised session set-up about 16% (median
    of 4 runs, 13.9 -> 16.1 s); the tier-4-only form left it at 13.9 s.

An explicit `extra_conf` entry passed to `get_spark` overrides any of
these defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


CODEGEN_CACHE_ENTRIES = 4096

DRIVER_JIT_OPTIONS = " ".join((
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def session_conf(
    master: str,
    shuffle_partitions: int | None = None,
    cpus: int | None = None,
) -> dict[str, str]:
    """The conf dict `get_spark` applies for a given master.

    Pure function so the master-dependent pieces are unit-testable
    without standing up a cluster.  Shuffle partitions are pinned ONLY
    under a local[*] master (round-7 VERDICT #2): on a real cluster a
    ~32-partition pin would start every shuffle tiny and AQE can only
    coalesce down, not split up (outside skew handling) — there we
    leave Spark's default / AQE initial-partition machinery in charge
    unless the caller explicitly passes shuffle_partitions.
    """
    cpus = cpus if cpus is not None else default_parallelism()
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "spark.driver.defaultJavaOptions": DRIVER_JIT_OPTIONS,
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # guide §3.1/§9: let the planner pick shuffled-hash join when
        # its per-partition build side fits (no sort of either side),
        # and let AQE rewrite SMJ->SHJ at runtime when every post-
        # shuffle partition is under the threshold.  Scale-safe: the
        # size conditions still gate the choice (a build partition
        # beyond the threshold keeps sort-merge), so this is a planner
        # PERMISSION, not a forced strategy.  Caveat (round-13
        # ADVICE): the STATIC planner's half of this decision rides on
        # Catalyst size ESTIMATES, which can be badly wrong for
        # post-aggregation subtrees, and an SHJ build map cannot spill
        # — a gross under-estimate risks executor OOM at scale (AQE's
        # runtime rewrite uses real map sizes and is not exposed to
        # this).  The suite is green under it and AQE skew-splitting
        # covers SHJ since 3.2; on a production cluster with wildly
        # misestimated intermediate stats, scope this per-query
        # (SHUFFLE_HASH/MERGE hints outrank the conf) or re-enable
        # preferSortMergeJoin.  No query's RESULT depends on the
        # strategy (and none relies on SMJ's incidental sort order:
        # every declared query orders or hashes its output
        # explicitly).
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(
            64 * 1024 * 1024
        ),
    }
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    elif master.startswith("local"):
        conf["spark.sql.shuffle.partitions"] = str(cpus)
    return conf


def get_spark(
    app_name: str = "diabetes-etl-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in session_conf(master, shuffle_partitions, cpus).items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
