"""The benchmark's workloads.

Each workload is one closed-loop client in one process: the next
operation starts only when the previous one has completed.  The engine
is reached only through its public calls -- a registry query's ``fn``
followed by one action (``toPandas``), ``PipelineRunner.materialize``
and ``run_dashboard_queries`` -- and each layer is timed from outside,
around those calls.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import checks
import datagen
import probes

_CLOCK = time.perf_counter
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool = True
    error: str = ""
    measured: bool = True  # False in the initial build of the warehouse


@dataclass
class Window:
    """What one measured window recorded."""

    ops: list[Op] = field(default_factory=list)
    passes: list[float] = field(default_factory=list)
    pass_cpu: list[float] = field(default_factory=list)  # CPU seconds per pass
    # per pass: layer name -> seconds (or count) summed over the pass
    layers: list[dict[str, float]] = field(default_factory=list)
    start: float = 0.0  # epoch seconds, for the event log
    end: float = 0.0
    extra: dict[str, float] = field(default_factory=dict)
    warm_up_errors: list[str] = field(default_factory=list)


def _error_line(exc: BaseException) -> str:
    first = (str(exc).strip().splitlines() or [""])[0]
    return f"{type(exc).__name__}: {first}"[:300]


class QueryWorkload:
    """Passes over named registry queries, in an order fixed by the seed.

    The queries read the fixture tables at scale factor ``sf`` from
    ``perfbench/data`` (the deterministic seed-42 tables the query
    registry and its DuckDB oracles are written against), so every seed
    runs the same work and only the order of queries changes.
    """

    WARMUP_SF = 0.001

    def __init__(self, name: str, queries: tuple[str, ...], sf: float, warm: tuple[str, ...]):
        self.name, self.queries, self.sf, self.warm = name, queries, sf, warm

    def prepare(self, work: str, seed: int) -> None:
        self.data_dir, self.warmup_dir = (
            os.path.join(DATA, f"sf{sf}") for sf in (self.sf, self.WARMUP_SF)
        )
        self.rng = random.Random(seed)
        self.results: dict[str, list] = {q: [] for q in self.queries}

    def _pass(self, spark, w: Window, tag_jobs: bool) -> None:
        from diabetes_etl_spark.plans import all_queries

        specs = all_queries(include_extended=True)
        order = list(self.queries)
        self.rng.shuffle(order)
        layers = {"plans.build_s": 0.0, "plans.build_max_s": 0.0, "exec.run_s": 0.0}
        t_pass, cpu = _CLOCK(), probes.tree_cpu_seconds()
        for q in order:
            if tag_jobs:
                spark.sparkContext.setJobGroup(f"pass{len(w.passes)}/{q}", q)
            t0 = _CLOCK()
            try:
                df = specs[q].fn(spark, self.data_dir)
                t1 = _CLOCK()
                pdf = df.toPandas()
                t2 = _CLOCK()
            except Exception as exc:  # noqa: BLE001 - counted, loop goes on
                w.ops.append(Op(q, _CLOCK() - t0, False, _error_line(exc)))
                continue
            layers["plans.build_s"] += t1 - t0
            layers["plans.build_max_s"] = max(layers["plans.build_max_s"], t1 - t0)
            layers["exec.run_s"] += t2 - t1
            w.ops.append(Op(q, t2 - t0))
            self.results[q].append((len(w.ops) - 1, pdf))
        w.passes.append(_CLOCK() - t_pass)
        w.pass_cpu.append(probes.tree_cpu_seconds() - cpu)
        w.layers.append(layers)

    def warm_up(self, spark) -> list[str]:
        """Run every query once over the sf0.001 tables, ``cpus`` at a
        time, unmeasured and uncounted: the first run of each plan in a
        fresh JVM pays codegen and JIT compilation whatever the input
        size.  Returns the errors, for the report."""
        from diabetes_etl_spark.plans import all_queries

        specs = all_queries(include_extended=True)

        def one(q: str) -> str | None:
            try:
                specs[q].fn(spark, self.warmup_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 - reported, not counted
                return f"{q}: {_error_line(exc)}"
            return None

        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
        with ThreadPoolExecutor(max_workers=cpus) as pool:
            return [e for e in pool.map(one, self.queries) if e]

    def run(self, spark, seconds: float, tag_jobs: bool, first: bool) -> Window:
        """Passes until ``seconds`` have passed; the first window of a
        process warms up first."""
        w = Window()
        if first:
            t0 = _CLOCK()
            w.warm_up_errors = self.warm_up(spark)
            w.extra["warm_up_s"] = _CLOCK() - t0
        w.start = time.time()
        t_end = _CLOCK() + seconds
        while not w.passes or _CLOCK() < t_end:
            self._pass(spark, w, tag_jobs)
        w.end = time.time()
        return w

    def check(self, spark, w: Window) -> None:
        """Compare every collected result with its oracle twin; a
        mismatch marks that operation failed."""
        from diabetes_etl_spark.plans import all_queries

        specs = all_queries(include_extended=True)
        oracle = checks.Oracle(self.data_dir)
        for q, runs in self.results.items():
            for i, pdf in runs:
                problems = oracle.problems(q, specs[q].oracle, pdf)
                if problems:
                    w.ops[i].ok, w.ops[i].error = False, f"wrong result: {problems[0][:300]}"
            runs.clear()


# The medallion pipeline's known defect: diabetes_feature_correlation
# calls F.corr, which raises DIVIDE_BY_ZERO under ANSI mode whenever an
# (age_group, bmi_category) cell with >= 2 rows has a constant column.
KNOWN_DEFECT = ("diabetes_feature_correlation", "DIVIDE_BY_ZERO")


def is_known_defect(op: Op) -> bool:
    return op.name == KNOWN_DEFECT[0] and KNOWN_DEFECT[1] in op.error


class MedallionWorkload:
    """Builds the warehouse from ``initial_files`` landed files, then
    refreshes it once per newly landed file until the window is used up.

    A refresh is a fresh streaming ``PipelineRunner`` in warehouse mode
    that materializes every dataset by name (a failed dataset is counted
    and the rest still run), then the 6 dashboard queries.
    """

    name = "medallion_refresh"
    warm = ("stream",)

    def __init__(self, initial_files: int):
        self.initial_files = initial_files

    def prepare(self, work: str, seed: int) -> None:
        self.root = os.path.join(work, self.name, "feed")
        shutil.rmtree(self.root, ignore_errors=True)
        self.feed = datagen.MedallionFeed(os.path.join(self.root, "landing"), seed)
        self.warehouse = os.path.join(self.root, "warehouse")

    def _refresh(self, spark, w: Window, tag_jobs: bool) -> dict[str, float]:
        from diabetes_etl_spark.context import RunContext
        from diabetes_etl_spark.diabetes.dashboard import run_dashboard_queries
        from diabetes_etl_spark.diabetes.pipeline_def import build_diabetes_pipeline
        from diabetes_etl_spark.pipeline.registry import PipelineRunner

        layers = dict.fromkeys(
            ("pipeline.bronze_s", "pipeline.silver_s", "pipeline.gold_s",
             "pipeline.views_s", "pipeline.failed_datasets", "dashboard.query_s"),
            0.0,
        )
        ctx = RunContext(fixed_now="2024-06-01 12:00:00", fixed_run_id="perfbench")
        pipeline = build_diabetes_pipeline(self.feed.landing_dir, ctx=ctx, streaming=True)
        runner = PipelineRunner(pipeline, spark, mode="warehouse", warehouse=self.warehouse)
        for name, ds in pipeline.datasets.items():
            tier = "views" if ds.kind == "view" else ds.table_properties["quality"]
            if tag_jobs:
                spark.sparkContext.setJobGroup(f"files{self.feed.files}/{name}", name)
            t0 = _CLOCK()
            try:
                runner.materialize(name)
                w.ops.append(Op(name, _CLOCK() - t0))
            except Exception as exc:  # noqa: BLE001 - counted, refresh goes on
                w.ops.append(Op(name, _CLOCK() - t0, False, _error_line(exc)))
                layers["pipeline.failed_datasets"] += 1
            layers[f"pipeline.{tier}_s"] += w.ops[-1].seconds
        for name, df in run_dashboard_queries(spark).items():
            if tag_jobs:
                spark.sparkContext.setJobGroup(f"files{self.feed.files}/{name}", name)
            t0 = _CLOCK()
            try:
                df.collect()
                w.ops.append(Op(f"dashboard/{name}", _CLOCK() - t0))
            except Exception as exc:  # noqa: BLE001
                w.ops.append(Op(f"dashboard/{name}", _CLOCK() - t0, False, _error_line(exc)))
            layers["dashboard.query_s"] += w.ops[-1].seconds
        return layers

    def run(self, spark, seconds: float, tag_jobs: bool, first: bool) -> Window:
        """The first window lands the initial files and builds the
        warehouse, unmeasured; then one refresh per newly landed file until
        ``seconds`` have passed."""
        w = Window(start=time.time())
        t_end = _CLOCK() + seconds
        if first:
            t0 = _CLOCK()
            for _ in range(self.initial_files):
                self.feed.land()
            self._refresh(spark, w, tag_jobs)
            for op in w.ops:
                op.measured = False
            w.extra["pipeline.initial_build_s"] = _CLOCK() - t0
        while not w.passes or _CLOCK() < t_end:
            written_since = time.time()
            t0, cpu = _CLOCK(), probes.tree_cpu_seconds()
            self.feed.land()
            layers = self._refresh(spark, w, tag_jobs)
            w.passes.append(_CLOCK() - t0)
            w.pass_cpu.append(probes.tree_cpu_seconds() - cpu)
            layers["pipeline.bytes_written"] = _bytes_since(self.warehouse, written_since)
            w.layers.append(layers)
        w.end = time.time()
        w.extra["pipeline.write_amplification"] = (
            _bytes_since(self.warehouse, 0.0) / self.feed.truth.csv_bytes
        )
        return w

    def check(self, spark, w: Window) -> None:
        problems = checks.medallion_problems(spark, self.warehouse, self.feed.truth)
        if problems:
            last = next(o for o in reversed(w.ops) if o.name == "diabetes_executive_summary")
            last.ok, last.error = False, "wrong result: " + "; ".join(problems)


def _bytes_since(root: str, since: float) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            if st.st_mtime >= since:
                total += st.st_size
    return total


RELATIONAL = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q8_market_share", "agg_global_kpis", "quantiles_by_flag",
    "window_topk_per_group", "window_running_lead_lag", "join_outer_order_counts",
    "subq_large_volume_orders", "subq_small_quantity_revenue",
    "events_sessionize_sql", "asof_purchase_last_click", "medallion_events_gold",
    "diab_gold_demographics", "diab_dash_risk_distribution",
)
LLM = (
    "decontam_overlap_stats", "text_wordpiece_segments", "dedup_components",
    "cluster_kmeans_embeddings",
)


def make(name: str, smoke: bool):
    """The named workload; ``smoke`` shrinks its inputs to sf0.001 and 2
    initial files."""
    if name == "medallion_refresh":
        return MedallionWorkload(initial_files=2 if smoke else 6)
    queries, warm = {"relational_sql": (RELATIONAL, ()), "llm_corpus": (LLM, ("python",))}[name]
    return QueryWorkload(name, queries, 0.001 if smoke else 0.01, warm)
