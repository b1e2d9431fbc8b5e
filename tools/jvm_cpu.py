"""Per-pass JVM cost probe: the layers perfbench's event log cannot see.

    python tools/jvm_cpu.py --workload relational_sql --passes 3
    python tools/jvm_cpu.py --workload relational_sql medallion_refresh llm_corpus
    python tools/jvm_cpu.py q1_pricing_summary agg_global_kpis --passes 3 --sf 0.01
    python tools/jvm_cpu.py --workload relational_sql \\
        --conf spark.sql.codegen.cache.maxEntries=100

Run from the root of a checkout.  The passes are perfbench's own
(``perfbench/workloads.py``: the same queries, fixture copies and
session settings as ``perfbench/run.py``), run in one session after
perfbench's session warm-ups but WITHOUT its per-query warm-up, so the
first pass of each workload is cold.  A ``medallion_refresh`` first
pass lands the initial files and builds the warehouse before its
refresh; later passes are one refresh each.  Positional query names
form one ad-hoc query workload over ``perfbench/data/sf<--sf>``.
``--conf k=v`` (repeatable) is passed to ``get_spark`` as
``extra_conf``, so one checkout can be read with an engine default
switched back.

One line per pass, each figure a difference over the pass:

- ``cpu_s``: CPU of the process tree (Python, driver JVM, Python
  workers), from ``/proc``;
- ``exec_cpu_s``: executor CPU of the stages the pass ran, from the
  driver's status store;
- ``jit_s``: HotSpot JIT compile time (``CompilationMXBean``);
- ``janino``: whole-stage-codegen compilations (``CodegenMetrics``);
- ``gen_classes``/``gen_kb``: generated classes and their bytecode
  size; the size is the metric's reservoir mean times the count, so it
  is approximate;
- ``loaded``: classes the JVM loaded (``ClassLoadingMXBean``).

A ``total`` line sums every pass.  Over a cold run with a cache that
never evicts, its ``janino`` figure plus the set-up line's is the number
of distinct classes the run compiled, the floor for
``spark.sql.codegen.cache.maxEntries``.
Writes only under ``.perfbench/jvm_cpu/`` in the checkout.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import probes  # noqa: E402
import run as perfbench  # noqa: E402

FIELDS = ("cpu_s", "exec_cpu_s", "jit_s", "janino", "gen_classes", "gen_kb", "loaded")


class JvmCounters:
    """Cumulative JVM-side counters of the session's driver JVM."""

    def __init__(self, spark):
        jvm = spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._compiler = mf.getCompilationMXBean()
        self._classes = mf.getClassLoadingMXBean()
        metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._janino = metrics.METRIC_COMPILATION_TIME()
        self._bytecode = metrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE()
        self._sc = spark.sparkContext._jsc.sc()
        self._last_stage = -1

    def read(self) -> dict[str, float]:
        """Every cumulative counter except executor CPU (``stage_cpu``)
        and generated bytes (``gen_kb``)."""
        return {
            "cpu_s": probes.tree_cpu_seconds(),
            "jit_s": self._compiler.getTotalCompilationTime() / 1000,
            "janino": self._janino.getCount(),
            "gen_classes": self._bytecode.getCount(),
            "gen_mean_b": self._bytecode.getSnapshot().getMean(),
            "loaded": self._classes.getTotalLoadedClassCount(),
        }

    @staticmethod
    def gen_kb(classes: float, counters: dict[str, float]) -> float:
        return classes * counters["gen_mean_b"] / 1024

    def stage_cpu(self) -> float:
        """Executor CPU seconds of the stages started since the last call.

        The status store keeps the last ``spark.ui.retainedStages`` (1000)
        stages, far more than one pass runs."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        stages = store.stageList(
            None, False, False, getattr(store, "stageList$default$4")(), None
        )
        cpu_ns, last = 0, self._last_stage
        for i in range(stages.size()):
            stage = stages.apply(i)
            sid = stage.stageId()
            if sid > self._last_stage:
                cpu_ns += stage.executorCpuTime()
                last = max(last, sid)
        self._last_stage = last
        return cpu_ns / 1e9


def _line(label: str, d: dict[str, float]) -> str:
    return f"{label:<28}" + " ".join(
        f"{k}={d[k]:.0f}" if k in ("janino", "gen_classes", "gen_kb", "loaded")
        else f"{k}={d[k]:.2f}"
        for k in FIELDS
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="*", help="registry query names (an ad-hoc workload)")
    ap.add_argument("--workload", nargs="+", default=[],
                    choices=("relational_sql", "llm_corpus", "medallion_refresh"))
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--sf", type=float, default=0.01, help="fixture copy for positional queries")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE")
    args = ap.parse_args(argv)
    if not args.queries and not args.workload:
        ap.error("name registry queries or --workload")

    work = os.path.join(ROOT, ".perfbench", "jvm_cpu")
    os.makedirs(work, exist_ok=True)
    perfbench._prepare_environment(ROOT, work)
    import workloads  # noqa: PLC0415 - needs the environment set above

    wls = [workloads.make(name, smoke=False) for name in args.workload]
    if args.queries:
        wls.append(workloads.QueryWorkload("queries", tuple(args.queries), args.sf, ()))
    for wl in wls:
        wl.prepare(work, args.seed)

    extra = dict(kv.split("=", 1) for kv in args.conf)
    warm = tuple(sorted({part for wl in wls for part in wl.warm}))
    start = probes.tree_cpu_seconds()
    spark, _, _ = perfbench.setup_session(work, warm, extra)
    try:
        jvm = JvmCounters(spark)
        flags = [a for a in spark._jvm.java.lang.management.ManagementFactory
                 .getRuntimeMXBean().getInputArguments() if a.startswith("-XX:Tier")]
        print(f"# codegen.cache.maxEntries="
              f"{spark.conf.get('spark.sql.codegen.cache.maxEntries')} "
              f"driver JIT flags: {' '.join(flags) or 'stock'}")
        before = jvm.read()
        setup = {**before, "cpu_s": before["cpu_s"] - start, "exec_cpu_s": jvm.stage_cpu(),
                 "gen_kb": jvm.gen_kb(before["gen_classes"], before)}
        print(_line("setup (session + warm-ups)", setup))
        total = dict.fromkeys(FIELDS, 0.0)
        for wl in wls:
            for i in range(args.passes):
                # a medallion first pass builds the warehouse; a query
                # workload's would add perfbench's per-query warm-up
                first = i == 0 and isinstance(wl, workloads.MedallionWorkload)
                w = wl.run(spark, 0.0, tag_jobs=False, first=first)
                after = jvm.read()
                delta = {k: after[k] - before[k] for k in after}
                delta["exec_cpu_s"] = jvm.stage_cpu()
                delta["gen_kb"] = jvm.gen_kb(delta["gen_classes"], after)
                before = after
                failed = sum(not op.ok for op in w.ops)
                print(_line(f"{wl.name} pass {i + 1}", delta)
                      + (f" failed={failed}" if failed else ""), flush=True)
                total = {k: total[k] + delta[k] for k in FIELDS}
        print(_line("total", total))
    finally:
        perfbench._stop_jvm(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
