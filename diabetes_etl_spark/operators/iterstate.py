"""Round state for the iterative operators: the one place that knows how
a per-round loop commits, resumes and snapshots its inputs.

Users: k-means and PQ training (operators/clustering.py,
operators/pq.py), connected components and its star variant
(operators/components.py), pagerank, personalized pagerank, label
propagation and k-core peeling (operators/graph.py).

Commit protocol (durable mode, ``work_dir`` set):

- round ``k`` is the parquet directory ``<work_dir>/<prefix><k:05d>``
  and an input snapshot is ``<work_dir>/<name>``; the Spark job
  commit's ``_SUCCESS`` file is the commit marker, so a directory
  without it is a partial write and is overwritten, never read;
- a rerun against the same ``work_dir`` resumes from the highest
  committed round (scanning down from the round budget), writes round
  0 only when no round is committed, and re-materializes no committed
  snapshot — the upstream subtree of an input executes once across
  restarts;
- every committed round is read back from parquet before the next
  step, so lineage is truncated each round and the state lives in the
  filesystem, not in executor block storage (an executor lost at round
  k costs nothing; a driver lost at round k resumes at round k);
- a stop verdict (convergence, a strategy switch) is recorded as a
  small marker file named by the verdict next to the rounds;
  ``CONVERGED`` short-circuits a rerun to the last committed round;
- every probe and marker goes through the Hadoop ``FileSystem`` of the
  path, so ``hdfs://``, ``s3a://`` and ``file://`` roots commit and
  resume exactly like plain local paths.

A ``work_dir`` belongs to one invocation's inputs and parameters and
must not be shared across different ones.

Without ``work_dir`` an operator either keeps the durable protocol under
a :func:`~diabetes_etl_spark.operators.util.scratch_dir` location, or
runs a volatile twin with the same round structure: snapshots and rounds
become ``localCheckpoint`` blocks (``"checkpoint"``) or, for state of a
few KB, driver rows re-created as a local relation (``"rows"``, one
collect job a round; the doubles survive bit-exact).  Volatile state is
per invocation and cannot resume.

Write partitioning: per-round state is O(nodes), so its commit must
scale with the cluster, not a constant — a hardcoded ``coalesce(8)``
serializes tens of GB through 8 writer tasks a round on a
1000-executor job.  :func:`state_write_partitions` derives the cap from
``defaultParallelism`` (about the total executor cores), floored at 8
so tiny local runs avoid per-round small-file spam; with ``coalesce``
the result is min(current partitions, cap).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from diabetes_etl_spark.operators.util import scratch_dir

CONVERGED = "CONVERGED"
_MIN_STATE_PARTITIONS = 8


def state_write_partitions(
    spark: SparkSession, requested: int | None = None
) -> int:
    """Partition cap for a per-round state commit: ``requested`` when
    the caller sized it, else max(8, defaultParallelism)."""
    if requested is not None:
        if requested < 1:
            raise ValueError(
                f"state partitions must be >= 1, got {requested}"
            )
        return requested
    return max(
        _MIN_STATE_PARTITIONS, spark.sparkContext.defaultParallelism
    )


class RoundState:
    """Round state of one operator invocation (module docstring).

    ``prefix`` names the round directories.  ``partitions`` coalesces
    each committed round (None: written as planned).  ``volatile`` is
    the medium used when ``work_dir`` is None — ``"checkpoint"`` or
    ``"rows"``; when None the rounds commit to parquet under a fresh
    scratch directory instead."""

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str | None,
        prefix: str,
        partitions: int | None = None,
        volatile: str | None = None,
    ) -> None:
        if work_dir is None and volatile is None:
            work_dir = scratch_dir(spark, f"spark_{prefix}")
        self.spark = spark
        self.work_dir = work_dir
        self.prefix = prefix
        self.partitions = partitions
        self.volatile = volatile
        self._fs = None

    @property
    def durable(self) -> bool:
        return self.work_dir is not None

    def path(self, name: str) -> str | None:
        """Location of ``name`` under ``work_dir`` (None when volatile)."""
        if self.work_dir is None:
            return None
        return os.path.join(self.work_dir, name)

    def round_path(self, k: int) -> str:
        return self.path(f"{self.prefix}{k:05d}")

    def _hpath(self, path: str):
        """Hadoop ``Path`` of ``path``; binds the FileSystem on first use."""
        p = self.spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
        if self._fs is None:
            self._fs = p.getFileSystem(
                self.spark._jsc.hadoopConfiguration()  # noqa: SLF001
            )
        return p

    def _exists(self, path: str) -> bool:
        p = self._hpath(path)
        return bool(self._fs.exists(p))

    def committed(self, path: str) -> bool:
        return self._exists(os.path.join(path, "_SUCCESS"))

    def last_round(self, rounds: int) -> int | None:
        """Highest committed round in 0..``rounds``, None if none."""
        if not self.durable or not self._exists(self.work_dir):
            return None
        for k in range(rounds, -1, -1):
            if self.committed(self.round_path(k)):
                return k
        return None

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    def read_round(self, k: int) -> DataFrame:
        return self.spark.read.parquet(self.round_path(k))

    def snapshot(
        self, df: DataFrame, name: str, eager: bool = False
    ) -> DataFrame:
        """``df`` materialized once: committed parquet ``name`` (reused
        when already committed), or a ``localCheckpoint`` when volatile
        (``eager`` runs it now, so the upstream executes before any
        consumer branches off it)."""
        if not self.durable:
            return df.localCheckpoint(eager=eager)
        path = self.path(name)
        if not self.committed(path):
            df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def commit(self, df: DataFrame, k: int) -> DataFrame:
        """Materialize round ``k`` and return the frame to step from."""
        if not self.durable:
            if self.volatile == "rows":
                return self.spark.createDataFrame(df.collect(), df.schema)
            return df.localCheckpoint(eager=False)
        if self.partitions is not None:
            df = df.coalesce(self.partitions)
        df.write.mode("overwrite").parquet(self.round_path(k))
        return self.read_round(k)

    def marker(self, name: str) -> int | None:
        """Round recorded in marker ``name``; None when absent."""
        path = self.path(name)
        if path is None or not self._exists(path):
            return None
        jio = self.spark._jvm.java.io  # noqa: SLF001
        stream = self._fs.open(self._hpath(path))
        try:
            reader = jio.BufferedReader(jio.InputStreamReader(stream, "UTF-8"))
            return int(reader.readLine())
        finally:
            stream.close()

    def mark(self, name: str, k: int) -> None:
        """Record marker ``name`` holding round ``k`` (durable only)."""
        if not self.durable:
            return
        p = self._hpath(self.path(name))
        out = self._fs.create(p, True)
        try:
            out.write(str(k).encode("utf-8"))
        finally:
            out.close()

    def run(
        self,
        init: Callable[[], DataFrame],
        step: Callable[[DataFrame, int], DataFrame],
        rounds: int,
        stop: Callable[[DataFrame, int], str | None] | None = None,
    ) -> tuple[DataFrame, int, str | None]:
        """The round loop: resume from the last committed round (or
        commit ``init()`` as round 0), then commit ``step(state, k)``
        for k up to ``rounds``.  ``stop(state, k)`` is asked about the
        starting round and every new one; a truthy verdict ends the loop
        and is recorded as a marker.  Returns (state, last round,
        verdict), the verdict None when the rounds ran out — and
        ``CONVERGED`` at once when a rerun finds it recorded."""
        last = self.last_round(rounds)
        if last is None:
            cur, last = self.commit(init(), 0), 0
        else:
            cur = self.read_round(last)
            if self.marker(CONVERGED) is not None:
                return cur, last, CONVERGED
        k = last
        verdict = stop(cur, k) if stop else None
        while not verdict and k < rounds:
            k += 1
            cur = self.commit(step(cur, k), k)
            verdict = stop(cur, k) if stop else None
        if verdict:
            self.mark(verdict, k)
        return cur, k, verdict or None
