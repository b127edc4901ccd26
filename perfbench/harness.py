"""Session control, span tracing and timing helpers for the benchmark.

Everything here lives on the benchmark's side of the engine's public API:
spans wrap the calls the benchmark makes into a module, never code inside
the engine.
"""

from __future__ import annotations

import json
import os
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

DRIVER_MEMORY = "2g"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder; ``write`` dumps the spans when a run ends."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else None)
        self._stack.append(len(self.spans))
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_seconds(self, idx: int) -> float:
        """Span duration minus the part its direct children cover."""
        kids = sum(s.seconds for s in self.spans if s.parent == idx)
        return self.spans[idx].seconds - kids

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        rows = [{"id": i, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "self_s": self.self_seconds(i)}
                for i, s in enumerate(self.spans)]
        path.write_text(json.dumps(rows, indent=1))


class Sessions:
    """Starts and restarts the engine's SparkSession inside one JVM.

    Each ``start`` stops the previous SparkContext and builds a fresh one
    with the engine's own session factory, so every set-up pays context
    start, input listing and plan compilation again; only the first one
    pays the JVM launch."""

    def __init__(self, scratch: Path):
        self.scratch = scratch
        self.spark = None

    def start(self, cores: int):
        from json_schema_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        local = self.scratch / "spark-local"
        tmp = self.scratch / "tmp"
        for d in (local, tmp):
            d.mkdir(parents=True, exist_ok=True)
        self.spark = get_spark(
            app_name="perfbench", cores=cores,
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": str(local),
                "spark.sql.warehouse.dir": str(self.scratch / "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp}",
                "spark.ui.showConsoleProgress": "false",
            })
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        """Stop Spark and wait for the gateway JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        finally:
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits when stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None


def clear_caches(spark) -> None:
    """Cache hygiene between passes: operator-internal persists first,
    then anything else the catalog still holds."""
    from json_schema_spark.cache import release_caches

    release_caches()
    spark.catalog.clearCache()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def count_files(path: str | os.PathLike) -> int:
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if not f.startswith((".", "_")))
    return n


def plan_node_counts(df) -> dict[str, int]:
    """Node classes of ``df``'s executed physical plan, read from the JVM
    after an action. Adaptive plans are unwrapped to their final plan and
    query stages to the exchange they wrap; a reused exchange counts once
    under its own name."""
    counts: dict[str, int] = {}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        counts[cls] = counts.get(cls, 0) + 1
        if cls == "ReusedExchangeExec":
            continue
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return counts


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
