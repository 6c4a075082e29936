"""The benchmark's workloads.

Each workload is closed-loop with one client: one process, one
SparkSession from ``get_spark()``, and the next operation starts only when
the previous one has finished.  A workload runs a *pass* (its unit of
timed work) against the public API, and checks the outputs of the passes
it is asked to check outside the timed region.
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

from checks import OracleChecker, check_pipeline_output


@dataclass
class Outcome:
    seconds: float
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class PipelineOrders:
    """``run_pipeline(IOWrapper(spark), cfg)`` over the generated orders."""

    name = "pipeline_orders"
    sf = 0.005
    # timed passes per run; wall_s is their median.  A pass costs about the
    # same at any sf here (34 small Spark jobs, about 15 s on a 4-core
    # host) on top of about 45 s of set-up and warm pass, so a third pass
    # would make every run about 20% longer.
    passes = 2
    tables = ("orders",)

    def __init__(self, spark, inputs, work: Path, corrupt: bool = False) -> None:
        from polars_pipe_spark.adapters.io import IOWrapper

        self.spark = spark
        self.inputs = inputs
        self.src = str(inputs.dir / "orders.parquet")
        self.out_root = work / "pipeline_out"
        self.corrupt = corrupt
        self.io = IOWrapper(spark)
        self.outputs: list[Path] = []

    def config(self) -> dict:
        return {
            "process_name": "bench",
            "src_path": self.src,
            "src_file_type": "parquet",
            "dst_root": str(self.out_root),
            "dst_file_type": "parquet",
            "validation": {
                "price over 1000": ["o_totalprice", "gt", 1000],
                "not pending": ["o_orderstatus", "ne", "P"],
            },
            "transformations": {
                "dedupe_cols": ["o_orderkey"],
                # string columns are lower-cased by the chain before filters
                "filter_exprs": {"not urgent": ["o_orderpriority", "ne", "1-urgent"]},
                "clip_map": {"o_totalprice": [2000, 400000]},
                "new_col_map": {
                    "price_r": {
                        "fn_name": "round",
                        "fn_kwargs": {"col": "o_totalprice", "decimals": -2},
                    }
                },
                "rename_map": {"o_custkey": "customer_key"},
            },
        }

    def run_pass(self, tracer=None) -> Outcome:
        from polars_pipe_spark.services import run_pipeline

        cfg = self.config()
        out = Outcome(0.0, attempted=1)
        t0 = time.perf_counter()
        try:
            if tracer is None:
                parsed = run_pipeline(self.io, cfg)
            else:
                with tracer.span("services.pipeline.run_pipeline"):
                    parsed = run_pipeline(self.io, cfg)
            self.outputs.append(self.out_root / parsed.guid)
        except Exception as e:  # noqa: BLE001 - a raise is a counted failure
            out.failed = 1
            out.problems.append(f"run_pipeline raised {type(e).__name__}: {e}")
        out.seconds = time.perf_counter() - t0
        return out

    def check_outputs(self, canon_table) -> tuple[int, list[str]]:
        """(failed runs, problems) over the outputs written since the last
        check; the checked outputs are deleted."""
        failed, problems = 0, []
        for out_dir in self.outputs:
            found = check_pipeline_output(self.src, out_dir, canon_table, self.corrupt)
            if found:
                failed += 1
                problems += [f"{out_dir.name}: {p}" for p in found]
        self.discard_outputs()
        return failed, problems

    def warm_pass(self, canon_table) -> Outcome:
        out = self.run_pass()
        failed, problems = self.check_outputs(canon_table)
        out.failed = max(out.failed, failed)
        out.problems += problems
        return out

    def discard_outputs(self) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)
        self.outputs.clear()

    def input_rows(self) -> int:
        return self.inputs.rows["orders"]

    def source_bytes(self) -> int:
        return self.inputs.bytes["orders"]


class RegistryOps:
    """A pass over registry queries from ``__spark_entry__.queries()`` with
    a noop sink: LLM-data operators from ``functions.dedup`` and
    ``functions.text`` (with their persist and localCheckpoint sites) and
    JVM-only relational operators from ``operators.joins``,
    ``operators.windows`` and ``operators.aggregates``."""

    name = "registry_ops"
    sf = 0.01
    passes = 2
    # query -> tables it reads
    queries = {
        "q94_dup_spans": ("documents",),
        "q58_tfidf": ("documents",),
        "q204_bloom_prune_join": ("customer", "orders"),
        "q22_sessionize": ("events",),
        "q46_salted_agg": ("lineitem",),
    }
    tables = tuple(sorted({t for ts in queries.values() for t in ts}))

    def __init__(self, spark, inputs, work: Path, corrupt: bool = False) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.inputs = inputs
        self.corrupt = corrupt
        self.registry = entry.queries()
        self.oracles = entry.oracle_sql()
        self.sf_dir = str(inputs.dir)
        self.outputs: list[Path] = []  # noop sink: nothing to check after a pass

    def _build(self, q: str):
        return self.registry[q](self.spark, self.sf_dir)

    def run_pass(self, tracer=None) -> Outcome:
        out = Outcome(0.0)
        t0 = time.perf_counter()
        for q in self.queries:
            self.spark.catalog.clearCache()
            out.attempted += 1
            try:
                if tracer is None:
                    _noop(self._build(q))
                else:
                    with tracer.span(f"query.{q}", query=q):
                        _noop(self._build(q))
            except Exception as e:  # noqa: BLE001 - a raise is a counted failure
                out.failed += 1
                out.problems.append(f"{q} raised {type(e).__name__}: {e}")
        out.seconds = time.perf_counter() - t0
        return out

    def warm_pass(self, canon_table) -> Outcome:
        """Untimed first pass: collect each result and compare with DuckDB."""
        out = Outcome(0.0)
        checker = OracleChecker(
            self.sf_dir, list(self.inputs.rows), self.oracles, canon_table
        )
        t0 = time.perf_counter()
        try:
            for q in self.queries:
                self.spark.catalog.clearCache()
                out.attempted += 1
                try:
                    got = self._build(q).toArrow()
                    problem = checker.check(q, got, self.corrupt)
                except Exception as e:  # noqa: BLE001 - a raise is a counted failure
                    problem = f"raised {type(e).__name__}: {e}"
                if problem:
                    out.failed += 1
                    out.problems.append(f"{q}: {problem}")
        finally:
            checker.close()
        self.spark.catalog.clearCache()
        out.seconds = time.perf_counter() - t0
        return out

    def check_outputs(self, canon_table) -> tuple[int, list[str]]:
        return 0, []  # noop-sink passes; outputs were checked in warm_pass

    def discard_outputs(self) -> None:
        pass

    def input_rows(self) -> int:
        return sum(self.inputs.rows[t] for ts in self.queries.values() for t in ts)

    def source_bytes(self) -> int:
        return sum(self.inputs.bytes[t] for ts in self.queries.values() for t in ts)


WORKLOADS = {w.name: w for w in (PipelineOrders, RegistryOps)}
