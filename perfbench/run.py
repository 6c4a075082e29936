#!/usr/bin/env python3
"""The repository benchmark: seeded inputs, one workload, checked outputs.

Run from the root of a checkout:

    python3 perfbench/run.py --workload pipeline_orders --seed 1 --seconds 20 --trace 0

Steps, in one process with one SparkSession from ``get_spark()``:

1. Generate the workload's inputs with ``tools/gen_testdata.py`` from
   ``--seed`` under ``perfbench/.work/data`` (reused when the (seed, sf)
   spec matches).
2. Set up: import the package, ``get_spark()``, run the first JVM job and
   the first Python-worker job (``setup_s``).
3. Warm pass (untimed): runs the workload once and checks its outputs.
4. Timed passes, tracing off: the workload's fixed number of passes
   (``passes``, two); ``wall_s`` is their median.  ``--seconds`` is
   accepted as part of the command line but does not change the count, so
   a run does the same work on every host and revision.
5. With ``--trace 1`` instead: untraced, traced, untraced pass.  The
   traced pass gives the per-layer metrics, and ``trace_overhead`` is its
   ``wall_s`` over the median of the two untraced ones.
6. Checks the outputs of the timed passes, then prints a report and, as
   the last line, one JSON object: ``correct``, ``attempted``, ``failed``
   and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
   metrics with ``--trace 1``).

``--sf`` overrides the workload's scale factor and ``--corrupt-check``
perturbs every expected output; both exist for ``perfbench/selftest.py``.
Exits with code 2, printing no result, when the checkout lacks the package.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH_DIR = Path(__file__).resolve().parent
ROOT = Path.cwd()
WORK = BENCH_DIR / ".work"
REQUIRED = ("polars_pipe_spark/__init__.py", "__spark_entry__.py",
            "tools/gen_testdata.py", "tools/check_oracle.py")
JVM_HEAP = "2g"
END_TO_END = {"wall_s": "s", "rows_per_s": "rows/s", "setup_s": "s"}


@dataclass
class Inputs:
    dir: Path
    seed: int
    sf: float
    rows: dict[str, int]
    bytes: dict[str, int]
    row_groups: dict[str, int]
    generated: bool


def ensure_inputs(seed: int, sf: float) -> Inputs:
    """Generate (or reuse) the seeded fixtures for ``(seed, sf)``."""
    import pyarrow.parquet as pq
    from gen_testdata import generate

    out = WORK / "data" / f"seed{seed}_sf{sf:g}"
    marker = out / "spec.json"
    spec = {"seed": seed, "sf": sf, "generator": "tools/gen_testdata.py"}
    generated = not (marker.exists() and json.loads(marker.read_text()).get("spec") == spec)
    if generated:
        shutil.rmtree(out, ignore_errors=True)
        generate(sf, str(out), seed)
        info = {}
        for f in sorted(out.glob("*.parquet")):
            md = pq.read_metadata(f)
            info[f.stem] = [md.num_rows, f.stat().st_size, md.num_row_groups]
        marker.write_text(json.dumps({"spec": spec, "tables": info}))
    tables = json.loads(marker.read_text())["tables"]
    return Inputs(
        dir=out, seed=seed, sf=sf,
        rows={t: v[0] for t, v in tables.items()},
        bytes={t: v[1] for t, v in tables.items()},
        row_groups={t: v[2] for t, v in tables.items()},
        generated=generated,
    )


def set_up():
    """Import the package, build the session, run a JVM and a Python job."""
    t0 = time.perf_counter()
    from polars_pipe_spark import get_spark

    spark = get_spark(extra_conf={
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.sparkContext.parallelize(range(8), 2).map(lambda x: x + 1).sum()
    return spark, time.perf_counter() - t0


def output_size(paths: list[Path]) -> tuple[int, int]:
    n_bytes = n_files = 0
    for p in paths:
        for f in p.rglob("*"):
            if f.is_file():
                n_bytes += f.stat().st_size
                n_files += 1
    return n_bytes, n_files


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None)
    ap.add_argument("--corrupt-check", action="store_true")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: run from a checkout root; missing {missing}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    for d in ("spark-local", "tmp"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "SPARK_DRIVER_MEMORY": JVM_HEAP,
        "TMPDIR": str(WORK / "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
    })
    sys.path[:0] = [str(ROOT), str(ROOT / "tools"), str(BENCH_DIR)]

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    t_in = time.perf_counter()
    inputs = ensure_inputs(args.seed, args.sf if args.sf is not None else cls.sf)
    inputs_s = time.perf_counter() - t_in

    spark, session_s = set_up()
    setup_s = session_s + (t_in - _T_PROCESS)

    from check_oracle import canon_table
    from layers import OWN, UNITS, layer_of, patch_targets, traced_metrics
    from spans import PyWorkerCpu, StageStore, Tracer, jvm_pid, peak_rss_mb, stop_spark

    jvm = jvm_pid(spark)
    work = WORK / f"run_{os.getpid()}"
    wl = cls(spark, inputs, work, corrupt=args.corrupt_check)
    attempted = failed = 0
    problems: list[str] = []

    def count(o) -> None:
        nonlocal attempted, failed
        attempted += o.attempted
        failed += o.failed
        problems.extend(o.problems)

    try:
        warm = wl.warm_pass(canon_table)
        count(warm)
        if args.trace:
            # one traced pass between two untraced ones, so that the JVM
            # warming up over the run does not bias trace_overhead
            tracer = Tracer(spark.sparkContext, f"{cls.name}-s{args.seed}")
            timed = [wl.run_pass()]
            n_out = len(wl.outputs)
            with PyWorkerCpu(jvm) as cpu, tracer.patched(patch_targets()), \
                    tracer.span("pass") as traced:
                count(wl.run_pass(tracer))
            traced_out = wl.outputs[n_out:]
            spark.catalog.clearCache()
            leaked = spark.sparkContext._jsc.getPersistentRDDs().size()
            timed.append(wl.run_pass())
        else:
            timed = [wl.run_pass() for _ in range(cls.passes)]
        for o in timed:
            count(o)
        peak_mb = peak_rss_mb(jvm)
        wall = statistics.median(o.seconds for o in timed)

        units = END_TO_END
        if args.trace:
            measured = traced_metrics(
                wl, tracer, StageStore(spark), traced,
                base_wall=wall, cores=cores, pyworker_s=cpu.seconds,
                leaked_rdds=leaked, written=output_size(traced_out),
                peak_mb=peak_mb,
            )
            # the other workload's own metrics are not measured here
            metrics = {k: measured.get(k, 0.0) for k in UNITS}
            units = UNITS
            (WORK / "last_trace.json").write_text(json.dumps(
                [vars(s) for s in tracer.spans], default=str))
        else:
            metrics = {
                "wall_s": wall,
                "rows_per_s": wl.input_rows() / wall,
                "setup_s": setup_s,
            }
        bad, found = wl.check_outputs(canon_table)
        failed += bad
        problems += found
    finally:
        wl.discard_outputs()
        stop_spark(spark, jvm)
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {cls.name}: seed {args.seed}, sf {inputs.sf:g}, "
          f"{cores} cores, closed loop with 1 client; inputs "
          f"{'generated' if inputs.generated else 'reused'} in {inputs_s:.1f} s")
    for t in cls.tables:
        print(f"  input {t}: {inputs.rows[t]} rows, {inputs.bytes[t]} bytes, "
              f"{inputs.row_groups[t]} row groups")
    print(f"  warm pass {warm.seconds:.2f} s (untimed, outputs checked); "
          f"{len(timed)} untraced timed pass(es): "
          + ", ".join(f"{o.seconds:.2f}" for o in timed)
          + " s; no tail percentile (needs more than 10 samples beyond it)")
    # peak_rss_mb and error_rate are reported here, not in the JSON line:
    # the JVM's peak RSS follows its heap sizing and spreads too widely
    # between runs to carry a bound, and failures are attempted/failed
    print(f"  peak_rss_mb = {sum(peak_mb):.0f} MB (JVM {peak_mb[0]:.0f} MB, "
          f"largest Python worker {peak_mb[1]:.0f} MB)")
    print(f"  error_rate = {failed / attempted:.4f} ratio ({failed} of {attempted} operations)")
    for p in problems:
        print(f"  FAILED: {p}")
    if args.trace:
        print("  lazy layers (validation, transform, sources) are charged to the "
              "action that first runs them")
    for k, v in metrics.items():
        extra = ""
        if args.trace:
            if k not in measured:
                continue
            layer, moves, on = layer_of(k)
            extra = f"  [{layer}; moves {moves} on {', '.join(on)}]"
        print(f"  {k} = {v:.6g} {units[k]}{extra}")
    if args.trace:
        other = [n for w, own in OWN.items() if w != cls.name for n in own]
        print(f"  not measured on this workload, reported as 0: {', '.join(other)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
