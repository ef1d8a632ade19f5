"""spark-graft benchmark: closed-loop workloads, end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload gates --seed 1 --seconds 20 --trace 0

Workloads: ``gates`` (see ``gates.py``) and ``lakehouse_cdc`` (see
``cdc.py``). One client runs one operation at a time on
``local[<cpus this process may use>]`` with the engine's own session
defaults. The seed feeds the sf0.1 gate tables from
``tools/make_fixtures.generate`` and the CDC file generator; the engine
sees only the generated files.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a run that
interleaves untraced and traced units. Lines before it report the same
figures for people, plus the tracing overhead and a self-time table.
Everything the run writes stays under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("gates", "lakehouse_cdc")
SF = 0.1

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}
# name -> (unit, how one run's value is taken from its traced units)
PER_LAYER = {
    "queries.build_s": ("s", "median"),
    "queries.build_jobs": ("count", "count"),
    "queries.exec_s": ("s", "median"),
    "queries.exec_jobs": ("count", "count"),
    "queries.ungrouped_jobs": ("count", "count"),
    "queries.stages": ("count", "count"),
    "queries.tasks": ("count", "count"),
    "queries.shuffle_write_bytes": ("bytes", "median"),
    "queries.spill_bytes": ("bytes", "median"),
    "operators.pin_calls": ("count", "count"),
    "operators.pin_s": ("s", "median"),
    "operators.pinned_bytes": ("bytes", "median"),
    "llm.self_s": ("s", "median"),
    "streaming.self_s": ("s", "median"),
    "streaming.batches": ("count", "count"),
    "streaming.schema_infer_s": ("s", "median"),
    "sources.read_s": ("s", "median"),
    "sources.read_jobs": ("count", "count"),
    "ingestion.jobs": ("count", "count"),
    "ingestion.merge_s": ("s", "median"),
    "ingestion.write_amp": ("ratio", "median"),
    "ingestion.register_s": ("s", "median"),
    "ingestion.optimize_s": ("s", "run"),
    "ingestion.target_files": ("count", "run"),
    "ingestion.bytes_per_row": ("bytes", "run"),
    "session.start_s": ("s", "run"),
    "queries.registry_import_s": ("s", "run"),
    "jvm.gc_s": ("s", "run"),
    "jvm.peak_rss_mb": ("MiB", "run"),
    "trace.overhead": ("ratio", "run"),
}


class Outcome:
    """What one workload measured, before it is turned into metrics."""

    def __init__(self) -> None:
        self.load_s = 0.0  # one-off work ahead of the first unit
        self.cold_ops: list[float] = []  # first use of every operation
        self.units: list[dict] = []  # warm passes or cycles
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layout: dict[str, float] = {}  # a table's file layout
        self.named: dict[str, float] = {}  # workload figures for the report
        self.op_names: list[str] = []  # what each position of a unit's ops is

    def attempt(self, name: str, err: str | None) -> None:
        self.attempted += 1
        if err:
            self.failed += 1
            self.errors.append(f"{name}: {err}")


class Context:
    """State one run shares with its workload."""

    def __init__(self, args, work: str, sf_dir: str, tracer) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.outcome = Outcome()
        self.spark = self.stats = self.queries = None

    def measure(self, unit) -> None:
        """Call ``unit(acc) -> [op seconds]`` for ``--seconds``: at least
        three units, and no unit that would likely end past the time.
        A traced run alternates untraced (U) and traced (T) units as
        U T U ... and ends on U, so the traced units sit between
        untraced ones of the same warmth and the overhead ratio is
        fair."""
        start = time.perf_counter()
        while True:
            k = len(self.outcome.units)
            t0 = time.perf_counter()
            self.outcome.units.append(self._unit(unit, self.trace and k % 2 == 1))
            now = time.perf_counter()
            done = k >= 2 and now + (now - t0) - start > self.seconds
            if done and (not self.trace or k % 2 == 0):
                return

    def _unit(self, unit, traced: bool) -> dict:
        tracer = self.tracer
        acc: dict[str, float] = defaultdict(float)
        mark, counts = len(tracer.spans), dict(tracer.counts)
        gc0 = self.stats.gc_seconds() if self.trace else 0.0
        cpu0 = self.stats.cpu_seconds()
        tracer.enabled = traced
        try:
            ops = unit(acc)
        finally:
            tracer.enabled = False
        rec = {"traced": traced, "ops": ops, "acc": acc}
        rec["cpu_s"] = self.stats.cpu_seconds() - cpu0
        if self.trace:
            rec["gc_s"] = self.stats.gc_seconds() - gc0
        if traced:
            rec["self"] = tracer.self_times(mark)
            rec["counts"] = {k: v - counts.get(k, 0.0) for k, v in tracer.counts.items()}
            rec["span_s"] = span_totals(tracer.spans[mark:])
        return rec


def span_totals(spans) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s[5] is not None:
            out[s[3]] += s[5] - s[4]
    return out


def p75(values: list[float]) -> float:
    return statistics.quantiles(values, n=4)[2] if len(values) > 1 else values[0]


# ----------------------------------------------------------------------
def op_samples(out: Outcome) -> list[list[float]]:
    """Warm untraced times of each operation of a unit, by position."""
    units = [u for u in out.units if not u["traced"]]
    return [[u["ops"][i] for u in units] for i in range(len(out.op_names))]


def end_to_end(ctx, setup: dict, rss_mb: float) -> tuple[dict, dict]:
    """Gated metrics, and the named figures printed for people."""
    out = ctx.outcome
    units = [u for u in out.units if not u["traced"]]
    ops = [t for u in units for t in u["ops"]]
    metrics = {
        "setup_s": setup["setup_s"],
        "pass_s": sum(statistics.median(s) for s in op_samples(out)),
    }
    named = {**setup, "cold_s": sum(out.cold_ops), **out.named}
    if ctx.workload == "lakehouse_cdc":
        merges = [u["ops"][0] for u in units]
        named.update(
            merge_p50_s=statistics.median(merges),
            merge_p75_s=p75(merges),
            tick_p50_s=statistics.median(u["ops"][1] for u in units),
            read_p50_s=statistics.median(u["ops"][2] for u in units),
            rows_per_s=sum(u["acc"]["rows"] for u in units) / sum(ops),
        )
    else:
        from gates import CORPUS_GATES, SQL_GATES

        medians = dict(zip(out.op_names, map(statistics.median, op_samples(out))))
        named.update(
            sweep_s=statistics.median(sum(u["ops"]) for u in units),
            sql_sweep_s=sum(medians[g] for g in SQL_GATES),
            corpus_sweep_s=sum(medians[g] for g in CORPUS_GATES),
            query_p50_s=statistics.median(ops),
            query_p75_s=p75(ops),
        )
    named.update(
        peak_rss_mb=rss_mb,
        fail_ratio=out.failed / out.attempted,
        samples=len(ops),
        units=len(units),
    )
    return metrics, named


def op_lines(out: Outcome) -> list[str]:
    units = [u for u in out.units if not u["traced"]]
    return [
        " ".join(["unit_s"] + [f"{sum(u['ops']):.3f}" for u in units]),
        " ".join(["unit_cpu_s"] + [f"{u['cpu_s']:.3f}" for u in units]),
    ] + [
        f"op {name} cold {cold:.3f} median {statistics.median(warm):.4f} s warm "
        + " ".join(f"{t:.3f}" for t in warm)
        for name, cold, warm in zip(out.op_names, out.cold_ops, op_samples(out))
    ]


def per_layer(ctx, setup: dict, rss_mb: float) -> tuple[dict, dict, list[str]]:
    """Per-layer metrics of a traced run, the self-time table, and the
    counts that differed between the run's traced units."""
    out = ctx.outcome
    traced = [u for u in out.units if u["traced"]]
    plain = [u for u in out.units if not u["traced"]]

    def per_unit(u: dict) -> dict[str, float]:
        acc, counts, spans, own = u["acc"], u["counts"], u["span_s"], u["self"]
        return {
            "queries.build_s": acc["build_s"],
            "queries.build_jobs": acc["build_jobs"],
            "queries.exec_s": acc["exec_s"],
            "queries.exec_jobs": acc["exec_jobs"],
            "queries.ungrouped_jobs": acc["ungrouped_jobs"],
            "queries.stages": acc["stages"],
            "queries.tasks": acc["tasks"],
            "queries.shuffle_write_bytes": acc["shuffle_write_bytes"],
            "queries.spill_bytes": acc["spill_bytes"],
            "operators.pin_calls": counts.get("operators.pin_calls", 0.0),
            "operators.pin_s": spans.get("operators.pin", 0.0),
            "operators.pinned_bytes": counts.get("operators.pinned_bytes", 0.0),
            "llm.self_s": own.get("llm", 0.0),
            "streaming.self_s": own.get("streaming", 0.0),
            "streaming.batches": counts.get("streaming.batches", 0.0),
            "streaming.schema_infer_s": spans.get("streaming.load_or_evolve_schema", 0.0),
            "sources.read_s": spans.get("sources.read_batch", 0.0),
            "sources.read_jobs": counts.get("sources.read_jobs", 0.0),
            "ingestion.jobs": acc["ingestion_jobs"],
            "ingestion.merge_s": spans.get("ingestion.merge_into", 0.0),
            "ingestion.write_amp": acc["write_amp"],
            "ingestion.register_s": spans.get("ingestion.register_table", 0.0)
            + spans.get("ingestion.apply_table_metadata", 0.0),
        }

    rows = [per_unit(u) for u in traced]
    metrics: dict[str, float] = {}
    unsteady = []
    for name, (_unit, how) in PER_LAYER.items():
        if how == "median":
            metrics[name] = statistics.median(r[name] for r in rows)
        elif how == "count":
            metrics[name] = rows[0][name]
            seen = sorted({r[name] for r in rows})
            if len(seen) > 1:
                unsteady.append(f"{name} {seen}")
    optimize = ctx.tracer.span_seconds("ingestion.optimize_post_write")
    overhead = statistics.mean(sum(u["ops"]) for u in traced) / statistics.mean(
        sum(u["ops"]) for u in plain
    )
    metrics.update(
        {
            "ingestion.optimize_s": optimize,
            "ingestion.target_files": out.layout.get("ingestion.target_files", 0),
            "ingestion.bytes_per_row": out.layout.get("ingestion.bytes_per_row", 0.0),
            "session.start_s": setup["session_start_s"],
            "queries.registry_import_s": setup["registry_import_s"],
            "jvm.gc_s": statistics.median(u["gc_s"] for u in out.units),
            "jvm.peak_rss_mb": rss_mb,
            "trace.overhead": overhead - 1.0,
        }
    )
    layers = sorted({k for u in traced for k in u["self"]})
    table = {
        layer: statistics.median(u["self"].get(layer, 0.0) for u in traced)
        for layer in layers
    }
    return metrics, table, unsteady


# ----------------------------------------------------------------------
def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and leave the
    engine's defaults alone (the default driver heap included)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    java = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {java} pyspark-shell"
    os.chdir(work)  # the session's warehouse directory lands here


def make_tables(seed: int, sf_dir: str) -> None:
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "make_fixtures", os.path.join(ROOT, "tools", "make_fixtures.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    module.generate(sf_dir, SF, seed)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def bench(args, work: str) -> tuple[dict, list[str]]:
    from spans import Tracer, install
    from sparkstats import SparkStats

    sf_dir = os.path.join(work, f"sf{SF}")
    if args.workload == "gates":
        make_tables(args.seed, sf_dir)
    ctx = Context(args, work, sf_dir, Tracer())
    cpus = len(os.sched_getaffinity(0))
    steal0 = _steal_seconds()

    t0 = time.perf_counter()
    from python_tool_setup_spark.session import get_spark

    ctx.spark = get_spark("perfbench", master=f"local[{cpus}]")
    t1 = time.perf_counter()
    try:
        ctx.stats = ctx.tracer.stats = SparkStats(ctx.spark)
        if ctx.trace:
            install(ctx.tracer)
        from python_tool_setup_spark.queries import all_queries

        ctx.queries = all_queries()
        t2 = time.perf_counter()
        if args.workload == "lakehouse_cdc":
            import cdc

            cdc.run(ctx)
        else:
            import gates

            gates.run(ctx)
        rss_mb = ctx.stats.peak_rss_mb()
    finally:
        stop_spark(ctx.spark)

    out = ctx.outcome
    # Set-up ends when every operation of the workload has run once; the
    # first uses are timed around the operations themselves, so input
    # generation and oracle checks stay outside.
    setup = {
        "setup_s": t2 - t0 + out.load_s + sum(out.cold_ops),
        "session_start_s": t1 - t0,
        "registry_import_s": t2 - t1,
    }
    lines = [
        f"box cpus={cpus} mem_mb={_mem_total_mb():.0f} workload={args.workload} "
        f"seed={args.seed} steal_s={_steal_seconds() - steal0:.2f}"
    ]
    lines += [f"error {e}" for e in out.errors]
    if ctx.trace:
        metrics, table, unsteady = per_layer(ctx, setup, rss_mb)
        units = {n: u for n, (u, _how) in PER_LAYER.items()}
        total = sum(table.values()) or 1.0
        lines.append(f"trace overhead {metrics['trace.overhead']:+.4f} (traced/untraced op time - 1)")
        lines += [
            f"self {layer:<12} {sec:9.4f} s {sec / total:7.2%}"
            for layer, sec in sorted(table.items(), key=lambda kv: -kv[1])
        ]
        lines += [f"count differs between traced units: {u}" for u in unsteady]
        with open(os.path.join(ROOT, ".bench_work", f"spans-{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump(ctx.tracer.dump(), fh)
    else:
        metrics, named = end_to_end(ctx, setup, rss_mb)
        units = dict(END_TO_END)
        lines += [f"metric {k} {v:.6g} {_unit(k)}" for k, v in named.items()]
        lines += op_lines(out)
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, lines


def _unit(name: str) -> str:
    """Unit of a named figure in the report lines."""
    special = {"rows_per_s": "1/s", "peak_rss_mb": "MiB", "fail_ratio": "ratio"}
    return special.get(name, "s" if name.endswith("_s") else "count")


def _steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", choices=WORKLOADS, required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    for need in ("python_tool_setup_spark/queries/__init__.py", "tools/make_fixtures.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} is missing from this checkout", file=sys.stderr)
            return 2
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    prepare_env(work)
    try:
        result, lines = bench(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
