"""The gates workload: passes over a fixed list of registered gates.

One operation builds a gate's DataFrame and fetches its result to the
driver, as a caller of the gate would. The first pass in the fresh
process is the cold pass; its results are checked against the gate's
DuckDB oracle through ``testing.compare_query`` after the timer stops,
so the check costs no second Spark execution. Warm passes follow until
the run's seconds are spent.
"""

from __future__ import annotations

import contextlib
import dataclasses
import time
from collections import defaultdict

# Relational and analytics gates: executors do the scan, join,
# aggregate, window and shuffle work; no pins, no LLM kernels, no
# streaming, and no jobs while the DataFrames are built once warm.
SQL_GATES = (
    "q01_pricing_summary",
    "q04_join_star",
    "q06_semi_join",
    "q09_rollup",
    "q12_window_topk",
)

# Gates whose cost sits on the driver: MinHash LSH near-duplicate
# search through the llm kernels, jobs fired while the DataFrame is
# built (q226 fires 35), eager blockrank pins behind prefix aggregates
# (q520), and a streaming micro-batch drain whose jobs run on the
# stream's thread.
CORPUS_GATES = (
    "q36_minhash_lsh_neardup",
    "q226_sql_scripting",
    "q27_stream_tumbling_agg",
    "q520_chisq_cell_residuals",
)

# One pass runs both families, so a run pays the session start and the
# cold pass once for all of them.
GATES = SQL_GATES + CORPUS_GATES


class _Fetched:
    """Stands in for a gate's DataFrame inside ``compare_query``: it
    exposes the schema and the rows the timed pass already fetched."""

    def __init__(self, sdf, pdf) -> None:
        self.schema = sdf.schema
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


@contextlib.contextmanager
def _phase(ctx, gate: str, kind: str, acc: dict) -> None:
    """Tag the phase's jobs with a job group and add its Spark counters
    to ``acc``; a no-op while tracing is off."""
    if not ctx.tracer.enabled:
        yield
        return
    stats = ctx.stats
    group = f"{gate}:{kind}"
    stats.sc.setJobGroup(group, group)
    j0, s0 = stats.next_job_id(), stats.next_stage_id()
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span("queries.build" if kind == "build" else "spark.exec"):
            yield
    finally:
        acc[f"{kind}_s"] += time.perf_counter() - t0
        stats.drain()
        jobs = stats.next_job_id() - j0
        acc[f"{kind}_jobs"] += jobs
        acc["ungrouped_jobs"] += jobs - stats.group_jobs(group, j0)
        for key, value in stats.stage_totals(s0, stats.next_stage_id()).items():
            acc[key] += value
        stats.sc.setLocalProperty("spark.jobGroup.id", None)


def run(ctx):
    from python_tool_setup_spark.operators.blockrank import release_pins
    from python_tool_setup_spark.testing import compare_query, oracle_connection

    spark, out = ctx.spark, ctx.outcome
    queries = [ctx.queries[n] for n in GATES]
    out.op_names = list(GATES)
    con = oracle_connection(ctx.sf_dir)

    def one(query, acc: dict, check: bool) -> float:
        ctx.tracer.op = query.name
        t0 = time.perf_counter()
        err = None
        try:
            with _phase(ctx, query.name, "build", acc):
                sdf = query.spark_fn(spark, ctx.sf_dir)
            with _phase(ctx, query.name, "exec", acc):
                pdf = sdf.toPandas()
        except Exception as exc:  # noqa: BLE001 - a failed gate is a sample
            err = f"{type(exc).__name__}: {exc}"
        dt = time.perf_counter() - t0
        if err is None and check:
            fetched = dataclasses.replace(
                query, spark_fn=lambda *_: _Fetched(sdf, pdf)
            )
            try:
                err = compare_query(spark, con, fetched, ctx.sf_dir)
            except Exception as exc:  # noqa: BLE001 - a failed check fails the gate
                err = f"oracle check {type(exc).__name__}: {exc}"
        out.attempt(query.name, err)
        release_pins()
        spark.catalog.clearCache()
        return dt

    out.cold_ops = [one(q, defaultdict(float), check=True) for q in queries]

    def sweep(acc: dict) -> list[float]:
        return [one(q, acc, check=False) for q in queries]

    ctx.measure(sweep)
    con.close()
