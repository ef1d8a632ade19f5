"""Lakehouse CDC workload: one bootstrap load, then merge/tick/read cycles.

``ChangeModel`` writes every input file from the seed and keeps the
table state those files imply, so each read and the final table can be
checked against it. The engine sees only the JSON files.

A cycle is three operations, each waiting for the previous one:
- merge a change batch (mostly updates, so the target stays nearly
  flat) through a ``write_mode="merge"`` pipeline run;
- land one new file and run one ``ingest_mode="stream"`` Auto Loader
  tick over the source directory;
- run a read query on the registered table.
"""

from __future__ import annotations

import json
import os
import random
import time
from collections import defaultdict

REGIONS = ("AMER", "APAC", "EMEA", "LATAM", "MEA")
BOOT_ROWS = 60_000
BOOT_FILES = 4
BATCH_ROWS = 1_500  # rows per change batch
INSERT_SHARE = 0.1  # the rest of a batch updates existing keys
TICK_ROWS = 300  # events per landed file

READ_SQL = (
    "SELECT region, COUNT(*) AS n, SUM(amount) AS amount, SUM(version) AS version "
    "FROM bench.cdc_orders GROUP BY region"
)


class ChangeModel:
    """Seeded generator of the CDC input files and the state they imply."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.state: dict[int, tuple[str, int, int]] = {}  # id -> region, amount, version
        self.next_id = 0
        self.next_event = 0
        self.events: list[int] = []  # event ids landed so far

    def _order(self, key: int, region: str, version: int) -> dict:
        amount = self.rng.randrange(1, 1_000_000)
        self.state[key] = (region, amount, version)
        return {
            "id": key,
            "region": region,
            "amount": amount,
            "version": version,
            "note": f"order {key} v{version} {self.rng.getrandbits(64):016x}",
        }

    def _new_order(self) -> dict:
        key = self.next_id
        self.next_id += 1
        return self._order(key, self.rng.choice(REGIONS), 1)

    @staticmethod
    def _write(path: str, rows: list[dict]) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in rows)

    def bootstrap(self, src_dir: str) -> None:
        per_file = BOOT_ROWS // BOOT_FILES
        for f in range(BOOT_FILES):
            rows = [self._new_order() for _ in range(per_file)]
            self._write(os.path.join(src_dir, f"part-{f:02d}.json"), rows)

    def change_batch(self, batch_dir: str) -> int:
        """Write one batch; returns its row count (all keys distinct)."""
        inserts = int(BATCH_ROWS * INSERT_SHARE)
        keys = self.rng.sample(range(self.next_id), BATCH_ROWS - inserts)
        rows = [
            self._order(k, self.state[k][0], self.state[k][2] + 1) for k in keys
        ]
        rows += [self._new_order() for _ in range(inserts)]
        self._write(os.path.join(batch_dir, "batch.json"), rows)
        return len(rows)

    def land_events(self, stream_dir: str, tick: int) -> int:
        rows = []
        for _ in range(TICK_ROWS):
            eid = self.next_event
            self.next_event += 1
            self.events.append(eid)
            rows.append(
                {
                    "event_id": eid,
                    "id": self.rng.randrange(self.next_id),
                    "kind": self.rng.choice(("view", "cart", "purchase")),
                    "amount": self.rng.randrange(1, 10_000),
                }
            )
        self._write(os.path.join(stream_dir, f"events-{tick:05d}.json"), rows)
        return len(rows)

    def region_totals(self) -> dict[str, tuple[int, int, int]]:
        out = {r: [0, 0, 0] for r in REGIONS}
        for region, amount, version in self.state.values():
            acc = out[region]
            acc[0] += 1
            acc[1] += amount
            acc[2] += version
        return {r: tuple(v) for r, v in out.items() if v[0]}


def _dir_files(path: str) -> dict[str, tuple[int, int, int]]:
    """relative path -> (size, inode, mtime) of every file under path."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            out[os.path.relpath(full, path)] = (st.st_size, st.st_ino, st.st_mtime_ns)
    return out


def run(ctx) -> None:
    from python_tool_setup_spark.config import IngestionConfig
    from python_tool_setup_spark.ingestion import make_ingestion

    spark, out = ctx.spark, ctx.outcome
    base = os.path.join(ctx.work, "cdc")
    boot_dir = os.path.join(base, "landing", "bootstrap")
    orders_dir = os.path.join(base, "lake", "cdc_orders")
    stream_dir = os.path.join(base, "landing", "events")
    events_dir = os.path.join(base, "lake", "cdc_events")
    out.op_names = ["merge", "tick", "read"]
    model = ChangeModel(ctx.seed)
    model.bootstrap(boot_dir)
    table = dict(database="bench", table="cdc_orders", target_path=orders_dir)
    boot_cfg = IngestionConfig(
        source_path=boot_dir,
        source_format="json",
        infer_schema=True,
        write_mode="overwrite",
        partition_by=["region"],
        table_comment="orders kept current from a change feed",
        table_properties={"workload": "lakehouse_cdc", "layer": "silver"},
        optimize_after_write=True,
        **table,
    )
    tick_cfg = IngestionConfig(
        source_path=stream_dir,
        source_format="json",
        ingest_mode="stream",
        write_mode="append",
        checkpoint_path=os.path.join(base, "checkpoints", "cdc_events"),
        database="bench",
        table="cdc_events",
        target_path=events_dir,
    )
    state = {"cycle": 0}

    def check_read(rows) -> str | None:
        got = {r["region"]: (r["n"], r["amount"], r["version"]) for r in rows}
        want = model.region_totals()
        return None if got == want else f"region totals {got} != {want}"

    def op(name: str, fn, acc: dict, check=None) -> float:
        ctx.tracer.op = f"c{state['cycle']}:{name}"
        j0 = ctx.stats.next_job_id() if ctx.tracer.enabled else 0
        t0 = time.perf_counter()
        err, result = None, None
        try:
            with ctx.tracer.span(f"ops.{name}"):
                result = fn()
        except Exception as exc:  # noqa: BLE001 - a failed op is a sample
            err = f"{type(exc).__name__}: {exc}"
        dt = time.perf_counter() - t0
        if ctx.tracer.enabled:
            acc["ingestion_jobs"] += ctx.stats.next_job_id() - j0
        if err is None and check is not None:
            err = check(result)
        out.attempt(f"{ctx.tracer.op}", err)
        return dt

    ctx.tracer.enabled = ctx.trace
    out.load_s = op("load", make_ingestion(spark, boot_cfg).run, defaultdict(float))
    ctx.tracer.enabled = False
    out.named["load_s"] = out.load_s

    def cycle(acc: dict) -> list[float]:
        state["cycle"] += 1
        batch_dir = os.path.join(base, "landing", "changes", f"c{state['cycle']:05d}")
        rows_before = len(model.state)
        changed = model.change_batch(batch_dir)
        landed = model.land_events(stream_dir, state["cycle"])
        merge_cfg = IngestionConfig(
            source_path=batch_dir,
            source_format="json",
            infer_schema=True,
            write_mode="merge",
            merge_keys=["id"],
            partition_by=["region"],
            **table,
        )
        before = _dir_files(orders_dir) if ctx.tracer.enabled else None
        times = [op("merge", make_ingestion(spark, merge_cfg).run, acc)]
        if before is not None:
            # bytes written into the target per byte of changed rows
            after = _dir_files(orders_dir)
            written = sum(v[0] for p, v in after.items() if before.get(p) != v)
            old_bytes = sum(v[0] for v in before.values())
            acc["write_amp"] = written * rows_before / (changed * old_bytes)
        times.append(op("tick", make_ingestion(spark, tick_cfg).run, acc))
        times.append(
            op("read", lambda: spark.sql(READ_SQL).collect(), acc, check_read)
        )
        acc["rows"] = changed + landed
        return times

    # The first cycle pays the merge and stream code paths' first use, so
    # it counts toward the cold pass (part of setup_s) instead of the
    # warm samples.
    out.cold_ops = cycle(defaultdict(float))
    # The target's layout after the load and one merge. Taken here, not
    # at the end, because how many cycles fit in the run depends on the
    # host's speed, and the file count changes with the cycles.
    parquet = [
        size for p, (size, _, _) in _dir_files(orders_dir).items() if p.endswith(".parquet")
    ]
    out.layout = {
        "ingestion.target_files": len(parquet),
        "ingestion.bytes_per_row": sum(parquet) / len(model.state),
    }
    ctx.measure(cycle)

    def final_check() -> str | None:
        n, distinct = spark.sql(
            "SELECT COUNT(*), COUNT(DISTINCT id) FROM bench.cdc_orders"
        ).first()
        if n != len(model.state) or distinct != n:
            return f"orders rows={n} distinct={distinct} expected {len(model.state)}"
        spark.sql("REFRESH TABLE bench.cdc_events")
        got = sorted(r[0] for r in spark.sql("SELECT event_id FROM bench.cdc_events").collect())
        if got != model.events:
            return f"stream target holds {len(got)} events, {len(model.events)} landed"
        return None

    try:
        err = final_check()
    except Exception as exc:  # noqa: BLE001
        err = f"{type(exc).__name__}: {exc}"
    out.attempt("final_state", err)
