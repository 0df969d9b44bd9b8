"""The benchmark workloads, driven through the public Application API.

Each workload generates its inputs from the seed, builds its DAG on a
fresh storage root, runs untimed warm-up operations, and then serves
timed operations one at a time (one closed-loop client: the next
operation starts when the previous one returned).  Correctness is
checked after the timed region, against DuckDB.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any, Optional

import duckdb
import pyarrow.parquet as pq

import gen
import oracle


@dataclass
class OpRecord:
    phase: str
    wall_s: float = 0.0
    #: output latencies: seconds from the operation's start until each
    #: output partition it produced was written
    samples: list = field(default_factory=list)
    #: (node id, execution seconds) for each node execution
    node_s: list = field(default_factory=list)
    rows: int = 0
    error: Optional[str] = None
    check: Any = None


class Completions:
    """``on_success`` hook target: completion time of every node
    execution, so an operation's outputs can be timed from its start."""

    def __init__(self) -> None:
        self.marks: list[tuple[str, float]] = []

    def hooks(self) -> dict:
        return {"on_success": lambda node, values, path: self.marks.append((node.id, time.perf_counter()))}

    def since(self, t0: float) -> tuple[list[float], list[tuple[str, float]]]:
        """(output latencies from ``t0``, per-node execution times), for
        the marks recorded after ``t0``; clears the marks."""
        marks = [(n, t) for n, t in self.marks if t >= t0]
        self.marks.clear()
        latencies = [t - t0 for _, t in marks]
        prev = [t0] + [t for _, t in marks]
        return latencies, [(n, t - p) for (n, t), p in zip(marks, prev)]


def _day_dim():
    from rheoceros_spark import Dimension, DimensionType

    return Dimension("day", DimensionType.DATETIME, {"format": "%Y-%m-%d"})


class EventCascade:
    """Events land per (region, day) partition and go through
    ``Application.process`` into a 3-node DAG: a per-partition aggregate,
    a 7-day ``range_check`` rollup of that aggregate, and a per-partition
    user table.  About 10% of partitions arrive 1-3 days late, so rollups
    wait as pending nodes until their window completes."""

    name = "event_cascade"
    #: days whose aggregates exist before the timed window (seeded state),
    #: so every timed event sees full 7-day windows
    HISTORY = 6
    DAYS = HISTORY + 60
    #: the first event pays the session's cold start
    WARMUP_OPS = 4
    #: p80: the highest percentile with at least ten samples beyond it at
    #: 20 s (~17 events, ~50 outputs)
    TAIL_Q = 0.8
    #: patch ids (see tracing.Tracer.install) this workload must exercise
    BOUNDARIES = [
        "application.process", "application.node_run",
        "routing.RoutingTable.receive", "routing.Route.receive", "routing.RuntimeLinkNode.is_ready",
        "routing.get_route_metrics", "routing.get_active_routes",
        "dims.Signal.materialize", "dims.SignalLinkNode.propagate",
        "dims.DimensionFilter.finalize", "dims.materialize_paths",
        "application.load_signal", "io.partition_exists", "application.write_dataset",
        "routing.partition_ready", "compute.SparkSQL.run",
    ]

    def __init__(self, data_dir: str, seed: int):
        self.events_root = os.path.join(data_dir, "events")
        self.props = gen.write_events(self.events_root, seed, self.DAYS)
        self.schedule, late = gen.delivery_schedule(seed, self.HISTORY, self.DAYS)
        self.props["late_share"] = late
        self.history = self._history_tables()
        self.pos = 0
        self.records: list[OpRecord] = []
        self.pending_max = 0
        self.route_counts = [0, 0]  # events offered, triggers (traced operations)
        self.done = Completions()

    def _history_tables(self) -> dict:
        con = duckdb.connect()
        try:
            out = {}
            for region in gen.REGION_ROWS:
                for d in range(self.HISTORY):
                    files = oracle.event_partition_files(self.events_root, region, [gen.day_str(d)])
                    out[(region, d)] = con.execute(
                        "SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
                        "CAST(count(DISTINCT user_id) AS BIGINT) AS users, "
                        "CAST(sum(amount) AS BIGINT) AS amount FROM read_parquet(?) GROUP BY event_type",
                        [files],
                    ).fetch_arrow_table()
            return out
        finally:
            con.close()

    def setup_round(self, spark, root: str) -> None:
        from rheoceros_spark import Application, Dimension, DimensionType, ParquetDataset, SparkSQL
        from rheoceros_spark.sources.datasets import IntegrityProtocol

        app = Application(self.name, storage_root=root, spark=spark)
        ev = app.marshal_external_data(
            ParquetDataset(
                self.events_root + "/{}/{}",
                Dimension("region", DimensionType.STRING),
                _day_dim(),
                integrity=IntegrityProtocol.SUCCESS_FILE,
            ),
            id="events",
        )
        hooks = self.done.hooks()
        agg = app.create_data(id="daily_agg", inputs=[ev], compute_targets=SparkSQL(oracle.AGG_SQL), **hooks)
        roll = app.create_data(
            id="rollup_7d",
            inputs=[agg["*"][:-7].range_check(True)],
            compute_targets=SparkSQL(oracle.ROLLUP_SQL),
            **hooks,
        )
        users = app.create_data(id="user_stats", inputs=[ev], compute_targets=SparkSQL(oracle.USER_SQL), **hooks)
        app.activate()
        # seeded state: the aggregates of the days before the timed window
        for (region, d), table in self.history.items():
            path = app.materialize(agg[region][gen.day_str(d)])[0]
            os.makedirs(path, exist_ok=True)
            pq.write_table(table, os.path.join(path, "part-00000.parquet"))
            open(os.path.join(path, "_SUCCESS"), "w").close()
        self.app, self.ev, self.agg, self.roll, self.users = app, ev, agg, roll, users
        self.delivered = {(r, d) for r in gen.REGION_ROWS for d in range(self.HISTORY)}

    def warmup(self) -> None:
        for _ in range(self.WARMUP_OPS):
            if not self.prepare_op():
                raise RuntimeError("event schedule too short for the warm-up")
            rec = self.run_op("warmup")
            if rec.error:
                raise RuntimeError(f"warm-up event failed: {rec.error}")

    def prepare_op(self) -> bool:
        return self.pos < len(self.schedule)

    def run_op(self, phase: str) -> OpRecord:
        region, d = self.schedule[self.pos]
        self.pos += 1
        rec = OpRecord(phase, rows=gen.REGION_ROWS[region], check=(region, d))
        t0 = time.perf_counter()
        try:
            outputs = self.app.process(self.ev[region][gen.day_str(d)])
            rec.check = (region, d, outputs)
        except Exception as e:  # a failed operation is counted, not fatal
            rec.error = f"{type(e).__name__}: {e}"
        rec.wall_s = time.perf_counter() - t0
        rec.samples, rec.node_s = self.done.since(t0)
        self.records.append(rec)
        return rec

    def observe(self, after: bool) -> None:
        """Traced operations only: read the routing counters before and
        after the operation, and the pending nodes after it."""
        metrics = self.app.get_route_metrics().values()
        counts = (sum(m["events"] for m in metrics), sum(m["triggers"] for m in metrics))
        if not after:
            self._counts0 = counts
            return
        self.route_counts = [a + b - c for a, b, c in zip(self.route_counts, counts, self._counts0)]
        pending = sum(r["pending_nodes"] for r in self.app.get_active_routes())
        self.pending_max = max(self.pending_max, pending)

    def route_stats(self) -> dict:
        events, triggers = self.route_counts
        return {"events": events, "triggers": triggers, "pending_nodes_max": self.pending_max}

    def check(self) -> None:
        """Mark each operation's record with ``error`` when its outputs
        differ from DuckDB on the raw events: the per-partition aggregate
        and user table, and exactly the rollups whose 7-day window this
        event completed, with their contents."""
        con = duckdb.connect()
        try:
            for rec in self.records:
                region, d = rec.check[0], rec.check[1]
                self.delivered.add((region, d))
                if rec.error:
                    continue
                rec.error = self._check_event(con, region, d, set(rec.check[2]))
        finally:
            con.close()

    def _check_event(self, con, region: str, d: int, outputs: set) -> Optional[str]:
        day = gen.day_str(d)
        files = oracle.event_partition_files(self.events_root, region, [day])
        agg_path = self.app.materialize(self.agg[region][day])[0]
        users_path = self.app.materialize(self.users[region][day])[0]
        due = [
            e for e in range(d, min(d + 7, self.DAYS))
            if all((region, x) in self.delivered for x in range(e - 6, e + 1))
        ]
        roll_paths = {e: self.app.materialize(self.roll[region][gen.day_str(e)])[0] for e in due}
        want = {agg_path, users_path, *roll_paths.values()}
        if outputs != want:
            return f"outputs {sorted(outputs)} != expected {sorted(want)}"
        if oracle.read_rows(con, agg_path, "event_type, n, users, amount") != oracle.expected_agg(con, files):
            return f"daily_agg {region}/{day} differs"
        if oracle.read_rows(con, users_path, "user_id, n, amount") != oracle.expected_users(con, files):
            return f"user_stats {region}/{day} differs"
        for e, path in roll_paths.items():
            days = [oracle.event_partition_files(self.events_root, region, [gen.day_str(x)]) for x in range(e - 6, e + 1)]
            if oracle.read_rows(con, path, "event_type, n, amount, days") != oracle.expected_rollup(con, days):
                return f"rollup_7d {region}/{gen.day_str(e)} differs"
        return None


# ---------------------------------------------------------------------------
# curation backfill
# ---------------------------------------------------------------------------
SNAPSHOTS = 2
MIX_BUDGET = 200_000
CHUNK_TOKENS = 32
N_SHARDS = 8
PACK_BUDGET = 256


def _survivors(inputs, ctx):
    from rheoceros_spark.operators import curation

    return curation.funnel_survivors(inputs["docs"])


def _near_pairs(inputs, ctx):
    from rheoceros_spark.operators import dedup

    return dedup.minhash_lsh_pairs(inputs["survivors"], threshold=0.5)


def _keep_list(inputs, ctx):
    from rheoceros_spark.operators import curation

    return curation.dedup_keep_list(inputs["survivors"], inputs["near_pairs"])


def _bpe(inputs, ctx):
    from pyspark.sql import functions as F

    from rheoceros_spark.operators import text_analysis

    keep = inputs["keep_list"].where(~F.col("is_dup")).select("doc_id")
    clean = inputs["survivors"].join(keep, "doc_id")
    return text_analysis.bpe_encode(clean).select("doc_id", "source", "bpe_tokens", "n_bpe_tokens")


def _mix(inputs, ctx):
    from rheoceros_spark.operators import curation

    bpe = inputs["bpe"]
    sel = curation.budget_mix_select(bpe, token_budget=MIX_BUDGET, alpha=0.5, token_col="n_bpe_tokens", seed=0)
    return bpe.join(sel.select("doc_id"), "doc_id").select("doc_id", "bpe_tokens")


def _chunks(inputs, ctx):
    from pyspark.sql import functions as F

    from rheoceros_spark.operators import text_analysis

    ch = text_analysis.chunk_documents(inputs["mix"], chunk_tokens=CHUNK_TOKENS, overlap=0, tokens_col="bpe_tokens")
    key = F.concat(F.col("doc_id").cast("string"), F.lit("#"), F.col("chunk_id").cast("string"))
    return ch.withColumn("chunk_key", key)


def _shards(inputs, ctx):
    from rheoceros_spark.operators import curation

    return curation.shuffle_shards(inputs["chunks"], id_col="chunk_key", n_shards=N_SHARDS, seed=7)


def _packed(inputs, ctx):
    from rheoceros_spark.operators import curation

    packed = curation.pack_sequences(
        inputs["shards"], budget=PACK_BUDGET, token_col="n_chunk_tokens", order_col="sort_key", id_col="chunk_key"
    )
    return packed.select(*[c.strip() for c in oracle.MANIFEST_COLS.split(",")])


class CurationBackfill:
    """One ``execute(packed[last snapshot], recursive=True)`` per
    operation, on a fresh storage root: the funnel per snapshot, then
    MinHash pairs and the keep list over the two-snapshot range, then BPE,
    budget mix, chunking, sharding and packing."""

    name = "curation_backfill"
    DOCS_PER_SNAPSHOT = 450
    WARMUP_DOCS_PER_SNAPSHOT = 40
    #: the first warm-up backfill pays the session's cold start; the
    #: second lets the JIT catch up on the plans the first compiled
    WARMUP_BACKFILLS = 2
    #: p60: the highest percentile with at least ten samples beyond it at
    #: 20 s (three backfills, 27 outputs)
    TAIL_Q = 0.6
    BOUNDARIES = [
        "application.execute", "application.node_run",
        "dims.Signal.materialize", "dims.SignalLinkNode.propagate",
        "dims.DimensionFilter.finalize", "dims.materialize_paths",
        "application.load_signal", "application.partition_ready", "io.partition_exists",
        "application.write_dataset", "compute.Spark.run",
    ] + [f"operators.{n}" for n in (
        "funnel_survivors", "minhash_lsh_pairs", "dedup_keep_list", "bpe_encode",
        "budget_mix_select", "chunk_documents", "shuffle_shards", "pack_sequences",
    )]

    def __init__(self, data_dir: str, seed: int):
        self.docs_root = os.path.join(data_dir, "docs")
        self.warm_root = os.path.join(data_dir, "docs_warmup")
        self.props = gen.write_documents(self.docs_root, seed, SNAPSHOTS, self.DOCS_PER_SNAPSHOT)
        gen.write_documents(self.warm_root, seed + 1000, SNAPSHOTS, self.WARMUP_DOCS_PER_SNAPSHOT)
        self.records: list[OpRecord] = []
        self.n_ops = 0
        self.done = Completions()

    def _build(self, spark, docs_root: str, root: str):
        from rheoceros_spark import Application, ParquetDataset, Spark
        from rheoceros_spark.sources.datasets import IntegrityProtocol

        app = Application(self.name, storage_root=root, spark=spark)
        hooks = self.done.hooks()
        docs = app.marshal_external_data(
            ParquetDataset(docs_root + "/{}", _day_dim(), integrity=IntegrityProtocol.SUCCESS_FILE), id="docs"
        )
        surv = app.create_data(id="survivors", inputs=[docs], compute_targets=Spark(_survivors), **hooks)
        ranged = surv[:-SNAPSHOTS].range_check(True)
        pairs = app.create_data(id="near_pairs", inputs=[ranged], compute_targets=Spark(_near_pairs), **hooks)
        keep = app.create_data(id="keep_list", inputs=[ranged, pairs], compute_targets=Spark(_keep_list), **hooks)
        bpe = app.create_data(id="bpe", inputs=[ranged, keep], compute_targets=Spark(_bpe), **hooks)
        mix = app.create_data(id="mix", inputs=[bpe], compute_targets=Spark(_mix), **hooks)
        chunks = app.create_data(id="chunks", inputs=[mix], compute_targets=Spark(_chunks), **hooks)
        shards = app.create_data(id="shards", inputs=[chunks], compute_targets=Spark(_shards), **hooks)
        packed = app.create_data(id="packed", inputs=[shards], compute_targets=Spark(_packed), **hooks)
        app.activate()
        return app, packed

    def setup_round(self, spark, root: str) -> None:
        self.spark = spark
        self.root = root
        self.app, self.packed = self._build(spark, self.docs_root, root)

    def warmup(self) -> None:
        for i in range(self.WARMUP_BACKFILLS):
            app, packed = self._build(self.spark, self.warm_root, f"{self.root}-warmup{i}")
            app.execute(packed[gen.day_str(SNAPSHOTS - 1)], recursive=True)

    def prepare_op(self) -> bool:
        """Untimed: a fresh Application on a fresh storage root."""
        self.n_ops += 1
        self.app, self.packed = self._build(self.spark, self.docs_root, f"{self.root}-op{self.n_ops}")
        return True

    def run_op(self, phase: str) -> OpRecord:
        rec = OpRecord(phase, rows=self.props["rows"])
        t0 = time.perf_counter()
        try:
            rec.check = self.app.execute(self.packed[gen.day_str(SNAPSHOTS - 1)], recursive=True)
        except Exception as e:  # a failed operation is counted, not fatal
            rec.error = f"{type(e).__name__}: {e}"
        rec.wall_s = time.perf_counter() - t0
        rec.samples, rec.node_s = self.done.since(t0)
        self.records.append(rec)
        return rec

    def observe(self, after: bool) -> None:
        pass

    def route_stats(self) -> dict:
        return {}

    def check(self) -> None:
        """Row count and order-insensitive hash of each packed manifest
        against the DuckDB pipeline on the same documents."""
        want = oracle.expected_manifest(
            self.docs_root, budget=MIX_BUDGET, chunk_tokens=CHUNK_TOKENS, n_shards=N_SHARDS, pack_budget=PACK_BUDGET
        )
        self.props["manifest_rows"] = want[0]
        for rec in self.records:
            if rec.error:
                continue
            got = oracle.actual_manifest(rec.check)
            if got != want:
                rec.error = f"manifest {got} != expected {want}"


WORKLOADS = {w.name: w for w in (EventCascade, CurationBackfill)}
