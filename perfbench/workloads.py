"""The benchmark's workloads: one client each, closed loop.

Each workload writes its inputs from the seed (``prepare``), runs one
unit of work as its warm-up (``warmup``), runs timed units (``unit``),
checks the program's outputs outside the timed section (``check``) and,
in the traced run, times isolated calls into the layers it exercises
(``probe``).

- ``ingest_drain``: the write path. A drain of an eight-stream replay
  backlog by ``run_pipeline(..., available_now=True)`` into the parquet
  sink (sources -> operators.normalize_* -> streaming -> sinks).
  Unit = one drain into a fresh checkpoint and sink; op = one micro-batch.
- ``query_mix``: the read path. Rounds of short star-schema and events
  queries (plans / plans.tables) into the noop sink, in an order shuffled
  from the seed. Unit = one round; op = one query.

``op_s(units)`` gives the workload's typical operation time: the median
micro-batch on ``ingest_drain``; on ``query_mix``, the geometric mean over
the queries of each query's median over the rounds, so that every query
counts and no single query's rank decides the figure.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
import random
import time

import duckdb
from pyspark import StorageLevel

from liq_stream_spark import sinks, sources
from liq_stream_spark.compare import frame_repr
from liq_stream_spark.plans import REGISTRY, tables
from liq_stream_spark.streaming.pipeline import NORMALIZERS, run_pipeline
from perfbench import gen
from perfbench.stats import median
from perfbench.trace import ProgressLog

QUERY_MIX = [
    "q01_pricing_summary",
    "q02_top_revenue_orders",
    "q03_region_revenue",
    "q06_revenue_change",
    "q07_top_orders_per_customer",
    "q09_distinct_stats",
    "q13_supplier_part_stats",
    "q14_events_hourly",
    "q15_sessionization",
    "q17_asof_enrichment",
    "q18_first_event_dedup",
]
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events",
]
VENUES = ["binance", "bybit", "okx", "aster", "hyperliquid"]
PHASES = ["latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets"]

# Drain shape: every stream's backlog is BACKLOG.files_per_stream files and
# each micro-batch takes at most this many new files from each stream.
MAX_FILES_PER_TRIGGER = 1
BACKLOG = gen.BacklogShape(files_per_stream=2)
# Each set-up drains a one-batch backlog; the first drain of a JVM is the
# cold one (~20 s), later ones take ~6 s. See README (time budget).
WARM_BACKLOG = gen.BacklogShape(files_per_stream=1)
# query_mix tables: sf0.1 row counts scaled to this factor (README: the
# build/execution split at this scale, and why not sf0.1).
TABLE_SF = 0.02


def _storage(spark) -> tuple[int, float]:
    """(persistent RDDs, MB of memory plus disk of their stored blocks)."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    return jsc.getPersistentRDDs().size(), mb


def _dir_size(path: str) -> tuple[int, int]:
    files = 0
    size = 0
    for dp, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dp, n))
    return files, size


class QueryMix:
    """Rounds over registered queries of ``liq_stream_spark.plans``, each
    round in an order shuffled from the seed."""

    queries = QUERY_MIX
    tables = TABLES
    min_units = 2  # a round takes ~7.5 s; see README (time budget)

    def prepare(self, run_dir: str, seed: int) -> dict:
        self.seed = seed
        self.tdir = os.path.join(run_dir, "tables")
        shape = gen.TableShape.at(TABLE_SF)
        gen.write_tables(self.tdir, seed, shape)
        return {"table_sf": TABLE_SF, "tables": dataclasses.asdict(shape)}

    def _order(self, tag: str) -> list[str]:
        rng = random.Random(f"{self.seed}-{tag}")
        return rng.sample(self.queries, len(self.queries))

    def _run(self, spark, tracer, tag: str, collect: bool = False) -> dict:
        sc = spark.sparkContext
        ops = {}
        t_unit = time.perf_counter()
        for q in self._order(tag):
            t0 = time.perf_counter()
            with tracer.span("plans.build", sc, query=q):
                df = REGISTRY[q].build(spark, self.tdir)
            with tracer.span("plans.exec", sc, query=q):
                if collect:
                    self.results[q] = (list(df.columns),
                                       [tuple(r) for r in df.collect()])
                else:
                    df.write.format("noop").mode("overwrite").save()
            ops[q] = time.perf_counter() - t0
        unit_s = time.perf_counter() - t_unit
        out = {"unit_s": unit_s, "ops": list(ops.values()), "by_query": ops}
        if tracer.enabled:
            out["persistent_rdds"], out["storage_mb"] = _storage(spark)
        return out

    def warmup(self, spark, tracer) -> None:
        """One round whose results are collected; the last warm-up's
        results are the ones ``check`` compares."""
        self.results: dict[str, tuple] = {}
        self._run(spark, tracer, "warm", collect=True)

    def unit(self, spark, tracer, i: int) -> dict:
        return self._run(spark, tracer, str(i))

    def op_s(self, units: list[dict]) -> float:
        logs = [math.log(median(u["by_query"][q] for u in units))
                for q in self.queries]
        return math.exp(sum(logs) / len(logs))

    def check(self) -> list[str]:
        """Each query's result from the last warm-up round against its
        DuckDB oracle over the same parquet; returns the names of the
        queries whose results differ."""
        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.tdir}/{t}.parquet')"
                )
            bad = []
            for q in self.queries:
                got = self.results[q]
                res = con.execute(REGISTRY[q].oracle)
                want = ([d[0] for d in res.description], res.fetchall())
                if not results_match(got, want):
                    bad.append(q)
            return bad
        finally:
            con.close()

    def probe(self, spark, tracer) -> None:
        for t in self.tables:
            with tracer.span("plans.tables.load", spark.sparkContext, table=t):
                tables.load(spark, self.tdir, t)

    def layer_metrics(self, tracer) -> dict:
        m = {}
        for t in self.tables:
            (s,) = tracer.spans_named("plans.tables.load", table=t)
            m[f"plans.tables.load_s.{t}"] = s["end"] - s["start"]
        for q in self.queries:
            for phase in ("build", "exec"):
                spans = tracer.spans_named(f"plans.{phase}", query=q)
                m[f"plans.{phase}_s.{q}"] = median(s["end"] - s["start"] for s in spans)
                m[f"plans.{phase}_jobs.{q}"] = spans[-1]["jobs"]
        return m


def results_match(got, want) -> bool:
    """Order-insensitive equality of two ``(columns, rows)`` results under
    the package's canonical form (``liq_stream_spark.compare``)."""
    return frame_repr(*got) == frame_repr(*want)


class IngestDrain:
    min_units = 2

    def prepare(self, run_dir: str, seed: int) -> dict:
        self.run_dir = run_dir
        self.backlog = gen.write_backlog(
            os.path.join(run_dir, "backlog"), seed, BACKLOG
        )
        self.warm = gen.write_backlog(
            os.path.join(run_dir, "warm"), seed + 1, WARM_BACKLOG
        )
        self.expected = {
            k: gen.row_digest(v) for k, v in self.backlog["expected"].items()
        }
        self.rows = sum(n for n, _ in self.expected.values())
        self.sinks: list[str] = []
        self.traced_sinks: list[str] = []
        self.digests: dict[str, dict] = {}  # sink -> sink_digests, by check
        self.events: list[dict] = []  # progress events of the traced drains
        self.warmups = 0
        return {"backlog": dataclasses.asdict(BACKLOG),
                "frames": self.backlog["frames"], "rows": self.rows,
                "shares": gen.SHARES}

    def _drain(self, spark, tracer, backlog: dict, tag: str):
        sink = os.path.join(self.run_dir, "sink", tag)
        ckpt = os.path.join(self.run_dir, "ckpt", tag)
        listener = None
        if tracer.enabled:
            listener = ProgressLog()
            spark.streams.addListener(listener)
        t0 = time.perf_counter()
        with tracer.span("streaming.drain", tag=tag):
            q = run_pipeline(
                spark,
                gen.STREAMS,
                backlog["dirs"],
                sink_config=sinks.FanOutConfig(parquet_path=sink),
                checkpoint_dir=ckpt,
                available_now=True,
                max_files_per_trigger=MAX_FILES_PER_TRIGGER,
            )
            q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"drain {tag} failed: {q.exception()}")
        progress = [json.loads(p.json) for p in q.recentProgress]
        if len(progress) >= 100:
            raise RuntimeError("drain exceeds the recentProgress cap of 100")
        if listener is not None:
            listener.wait_terminated(str(q.id))
            spark.streams.removeListener(listener)
            self.events += listener.events
        return wall, progress, sink

    def warmup(self, spark, tracer) -> None:
        self.warmups += 1
        self._drain(spark, tracer, self.warm, f"warm{self.warmups}")

    def unit(self, spark, tracer, i: int) -> dict:
        wall, progress, sink = self._drain(spark, tracer, self.backlog, f"u{i}")
        self.sinks.append(sink)
        if tracer.enabled:
            self.traced_sinks.append(sink)
        ops = [p["durationMs"]["triggerExecution"] / 1000.0
               for p in progress if p["numInputRows"] > 0]
        return {"unit_s": wall, "ops": ops}

    def op_s(self, units: list[dict]) -> float:
        return median(x for u in units for x in u["ops"])

    def check(self) -> list[str]:
        """Every drain's sink against the generator's expected set: per-stream
        row count and order-insensitive checksum over (exchange, market,
        symbol, ts_exch_ms, qty, price). A re-emitted Hyperliquid fill or a
        malformed frame that reached the sink fails the check."""
        bad = []
        for sink in self.sinks:
            self.digests[sink] = sink_digests(sink)
            if self.digests[sink] != self.expected:
                bad.append(os.path.basename(sink))
        return bad

    def probe(self, spark, tracer) -> None:
        """Batch calls into each ingest layer over the drain's own files:
        sources (read + noop write), each venue's normalizer over the
        materialized frames, and the parquet sink over the materialized
        normalized union."""
        sc = spark.sparkContext
        self.frames = 0
        self.rows_out = 0
        self.hl_in = 0
        normalized = []
        for (venue, market), d in self.backlog["dirs"].items():
            if venue == "hyperliquid":
                frames = sources.read_hl_hourly(spark, d)
            else:
                frames = sources.read_jsonl_frames(spark, d)
            # the timed noop write also fills the cache the counts and the
            # normalizer read, so each layer's work runs once
            frames = frames.persist(StorageLevel.MEMORY_ONLY)
            with tracer.span("sources.read", sc, venue=venue, market=market):
                frames.write.format("noop").mode("overwrite").save()
            self.frames += frames.count()
            kw = {"dedup": False} if venue == "hyperliquid" else {}
            out = NORMALIZERS[venue](frames, market=market, **kw)
            out = out.persist(StorageLevel.MEMORY_ONLY)
            with tracer.span("normalize.call", sc, venue=venue, market=market):
                out.write.format("noop").mode("overwrite").save()
            n = out.count()
            self.rows_out += n
            if venue == "hyperliquid":
                self.hl_in = n
            normalized.append((frames, out))
        union = normalized[0][1]
        for _, o in normalized[1:]:
            union = union.unionByName(o)
        out_dir = os.path.join(self.run_dir, "probe_sink")
        with tracer.span("sinks.write_parquet", sc):
            sinks.write_parquet(union, out_dir)
        self.sink_files, self.sink_bytes = _dir_size(out_dir)
        for frames, out in normalized:
            out.unpersist()
            frames.unpersist()

    def layer_metrics(self, tracer) -> dict:
        def total(name, **match):
            return sum(s["end"] - s["start"] for s in tracer.spans_named(name, **match))

        m = {
            "sources.read_s": total("sources.read"),
            "sources.frames": self.frames,
            "normalize.rows_out": self.rows_out,
            "sinks.write_parquet_s": total("sinks.write_parquet"),
            "sinks.files": self.sink_files,
            "sinks.bytes": self.sink_bytes,
        }
        for v in VENUES:
            m[f"normalize.{v}_s"] = total("normalize.call", venue=v)
        events = [e for e in self.events if e["numInputRows"] > 0]
        for ph in PHASES:
            xs = [e["durationMs"].get(ph, 0) / 1000.0 for e in events]
            m[f"streaming.{ph}_s"] = sum(xs)
            m[f"streaming.{ph}_p50_s"] = median(xs)
        m["streaming.batches"] = len(events)
        state = events[-1]["stateOperators"]
        m["streaming.state_rows"] = sum(op["numRowsTotal"] for op in state)
        m["streaming.state_mb"] = sum(op["memoryUsedBytes"] for op in state) / 2**20
        # kept: what the traced drain's streaming dedup wrote to its sink
        hl_kept = self.digests[self.traced_sinks[-1]]["hyperliquid_usdc"][0]
        m["streaming.dedup_kept_ratio"] = hl_kept / self.hl_in
        return m


def sink_digests(sink: str) -> dict:
    """Per-stream (count, checksum) of a parquet sink written by
    ``sinks.write_parquet`` (hive-partitioned by exchange/market/date)."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT exchange, market, symbol, ts_exch_ms, qty, price FROM "
            f"read_parquet('{sink}/**/*.parquet', hive_partitioning = true)"
        ).fetchall()
    finally:
        con.close()
    by_stream: dict[str, list] = {}
    for r in rows:
        by_stream.setdefault(f"{r[0]}_{r[1]}", []).append(r)
    return {k: gen.row_digest(v) for k, v in by_stream.items()}


WORKLOADS = {"ingest_drain": IngestDrain, "query_mix": QueryMix}
