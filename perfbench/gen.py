"""Seeded input generators for the benchmark workloads.

Everything the program under test reads is written here from ``--seed``:
the same seed gives byte-identical files and the same expected results,
and no input is read from outside the run directory.

Two input families:

- ``write_backlog``: a replay backlog for all eight ``(venue, market)``
  streams of ``streaming.pipeline.ALL_STREAMS``, shaped like the wire
  frames in ``tests/fixtures/*.jsonl``. Symbols follow a seeded Zipf
  skew, Hyperliquid hour files carry a fixed share of re-emitted fills
  (same fill in a new line wrapper), and a fixed share of frames is
  malformed. Returns the expected sink contents per stream.
- ``write_tables``: the star schema (region .. lineitem) and the ``events``
  stream table, with the column names and types of the engine's query
  library.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from liq_stream_spark.streaming.pipeline import ALL_STREAMS

# Fixed shares of the ingest backlog, recorded in every run's output.
SHARES = {
    "hl_reemit": 0.10,  # share of Hyperliquid fills written a second time
    "malformed": 0.02,  # share of frames replaced by a truncated frame
    "symbol_zipf_s": 1.2,  # Zipf exponent of the symbol distribution
}

STREAMS = ALL_STREAMS

COINS = ["BTC", "ETH", "SOL", "XRP", "DOGE", "ADA", "AVAX", "LINK"] + [
    f"C{i:02d}" for i in range(32)
]

_BASE_TS_MS = 1_758_600_000_000  # 2025-09-23


@dataclass(frozen=True)
class BacklogShape:
    files_per_stream: int = 12
    frames_per_file: int = 40
    events_per_frame: int = 5


def _symbol(venue: str, market: str, coin: str) -> str:
    if venue == "okx":
        return f"{coin}-USDT-SWAP" if market == "usdt" else f"{coin}-USD-SWAP"
    if venue == "hyperliquid":
        return f"{coin}USDC"
    if market == "coin":
        return f"{coin}USD_PERP" if venue == "binance" else f"{coin}USD"
    return f"{coin}USDT"


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _frame(venue: str, symbol: str, events: list[tuple[int, str, str, str]]) -> str:
    """One wire frame carrying ``events`` of (ts_ms, qty, price, side)."""
    if venue in ("binance", "aster"):
        obj = [
            {
                "e": "forceOrder",
                "E": ts,
                "o": {"s": symbol, "S": side, "o": "LIMIT", "q": qty,
                      "p": px, "ap": px, "X": "FILLED", "l": qty, "z": qty,
                      "T": ts},
            }
            for ts, qty, px, side in events
        ]
    elif venue == "bybit":
        obj = {
            "topic": f"allLiquidation.{symbol}",
            "ts": events[0][0],
            "data": [
                {"T": ts, "s": symbol, "S": "Buy" if side == "BUY" else "Sell",
                 "v": qty, "p": px}
                for ts, qty, px, side in events
            ],
        }
    elif venue == "okx":
        obj = {
            "arg": {"channel": "liquidation-orders", "instType": "SWAP"},
            "data": [{
                "instType": "SWAP",
                "instId": symbol,
                "details": [
                    {"posSide": "long" if side == "SELL" else "short",
                     "side": side.lower(), "bkPx": px, "fillPx": px, "sz": qty,
                     "ts": str(ts)}
                    for ts, qty, px, side in events
                ],
            }],
        }
    else:
        raise ValueError(venue)
    return json.dumps(obj, separators=(",", ":"))


def _hl_line(block_time: int, block_number: int, local_time: str,
             fills: list[dict]) -> str:
    return json.dumps(
        {
            "local_time": local_time,
            "block_time": block_time,
            "block_number": block_number,
            "events": [[f["user"], f["fill"]] for f in fills],
        },
        separators=(",", ":"),
    )


def _local_time(ms: int) -> str:
    t = dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


def write_backlog(root: str, seed: int, shape: BacklogShape = BacklogShape()) -> dict:
    """Write the eight-stream backlog under ``root`` and return
    ``{"dirs": {(venue, market): dir}, "expected": {stream: [row, ...]},
    "frames": n}`` where a row is
    ``(exchange, market, symbol, ts_exch_ms, qty, price)``."""
    rng = np.random.default_rng([seed, 1])
    weights = _zipf_weights(len(COINS), SHARES["symbol_zipf_s"])
    dirs: dict[tuple[str, str], str] = {}
    expected: dict[str, list[tuple]] = {}
    n_frames = 0
    for si, (venue, market) in enumerate(STREAMS):
        name = f"{venue}_{market}"
        rows: list[tuple] = []
        ts = _BASE_TS_MS + si * 7
        if venue == "hyperliquid":
            base = os.path.join(root, name)
            dirs[(venue, market)] = base
            day = os.path.join(base, "20250923")
            os.makedirs(day, exist_ok=True)
            tid = seed % 1000 * 10_000_000
            block = 700_000_000
            pending: list[str] = []  # re-emitted lines for the next file
            for hour in range(shape.files_per_stream):
                lines = pending
                pending = []
                for _ in range(shape.frames_per_file):
                    ts += int(rng.integers(50, 400))
                    block += 1
                    fills, fill_rows = [], []
                    for _ in range(shape.events_per_frame):
                        tid += 1
                        coin = COINS[rng.choice(len(COINS), p=weights)]
                        user = f"0x{int(rng.integers(0, 2**40)):010x}"
                        sz = f"{rng.uniform(0.001, 50):.3f}"
                        px = f"{rng.uniform(0.5, 70000):.2f}"
                        sell = bool(rng.random() < 0.5)
                        fills.append({
                            "user": user,
                            "fill": {
                                "coin": coin, "px": px,
                                "sz": ("-" if sell else "") + sz,
                                "dir": "Close Long" if sell else "Close Short",
                                "side": "A" if sell else "B", "fee": "0.1",
                                "feeToken": "USDC", "hash": f"0xh{tid}",
                                "tid": tid,
                                "liquidation": {"liquidatedUser": user,
                                                "markPx": px,
                                                "method": "market"},
                            },
                        })
                        fill_rows.append(("hyperliquid", market, f"{coin}USDC",
                                          ts, float(sz), float(px)))
                    line = _hl_line(ts, block, _local_time(ts), fills)
                    n_frames += 1
                    if rng.random() < SHARES["malformed"]:
                        lines.append(line[: len(line) // 2])
                        continue
                    lines.append(line)
                    rows += fill_rows
                    if rng.random() < SHARES["hl_reemit"]:
                        # a node restart re-emits the fills in a new line
                        # wrapper: same block, later local_time
                        again = _hl_line(ts, block, _local_time(ts + 1500), fills)
                        (pending if rng.random() < 0.5 else lines).append(again)
                        n_frames += 1
                if hour == shape.files_per_stream - 1:
                    lines += pending
                with open(os.path.join(day, str(hour)), "w") as f:
                    f.write("\n".join(lines) + "\n")
        else:
            d = os.path.join(root, name)
            os.makedirs(d, exist_ok=True)
            dirs[(venue, market)] = d
            for fi in range(shape.files_per_stream):
                lines = []
                for _ in range(shape.frames_per_file):
                    coin = COINS[rng.choice(len(COINS), p=weights)]
                    symbol = _symbol(venue, market, coin)
                    events = []
                    for _ in range(shape.events_per_frame):
                        ts += int(rng.integers(50, 400))
                        qty = f"{rng.uniform(0.001, 50):.3f}"
                        px = f"{rng.uniform(0.5, 70000):.2f}"
                        side = "BUY" if rng.random() < 0.5 else "SELL"
                        events.append((ts, qty, px, side))
                    frame = _frame(venue, symbol, events)
                    n_frames += 1
                    if rng.random() < SHARES["malformed"]:
                        lines.append(frame[: len(frame) // 2])
                        continue
                    lines.append(frame)
                    rows += [(venue, market, symbol, t, float(q), float(p))
                             for t, q, p, _ in events]
                with open(os.path.join(d, f"frames_{fi:04d}.jsonl"), "w") as f:
                    f.write("\n".join(lines) + "\n")
        expected[name] = rows
    return {"dirs": dirs, "expected": expected, "frames": n_frames}


def row_digest(rows) -> tuple[int, int]:
    """Order-insensitive (count, checksum) of a multiset of sink rows: the
    sum of a 64-bit hash of each row, so a dropped, duplicated or altered
    row changes it."""
    total = 0
    n = 0
    for r in rows:
        h = hashlib.blake2b(repr(tuple(r)).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) % (1 << 64)
        n += 1
    return n, total


# ---------------------------------------------------------------------------
# star schema + events
# ---------------------------------------------------------------------------

_DAY_US = 86_400_000_000


def _ts_us(start: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(tdir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(tdir, f"{name}.parquet"))


@dataclass(frozen=True)
class TableShape:
    """Row counts of the star schema and the events table. The defaults
    are those of the engine's sf0.1 test tables (600k lineitems, 100k
    events); ``at(sf)`` scales every count to another scale factor."""

    orders: int = 150_000
    lines_per_order: int = 4
    customers: int = 15_000
    parts: int = 20_000
    suppliers: int = 1_000
    events: int = 100_000
    users: int = 1_500

    @classmethod
    def at(cls, sf: float) -> "TableShape":
        base = cls()
        k = sf / 0.1
        return cls(
            orders=round(base.orders * k),
            lines_per_order=base.lines_per_order,
            customers=round(base.customers * k),
            parts=round(base.parts * k),
            suppliers=round(base.suppliers * k),
            events=round(base.events * k),
            users=round(base.users * k),
        )


def write_tables(tdir: str, seed: int, shape: TableShape = TableShape()) -> None:
    rng = np.random.default_rng([seed, 2])
    os.makedirs(tdir, exist_ok=True)
    _write(tdir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(tdir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc, ns, npart, no = shape.customers, shape.suppliers, shape.parts, shape.orders
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    _write(tdir, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": segs[rng.integers(0, 5, nc)],
    })
    _write(tdir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    adj = np.array(["blue", "cold", "hot", "red", "small", "large"])
    noun = np.array(["ring", "plate", "gear", "rod", "bolt", "anvil"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    _write(tdir, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, npart)], " "),
                              noun[rng.integers(0, 6, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": types[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(tdir, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _ts_us("1995-01-01", rng.integers(0, 2404, no)),
        "o_orderpriority": prios[rng.integers(0, 5, no)],
    })
    nl = no * shape.lines_per_order
    _write(tdir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts_us("1995-01-02", rng.integers(0, 2498, nl)),
    })
    ne = shape.events
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, ne))
    base = np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(tdir, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(base + ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, shape.users, ne), pa.int64()),
        "event_type": np.array(["signup", "click", "error", "view", "purchase"])[
            rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(60.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
