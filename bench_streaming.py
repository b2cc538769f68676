#!/usr/bin/env python
"""Streaming throughput micro-bench (BASELINE.md self-imposed target:
sustain >= the reference's implied sink ceiling, 500 rows/s/stream at
batch=500 / 1 s flush).

Replays N synthetic Binance forceOrder frames (array frames of 10 events)
through the full pipeline — file source -> normalizer -> watermark dedup ->
checkpointed parquet fan-out — and reports end-to-end rows/sec. Prints one
JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402  (repo-root module: host stamp + load poll)
from liq_stream_spark.session import get_spark  # noqa: E402
from liq_stream_spark.sinks import FanOutConfig  # noqa: E402
from liq_stream_spark.streaming.pipeline import run_pipeline  # noqa: E402

N_EVENTS = int(os.environ.get("STREAM_BENCH_EVENTS", "100000"))
EVENTS_PER_FRAME = 10
FRAMES_PER_FILE = 500

# The streaming bench has no per-query references, so its in-window
# evidence is a fixed single-thread spin timed right after each pass.
# Every quiet close through r12 read it at 106-110 ms on the bench host;
# the inflated r9/r11 captures read 118.5 and 120.3.
_QUIET_CALIB_REF_MS = 108.0
_QUIET_CALIB_BAND = 1.08


def _calib_spin_ms() -> float:
    """Fixed single-thread integer loop (min-of-3) — a Spark-independent
    probe of effective CPU speed comparable across artifacts on the
    same host."""

    def spin() -> float:
        t0 = time.perf_counter()
        x = 0
        for i in range(2_000_000):
            x += i * i
        return time.perf_counter() - t0

    return round(min(spin() for _ in range(3)) * 1000, 1)


def _reliable(
    load1: float | None, load5: float | None, best_calib_ms: float
) -> bool:
    """Load quiet after the shared pre-Spark poll, and the calib probe
    adjacent to the BEST pass — the one the headline value comes from —
    inside the quiet band (a probe after another pass cannot vouch for
    the best one, and loadavg cannot either: the passes inflate it)."""
    return (
        bench._load_quiet(load1, load5)
        and best_calib_ms <= _QUIET_CALIB_BAND * _QUIET_CALIB_REF_MS
    )


def gen_frames(root: str) -> int:
    os.makedirs(root, exist_ok=True)
    n = 0
    fidx = 0
    while n < N_EVENTS:
        lines = []
        for _ in range(FRAMES_PER_FILE):
            events = []
            for _ in range(EVENTS_PER_FRAME):
                ts = 1710000000000 + n
                events.append(
                    {
                        "e": "forceOrder",
                        "E": ts,
                        "o": {
                            "s": f"SYM{n % 200}USDT",
                            "S": "SELL" if n % 2 else "BUY",
                            "q": "1.5",
                            "p": f"{100 + (n % 1000)}.25",
                            "ap": f"{100 + (n % 1000)}.50",
                            "l": "1.5",
                            "z": "1.5",
                            "T": ts,
                        },
                    }
                )
                n += 1
            lines.append(json.dumps(events, separators=(",", ":")))
            if n >= N_EVENTS:
                break
        with open(os.path.join(root, f"frames_{fidx:05d}.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n")
        fidx += 1
    return n


def main() -> None:
    # same epoch stamping + load poll as the headline bench: a 6-8k
    # reading on a decaying epoch is unreadable against the quiet band
    host = bench._polled_host()
    work = tempfile.mkdtemp(prefix="liq_stream_bench_")
    src = os.path.join(work, "binance")
    total = gen_frames(src)

    spark = get_spark(
        app_name="liq_stream_spark_stream_bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # best-of-N passes (default 3), same source files, fresh
    # checkpoint/output per pass — the headline bench's min-of-N
    # discipline applied here too: BENCH_NOISE.md measured single
    # streaming runs swinging 6.3-9.0k rows/s with epoch decay, so one
    # pass cannot pin the band. Pass 1 also carries the Python worker
    # pool spin-up.
    runs = max(1, int(os.environ.get("STREAM_BENCH_RUNS", "3")))
    passes = []
    calibs = []
    rows_per_pass = []
    for i in range(runs):
        out = os.path.join(work, f"out{i}")
        ckpt = os.path.join(work, f"ckpt{i}")
        t0 = time.perf_counter()
        q = run_pipeline(
            spark,
            [("binance", "usdt")],
            {"binance": src},
            sink_config=FanOutConfig(parquet_path=out),
            checkpoint_dir=ckpt,
            trigger_seconds=1.0,
            union_dedup_watermark="10 minutes",
        )
        q.processAllAvailable()
        q.stop()
        elapsed = time.perf_counter() - t0
        written = spark.read.parquet(out).count()
        rows_per_pass.append(written)
        passes.append(round(written / elapsed, 1))
        # per-pass calib: evidence from each pass's own window
        calibs.append(_calib_spin_ms())
    host["calib_spin_ms_per_pass"] = calibs
    best = passes.index(max(passes))
    unreliable = not _reliable(host["load1"], host["load5"], calibs[best])
    print(
        json.dumps(
            {
                "metric": "streaming_rows_per_sec",
                "value": max(passes),
                "unit": "rows/sec",
                "basis": f"best-of-{runs}",
                "passes": passes,
                # rows from the BEST pass — the one the headline value
                # comes from (ADVICE r12: pairing the best pass's rate
                # with the LAST pass's count would hide a divergence);
                # the per-pass list makes any divergence visible
                "rows": rows_per_pass[best],
                "rows_per_pass": rows_per_pass,
                "generated": total,
                "host": host,
                "unreliable": unreliable,
            }
        )
    )
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
