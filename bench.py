#!/usr/bin/env python
"""Headline benchmark: runs the representative query set at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q01_...": sec, ...}, "sf": 0.1}

Each query executes its FULL plan via the noop sink (count() would let
Catalyst prune the plan to a row count).

Per-query JIT/codegen warm-up dominates single runs (~0.5-2 s each), so the
reported per-query figure and the headline total are STEADY-STATE: each
query runs ``BENCH_RUNS`` times (default 3 — r5 measured a +/-35%
per-query band at min-of-2 on IDENTICAL code, so per-query deltas were
ungradeable; VERDICT r5 item 6) and the minimum is kept. The first-run
(cold) timings ride along under "cold_queries"/"cold_total_sec" for the
cold-start story; set BENCH_RUNS=1 to benchmark cold only.

The heavyweight non-headline operators d14/s09 (VERDICT r5 item 6) and
the round-6 bespoke-plan rewrites q36/q45/q47/q50/d05 (VERDICT r6 item
2: exactly the queries with hand-built distributed plans need a tracked
regression surface) join the multi-run set under "extra_queries_min" at
min-of-N like the headline. d16 (exact PPJoin Jaccard verifier, ~85 s a
run — 8x the next-slowest query) is DEMOTED to on-demand (VERDICT r6
item 4b): it is the documented exact-verify floor for the ~11 s
approximate d14 chain, not a per-round regression surface, and two runs
of it cost more wall-clock than the entire rest of the bench; set
BENCH_D16=1 to include it (min-of-2). d14 — the fast path users actually
run — is benched in its place. The remaining extras stay single-run
informative figures.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from liq_stream_spark import pins  # noqa: E402
from liq_stream_spark.plans import REGISTRY  # noqa: E402
from liq_stream_spark.session import get_spark  # noqa: E402

HEADLINE = [
    # relational core
    "q01_pricing_summary",
    "q02_top_revenue_orders",
    "q03_region_revenue",
    "q06_revenue_change",
    "q07_top_orders_per_customer",
    "q09_distinct_stats",
    "q13_supplier_part_stats",
    # event-stream analytics
    "q14_events_hourly",
    "q15_sessionization",
    "q17_asof_enrichment",
    "q18_first_event_dedup",
    # LLM-pipeline operators
    "t01_doc_stats",
    "t04_simhash",
    "d02_minhash_signatures",
    "d03_minhash_lsh_pairs",
    "s01_cosine_topk",
]


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


def _host_conditions() -> dict:
    """Stamp the machine epoch into the artifact (VERDICT r8 item 5):
    BENCH_NOISE.md measured that host-epoch drift (load, thermal/clock
    state) moves whole totals 35-60% on identical code, so a bench JSON
    without its capture conditions cannot be read across rounds without
    verify-notes archaeology. Captured BEFORE the Spark session starts
    (the bench itself loads all cores). ``calib_spin_ms`` is a fixed
    single-thread integer loop (min-of-3) — a Spark-independent probe
    of effective CPU speed comparable across artifacts on the same
    host; ``epoch_check`` applies the BENCH_NOISE quiet-machine rule
    directly so the verdict rides with the number it qualifies."""
    from datetime import datetime, timezone

    try:
        load1, load5, load15 = os.getloadavg()
    except (AttributeError, OSError):  # platform without load averages
        load1 = load5 = load15 = None
    try:
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
    except OSError:  # non-Linux
        uptime = None
    quiet = load1 is not None and load1 < 0.5 and load5 < 0.5
    return {
        "ts_utc": datetime.now(timezone.utc).isoformat(timespec="seconds"),
        "load1": None if load1 is None else round(load1, 2),
        "load5": None if load5 is None else round(load5, 2),
        "load15": None if load15 is None else round(load15, 2),
        "uptime_sec": None if uptime is None else round(uptime),
        "cpus": os.cpu_count(),
        "calib_spin_ms": _calib_spin_ms(),
        "epoch_check": (
            "quiet (load1 & load5 < 0.5; BENCH_NOISE.md band applies)"
            if quiet
            else "load averages unavailable on this platform — judge "
            "the epoch by the calib_spin_ms probe"
            if load1 is None
            else (
                f"LOADED (load1 = {load1:.2f}, load5 = {load5:.2f}; "
                "quiet needs both < 0.5) — numbers unreliable per "
                "BENCH_NOISE.md; re-run on a quiet machine before "
                "recording regressions"
            )
        ),
    }


# measured quiet-epoch calibration spin on this host (BENCH_NOISE.md /
# verify notes: ~106-110 ms across r7-r11 quiet closes); a capture whose
# calib drifts past ~8% of this is a degraded epoch even when load1
# already reads quiet — the r10 close observed exactly that (load1 0.21
# "quiet" right after a 25-min suite, absurd per-query outliers, calib
# 125-139 ms), and the r11 artifact of record shipped at calib 120.3 ms
# (1.114x) INSIDE the old 1.15x band while reading 22.15 s against a
# genuinely-quiet 13.26 s (VERDICT r11 item 1: every genuinely quiet
# close reads 106-110 ms — the band must exclude 120). Override per
# host with BENCH_CALIB_QUIET_MS.
_QUIET_CALIB_REF_MS = 108.0
_QUIET_CALIB_BAND = 1.08
# quiet-epoch warm-min of the sentinel query (q01, min-of-3 after
# warm-up) on this host, expressed AT THE CANONICAL CLOCK (calib spin =
# _QUIET_CALIB_REF_MS): the r13 compute-spread change made q01 ~35%
# faster (1.19-1.41 s across the r7-r12 quiet closes on the old plan;
# the r13 quiet close read 0.879/0.713 s pre/post at calib 95.3 —
# ~1.0 s once scaled to the 108 ms canonical clock). The expected value
# is scaled by the measured clock factor (:func:`_clock_factor`) before
# gating, so a legitimately slower-but-quiet epoch (calib up to the
# 1.08x calib band) is not false-flagged. Unlike the calib spin this
# measures the actual thing — Spark executing a headline plan — so it
# arbitrates epochs the load/calib probes mis-read in either direction.
# Override per host with BENCH_SENTINEL_QUIET_S.
#
# Band history (VERDICT r12 item 1a): the original 1.25x band admitted
# the settling gap between the quiet evidence and the genuinely
# inflated captures — the r12 artifact's sentinel read 1.648 s (old
# plan; quiet evidence then topped at 1.41), squeaked under the 1.25x
# cut, and stamped `unreliable: false` on a 32.7 s warm total 2.7x the
# same-code quiet close. 1.08x matches the calib band's philosophy.
_SENTINEL_QUERY = "q01_pricing_summary"
_QUIET_SENTINEL_REF_S = 1.0
_SENTINEL_BAND = 1.08


def _clock_factor(calib_ms: float | None, calib_ref: float) -> float:
    """Expected-time scale for the sentinel/per-query references, which
    are expressed at the canonical clock (calib spin == ``calib_ref``).
    A quiet epoch whose single-thread spin runs slower than canonical
    (e.g. the 106-110 ms r7-r12 closes vs the 87-95 ms r13 close —
    thermal/steal drift moves this host's effective clock ~25% between
    rounds on IDENTICAL code) legitimately reads proportionally slower
    per query; scale the reference up by the measured ratio so the
    contamination checks compare against what THIS epoch's quiet
    actually looks like. Clamped to [1.0, _QUIET_CALIB_BAND]: never
    tighten below the canonical reference on fast clocks (single-thread
    spin and 32-core Spark throughput do not correlate perfectly —
    an unclamped fast-clock scale would false-flag), and never loosen
    past the calib quiet band (a calib beyond it already fails the
    pre-gate; scaling refs to a degraded clock would exonerate it)."""
    if not calib_ms:
        return 1.0
    return min(_QUIET_CALIB_BAND, max(1.0, calib_ms / calib_ref))

# Per-query quiet warm-min-of-3 references at sf0.1 (VERDICT r12 item
# 3): the r12 artifact's contamination arrived MID-run — q03 8.5 s vs
# quiet ~1.5-2.1, t04 4.6 vs ~1.3, d02 2.8 vs ~0.75 — while q01 itself
# stayed clean, so a q01-only probe (even run twice) cannot flag a
# co-tenant burst that lands between its two readings. These per-query
# references turn the judge's manual arbitration into a machine check:
# any query whose warm-min reads > _QUERY_CONTAM_BAND x its reference
# (scaled by :func:`_clock_factor`) is self-reported in
# `contaminated_queries`, and the artifact carries `epoch_factor` =
# median of (measured / scaled reference) over every referenced query
# — ~1.0 on a quiet epoch, the systematic inflation factor on a
# degraded one. Values are expressed AT THE CANONICAL CLOCK (calib ==
# _QUIET_CALIB_REF_MS). Refreshed at the r13 quiet close (10.312 s
# total, calib 95.3 in-window — readings scaled by 108/95.3): queries
# the r13 optimization round made faster carry the new close's scaled
# reading; unchanged queries keep max(previous ref, scaled r13 close)
# so one fast epoch cannot silently tighten a band. Refresh at each
# quiet round close; 1.5x sits well past the measured <=18% min-of-3
# noise spread (BENCH_NOISE.md conclusion 2). d14's reference is the
# r13 interleaved loop A/B floor (front ~1.9 + loop ~3.9) plus the
# fresh-session overhead its bench basis carries — its ~30-job
# iterative chain integrates co-tenant micro-bursts that single-join
# plans dodge, so its quiet spread is the table's widest.
_QUERY_CONTAM_BAND = 1.5
_QUIET_QUERY_REF_S = {
    "q01_pricing_summary": 0.88,
    "q02_top_revenue_orders": 0.89,
    "q03_region_revenue": 1.17,
    "q06_revenue_change": 0.39,
    "q07_top_orders_per_customer": 0.50,
    # q09's plan changed AFTER the r13 close (multi-distinct Expand ->
    # three single-distinct aggs crossJoined); the 1.14 old-plan ref
    # would leave the new ~0.4 s shape's contamination check blind.
    # 0.45 is the interleaved A/B min measured on a DEGRADED epoch
    # (calib ~140 — i.e. a conservative ceiling for quiet); tighten at
    # the next quiet close per the refresh convention above.
    "q09_distinct_stats": 0.45,
    "q13_supplier_part_stats": 0.84,
    "q14_events_hourly": 0.57,
    "q15_sessionization": 1.30,
    "q17_asof_enrichment": 0.61,
    "q18_first_event_dedup": 0.55,
    "t01_doc_stats": 0.42,
    "t04_simhash": 0.80,
    "d02_minhash_signatures": 0.52,
    "d03_minhash_lsh_pairs": 1.38,
    "s01_cosine_topk": 0.68,
    # tracked extras (min-of-N basis, same as headline)
    # d14's plan changed in r14 (CC loop: delta propagation + gated
    # broadcasts — the r13-ref 6.00 shape no longer exists): the r14
    # close pair read 4.831 / 3.992 min-of-3 on clock-1.08 epochs
    # (scaled ~4.5 / ~3.7); 4.60 = the interleaved A/B floor
    # (front ~1.9 + loop ~2.0) plus the fresh-session overhead its
    # ~20-job chain integrates — still the table's widest spread.
    "d14_verified_dedup_clusters": 4.60,
    "s09_ivf_topk_pruned": 1.48,
    "q36_spend_deciles": 1.06,
    "q45_twap": 0.80,
    "q47_anomaly_zscore": 1.05,
    "q50_ewma": 0.96,
    "d05_simhash_near_pairs": 0.90,
}


def _epoch_is_quiet(host: dict, ref: float) -> bool:
    """VERDICT r11 item 1 (third iteration of the gate): quiet means
    load1 AND load5 below 0.5 — load1 alone stamps "quiet" on a
    still-settling host (the repo's own r10/r11 failure mode) — AND the
    single-thread calib spin within 8% of the stored quiet reference
    (every genuinely quiet close reads 106-110 ms; the two inflated
    artifacts read 118.5 and 120.3 ms, both inside the old 15% band)."""
    if host.get("load1") is None:  # unprobeable platform: calib only
        return host["calib_spin_ms"] <= _QUIET_CALIB_BAND * ref
    return (
        host["load1"] < 0.5
        and host["load5"] < 0.5
        and host["calib_spin_ms"] <= _QUIET_CALIB_BAND * ref
    )


# Gate v5 (VERDICT r13 item 2): the epoch_factor ceiling below which
# per-query evidence may exonerate a pre-gate that failed ONLY on the
# calib clock band. The r13 artifact of record self-flagged at calib
# 119.2/128.3 (zero load, both sentinels quiet, epoch_factor 0.76,
# zero contaminated queries, best total ever recorded) — the
# single-thread spin drifts ~15-25% between quiet epochs
# (BENCH_NOISE.md Addendum 3) and does not track 32-core Spark
# throughput, so when every query-level probe reads quiet the calib
# band alone must not flag the artifact.
_EPOCH_FACTOR_QUIET_MAX = 1.1


def _artifact_unreliable(
    gate_quiet: bool,
    sent_pre_s: float,
    sent_post_s: float,
    calib_mid_ms: float,
    sent_ref: float = _QUIET_SENTINEL_REF_S,
    calib_ref: float = _QUIET_CALIB_REF_MS,
    clock: float = 1.0,
    load_quiet: bool = False,
    epoch_factor: float | None = None,
    n_contaminated: int | None = None,
) -> bool:
    """Gate v5's reliability verdict (VERDICT r12 item 1 + r13 item 2;
    ADVICE r12 bench.py:380). The sentinel must read quiet BOTH before
    and after the headline loop — the r12 contamination arrived
    mid-run, invisible to a pre-loop-only probe. A pre-gate-degraded
    epoch is exonerated by EITHER (v4) the in-window calib probe
    reading inside the quiet band, OR (v5, new) the full per-query
    evidence reading quiet: pre-gate load rule passed (the pre-gate
    failed only on the calib clock band), both sentinels quiet,
    ``epoch_factor`` (median measured/quiet-ref ratio over every
    referenced query) at most :data:`_EPOCH_FACTOR_QUIET_MAX`, and
    ZERO contaminated queries — i.e. Spark itself, executing all the
    measured plans, testifies the epoch is quiet even though the
    single-thread spin drifted. A quiet pre-gate epoch is still
    flagged if either sentinel reads degraded (the OS probes mis-stamp
    settling hosts). ``clock`` scales the canonical-clock sentinel
    reference to this epoch's measured clock (:func:`_clock_factor`)."""
    cut = _SENTINEL_BAND * sent_ref * clock
    sents_ok = sent_pre_s <= cut and sent_post_s <= cut
    if gate_quiet:
        return not sents_ok
    if sents_ok and calib_mid_ms <= _QUIET_CALIB_BAND * calib_ref:
        return False
    if (
        sents_ok
        and load_quiet
        and epoch_factor is not None
        and epoch_factor <= _EPOCH_FACTOR_QUIET_MAX
        and n_contaminated == 0
    ):
        return False
    return True


def _quiet_gated_host() -> tuple[dict, bool]:
    """VERDICT r9 item 5 + r10 item 4 + r11 item 1: the artifact of
    record should not need judge re-runs. Backoff-polls (15 s
    doubling-ish toward 60 s) until the epoch is GENUINELY quiet per
    :func:`_epoch_is_quiet` or the budget expires
    (BENCH_QUIET_BUDGET_SEC; default 900 s — load5 needs ~8 min to
    decay below 0.5 after a long suite, which is exactly the epoch the
    load1-only gate mis-stamped). The give-up arm keeps the
    machine-first top-level unreliable=True flag so a flagged artifact
    still says so itself."""
    ref = float(
        os.environ.get("BENCH_CALIB_QUIET_MS", str(_QUIET_CALIB_REF_MS))
    )
    budget = float(os.environ.get("BENCH_QUIET_BUDGET_SEC", "900"))

    host = _host_conditions()
    t0 = time.monotonic()
    wait = float(os.environ.get("BENCH_QUIET_WAIT_SEC", "15"))
    while (
        not _epoch_is_quiet(host, ref)
        and time.monotonic() - t0 + wait <= budget
    ):
        print(
            f"bench: epoch not quiet (load1={host['load1']}, "
            f"load5={host['load5']}, calib={host['calib_spin_ms']}ms "
            f"vs quiet ref {ref}ms); retrying in {wait:.0f}s "
            f"(budget {budget:.0f}s)",
            file=sys.stderr,
        )
        time.sleep(wait)
        wait = min(wait * 1.7, 60.0)
        host = _host_conditions()
    host["quiet_gate"] = {
        "calib_ref_ms": ref,
        "calib_band": f"<= {_QUIET_CALIB_BAND}x ref",
        "load_rule": "load1 < 0.5 AND load5 < 0.5",
        "waited_sec": round(time.monotonic() - t0, 1),
        "verdict": (
            "quiet"
            if _epoch_is_quiet(host, ref)
            else "gave up still degraded"
        ),
    }
    return host, not _epoch_is_quiet(host, ref)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    host, unreliable = _quiet_gated_host()
    spark = get_spark(
        app_name="liq_stream_spark_bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    # warm-up: file listing, parquet footer reads, scan codegen
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    # ...and the Python/Arrow worker pool (daemon startup + Arrow codec
    # import otherwise lands inside the first pandas_udf query's timing)
    from pyspark.sql import functions as F

    from liq_stream_spark.operators.similarity import cosine_fast

    (
        spark.range(1000)
        .select(F.array(F.rand(), F.rand()).alias("a"))
        .select(cosine_fast("a", "a"))
        .write.mode("overwrite")
        .format("noop")
        .save()
    )

    runs = max(1, int(os.environ.get("BENCH_RUNS", "3")))
    # multi-run extras (min-of-N like the headline): the heavy operators
    # plus the bespoke-plan rewrites whose regressions a headline-only
    # bench would miss (VERDICT r6 item 2). BENCH_EXTRA_RUNS overrides
    # for every multi-run extra; 0/unset keeps the per-query defaults
    extra_override = int(os.environ.get("BENCH_EXTRA_RUNS", "0"))
    extra_multi = {
        "d14_verified_dedup_clusters": extra_override or runs,
        "s09_ivf_topk_pruned": extra_override or runs,
        "q36_spend_deciles": extra_override or runs,
        "q45_twap": extra_override or runs,
        "q47_anomaly_zscore": extra_override or runs,
        "q50_ewma": extra_override or runs,
        "d05_simhash_near_pairs": extra_override or runs,
    }
    # on-demand: d16's exact-Jaccard verify floor, ~85 s/run (module doc)
    if os.environ.get("BENCH_D16"):
        extra_multi["d16_jaccard_prefix_filter"] = extra_override or min(
            2, runs
        )
    # informative single-run timings for operators added after the
    # headline set froze — NOT part of the headline total, so
    # cross-round totals stay comparable
    extra_single = [
        "t12_winnowing_fingerprints",
        "q43_lateral_topn",
        "q44_gap_fill",
        "t13_lm_perplexity",
        "t14_quality_classifier",
        "g01_pagerank",
    ]

    def run_query(name: str) -> float:
        t0 = time.perf_counter()
        with pins.scope():
            REGISTRY[name].build(spark, sf_dir).write.mode(
                "overwrite"
            ).format("noop").save()
        return time.perf_counter() - t0

    # BENCH_NOISE=N: measurement mode for the per-query noise band
    # (VERDICT r7 item 5) — run every headline + tracked-extra query N
    # times on UNCHANGED code and emit the full per-run sample lists, so
    # the warm-run spread can be bounded once and cited (BENCH_NOISE.md)
    # instead of folklore-calibrated per round. Not part of the driver
    # contract: the normal single-JSON-line output is unchanged when the
    # env var is unset.
    noise = int(os.environ.get("BENCH_NOISE", "0"))
    if noise:
        samples = {
            name: [round(run_query(name), 3) for _ in range(noise)]
            for name in HEADLINE + list(extra_multi)
        }
        print(
            json.dumps(
                {
                    "metric": "noise_band_samples",
                    "runs": noise,
                    "sf": sf,
                    "host": host,
                    "unreliable": unreliable,
                    "samples": samples,
                }
            )
        )
        spark.stop()
        return

    # Sentinel arbitration (VERDICT r11 item 1): the load/calib gate
    # runs BEFORE Spark starts and can still mis-read a settling host
    # in either direction. Before measuring anything of record, time
    # one headline plan (q01, warm min-of-3 — the same basis as the
    # headline figures) against its stored quiet reference; a sentinel
    # past the band backoff-polls within its own budget, and a give-up
    # flags the whole artifact unreliable. The sentinel runs double as
    # q01's extra warm-up, which min-of-N already absorbs.
    sent_ref = float(
        os.environ.get(
            "BENCH_SENTINEL_QUIET_S", str(_QUIET_SENTINEL_REF_S)
        )
    )
    # the epoch's clock factor: references are canonical-clock values;
    # a quiet-but-slower clock (calib inside the 1.08x band) reads
    # proportionally slower everywhere, so scale expectations once here
    calib_ref = float(
        os.environ.get("BENCH_CALIB_QUIET_MS", str(_QUIET_CALIB_REF_MS))
    )
    clock = _clock_factor(host.get("calib_spin_ms"), calib_ref)
    sent_cut = _SENTINEL_BAND * sent_ref * clock
    sent_budget = float(os.environ.get("BENCH_SENTINEL_BUDGET_SEC", "300"))
    # the stored reference was measured at sf0.1 — at other SFs the
    # sentinel value is recorded but never gates (a smaller SF passes
    # trivially, a larger one would false-flag every run)
    gating = abs(sf - 0.1) < 1e-9 or "BENCH_SENTINEL_QUIET_S" in os.environ
    t_sent = time.monotonic()
    # the sentinel's FIRST run is the session's first execution of q01
    # — i.e. its true cold figure; capture it here so the headline
    # loop's warmed-over run 1 doesn't replace it (the sentinel must
    # not silently improve cold_total_sec across rounds)
    sent_first = run_query(_SENTINEL_QUERY)
    sentinel_cold = round(sent_first, 3)
    sent = min(sent_first, *(run_query(_SENTINEL_QUERY) for _ in range(2)))
    while (
        gating
        and sent > sent_cut
        and time.monotonic() - t_sent + 30 <= sent_budget
    ):
        print(
            f"bench: sentinel {_SENTINEL_QUERY} read {sent:.3f}s vs "
            f"quiet ref {sent_ref}s (band {_SENTINEL_BAND}x, clock "
            f"{clock:.3f}) — epoch degraded in a way the load/calib "
            f"gate missed; retrying in 30s (budget {sent_budget:.0f}s)",
            file=sys.stderr,
        )
        time.sleep(30)
        sent = min(run_query(_SENTINEL_QUERY) for _ in range(3))
    sent_quiet = (not gating) or sent <= sent_cut
    # the in-window calib probe (ADVICE r12): evidence from INSIDE the
    # measurement window, required alongside the sentinel to exonerate
    # a pre-gate-degraded epoch — one quiet query cannot vouch for how
    # contention hits the other fifteen plans
    calib_mid = _calib_spin_ms()
    host["calib_spin_ms_in_window"] = calib_mid
    host["sentinel"] = {
        "query": _SENTINEL_QUERY,
        "warm_min_sec": round(sent, 3),
        "quiet_ref_sec": sent_ref,
        "band": f"<= {_SENTINEL_BAND}x ref",
        "clock_factor": round(clock, 3),
        "waited_sec": round(time.monotonic() - t_sent, 1),
        "verdict": (
            "quiet"
            if sent_quiet and gating
            else "recorded only (ref is sf0.1)"
            if not gating
            else "gave up still degraded"
        ),
    }
    gate_quiet = not unreliable

    # the sentinel query's cold slot is pre-filled with its genuinely
    # cold first run (above); setdefault keeps it
    cold: dict[str, float] = {_SENTINEL_QUERY: sentinel_cold}
    steady: dict[str, float] = {}
    for name in HEADLINE:
        best = float("inf")
        for i in range(runs):
            dt = run_query(name)
            if i == 0:
                cold.setdefault(name, round(dt, 3))
            best = min(best, dt)
        steady[name] = round(best, 3)

    extra_min: dict[str, float] = {}
    for name, n_runs in extra_multi.items():
        if name not in REGISTRY:
            continue
        extra_min[name] = round(
            min(run_query(name) for _ in range(n_runs)), 3
        )
    # each single-run extra is timed once (the figure published since
    # r5/r6 — kept unchanged under its existing key), then ONCE more:
    # the min of the two rides along as a warm figure. The r13 close
    # showed the single-run basis integrates fresh-plan/codegen
    # overhead the min-of-N tables never carry (t13 4.1 s single vs
    # ~2.1 warm; g01 6.9 vs ~2.4) — cross-round comparisons need a
    # same-basis warm figure for these too. MEASUREMENT ADDITION ONLY:
    # no key removed or renamed; documented in OPTIMIZATION_r13.md.
    extra: dict[str, float] = {}
    extra_warm2: dict[str, float] = {}
    for name in extra_single:
        if name not in REGISTRY:
            continue
        first = round(run_query(name), 3)
        extra[name] = first
        extra_warm2[name] = min(first, round(run_query(name), 3))

    # post-loop sentinel (VERDICT r12 item 1b): the r12 contamination
    # arrived MID-run — q03 tripled while the pre-loop sentinel read
    # clean. Re-time the sentinel after the last measured query; gate
    # v4 requires BOTH readings quiet or the artifact self-flags. No
    # backoff-poll here: the measurements are already taken, waiting
    # cannot un-contaminate them.
    sent_post = min(run_query(_SENTINEL_QUERY) for _ in range(3))
    sent_post_quiet = (not gating) or sent_post <= sent_cut
    host["sentinel_post"] = {
        "query": _SENTINEL_QUERY,
        "warm_min_sec": round(sent_post, 3),
        "quiet_ref_sec": sent_ref,
        "band": f"<= {_SENTINEL_BAND}x ref",
        "verdict": (
            "quiet"
            if sent_post_quiet and gating
            else "recorded only (ref is sf0.1)"
            if not gating
            else "degraded (mid-run contamination)"
        ),
    }
    # informational post-run probe: a calib re-read after the last
    # query bounds whether the epoch degraded MID-run (not gating —
    # the bench's own 32-core load can leave this a few ms warm)
    host["calib_spin_ms_post"] = _calib_spin_ms()

    # per-query contamination self-report (VERDICT r12 item 3): ratio
    # every measured warm-min against its recorded quiet reference;
    # epoch_factor is the median ratio (~1.0 quiet, the systematic
    # inflation factor on a degraded epoch), contaminated_queries the
    # localized bursts the sentinels can miss. >= 3 flagged queries is
    # a systemic mid-run burst and flags the whole artifact. Computed
    # BEFORE the reliability verdict since gate v5 (VERDICT r13 item
    # 2) feeds the per-query evidence into the exoneration decision.
    # the references are sf0.1 warm-min-of-N figures: at another SF, or
    # on the cold single-run basis, the ratios compare different things
    # (a cold run at sf0.001 is pure plan/codegen overhead and reads 3x
    # a warm sf0.1 figure) — compute the self-report only on the basis
    # the references were measured on
    measured = {**steady, **extra_min}
    if gating and runs >= 2:
        ratios = {
            name: round(measured[name] / (ref * clock), 2)
            for name, ref in _QUIET_QUERY_REF_S.items()
            if name in measured
        }
    else:
        ratios = {}
    contaminated = sorted(
        n for n, r in ratios.items() if r > _QUERY_CONTAM_BAND
    )
    epoch_factor = (
        round(sorted(ratios.values())[len(ratios) // 2], 2)
        if ratios
        else None
    )

    if gating:
        unreliable = _artifact_unreliable(
            gate_quiet,
            sent,
            sent_post,
            calib_mid,
            sent_ref,
            clock=clock,
            # pre-gate LOAD verdict only (the v5 arm exists exactly for
            # epochs whose pre-gate failed on the calib clock band
            # while the machine was otherwise idle)
            load_quiet=(
                host.get("load1") is not None
                and host["load1"] < 0.5
                and host["load5"] < 0.5
            ),
            epoch_factor=epoch_factor,
            n_contaminated=len(contaminated),
        )
    else:
        unreliable = unreliable or not (sent_quiet and sent_post_quiet)
    if len(contaminated) >= 3:
        unreliable = True

    total = round(sum(steady.values()), 3)
    basis = "cold-single-run" if runs == 1 else f"warm-min-of-{runs}"
    # Two output lines (VERDICT r12 item 2): the r12 artifact of record
    # shipped unparseable because the single verbose JSON line outgrew
    # the driver's 2000-char tail capture. The DETAIL line (everything:
    # cold series, single-run extras, full host block) prints first;
    # the compact LINE OF RECORD prints LAST and is kept under ~1900
    # chars so the capture window always contains a parseable record.
    detail = {
        "metric": "headline_queries_detail",
        "value": total,
        "unit": "sec",
        "basis": basis,
        "queries": steady,
        "sf": sf,
        "runs_per_query": runs,
        "cold_total_sec": round(sum(cold.values()), 3),
        "cold_queries": cold,
        # min-of-N for the heavy extras (d16 min-of-2, see module
        # doc); single-run figures below carry no precision claim
        "extra_queries_min": extra_min,
        "extra_queries_single_run": extra,
        # warm min-of-2 companions for the single-run tier (r13):
        # same queries, one extra pass each — the cross-round
        # comparison basis that excludes fresh-plan overhead
        "extra_queries_warm_min2": extra_warm2,
        "query_ref_ratios": ratios,
        "epoch_factor": epoch_factor,
        "contaminated_queries": contaminated,
        # capture conditions (VERDICT r8 item 5): the epoch this
        # artifact was measured in, so cross-round reads don't
        # need out-of-band archaeology.
        "host": host,
        "unreliable": unreliable,
    }
    print(json.dumps(detail))
    record = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        # comparison basis for cross-round ratios: r1 was single cold
        # runs; r2+ report warm min-of-N with the cold series riding
        # along on the detail line
        "basis": basis,
        "queries": steady,
        "sf": sf,
        "runs_per_query": runs,
        "cold_total_sec": round(sum(cold.values()), 3),
        "extra_queries_min": extra_min,
        # epoch self-report: median measured/quiet-ref ratio plus the
        # queries past the 1.5x contamination band (empty when quiet)
        "epoch_factor": epoch_factor,
        "contaminated_queries": contaminated,
        "host": {
            "load1": host.get("load1"),
            "load5": host.get("load5"),
            "calib_spin_ms": host.get("calib_spin_ms"),
            "calib_spin_ms_in_window": calib_mid,
            "calib_spin_ms_post": host.get("calib_spin_ms_post"),
            "gate": host["quiet_gate"]["verdict"],
            "sentinel_warm_s": round(sent, 3),
            "sentinel_post_warm_s": round(sent_post, 3),
        },
        # machine-first verdict (VERDICT r9 item 5, gate v4): True means
        # the epoch failed the pre-gate + double-sentinel + in-window
        # calib discipline and the numbers must not be compared across
        # rounds.
        "unreliable": unreliable,
    }
    line = json.dumps(record)
    if len(line) > 1900:  # never let the record outgrow the capture
        record.pop("extra_queries_min", None)
        line = json.dumps(record)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
