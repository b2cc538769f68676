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

Both output lines carry the capture conditions and a machine-first
``unreliable`` verdict (:func:`_reliable`): only a warm run at sf0.1 on
a quiet host whose sentinel and per-query readings all sit inside
their quiet references is stamped reliable.
"""

from __future__ import annotations

import json
import os
import re
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


def _parse_sf(sf_dir: str) -> float | None:
    """Scale factor from an ``sfN`` directory name (``/data/sf0.1`` ->
    0.1); None for any other name (``scale10``, ``foo-sf0.1``), which
    the artifact records as ``"sf": null`` and treats as off-reference."""
    m = re.fullmatch(r"sf(\d*\.?\d+)", os.path.basename(sf_dir.rstrip("/")))
    return float(m.group(1)) if m else None


def _host_conditions() -> dict:
    """Stamp the machine epoch into the artifact: BENCH_NOISE.md
    measured that host-epoch drift moves whole totals 35-60% on
    identical code, so a bench JSON without its capture conditions
    cannot be read across rounds. Captured BEFORE the Spark session
    starts (the bench itself loads all cores)."""
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
    return {
        "ts_utc": datetime.now(timezone.utc).isoformat(timespec="seconds"),
        "load1": None if load1 is None else round(load1, 2),
        "load5": None if load5 is None else round(load5, 2),
        "load15": None if load15 is None else round(load15, 2),
        "uptime_sec": None if uptime is None else round(uptime),
        "cpus": os.cpu_count(),
    }


# Reliability references. All of them were measured on the 32-core
# bench host at sf0.1 on the warm min-of-N basis, so at any other sf,
# or at BENCH_RUNS=1, none applies and the artifact is always stamped
# `unreliable: true` (see :func:`_reliable`).
#
# Sentinel: q01 warm min-of-3, timed once before the headline loop and
# once after the last measured query (the r12 contamination arrived
# mid-run while the first reading stayed clean). 1.0 s sits above the
# r13 quiet close's 0.879 pre / 0.713 post on the current plan; the
# inflated captures read 1.6-2.4 s. A degraded first reading
# backoff-polls for _SENTINEL_BUDGET_S before the loop starts.
_SENTINEL_QUERY = "q01_pricing_summary"
_QUIET_SENTINEL_REF_S = 1.0
_SENTINEL_BAND = 1.08
_SENTINEL_BUDGET_S = 300.0
# load5 needs ~8 min to decay below 0.5 after a long test suite, which
# is exactly the epoch a load1-only check mis-stamps as quiet
_QUIET_BUDGET_S = 900.0

# Per-query quiet warm-min-of-3 references at sf0.1: the r12 artifact's
# contamination hit q03 (8.5 s vs quiet ~1.5-2.1), t04 and d02 while
# q01 itself stayed clean, so a q01-only probe cannot flag a co-tenant
# burst that lands between its two readings. Any query whose warm-min
# reads > _QUERY_CONTAM_BAND x its reference is self-reported in
# `contaminated_queries`, and the artifact carries `epoch_factor` =
# median of (measured / reference) over every referenced query — ~1.0
# on a quiet epoch, the systematic inflation factor on a degraded one.
# Refreshed at the r13 quiet close (10.312 s total): queries the r13
# round made faster carry that close's reading x1.13 (its single-thread
# clock ran 13% fast); unchanged queries keep max(previous ref, r13
# close) so one fast epoch cannot silently tighten a band. Refresh at
# each quiet round close; 1.5x sits well past the measured <=18%
# min-of-3 noise spread (BENCH_NOISE.md conclusion 2). d14's ~20-job
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
    # (i.e. a conservative ceiling for quiet); tighten at the next
    # quiet close per the refresh convention above.
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
    # broadcasts): 4.60 = the interleaved A/B floor (front ~1.9 + loop
    # ~2.0) plus the fresh-session overhead of its job chain; the r14
    # close pair read 4.831 / 3.992 min-of-3.
    "d14_verified_dedup_clusters": 4.60,
    "s09_ivf_topk_pruned": 1.48,
    "q36_spend_deciles": 1.06,
    "q45_twap": 0.80,
    "q47_anomaly_zscore": 1.05,
    "q50_ewma": 0.96,
    "d05_simhash_near_pairs": 0.90,
}
# median measured/reference ceiling: the reliable captures since r13
# read 0.66-0.88
_EPOCH_FACTOR_QUIET_MAX = 1.1


def _load_quiet(load1: float | None, load5: float | None) -> bool:
    """load1 AND load5 below 0.5: load1 alone reads quiet on a host
    still settling after heavy work (the r10/r11 artifacts)."""
    return load1 is not None and load1 < 0.5 and load5 < 0.5


def _self_report(
    measured: dict[str, float],
) -> tuple[dict, float | None, list]:
    """Per-query ratios against :data:`_QUIET_QUERY_REF_S`, their
    median (``epoch_factor``; None when no referenced query was
    measured) and the queries past :data:`_QUERY_CONTAM_BAND`."""
    ratios = {
        name: round(measured[name] / ref, 2)
        for name, ref in _QUIET_QUERY_REF_S.items()
        if name in measured
    }
    epoch_factor = (
        round(sorted(ratios.values())[len(ratios) // 2], 2) if ratios else None
    )
    contaminated = sorted(
        n for n, r in ratios.items() if r > _QUERY_CONTAM_BAND
    )
    return ratios, epoch_factor, contaminated


def _reliable(
    load1: float | None,
    load5: float | None,
    sent_pre_s: float | None,
    sent_post_s: float | None,
    epoch_factor: float | None,
    n_contaminated: int | None,
) -> bool:
    """The artifact's one reliability rule: the host load is quiet at
    the end of the pre-Spark poll, both q01 sentinels read inside the
    band, the median per-query ratio is at most
    :data:`_EPOCH_FACTOR_QUIET_MAX` and no query is contaminated.
    Missing evidence — no load averages, or no per-query self-report
    off the sf0.1 warm basis — is never reliable."""
    if None in (sent_pre_s, sent_post_s, epoch_factor, n_contaminated):
        return False
    cut = _SENTINEL_BAND * _QUIET_SENTINEL_REF_S
    return (
        _load_quiet(load1, load5)
        and sent_pre_s <= cut
        and sent_post_s <= cut
        and epoch_factor <= _EPOCH_FACTOR_QUIET_MAX
        and n_contaminated == 0
    )


def _polled_host(poll: bool = True) -> dict:
    """Host stamp read after a load-only backoff poll (15 s growing
    toward 60 s) that ends when :func:`_load_quiet` holds or the
    :data:`_QUIET_BUDGET_S` budget runs out. ``poll=False`` stamps the
    host once: when no reference applies, waiting cannot change the
    verdict."""
    host = _host_conditions()
    t0 = time.monotonic()
    wait = 15.0
    while (
        poll
        and host["load1"] is not None
        and not _load_quiet(host["load1"], host["load5"])
        and time.monotonic() - t0 + wait <= _QUIET_BUDGET_S
    ):
        print(
            f"bench: host not quiet (load1={host['load1']}, "
            f"load5={host['load5']}); retrying in {wait:.0f}s "
            f"(budget {_QUIET_BUDGET_S:.0f}s)",
            file=sys.stderr,
        )
        time.sleep(wait)
        wait = min(wait * 1.7, 60.0)
        host = _host_conditions()
    host["quiet_gate"] = {
        "load_rule": "load1 < 0.5 AND load5 < 0.5",
        "waited_sec": round(time.monotonic() - t0, 1),
        "verdict": (
            "quiet"
            if _load_quiet(host["load1"], host["load5"])
            else "gave up still loaded"
            if poll
            else "not polled (no reference applies)"
        ),
    }
    return host


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = _parse_sf(sf_dir)
    runs = max(1, int(os.environ.get("BENCH_RUNS", "3")))
    noise = int(os.environ.get("BENCH_NOISE", "0"))
    # the references are sf0.1 warm-min-of-N figures: at another SF, on
    # the cold single-run basis or in noise mode (no sentinels, no
    # self-report) the artifact cannot be reliable, so nothing waits
    on_ref = sf == 0.1 and runs >= 2 and not noise
    host = _polled_host(poll=on_ref)
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
    # instead of folklore-tuned per round. Not part of the driver
    # contract: the normal single-JSON-line output is unchanged when the
    # env var is unset. The samples carry no reliability verdict of
    # their own, so the artifact is stamped unreliable.
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
                    "unreliable": True,
                    "samples": samples,
                }
            )
        )
        spark.stop()
        return

    # Pre-loop sentinel: before measuring anything of record, time one
    # headline plan (q01, warm min-of-3 — the same basis as the headline
    # figures) against its stored quiet reference; a reading past the
    # band backoff-polls within its own budget, unless the host load
    # has already decided the verdict. It measures an actual headline
    # plan, so it catches epochs the load average mis-reads. The
    # sentinel runs double as q01's extra warm-up, which min-of-N
    # already absorbs.
    sent_cut = _SENTINEL_BAND * _QUIET_SENTINEL_REF_S
    retry = on_ref and _load_quiet(host["load1"], host["load5"])
    t_sent = time.monotonic()
    # the sentinel's FIRST run is the session's first execution of q01
    # — i.e. its true cold figure; capture it here so the headline
    # loop's warmed-over run 1 doesn't replace it (the sentinel must
    # not silently improve cold_total_sec across rounds)
    sent_first = run_query(_SENTINEL_QUERY)
    sentinel_cold = round(sent_first, 3)
    sent = min(sent_first, *(run_query(_SENTINEL_QUERY) for _ in range(2)))
    while (
        retry
        and sent > sent_cut
        and time.monotonic() - t_sent + 30 <= _SENTINEL_BUDGET_S
    ):
        print(
            f"bench: sentinel {_SENTINEL_QUERY} read {sent:.3f}s vs "
            f"quiet ref {_QUIET_SENTINEL_REF_S}s (band {_SENTINEL_BAND}x)"
            f" — epoch degraded in a way the load average missed; "
            f"retrying in 30s (budget {_SENTINEL_BUDGET_S:.0f}s)",
            file=sys.stderr,
        )
        time.sleep(30)
        sent = min(run_query(_SENTINEL_QUERY) for _ in range(3))

    def sentinel_block(warm: float, degraded: str) -> dict:
        return {
            "query": _SENTINEL_QUERY,
            "warm_min_sec": round(warm, 3),
            "quiet_ref_sec": _QUIET_SENTINEL_REF_S,
            "band": f"<= {_SENTINEL_BAND}x ref",
            "verdict": (
                "recorded only (no reference applies)"
                if not on_ref
                else "quiet"
                if warm <= sent_cut
                else degraded
            ),
        }

    host["sentinel"] = {
        **sentinel_block(sent, "gave up still degraded"),
        "waited_sec": round(time.monotonic() - t_sent, 1),
    }

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

    # post-loop sentinel: a burst can land mid-run while the pre-loop
    # sentinel reads clean (r12: q03 tripled). No backoff-poll here: the
    # measurements are already taken, waiting cannot un-contaminate them.
    sent_post = min(run_query(_SENTINEL_QUERY) for _ in range(3))
    host["sentinel_post"] = sentinel_block(
        sent_post, "degraded (mid-run contamination)"
    )

    # per-query contamination self-report, computed only on the basis
    # the references were measured on (a cold run at sf0.001 is pure
    # plan/codegen overhead and reads 3x a warm sf0.1 figure)
    ratios, epoch_factor, contaminated = (
        _self_report({**steady, **extra_min}) if on_ref else ({}, None, [])
    )
    unreliable = not _reliable(
        host["load1"],
        host["load5"],
        sent,
        sent_post,
        epoch_factor,
        len(contaminated),
    )

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
            "load1": host["load1"],
            "load5": host["load5"],
            "gate": host["quiet_gate"]["verdict"],
            "sentinel_warm_s": round(sent, 3),
            "sentinel_post_warm_s": round(sent_post, 3),
        },
        # machine-first verdict (:func:`_reliable`): True means the
        # numbers must not be compared across rounds.
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
