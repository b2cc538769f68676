"""The bench reliability rule (``bench._reliable``, gate v6) pinned
against every recorded capture. No Spark session involved.

One rule: load1 and load5 below 0.5 at the end of the pre-Spark poll,
both q01 sentinels inside 1.08x their quiet reference, epoch_factor at
most 1.1 and no contaminated query. Gate v5, which it replaced, also
read a single-thread calib spin and scaled every reference by it; a
reference copy of v5 below backs the property that the one rule is
never looser.

The r13-r14 captures recorded epoch_factor and contamination against
clock-scaled references (factor 1.0-1.08). Unscaled, their ratios read
up to 1.08x higher; none crosses a band (largest: close2_invocation2's
s09 at 1.48 against 1.5, epoch_factor 0.97 against 1.1).
"""

from typing import NamedTuple

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import bench
import bench_streaming


class Capture(NamedTuple):
    name: str
    load1: float | None
    load5: float | None
    sent_pre_s: float | None
    sent_post_s: float | None
    epoch_factor: float | None
    n_contaminated: int | None
    v5_reliable: bool  # the verdict gate v5 gives this evidence
    reliable: bool  # the verdict of the one rule


# None = not recorded: r9-r12 predate the post sentinel and the
# per-query self-report; r9-r11 predate the sentinel too.
HEADLINE = [
    # BENCH_r09.json (q01 warm 1.752, calib 118.5)
    Capture("r09", 2.11, 3.06, None, None, None, None, False, False),
    # BENCH_r10.json
    Capture("r10", 0.74, 2.51, None, None, None, None, False, False),
    # BENCH_r11.json (stamped reliable by the load1-only gate of its day)
    Capture("r11", 0.18, 3.08, None, None, None, None, False, False),
    # BENCH_r12.json (stamped reliable by the 1.25x sentinel band of its
    # day; q01 1.648 vs quiet 0.7-1.0)
    Capture("r12", 0.3, 0.36, 1.648, None, None, None, False, False),
    # BENCH_r13.json (stamped unreliable by gate v4 on calib 119.2 /
    # 128.3; gate v5 cleared it)
    Capture("r13", 0.01, 0.38, 0.82, 0.476, 0.76, 0, True, True),
    # BENCH_r13_c8.json
    Capture("r13_c8", 0.07, 0.23, 0.688, 0.562, 0.61, 0, True, True),
    # BENCH_r14.json
    Capture("r14", 0.0, 0.28, 0.862, 0.735, 0.74, 0, True, True),
    # BENCH_r14_c8.json
    Capture("r14_c8", 0.01, 0.13, 0.954, 0.655, 0.75, 0, True, True),
    # plans/r13/bench_close_invocation1.json (d14, q07, q09, q13)
    Capture("r13_close1", 0.15, 0.13, 1.014, 0.676, 0.85, 4, False, False),
    # plans/r13/bench_close_invocation2.json
    Capture("r13_close2", 0.04, 0.49, 0.879, 0.713, 0.66, 0, True, True),
    # plans/r13/bench_close2_invocation1.json (d14 at 1.73x; gate v5 let
    # it through on an in-window calib of 116.5 ms, 0.14 ms inside its
    # band — the one verdict the one rule tightens)
    Capture("r13_close2_1", 0.15, 0.09, 0.804, 0.757, 0.88, 1, True, False),
    # plans/r13/bench_close2_invocation2.json (s01)
    Capture("r13_close2_2", 0.02, 0.07, 0.884, 0.764, 0.9, 1, False, False),
    # plans/r13/bench_close2_invocation3.json (q36)
    Capture("r13_close2_3", 0.09, 0.07, 1.026, 0.717, 0.9, 1, False, False),
    # plans/r14/bench_close_invocation1.json
    Capture("r14_close1", 0.0, 0.0, 0.998, 0.656, 0.81, 0, True, True),
    # plans/r14/bench_close_invocation2.json
    Capture("r14_close2", 0.02, 0.04, 0.946, 0.523, 0.65, 0, True, True),
    # plans/r14/bench_open_baseline.json
    Capture("r14_open", 0.07, 0.07, 0.767, 0.5, 0.68, 0, True, True),
]


class StreamCapture(NamedTuple):
    name: str
    load1: float
    load5: float
    best_calib_ms: float  # probe adjacent to the best pass
    reliable: bool  # gate v5 and the one rule agree on every capture


STREAMING = [
    # plans/r13/bench_streaming_r13b.json (best pass 3 of 3)
    StreamCapture("r13b", 0.01, 0.03, 123.4, False),
    # plans/r13/bench_streaming_r13b2.json (best pass 3 of 3)
    StreamCapture("r13b2", 0.02, 0.05, 162.3, False),
    # plans/r13/bench_streaming_r13b3.json (best pass 3 of 3)
    StreamCapture("r13b3", 0.12, 0.41, 116.0, True),
    # plans/r14/bench_streaming_r14.json (best pass 3 of 3)
    StreamCapture("r14", 0.02, 0.07, 133.2, False),
    # plans/r14/bench_streaming_r14b.json (best pass 3 of 3)
    StreamCapture("r14b", 0.0, 0.38, 114.5, True),
]


def _verdict(c) -> bool:
    return bench._reliable(
        c.load1, c.load5, c.sent_pre_s, c.sent_post_s, c.epoch_factor,
        c.n_contaminated,
    )


@pytest.mark.parametrize("capture", HEADLINE, ids=[c.name for c in HEADLINE])
def test_headline_verdict_table(capture):
    assert _verdict(capture) == capture.reliable


def test_one_rule_tightens_exactly_one_recorded_verdict():
    changed = [c for c in HEADLINE if c.reliable != c.v5_reliable]
    assert [c.name for c in changed] == ["r13_close2_1"]
    assert changed[0].v5_reliable and not changed[0].reliable


@pytest.mark.parametrize("capture", STREAMING, ids=[c.name for c in STREAMING])
def test_streaming_verdict_table(capture):
    got = bench_streaming._reliable(
        capture.load1, capture.load5, capture.best_calib_ms
    )
    assert got == capture.reliable


def _quiet(**overrides) -> bool:
    evidence = dict(
        load1=0.05, load5=0.1, sent_pre_s=0.8, sent_post_s=0.7,
        epoch_factor=0.8, n_contaminated=0,
    )
    evidence.update(overrides)
    return bench._reliable(**evidence)


def test_genuinely_quiet_epochs_pass():
    assert _quiet()
    # every leg exactly at its band edge
    assert _quiet(
        load1=0.49, load5=0.49, sent_pre_s=1.08, sent_post_s=1.08,
        epoch_factor=1.1,
    )


def test_r11_artifact_of_record_epoch_rejected():
    """BENCH_r11.json shipped 22.151 s stamped reliable: load1 0.18 but
    load5 3.08 — a host still settling after a long suite. load5 alone
    rejects it, whatever the in-Spark evidence."""
    assert not _quiet(load1=0.18, load5=3.08)


def test_r9_and_r10_settling_epochs_rejected():
    assert not _quiet(load1=2.11, load5=3.06)  # r9 artifact, 18.116 s
    assert not _quiet(load1=0.74, load5=2.51)  # r10 artifact
    assert not _quiet(load1=0.21, load5=2.51)  # r10 close hazard


def test_unprobeable_platform_is_unreliable():
    assert not _quiet(load1=None, load5=None)


def test_off_reference_is_unreliable():
    """At sf != 0.1 or BENCH_RUNS=1 the bench computes no self-report
    (epoch_factor None): the artifact is unreliable however quiet."""
    assert not _quiet(epoch_factor=None)
    assert bench._self_report({}) == ({}, None, [])


def test_sentinel_band_separates_quiet_from_inflated_q01():
    """The stored sentinel reference and band separate the recorded
    quiet q01 warm-mins on the current plan (r13-r14 closes) from the
    inflated captures (r9 1.752, r11 2.441, r12 1.648/1.596/1.679)."""
    cut = bench._SENTINEL_BAND * bench._QUIET_SENTINEL_REF_S
    for quiet in (0.5, 0.676, 0.713, 0.805, 0.879, 0.998, 1.014, 1.026):
        assert quiet <= cut, quiet
    for inflated in (1.596, 1.648, 1.679, 1.752, 2.441):
        assert inflated > cut, inflated


def test_r12_artifact_of_record_flagged():
    """BENCH_r12.json (~32.7 s warm vs the 12.033 s same-code quiet
    close): its sentinel alone flags it even with a clean post
    sentinel and no contamination, and so does the post sentinel when
    a burst arrives after a clean first reading."""
    assert not _quiet(load1=0.3, load5=0.36, sent_pre_s=1.648)
    assert not _quiet(sent_post_s=1.648)


def test_r13_artifact_of_record_reliable():
    """BENCH_r13.json: zero load, both sentinels quiet, epoch_factor
    0.76, zero contaminated queries, then the best total recorded
    (10.848 s) — reliable with no calib probe. Drop any one leg of
    that evidence and it is flagged."""
    r13 = dict(
        load1=0.01, load5=0.38, sent_pre_s=0.82, sent_post_s=0.476,
        epoch_factor=0.76, n_contaminated=0,
    )
    assert bench._reliable(**r13)
    for leg, bad in (
        ("load5", 0.5),
        ("sent_pre_s", 1.648),
        ("sent_post_s", 1.1),
        ("epoch_factor", 1.2),
        ("n_contaminated", 1),
    ):
        assert not bench._reliable(**{**r13, leg: bad}), leg


def test_r12_midrun_bursts_trip_contamination_refs():
    """The r12 artifact's localized mid-run bursts vs the per-query
    quiet references: q03/t04/d02 read 3-5x their quiet bands while
    q18/s01 in the SAME capture were at or below r11 values — exactly
    the bimodal signature the per-query check exists to catch."""
    r12 = {
        "q03_region_revenue": 8.529,
        "t04_simhash": 4.618,
        "d02_minhash_signatures": 2.839,
        # clean-in-the-same-capture readings must NOT flag
        "q18_first_event_dedup": 0.433,
        "s01_cosine_topk": 0.783,
    }
    _, _, flagged = bench._self_report(r12)
    assert flagged == [
        "d02_minhash_signatures",
        "q03_region_revenue",
        "t04_simhash",
    ]


def test_r13_run1_residual_epoch_trips_contamination_refs():
    """The r13 round-close's FIRST invocation (the documented
    first-after-heavy-work residual mode): load quiet (0.15/0.13) and
    both sentinels passed (1.014/0.676), but d14/q09/q13 read 1.8-2.9x
    their quiet references mid-run."""
    run1 = {
        "d14_verified_dedup_clusters": 17.258,
        "q09_distinct_stats": 3.412,
        "q13_supplier_part_stats": 1.496,
        "q01_pricing_summary": 0.805,  # clean in the same capture
        "s01_cosine_topk": 1.091,
    }
    _, _, flagged = bench._self_report(run1)
    assert len(flagged) >= 3
    assert "q01_pricing_summary" not in flagged


def test_query_refs_cover_headline_and_tracked_extras():
    """Every headline query has a quiet reference (the contamination
    self-report must cover the whole headline total), and every
    reference names a real registered query."""
    from liq_stream_spark.plans import REGISTRY

    for name in bench.HEADLINE:
        assert name in bench._QUIET_QUERY_REF_S, name
    for name in bench._QUIET_QUERY_REF_S:
        assert name in REGISTRY, name


@pytest.mark.parametrize(
    "sf_dir, sf",
    [
        ("/data/sf0.1", 0.1),
        ("/data/sf0.01/", 0.01),
        ("sf10", 10.0),
        ("/data/scale10", None),
        ("/data/scale100d", None),
        ("/data/foo-sf0.1", None),
        ("/data/sf", None),
        ("/data/sf0.1.2", None),
    ],
)
def test_parse_sf(sf_dir, sf):
    assert bench._parse_sf(sf_dir) == sf


class _FakeClock:
    """Stands in for time.monotonic/time.sleep: sleeping advances it."""

    def __init__(self):
        self.now = 0.0
        self.sleeps = []

    def monotonic(self):
        return self.now

    def sleep(self, sec):
        self.sleeps.append(sec)
        self.now += sec


def _patch_host(monkeypatch, loads):
    clock = _FakeClock()
    monkeypatch.setattr(bench.time, "monotonic", clock.monotonic)
    monkeypatch.setattr(bench.time, "sleep", clock.sleep)
    readings = iter(loads)
    monkeypatch.setattr(bench.os, "getloadavg", lambda: next(readings))
    return clock


def test_poll_waits_for_quiet_load(monkeypatch):
    clock = _patch_host(
        monkeypatch, [(2.0, 2.0, 2.0), (0.4, 0.6, 1.0), (0.1, 0.3, 1.0)]
    )
    host = bench._polled_host()
    assert clock.sleeps == [15.0, 25.5]
    assert host["quiet_gate"]["verdict"] == "quiet"
    assert host["load5"] == 0.3


def test_poll_gives_up_within_budget(monkeypatch):
    clock = _patch_host(monkeypatch, iter(lambda: (3.0, 3.0, 3.0), None))
    host = bench._polled_host()
    assert sum(clock.sleeps) <= bench._QUIET_BUDGET_S
    assert sum(clock.sleeps) + 60.0 > bench._QUIET_BUDGET_S
    assert host["quiet_gate"]["verdict"] == "gave up still loaded"


def test_poll_skipped_when_no_reference_applies(monkeypatch):
    clock = _patch_host(monkeypatch, [(3.0, 3.0, 3.0)])
    host = bench._polled_host(poll=False)
    assert clock.sleeps == []
    assert host["quiet_gate"]["verdict"] == "not polled (no reference applies)"


# ---------------------------------------------------------------------
# Gate v5, copied from bench.py as it stood before the one rule: the
# reference implementation for the never-looser property below.

_V5_CALIB_REF_MS = 108.0
_V5_CALIB_BAND = 1.08
_V5_SENTINEL_REF_S = 1.0
_V5_SENTINEL_BAND = 1.08
_V5_EPOCH_FACTOR_QUIET_MAX = 1.1


def _v5_clock_factor(calib_ms, calib_ref):
    if not calib_ms:
        return 1.0
    return min(_V5_CALIB_BAND, max(1.0, calib_ms / calib_ref))


def _v5_artifact_unreliable(
    gate_quiet,
    sent_pre_s,
    sent_post_s,
    calib_mid_ms,
    sent_ref=_V5_SENTINEL_REF_S,
    calib_ref=_V5_CALIB_REF_MS,
    clock=1.0,
    load_quiet=False,
    epoch_factor=None,
    n_contaminated=None,
):
    cut = _V5_SENTINEL_BAND * sent_ref * clock
    sents_ok = sent_pre_s <= cut and sent_post_s <= cut
    if gate_quiet:
        return not sents_ok
    if sents_ok and calib_mid_ms <= _V5_CALIB_BAND * calib_ref:
        return False
    if (
        sents_ok
        and load_quiet
        and epoch_factor is not None
        and epoch_factor <= _V5_EPOCH_FACTOR_QUIET_MAX
        and n_contaminated == 0
    ):
        return False
    return True


def _v5_reliable(load1, load5, calib_pre, calib_mid, sent_pre, sent_post,
                 measured):
    """Gate v5's main() at sf0.1: pre-gate, clock-scaled self-report,
    verdict, then the >= 3 contaminated rule."""
    load_quiet = load1 is not None and load1 < 0.5 and load5 < 0.5
    calib_ok = calib_pre <= _V5_CALIB_BAND * _V5_CALIB_REF_MS
    gate_quiet = calib_ok if load1 is None else load_quiet and calib_ok
    clock = _v5_clock_factor(calib_pre, _V5_CALIB_REF_MS)
    ratios = {
        name: round(measured[name] / (ref * clock), 2)
        for name, ref in bench._QUIET_QUERY_REF_S.items()
        if name in measured
    }
    contaminated = [n for n, r in ratios.items() if r > 1.5]
    epoch_factor = (
        round(sorted(ratios.values())[len(ratios) // 2], 2) if ratios else None
    )
    unreliable = _v5_artifact_unreliable(
        gate_quiet, sent_pre, sent_post, calib_mid, clock=clock,
        load_quiet=load_quiet, epoch_factor=epoch_factor,
        n_contaminated=len(contaminated),
    )
    return not (unreliable or len(contaminated) >= 3)


_REF_NAMES = sorted(bench._QUIET_QUERY_REF_S)


def _rounded(lo, hi, ndigits):
    return st.floats(lo, hi).map(lambda x: round(x, ndigits))


@st.composite
def _measured(draw):
    """Per-query warm-mins: none (as at BENCH_RUNS=1), or any 1..23 of
    the referenced queries read at one shared epoch inflation times a
    per-query jitter, with up to three of them hit by a local burst."""
    names = draw(
        st.one_of(
            st.just([]),
            st.lists(st.sampled_from(_REF_NAMES), min_size=1, unique=True),
        )
    )
    epoch = draw(st.floats(0.5, 1.5))
    bursts = draw(st.lists(st.sampled_from(names), max_size=3) if names
                  else st.just([]))
    return {
        n: round(
            epoch
            * draw(st.floats(1.3, 3.0) if n in bursts
                   else st.floats(0.85, 1.15))
            * bench._QUIET_QUERY_REF_S[n],
            3,
        )
        for n in names
    }


@settings(max_examples=3000, deadline=None)
@given(
    load=st.one_of(
        st.just((None, None)),
        st.tuples(_rounded(0.0, 0.8, 2), _rounded(0.0, 0.8, 2)),
    ),
    calib_pre=_rounded(80.0, 180.0, 1),
    calib_mid=_rounded(80.0, 180.0, 1),
    sent_pre=_rounded(0.4, 1.3, 3),
    sent_post=_rounded(0.4, 1.3, 3),
    measured=_measured(),
)
def test_never_looser_than_gate_v5(
    load, calib_pre, calib_mid, sent_pre, sent_post, measured
):
    load1, load5 = load
    _, epoch_factor, contaminated = bench._self_report(measured)
    new = bench._reliable(
        load1, load5, sent_pre, sent_post, epoch_factor, len(contaminated)
    )
    if new:
        assert _v5_reliable(
            load1, load5, calib_pre, calib_mid, sent_pre, sent_post, measured
        )
