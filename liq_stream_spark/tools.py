"""Repo tooling: generate QUERIES.md / PLANS.md / the COVERAGE.md green
ledger from the query registry and the driver's CORRECTNESS artifacts.

Run ``python -m liq_stream_spark.tools [plans|ledger|queries]`` after
adding or changing queries so the reference docs never drift from the
registry (the registry is the source of truth the driver executes), and
``python -m liq_stream_spark.tools drive [--sf DIR] [name ...]`` to run
registered queries against their DuckDB oracles — the local mirror of
the external correctness gate, usable per-query while iterating.
"""

from __future__ import annotations

_LEDGER_BEGIN = "<!-- BEGIN GENERATED: green-ledger -->"
_LEDGER_END = "<!-- END GENERATED: green-ledger -->"


def green_ledger(
    root: str | None = None, only: set[str] | None = None
) -> dict[str, dict]:
    """Latest driver signal per query, parsed from CORRECTNESS_r*.json:
    ``{name: {"round": N, "kind": "green" | "rows-only"}}``. "green" =
    rows+schema+hash all matched that round; "rows-only" = the query ran
    clean but had no oracle. A later rows-only run never downgrades an
    earlier green (kind upgrades only; round always advances to the
    latest signal of the recorded kind). ``only`` restricts to the named
    artifact files — the drift gate uses it to rebuild the ledger from
    exactly the artifacts a committed COVERAGE.md says it was built from,
    so a driver artifact that lands AFTER the commit doesn't read as
    content drift (tests/test_registry.py)."""
    import json
    import re
    from pathlib import Path

    base = Path(root) if root else Path(__file__).resolve().parents[1]
    ledger: dict[str, dict] = {}
    for name_ in correctness_artifacts(root):
        if only is not None and name_ not in only:
            continue
        path = base / name_
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", name_).group(1))
        try:
            data = json.loads(path.read_text())
        except (OSError, json.JSONDecodeError):  # pragma: no cover
            continue
        for name, rec in data.items():
            if not isinstance(rec, dict):
                continue
            if (
                rec.get("rows_match")
                and rec.get("schema_match")
                and rec.get("hash_match")
            ):
                kind = "green"
            elif (
                rec.get("spark_rows") is not None
                and rec.get("err") == "no_oracle"
            ):
                # only the harness's explicit no-oracle marker counts as a
                # rows-only signal; an oracled query that RAN but
                # mismatched (matches false, err null) is a FAILURE and
                # must not register as fresh verification — it would sort
                # last in the priority order exactly when it most needs
                # re-verification
                kind = "rows-only"
            else:
                continue  # errored/failed/mismatched run is not a signal
            prev = ledger.get(name)
            if prev and prev["kind"] == "green" and kind != "green":
                continue
            if prev and prev["kind"] == kind and prev["round"] >= rnd:
                continue
            ledger[name] = {"round": rnd, "kind": kind}
    return ledger


def correctness_artifacts(root: str | None = None) -> list[str]:
    """Names of the driver CORRECTNESS_r*.json artifacts present at the
    repo root, sorted by PARSED round number (lexicographic name sort
    would order r10 before r2 once rounds hit double digits — ADVICE r5).
    The generated ledger embeds this list so the drift gate can tell
    'ledger predates a new artifact' apart from ordinary content drift
    (the r4 failure mode: CORRECTNESS_r04.json landed after the last
    regeneration). green_ledger iterates this exact list, so the two can
    never disagree on which artifacts exist or their round order."""
    import re
    from pathlib import Path

    base = Path(root) if root else Path(__file__).resolve().parents[1]
    found = []
    for p in base.glob("CORRECTNESS_r*.json"):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p.name)
        if m:
            found.append((int(m.group(1)), p.name))
    return [name for _, name in sorted(found)]


def ledger_md(only: set[str] | None = None) -> str:
    """The cumulative-green ledger table: one row per registered query
    with its latest driver-green round, so a stale green (query rewritten
    after its row) is visible at a glance — entries the current round
    changed are flagged from plans.priority.CHANGED_SINCE_GREEN.
    ``only`` rebuilds the table from exactly the named artifacts (and
    lists exactly them in the Built-from line) — the in-memory form the
    drift gate compares against a committed COVERAGE.md."""
    from liq_stream_spark.plans import REGISTRY
    from liq_stream_spark.plans.priority import CHANGED_SINCE_GREEN

    ledger = green_ledger(only=only)
    changed = set(CHANGED_SINCE_GREEN)
    names = (
        correctness_artifacts()
        if only is None
        else [a for a in correctness_artifacts() if a in only]
    )
    artifacts = ", ".join(f"`{a}`" for a in names)
    lines = [
        f"Built from: {artifacts or '(no artifacts yet)'}.",
        "",
        "Generated by `python -m liq_stream_spark.tools ledger` from the "
        "driver's `CORRECTNESS_r*.json` artifacts — do not edit by hand. "
        "`latest green` is the newest round whose driver run matched "
        "rows+schema+hash (rows-only entries show their newest clean "
        "run); **STALE** marks entries changed after that row "
        "(`plans/priority.py:CHANGED_SINCE_GREEN`) — they re-verify "
        "first next round.",
        "",
        "| query | gate | latest driver signal | freshness |",
        "|---|---|---|---|",
    ]
    for name in sorted(REGISTRY):
        q = REGISTRY[name]
        gate = "oracle" if q.oracle else "rows-only"
        entry = ledger.get(name)
        if entry is None:
            signal = "never sampled"
        else:
            what = "green" if entry["kind"] == "green" else "rows ran"
            signal = f"r{entry['round']} ({what})"
        fresh = "**STALE — changed since**" if name in changed else "current"
        if entry is None:
            fresh = "pending first sample"
        lines.append(f"| `{name}` | {gate} | {signal} | {fresh} |")
    lines.append("")
    return "\n".join(lines)


def update_coverage_ledger(path) -> None:
    """Rewrite the generated green-ledger section of COVERAGE.md in
    place (between the BEGIN/END markers; appends the section if the
    markers don't exist yet)."""
    text = path.read_text()
    block = f"{_LEDGER_BEGIN}\n{ledger_md()}{_LEDGER_END}"
    if _LEDGER_BEGIN in text:
        if _LEDGER_END not in text:
            raise ValueError(
                f"{path}: found {_LEDGER_BEGIN!r} without matching "
                f"{_LEDGER_END!r} — repair the marker pair before "
                "regenerating the ledger section"
            )
        head = text.split(_LEDGER_BEGIN)[0]
        tail = text.split(_LEDGER_END, 1)[1]
        path.write_text(head + block + tail)
    else:
        path.write_text(
            text.rstrip("\n")
            + "\n\n## Cumulative driver-green ledger\n\n"
            + block
            + "\n"
        )


def queries_md() -> str:
    from liq_stream_spark.plans import REGISTRY

    lines = [
        "# Query reference",
        "",
        "Generated from `liq_stream_spark.plans.REGISTRY` by "
        "`python -m liq_stream_spark.tools` — do not edit by hand.",
        "",
        f"{len(REGISTRY)} registered; "
        f"{sum(1 for q in REGISTRY.values() if q.oracle)} DuckDB-oracled "
        "(value-hash gate), the rest rows-only with test-level gates "
        "noted in the description.",
        "",
        "| query | gate | what it does |",
        "|---|---|---|",
    ]
    for name in sorted(REGISTRY):
        q = REGISTRY[name]
        gate = "oracle" if q.oracle else "rows-only"
        doc = " ".join((q.doc or "").split())
        lines.append(f"| `{name}` | {gate} | {doc} |")
    lines.append("")
    return "\n".join(lines)


def plans_md(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Executed-plan audit for every registered query: the physical-plan
    properties that make a plan survive a 100x scale-up, extracted from
    ``queryExecution().executedPlan()`` per query. Regenerate after plan
    changes; plan-shape REGRESSIONS are additionally pinned as tests
    (tests/test_plans.py) — this artifact is the full-survey view."""
    import re

    from liq_stream_spark.plans import REGISTRY
    from liq_stream_spark.session import get_spark

    spark = get_spark(app_name="plan_audit")
    # freshness stamp (VERDICT r10 item 3): the drift gate in
    # tests/test_plans.py fails when commits touching liq_stream_spark/
    # postdate this commit — regenerate in its OWN commit right after
    # the plan-affecting code lands, so the stamp (= the parent HEAD)
    # already covers it
    import subprocess
    from pathlib import Path

    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            cwd=Path(__file__).resolve().parents[1],
        ).stdout.strip() or "unknown"
    except OSError:
        head = "unknown"
    header = [
        "# Plan audit",
        "",
        f"Generated at commit {head}.",
        "",
        "Generated by `python -m liq_stream_spark.tools plans` from the "
        "EXECUTED physical plan of every registered query at sf0.01 — "
        "do not edit by hand. Columns: shuffles (shuffle Exchange "
        "operators only — BroadcastExchange/ReusedExchange excluded), "
        "join strategies, cartesian products, whole-stage-codegen spans, "
        "and whether the parquet scan carries pushed filters. "
        "Plan-shape regressions fail CI via tests/test_plans.py; this "
        "file is the complete survey the pins sample from. NOTE: "
        "queries wrapped in AdaptiveSparkPlan (any plan with a shuffle) "
        "print codegen span ids only after execution, so their codegen "
        "column reads 0 here — shuffle-free plans show the true span "
        "count. BNLJ > 0 is always a corpus-x-broadcast-tiny-index "
        "join (centroids / single-row totals), never data x data. "
        "pyeval counts Python-evaluation nodes (ArrowEvalPython / "
        "BatchEvalPython / MapInPandas / FlatMapGroupsInPandas) in the "
        "plan — the SAME UDF pass appearing more than once means "
        "Catalyst duplicated it (an inferred filter below a Generate, "
        "or a multi-consumer subtree that should be materialized once; "
        "the r7 audit found both shapes — d18's gram pass ran 8x). A "
        "pass behind a one-time localCheckpoint scan counts 0. The "
        "entries still > 1 after the audit are all DISTINCT passes, "
        "not duplicates: different UDFs (m01's four pipeline stages) "
        "or the same UDF over different input frames (d10 signs the "
        "new batch AND the stored corpus; s06/s09 run cosine over "
        "query-x-centroid and query-x-candidates — the corpus-x-"
        "centroid assignment pass left these plans in r8, paid once at "
        "index-write time in the persistent store).",
        "",
        "| query | shuffles | BHJ | SMJ | BNLJ | cartesian | codegen | "
        "pyeval | pushed filters |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    rows = []
    for name in sorted(REGISTRY):
        q = REGISTRY[name]
        try:
            plan = (
                q.build(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as e:  # pragma: no cover - audit must not abort
            rows.append(
                f"| `{name}` | ERROR: {type(e).__name__} | | | | | | | |"
            )
            continue

        def n(marker: str) -> int:
            return len(re.findall(re.escape(marker), plan))

        # a SHUFFLE is "Exchange <partitioning>" — BroadcastExchange and
        # ReusedExchange contain the substring but move no shuffle data,
        # so a bare 'Exchange' count would overstate every broadcast plan
        shuffles = len(
            re.findall(
                r"\bExchange (hashpartitioning|rangepartitioning|"
                r"SinglePartition|RoundRobinPartitioning)",
                plan,
            )
        )

        pushed = (
            "yes"
            if re.search(r"PushedFilters: \[[^\]]", plan)
            else ("—" if "FileScan" not in plan else "none")
        )
        # whole-stage-codegen spans are the distinct *(N) stage ids in
        # the simple plan string
        codegen = len(set(re.findall(r"\*\((\d+)\)", plan)))
        pyeval = (
            n("ArrowEvalPython")
            + n("BatchEvalPython")
            + n("MapInPandas")
            + n("FlatMapGroupsInPandas")
        )
        rows.append(
            f"| `{name}` | {shuffles} | {n('BroadcastHashJoin')} "
            f"| {n('SortMergeJoin')} | {n('BroadcastNestedLoopJoin')} "
            f"| {n('CartesianProduct')} | {codegen} | {pyeval} "
            f"| {pushed} |"
        )
    return "\n".join(header + rows) + "\n"


def drive(names: list[str] | None = None, sf_dir: str = "/root/testdata/sf0.01") -> bool:
    """Run registered queries through Spark AND their DuckDB oracles on
    ``sf_dir``, comparing row count, column names, and the same
    order-insensitive 9-significant-digit value canon the harness uses
    (shared ``liq_stream_spark.compare`` — the pytest gate imports the
    identical helpers, so the two cannot drift). Returns True iff every
    driven query matches. Queries without an oracle run rows-only."""
    import duckdb

    from liq_stream_spark import pins
    from liq_stream_spark.compare import frame_repr
    from liq_stream_spark.plans import REGISTRY
    from liq_stream_spark.schema import TESTDATA_TABLES
    from liq_stream_spark.session import get_spark

    todo = names or list(REGISTRY)
    unknown = [n for n in todo if n not in REGISTRY]
    if unknown:
        # fail fast, before the ~30 s Spark startup, with the same
        # clean-error convention main() uses for subcommand typos
        raise SystemExit(
            f"unknown query name(s): {', '.join(unknown)} "
            f"(see QUERIES.md for the registry)"
        )

    # progress bars share stderr with the per-query OK/FAIL lines and
    # their \r rewrites routinely garble them in captured output
    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    ok = True
    for name in todo:
        q = REGISTRY[name]
        try:
            with pins.scope():
                sdf = q.build(spark, sf_dir)
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
            if q.oracle is None:
                print(f"{name}: rows-only ran, {len(srows)} rows")
                continue
            res = con.execute(q.oracle)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            snames, sb = frame_repr(scols, srows)
            dnames, db = frame_repr(dcols, drows)
            names_ok = snames == dnames
            nm = sum(1 for a, b in zip(sb, db) if a != b) + abs(
                len(sb) - len(db)
            )
            good = names_ok and nm == 0
            ok = ok and good
            print(
                f"{name}: rows {len(sb)}/{len(db)} names_ok={names_ok} "
                f"mismatch={nm} -> {'OK' if good else 'FAIL'}"
            )
            if not good:
                for a, b in zip(sb, db):
                    if a != b:
                        print(f"  spark:  {a}\n  oracle: {b}")
                        break
        except Exception as e:  # pragma: no cover - surfaced to the user
            ok = False
            print(f"{name}: ERROR {type(e).__name__}: {str(e)[:300]}")
    return ok


def profile(
    names: list[str],
    sf_dir: str = "/root/testdata/sf0.1",
    top: int = 12,
) -> None:
    """Per-stage runtime/shuffle/spill/skew profile of registered queries.

    Runs each query to a noop sink on a UI-enabled session and reads the
    stage metrics back through Spark's REST status API (the same numbers
    the web UI shows): per-stage executor run time, input/shuffle bytes,
    spill, and a SKEW column = max/median task run time from the
    taskSummary quantiles. This is the byte-level companion to the
    row-level spread assertions in tests/test_plans.py — plan pins prove
    shape, this shows where the seconds and bytes actually go, which is
    the evidence that matters before claiming an operator survives a
    100x scale-up. Diagnostic only: nothing here feeds the oracle gate.
    """
    import json
    import urllib.request

    from liq_stream_spark import pins
    from liq_stream_spark.plans import REGISTRY
    from liq_stream_spark.session import get_spark

    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(
            f"unknown query name(s): {', '.join(unknown)} "
            f"(see QUERIES.md for the registry)"
        )
    spark = get_spark(
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
        }
    )
    base = spark.sparkContext.uiWebUrl
    if base is None:
        # getOrCreate() silently ignores extra_conf when a session
        # already exists in this process — and get_spark's default
        # builds with the UI disabled
        raise SystemExit(
            "profile needs the Spark UI, but this process already has a "
            "UI-disabled session — run `tools profile` in a fresh process"
        )
    app = spark.sparkContext.applicationId

    def api(path: str):
        with urllib.request.urlopen(f"{base}/api/v1/applications/{app}{path}") as r:
            return json.loads(r.read())

    def fmt_bytes(n: float) -> str:
        for unit in ("B", "KB", "MB", "GB"):
            if n < 1024:
                return f"{n:.0f}{unit}"
            n /= 1024
        return f"{n:.1f}TB"

    for name in names:
        seen = {s["stageId"] for s in api("/stages")}
        import time as _time

        t0 = _time.time()
        with pins.scope():
            REGISTRY[name].build(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        wall = _time.time() - t0
        stages = [
            s
            for s in api("/stages?status=complete")
            if s["stageId"] not in seen
        ]
        stages.sort(key=lambda s: -s["executorRunTime"])
        total_run = sum(s["executorRunTime"] for s in stages)
        print(
            f"\n== {name} @ {sf_dir}  wall {wall:.2f}s, "
            f"{len(stages)} stages, executor-time {total_run/1000:.2f}s"
        )
        print(
            "stage  tasks   run%    time    input   shufR   shufW "
            "  spill  skew  top line of stage"
        )
        for s in stages[:top]:
            q = "quantiles=0.5,1.0"
            try:
                summ = api(
                    f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?{q}"
                )
                med, mx = summ["executorRunTime"]
                skew = f"{mx / med:.1f}x" if med > 0 else "-"
            except Exception:
                skew = "?"
            spill = s["memoryBytesSpilled"] + s["diskBytesSpilled"]
            pct = 100 * s["executorRunTime"] / total_run if total_run else 0
            desc = (s.get("description") or s["name"]).splitlines()[0][:60]
            print(
                f"{s['stageId']:>5}  {s['numTasks']:>5}  {pct:>4.0f}%  "
                f"{s['executorRunTime']/1000:>5.1f}s  "
                f"{fmt_bytes(s['inputBytes']):>6}  "
                f"{fmt_bytes(s['shuffleReadBytes']):>6}  "
                f"{fmt_bytes(s['shuffleWriteBytes']):>6}  "
                f"{fmt_bytes(spill):>6}  {skew:>4}  {desc}"
            )


# Recorded sf0.1 row counts for the recursive-CTE dedup family whose
# DuckDB value oracle is impractical at 10x (VERDICT r11 item 4/5: d14's
# sf0.1 oracle exceeded 85 min and was killed; its 10x gate is parity +
# these pins). Constants measured r8 and re-confirmed every round since
# (verify notes: d14 4,913 cluster rows over the d12/d15 1,553,607
# candidate pairs). A parity run at sf0.1 asserts them, so a silent
# scale-regression trips the gate instead of round-note archaeology.
_PARITY_EXPECTED_ROWS_SF01 = {
    "d14_verified_dedup_clusters": 4913,
    "d15_band_index_pairs": 1553607,
    "d12_minhash_jaccard_est": 1553607,
}


def parity(
    names: list[str], sf_dir: str = "/root/testdata/sf0.1"
) -> bool:
    """Spark-vs-Spark run-twice determinism gate (VERDICT r9 item 6):
    build and collect each query TWICE (two independent plan builds and
    executions — partition-order- or tie-dependent nondeterminism at
    scale shows up as a hash mismatch) and compare under the harness's
    exact canonicalization. This is the sf0.1 round-close gate for the
    recursive-CTE-heavy oracle family (d07/d18/d19/p13/p14 class) whose
    DuckDB side costs ~1 hour at sf0.1: the VALUE gate for them runs at
    sf0.01 (every round, `tools drive`), and this re-runs the Spark
    side at sf0.1 in minutes. NOT a substitute for an oracle — it can
    only catch nondeterminism, never a both-runs-wrong answer."""
    import os
    import time

    from liq_stream_spark import pins
    from liq_stream_spark.compare import frame_repr
    from liq_stream_spark.plans import REGISTRY
    from liq_stream_spark.session import get_spark

    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(
            f"unknown query name(s): {', '.join(unknown)} "
            f"(see QUERIES.md for the registry)"
        )
    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    ok = True
    for name in names:
        q = REGISTRY[name]
        try:
            t0 = time.perf_counter()
            reprs = []
            for _ in range(2):
                # one scope per run: the second run must not read the
                # first run's cached blocks
                with pins.scope():
                    sdf = q.build(spark, sf_dir)
                    rows = [tuple(r) for r in sdf.collect()]
                reprs.append(frame_repr(sdf.columns, rows))
            (n1, b1), (n2, b2) = reprs
            good = n1 == n2 and b1 == b2
            note = ""
            expected = _PARITY_EXPECTED_ROWS_SF01.get(name)
            # basename match, mirroring how bench.py derives sf (ADVICE
            # r12: a bare endswith("sf0.1") also matched unrelated dirs
            # like /data/foo-sf0.1, asserting pins against data they
            # were never measured on)
            if (
                expected is not None
                and os.path.basename(sf_dir.rstrip("/")) == "sf0.1"
            ):
                if len(b1) != expected:
                    good = False
                    note = (
                        f" (ROWS {len(b1)} != recorded sf0.1 pin "
                        f"{expected})"
                    )
                else:
                    note = f" (rows == recorded sf0.1 pin {expected})"
            ok = ok and good
            print(
                f"{name}: runs 2x{len(b1)} rows in "
                f"{time.perf_counter() - t0:.1f}s -> "
                f"{'PARITY OK' if good else 'PARITY FAIL'}{note}"
            )
        except Exception as e:  # pragma: no cover - surfaced to the user
            ok = False
            print(f"{name}: ERROR {type(e).__name__}: {str(e)[:300]}")
    return ok


def maintain(
    paths: list[str] | None = None,
    force: bool = False,
    rebuild_ids: bool = False,
    rebuild_pq_codes: bool = False,
) -> bool:
    """One maintenance pass over persistent index roots: recover any
    crashed compaction swaps (including roots that exist ONLY as a
    '.old.' pre-swap copy — the crash window _recover_compact_swap
    exists for), fold per-append small files back (ANN layers AND
    bucketed band tables, ids sidecars included), and sweep aged
    swap/tmp leftovers. Roots with no appends since their last full
    build/compaction (store.needs_compact — an exact marker the
    append/write/compact paths maintain, not a file-count heuristic)
    are skipped, so a steady-state pass is a metadata walk, not an
    O(store) rewrite; ``--force`` compacts regardless (use once for
    roots whose appends predate the marker). ``--rebuild-ids``
    (VERDICT r10 item 2) additionally rebuilds each root's ``_ids``
    membership sidecar from its data layer via
    store.rebuild_ids_sidecar — the repair for an append crashed
    between its sidecar write and its data write, whose over-claiming
    sidecar otherwise refuses the batch's legitimate retry forever;
    an O(corpus) read, so it is flag-gated, never automatic.
    ``--rebuild-pq-codes`` (VERDICT r11 item 3) re-encodes each PQ
    store's codes layer from its inverted layer via
    store.rebuild_pq_codes — the repair for an append crashed AFTER its
    inverted write but BEFORE its codes write, whose probes otherwise
    silently miss the batch; O(corpus) likewise, flag-gated, and a
    no-op note on stores without a PQ half. With no arguments it
    walks every published root under the index-cache store
    ($LIQ_ANN_STORE); explicit root paths maintain indexes written
    elsewhere (band roots re-attach to this session's catalog via
    register_band_index first, so a fresh maintenance process needs no
    prior state). This is the command the append paths' docstrings
    mean by 'the maintenance window'."""
    import os

    from liq_stream_spark import store
    from liq_stream_spark.plans import index_cache
    from liq_stream_spark.session import get_spark

    def _files(root: str) -> int:
        return sum(len(fs) for _, _, fs in os.walk(root))

    if paths is None:
        root = index_cache._store_root()
        if not os.path.isdir(root):
            print(f"no index store at {root} — nothing to maintain")
            return True
        index_cache._sweep_orphan_tmps(root)
        # a root whose live dir is missing after a swap crash still has
        # its '.old.' copy here — derive the live name so the recovery
        # arm below sees it; '.compact.tmp.' dirs belong to the sweeps
        names = {
            d.split(".old.")[0]
            for d in os.listdir(root)
            if ".tmp." not in d
            and os.path.isdir(os.path.join(root, d))
        }
        paths = sorted(os.path.join(root, n) for n in names)
        if not paths:
            print(f"index store {root} is empty — nothing to maintain")
            return True
    spark = get_spark(
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    ok = True
    for path in paths:
        import glob

        local = store._local_index_root(path)
        # recover any crashed swap BEFORE reading meta (after a
        # root-level crash the live dir and its sidecar only exist
        # under the newest '.old.' copy), then sweep aged leftovers —
        # even for roots the dirtiness check will skip below, or a
        # crash-after-swap's full pre-compaction copy lives forever.
        # UNDER the root writer lock (ADVICE r11, tools.py:622): a
        # compactor in another process may be inside its rename-swap
        # window right now (live dir momentarily absent, .old present)
        # — an unlocked "recovery" would rename the .old back and
        # collide with its ltmp->live rename, failing both. A root
        # whose lock is held by a live writer is skipped whole.
        try:
            # wait_sec=0 EXPLICITLY: the contract here is skip-if-held,
            # and the default-None would read $LIQ_LOCK_WAIT_SEC — an
            # ingest-loop opt-in that must not turn a store walk into
            # N x budget of blocking waits
            prelock = store._acquire_root_lock(
                local, "maintain_prepass", wait_sec=0
            )
        except RuntimeError as e:
            ok = False
            print(f"{path}: SKIP (writer lock held: {str(e)[:200]})")
            continue
        try:
            for target in (local, f"{local}/inverted", f"{local}/codes",
                           f"{local}/{store._IDS_SUB}"):
                store._recover_compact_swap(target)
                store._sweep_swap_leftovers(target)
        finally:
            store._release_root_lock(prelock)
        meta = store._read_index_meta(local)
        if meta is None:
            print(f"{path}: SKIP (no index meta sidecar — not an index root)")
            continue
        before = _files(path)
        try:
            if rebuild_ids:
                store.rebuild_ids_sidecar(spark, path)
                print(f"{path}: ids sidecar rebuilt from the data layer")
            if rebuild_pq_codes:
                if "n_buckets" in meta or "m" not in meta:
                    print(f"{path}: NOTE no PQ half — --rebuild-pq-codes "
                          "has nothing to re-encode here")
                elif not os.path.isdir(os.path.join(local, "inverted")):
                    # a PQ-only root (write_pq_index with no IVF half)
                    # has nothing to re-encode FROM — a note, not an
                    # error, or one such root fails the whole store walk
                    print(f"{path}: NOTE no inverted layer — "
                          "--rebuild-pq-codes re-encodes from it; "
                          "rebuild this root with write_pq_index instead")
                else:
                    store.rebuild_pq_codes(spark, path)
                    print(f"{path}: codes layer re-encoded from the "
                          "inverted layer")
            if "n_buckets" in meta:  # band root: needs a catalog entry
                table = store.band_table_name(path)
                store.register_band_index(spark, table, path)
                if not force and not store.needs_compact(path):
                    print(f"{path}: band ({table}) has no appends to fold "
                          f"({before} files) — skipped")
                    continue
                store.compact_band_index(spark, table, path)
                kind = f"band ({table})"
            else:
                flat_codes = os.path.isdir(
                    os.path.join(local, "codes")
                ) and not glob.glob(os.path.join(local, "codes", "cell=*"))
                if flat_codes:
                    # cell-less codes (write_pq_index without cells)
                    # cannot be folded here — say so instead of either
                    # erroring or silently claiming the root compact
                    print(
                        f"{path}: NOTE codes layer is flat (cell-less) — "
                        "appends to it fold only via a write_pq_index "
                        "rebuild of the PQ half"
                    )
                if not force and not store.needs_compact(path):
                    print(f"{path}: ann has no appends to fold "
                          f"({before} files) — skipped")
                    continue
                layers = [
                    sub
                    for sub in ("inverted", "codes")
                    if os.path.isdir(os.path.join(local, sub))
                    and not (sub == "codes" and flat_codes)
                ]
                for sub in layers:
                    store.compact_index_partitions(spark, path, sub)
                # layer-level swaps leave the root marker in place;
                # every foldable layer is folded now
                store._clear_needs_compact(local)
                kind = f"ann ({'+'.join(layers) or 'no layers?'})"
            print(f"{path}: {kind} files {before} -> {_files(path)}")
        except Exception as e:  # pragma: no cover - surfaced to the user
            ok = False
            print(f"{path}: ERROR {type(e).__name__}: {str(e)[:300]}")
    return ok


def main() -> None:
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if cmd == "plans":
        out = root / "PLANS.md"
        out.write_text(plans_md())
    elif cmd == "ledger":
        out = root / "COVERAGE.md"
        update_coverage_ledger(out)
    elif cmd == "queries":
        out = root / "QUERIES.md"
        out.write_text(queries_md())
    elif cmd == "drive":
        import argparse

        ap = argparse.ArgumentParser(prog="tools drive")
        ap.add_argument("--sf", default="/root/testdata/sf0.01")
        ap.add_argument("names", nargs="*")
        ns = ap.parse_args(sys.argv[2:])
        raise SystemExit(0 if drive(ns.names or None, ns.sf) else 1)
    elif cmd == "parity":
        import argparse

        ap = argparse.ArgumentParser(prog="tools parity")
        ap.add_argument("--sf", default="/root/testdata/sf0.1")
        ap.add_argument("names", nargs="+")
        ns = ap.parse_args(sys.argv[2:])
        raise SystemExit(0 if parity(ns.names, ns.sf) else 1)
    elif cmd == "maintain":
        import argparse

        ap = argparse.ArgumentParser(prog="tools maintain")
        ap.add_argument("paths", nargs="*",
                        help="index roots (default: every published root "
                        "under $LIQ_ANN_STORE)")
        ap.add_argument("--force", action="store_true",
                        help="compact even roots with no recorded appends "
                        "(for roots whose appends predate the dirtiness "
                        "marker)")
        ap.add_argument("--rebuild-ids", action="store_true",
                        help="rebuild each root's _ids membership sidecar "
                        "from its data layer (repairs an append crashed "
                        "between the ids write and the data write; "
                        "O(corpus) read)")
        ap.add_argument("--rebuild-pq-codes", action="store_true",
                        help="re-encode each PQ store's codes layer from "
                        "its inverted layer (repairs an append crashed "
                        "between the inverted write and the codes write; "
                        "O(corpus) read+encode)")
        ns = ap.parse_args(sys.argv[2:])
        raise SystemExit(
            0
            if maintain(
                ns.paths or None,
                ns.force,
                ns.rebuild_ids,
                ns.rebuild_pq_codes,
            )
            else 1
        )
    elif cmd == "profile":
        import argparse

        ap = argparse.ArgumentParser(prog="tools profile")
        ap.add_argument("--sf", default="/root/testdata/sf0.1")
        ap.add_argument("--top", type=int, default=12)
        ap.add_argument("names", nargs="+")
        ns = ap.parse_args(sys.argv[2:])
        profile(ns.names, ns.sf, ns.top)
        return
    else:
        # a typo must not silently regenerate the wrong artifact
        raise SystemExit(
            f"unknown subcommand {cmd!r}: expected plans | ledger | queries "
            f"| drive | parity | profile | maintain"
        )
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
