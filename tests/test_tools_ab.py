"""``tools ab`` (an interleaved same-session A/B behind a row-canon check),
``tools scale`` (the derived scale tier) and the unknown-name check that
every query-running subcommand makes before Spark starts."""

import json
import sys

import pytest

from liq_stream_spark import tools
from liq_stream_spark.plans import REGISTRY

SF_DIR = "/root/testdata/sf0.01"

_builds = {"drop": 0}


def q01_same(spark, sf_dir):
    """A ``module:function`` arm building exactly q01."""
    return REGISTRY["q01_pricing_summary"].build(spark, sf_dir)


def q01_drop_one_row(spark, sf_dir):
    """q01 less one of its rows; counts its builds."""
    _builds["drop"] += 1
    df = REGISTRY["q01_pricing_summary"].build(spark, sf_dir)
    return df.orderBy(*df.columns).limit(df.count() - 1)


def _stored(spark) -> dict[int, int]:
    """Persistent RDD id -> bytes of its stored blocks (memory + disk)."""
    jsc = spark.sparkContext._jsc
    sizes = {
        i.id(): i.memSize() + i.diskSize()
        for i in jsc.sc().getRDDStorageInfo()
    }
    return {int(k): sizes.get(int(k), 0) for k in jsc.getPersistentRDDs()}


def _main(monkeypatch, capsys, *args):
    """Run ``tools.main`` on ``args``: (exit code, last stdout line)."""
    monkeypatch.setattr(sys, "argv", ["tools", *args])
    with pytest.raises(SystemExit) as e:
        tools.main()
    return e.value.code, capsys.readouterr().out.strip().splitlines()[-1]


@pytest.fixture
def session(spark):
    """The shared session; ``get_spark`` inside a tool resets its
    shuffle partitions to the core count, restored here."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    yield spark
    spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_ab_same_query_reports_equal_checksum(
    session, monkeypatch, capsys, tmp_path
):
    before = _stored(session)
    code, line = _main(
        monkeypatch, capsys, "ab", "q01_pricing_summary",
        f"{__name__}:q01_same", "--sf", SF_DIR, "--reps", "2",
        "--plans", str(tmp_path),
    )
    out = json.loads(line)
    assert code == 0
    assert out["checksum_equal"] is True
    assert out["rows"] == {"A": 6, "B": 6}
    assert out["pairs"] == 2 and 0 <= out["b_wins"] <= 2
    assert out["verdict"] in ("resolved", "unresolved")
    for arm in ("A", "B"):
        runs = out["arms"][arm]["runs"]
        assert len(runs) == 2 and out["arms"][arm]["min"] == min(runs)
    plans = sorted(p.name for p in tmp_path.iterdir())
    assert plans == [
        "A_q01_pricing_summary.txt",
        f"B_{__name__}.q01_same.txt",
    ]
    assert "== Physical Plan ==" in (tmp_path / plans[0]).read_text()

    after = _stored(session)
    left = {i: b for i, b in after.items() if i not in before}
    assert not left, f"ab left pins {left}"
    assert after == {i: before[i] for i in after}, "stored bytes changed"


def test_ab_row_mismatch_exits_before_timing(session, monkeypatch, capsys):
    _builds["drop"] = 0
    code, line = _main(
        monkeypatch, capsys, "ab", "q01_pricing_summary",
        f"{__name__}:q01_drop_one_row", "--sf", SF_DIR, "--reps", "2",
    )
    out = json.loads(line)
    assert code == 1
    assert out["checksum_equal"] is False
    assert out["rows"] == {"A": 6, "B": 5}
    assert "arms" not in out
    assert _builds["drop"] == 1  # the checksum pass only: nothing timed


_A = [1.00, 1.02, 0.98, 1.01, 0.99, 1.03, 0.97, 1.00, 1.02, 0.98]


@pytest.mark.parametrize(
    "b, wins, verdict",
    [
        # 9/10 wins, medians 0.10 apart against A's IQR of 0.035
        ([0.90] * 9 + [1.05], 9, "resolved"),
        ([0.90] * 8 + [1.05, 1.05], 8, "unresolved"),
        # a tie is no win, and no loss either
        ([0.90] * 8 + _A[8:], 8, "unresolved"),
        ([0.90] * 9 + _A[9:], 9, "resolved"),
        # every pair won, but by less than A's spread
        ([a - 0.01 for a in _A], 10, "unresolved"),
    ],
    ids=["nine-wins", "eight-wins", "two-ties", "one-tie", "inside-iqr"],
)
def test_ab_verdict(b, wins, verdict):
    assert tools.ab_verdict(_A, b) == (wins, verdict)


@pytest.mark.parametrize(
    "args",
    [
        ["drive", "no_such_query"],
        ["parity", "no_such_query"],
        ["profile", "no_such_query"],
        ["ab", "q01_pricing_summary", "no_such_query"],
    ],
    ids=lambda a: a[0],
)
def test_unknown_name_exits_before_spark_starts(monkeypatch, args):
    def no_spark(*a, **k):
        raise AssertionError("a SparkSession was requested")

    monkeypatch.setattr("liq_stream_spark.session.get_spark", no_spark)
    monkeypatch.setattr(sys, "argv", ["tools", *args])
    with pytest.raises(SystemExit, match="unknown query name.*no_such_query"):
        tools.main()


def test_scale_tier_doubles_facts_and_copies_dimensions(
    session, monkeypatch, tmp_path
):
    monkeypatch.setattr(
        sys, "argv", ["tools", "scale", SF_DIR, str(tmp_path), "--copies", "2"]
    )
    tools.main()
    read = session.read.parquet
    for t, key in tools._SCALE_FACTS.items():
        src = read(f"{SF_DIR}/{t}.parquet")
        out = read(f"{tmp_path}/{t}.parquet")
        assert out.count() == 2 * src.count(), t
        # no key of one copy collides with a key of the other
        n_keys = src.select(key).distinct().count()
        assert out.select(key).distinct().count() == 2 * n_keys, t
    for t in tools._SCALE_DIMS:
        assert (
            read(f"{tmp_path}/{t}.parquet").count()
            == read(f"{SF_DIR}/{t}.parquet").count()
        ), t
