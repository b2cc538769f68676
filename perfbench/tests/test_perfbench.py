"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench.stats import median, tail
from perfbench.workloads import QueryMix, results_match, sink_digests

SMALL = gen.BacklogShape(files_per_stream=2, frames_per_file=20)
TINY = gen.TableShape(orders=500, customers=50, parts=80, suppliers=10,
                      events=300, users=20)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    if mismatch or errors:
        return False
    return all(_same_tree(os.path.join(a, d), os.path.join(b, d))
               for d in cmp.common_dirs)


def test_backlog_same_seed_same_bytes_and_expected_set(tmp_path):
    a = gen.write_backlog(str(tmp_path / "a"), 7, SMALL)
    b = gen.write_backlog(str(tmp_path / "b"), 7, SMALL)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert a["expected"] == b["expected"]
    assert a["frames"] == b["frames"]


def test_backlog_other_seed_other_inputs(tmp_path):
    a = gen.write_backlog(str(tmp_path / "a"), 7, SMALL)
    b = gen.write_backlog(str(tmp_path / "b"), 8, SMALL)
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert a["expected"] != b["expected"]


def test_backlog_has_reemitted_fills_and_malformed_frames(tmp_path):
    b = gen.write_backlog(str(tmp_path), 3)
    assert set(b["expected"]) == {f"{v}_{m}" for v, m in gen.STREAMS}
    malformed = fills = 0
    for d, _, files in os.walk(b["dirs"][("hyperliquid", "usdc")]):
        for f in files:
            for line in open(os.path.join(d, f)).read().splitlines():
                try:
                    fills += len(json.loads(line)["events"])
                except json.JSONDecodeError:
                    malformed += 1
    assert malformed > 0
    assert fills > len(b["expected"]["hyperliquid_usdc"])  # re-emitted fills


def test_tables_same_seed_same_bytes(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 5, TINY)
    gen.write_tables(str(tmp_path / "b"), 5, TINY)
    gen.write_tables(str(tmp_path / "c"), 6, TINY)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_table_shape_scales_the_sf01_row_counts():
    assert gen.TableShape.at(0.1) == gen.TableShape()
    s = gen.TableShape.at(0.02)
    assert (s.orders, s.customers, s.parts, s.suppliers, s.events, s.users) == (
        30_000, 3_000, 4_000, 200, 20_000, 300)
    assert s.lines_per_order == gen.TableShape().lines_per_order


def test_tail_has_ten_samples_beyond():
    xs = list(range(1, 31))  # 30 samples
    value, pct, n = tail(xs)
    assert n == 30
    assert sum(1 for x in xs if x > value) == 10
    assert value == 20 and pct == pytest.approx(100 * 20 / 30)
    # order does not matter
    assert tail(list(reversed(xs)))[0] == 20
    # eleven samples: the smallest is the only one with ten beyond it
    assert tail(list(range(11)))[0] == 0
    with pytest.raises(ValueError):
        tail(list(range(10)))


def test_query_op_s_is_geomean_of_per_query_medians():
    qm = QueryMix()
    qm.queries = ["a", "b", "c"]
    units = [{"by_query": {"a": 1.0, "b": 4.0, "c": 2.0}},
             {"by_query": {"a": 9.0, "b": 2.0, "c": 2.0}},
             {"by_query": {"a": 1.0, "b": 2.0, "c": 16.0}}]
    # per-query medians 1, 2, 2 -> (1 * 2 * 2) ** (1/3)
    assert qm.op_s(units) == pytest.approx(4 ** (1 / 3))
    # every query counts: slowing one query moves the figure even where
    # a median over all samples would not
    def pooled_median():
        return median(t for u in units for t in u["by_query"].values())

    assert pooled_median() == 2.0
    units[0]["by_query"]["a"] = units[2]["by_query"]["a"] = 1.5
    assert pooled_median() == 2.0
    assert qm.op_s(units) == pytest.approx(6 ** (1 / 3))


def _write_sink(root, rows) -> None:
    by_part: dict = {}
    for ex, mk, sym, ts, qty, px in rows:
        by_part.setdefault((ex, mk), []).append((sym, ts, qty, px))
    for i, ((ex, mk), part) in enumerate(sorted(by_part.items())):
        d = os.path.join(root, f"exchange={ex}", f"market={mk}", "date=2025-09-23")
        os.makedirs(d, exist_ok=True)
        cols = list(zip(*part))
        pq.write_table(
            pa.table({
                "symbol": pa.array(cols[0], pa.string()),
                "ts_exch_ms": pa.array(cols[1], pa.int64()),
                "qty": pa.array(cols[2], pa.float64()),
                "price": pa.array(cols[3], pa.float64()),
            }),
            os.path.join(d, f"part-{i:05d}.parquet"),
        )


@pytest.fixture(scope="module")
def backlog(tmp_path_factory):
    root = tmp_path_factory.mktemp("bl")
    b = gen.write_backlog(str(root), 11, SMALL)
    rows = [r for v in b["expected"].values() for r in v]
    expected = {k: gen.row_digest(v) for k, v in b["expected"].items()}
    return rows, expected


def test_sink_check_accepts_the_expected_set(tmp_path, backlog):
    rows, expected = backlog
    _write_sink(str(tmp_path), rows)
    assert sink_digests(str(tmp_path)) == expected


def test_sink_check_catches_a_dropped_row(tmp_path, backlog):
    rows, expected = backlog
    _write_sink(str(tmp_path), rows[:-1])
    assert sink_digests(str(tmp_path)) != expected


def test_sink_check_catches_a_duplicated_row(tmp_path, backlog):
    rows, expected = backlog
    _write_sink(str(tmp_path), rows + rows[-1:])
    assert sink_digests(str(tmp_path)) != expected


def test_sink_check_catches_an_altered_row(tmp_path, backlog):
    rows, expected = backlog
    ex, mk, sym, ts, qty, px = rows[0]
    _write_sink(str(tmp_path), [(ex, mk, sym, ts, qty, px + 0.01)] + rows[1:])
    assert sink_digests(str(tmp_path)) != expected


def test_query_check_catches_an_altered_result():
    cols = ["k", "v"]
    rows = [(1, 2.5), (2, 3.25), (3, None)]
    assert results_match((cols, rows), (cols, list(reversed(rows))))
    assert not results_match((cols, rows), (cols, [(1, 2.5), (2, 3.26), (3, None)]))
    assert not results_match((cols, rows), (cols, rows[:-1]))
    assert not results_match((cols, rows), (cols, rows + rows[:1]))
