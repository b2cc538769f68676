"""Lifetime of materialized intermediates (liq_stream_spark.pins): pins
made inside ``pins.scope()`` are released when it exits, so a query run
in a scope leaves no stored blocks behind and no cached plan that a later
query over a replaced file could match."""

import os
import shutil

import duckdb
import pytest

from liq_stream_spark import pins
from liq_stream_spark.compare import frame_repr
from liq_stream_spark.plans import REGISTRY

SF_DIR = "/root/testdata/sf0.01"


def _stored(spark) -> dict[int, int]:
    """Persistent RDD id -> bytes of its stored blocks (memory + disk)."""
    jsc = spark.sparkContext._jsc
    sizes = {
        i.id(): i.memSize() + i.diskSize()
        for i in jsc.sc().getRDDStorageInfo()
    }
    return {int(k): sizes.get(int(k), 0) for k in jsc.getPersistentRDDs()}


@pytest.mark.parametrize("broadcast", ["default", "off"])
def test_repeated_runs_leave_no_stored_blocks(spark, broadcast):
    """Three runs each of the queries that pin the most, in one session.
    With auto-broadcast off, PageRank and connected components take the
    large-graph regime, whose pins are ``persist()`` rather than
    checkpoints. After every scope the persistent RDDs and their stored
    bytes must be what they were before the run. Compared per RDD id:
    Spark's ContextCleaner may drop blocks that earlier tests left
    outside any scope at any moment, which is a shrink, not a growth."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    if broadcast == "off":
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in [
            "q15_sessionization",
            "d14_verified_dedup_clusters",
            "g01_pagerank",
            "t13_lm_perplexity",
        ]:
            for run in range(3):
                before = _stored(spark)
                with pins.scope():
                    REGISTRY[name].build(spark, SF_DIR).write.format(
                        "noop"
                    ).mode("overwrite").save()
                after = _stored(spark)
                left = {i: b for i, b in after.items() if i not in before}
                assert not left, f"{name} run {run}: pins left {left}"
                assert after == {i: before[i] for i in after}, (
                    f"{name} run {run}: stored bytes changed"
                )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_rerun_over_replaced_file_reads_new_rows(spark, tmp_path):
    """q15 pins its local-session frame with ``persist()``, which
    registers the plan in the session's CacheManager. Left there, a
    rerun over a replaced ``events.parquet`` at the same path matches
    the cached plan and returns the old rows. Each run is checked
    against the DuckDB oracle over the file as it is at that moment."""
    q = REGISTRY["q15_sessionization"]
    events = str(tmp_path / "events.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", events)

    def run_and_check() -> int:
        with pins.scope():
            sdf = q.build(spark, str(tmp_path))
            srows = [tuple(r) for r in sdf.collect()]
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}')"
            )
            res = con.execute(q.oracle)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        finally:
            con.close()
        assert frame_repr(sdf.columns, srows) == frame_repr(dcols, drows)
        return len(srows)

    n_full = run_and_check()
    half = str(tmp_path / "half.parquet")
    with duckdb.connect() as con:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{events}') "
            f"WHERE user_id % 2 = 0) TO '{half}' (FORMAT parquet)"
        )
    os.replace(half, events)
    n_half = run_and_check()
    assert 0 < n_half < n_full
