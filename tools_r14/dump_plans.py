#!/usr/bin/env python
"""Capture per-round plans for the r14 CC/PageRank changes.

Spies on dedup's pin / DataFrame.localCheckpoint to capture each round's
pre-pin frame, then dumps .explain("formatted") for the requested round
under both broadcast regimes (fixture = gate open; scale emulation =
autoBroadcastJoinThreshold -1 = gate shut).

Usage: python tools_r14/dump_plans.py cc|pr --out-dir plans/r14
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from liq_stream_spark.operators import dedup as D  # noqa: E402
from liq_stream_spark.plans.tables import load  # noqa: E402
from liq_stream_spark.session import get_spark  # noqa: E402


def explain(spark, df) -> str:
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def dump_cc(spark, sf_dir: str, out_dir: str) -> None:
    sigs = D.minhash_sig_arrays(load(spark, sf_dir, "documents"))
    pairs = D.lsh_candidate_pairs_banded(
        sigs, max_bucket=None, min_agree=8
    ).localCheckpoint()

    for regime, thresh in (("fixture", None), ("scale", "-1")):
        if thresh is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        captured = []
        orig_pin = D.pin

        def spy(df, keep_lineage=False, _c=captured, _o=orig_pin):
            _c.append(df)
            return _o(df, keep_lineage)

        D.pin = spy
        try:
            D.connected_components(pairs).count()
        finally:
            D.pin = orig_pin
        # captured: [directed, edges(prepin), round1, round2, ...] — the
        # generic round is the 4th capture (directed, edge pin, r1, r2)
        names = {}
        idx_round = 0
        for df in captured:
            cols = set(df.columns)
            if cols == {"node", "comp", "__old"}:
                idx_round += 1
                names[f"round{idx_round}"] = df
        for tag, df in names.items():
            if tag not in ("round1", "round2"):
                continue
            path = os.path.join(
                out_dir, f"cc_{tag}_after_{regime}.txt"
            )
            with open(path, "w") as f:
                f.write(explain(spark, df))
            print(path)


def dump_pr(spark, sf_dir: str, out_dir: str) -> None:
    from liq_stream_spark.plans import REGISTRY

    g01 = REGISTRY["g01_pagerank"]
    # Spark 4: instances are the classic DataFrame, not the ABC
    from pyspark.sql.classic.dataframe import DataFrame

    for regime, thresh in (("fixture", None), ("scale", "-1")):
        if thresh is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        captured = []
        orig = DataFrame.localCheckpoint

        def spy(self, eager=True, _c=captured, _o=orig):
            _c.append(self)
            return _o(self, eager=eager)

        DataFrame.localCheckpoint = spy
        try:
            final = g01.build(spark, sf_dir)
            final.count()
        finally:
            DataFrame.localCheckpoint = orig
        # ranks pins have columns {node_id, r}
        rounds = [
            df for df in captured if set(df.columns) == {"node_id", "r"}
        ]
        for i, df in enumerate(rounds[:2], start=1):
            path = os.path.join(
                out_dir, f"g01_rank_round{i}_after_{regime}.txt"
            )
            with open(path, "w") as f:
                f.write(explain(spark, df))
            print(path)
        path = os.path.join(out_dir, f"g01_final_after_{regime}.txt")
        with open(path, "w") as f:
            f.write(explain(spark, final))
        print(path)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("what", choices=["cc", "pr"])
    ap.add_argument("--out-dir", default="plans/r14")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()
    os.makedirs(args.out_dir, exist_ok=True)
    spark = get_spark(
        app_name="liq_r14_dump",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    if args.what == "cc":
        dump_cc(spark, args.sf_dir, args.out_dir)
    else:
        dump_pr(spark, args.sf_dir, args.out_dir)
    spark.stop()


if __name__ == "__main__":
    main()
