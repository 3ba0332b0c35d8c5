#!/usr/bin/env python
"""Lake spot tier for LARGE fabricated scale factors (round-7 ask #3:
measure merge_mor and the DV read at 600 M rows — the sf100 point).

tools/bench_lake.py is the full lake benchmark (scans, DS, streaming,
CDF, COW merge, MoR merge) and stays the sf1/sf10 tool; at sf100 its
COW-merge and CTAS comparators rewrite table-scale bytes twice and
dominate hours of wall clock for members that already have sf10
numbers. This spot tool builds the same lineitem lake table once and
measures ONLY the two scale-path members:

  dv_read     10% of rows merge-on-read deleted, full-scan aggregate
              with the DV anti-join applied, vs the equivalent
              relational filter over the same parquet files (plain
              Spark) — dv_read_vs_plain_filter ~1.0x is the target at
              ANY scale (the DV relation is manifest-bounded).
  merge_mor   1% updates as DV preimage addresses + postimage appends
              (zero files rewritten): seconds + rows/s. The honest
              yardstick at this scale is ABSOLUTE throughput — the
              sf10 tier already pins the ratio vs DuckDB's CTAS, and
              at sf100 the CTAS comparator (like the itemcf oracle,
              see BENCH_sf100_r08.json) would mostly measure disk.

Timing: cold + warm=min of 2 recomputes, clearCache between; run on
an idle box. Usage:
    SPARK_DRIVER_MEM=40g python tools/bench_lake_spot.py \
        --sf-dir bench_sf100 --out BENCH_lake_sf100_r08.json
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def timed(fn, runs: int = 2):
    t0 = time.perf_counter()
    res = fn()
    cold = time.perf_counter() - t0
    warm = []
    for _ in range(runs):
        t0 = time.perf_counter()
        res = fn()
        warm.append(time.perf_counter() - t0)
    return round(cold, 3), round(min(warm), 3), res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="bench_sf100")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from ndvi_etl_pipeline_spark.session import get_spark
    from ndvi_etl_pipeline_spark.sources.lake import (
        lake_delete,
        lake_merge,
        lake_read,
        lake_write,
    )
    from ndvi_etl_pipeline_spark.sources.testdata import load_table

    n_cpus = os.cpu_count() or 8
    spark = get_spark(app_name="bench-lake-spot", shuffle_partitions=n_cpus)
    spark.sparkContext.setLogLevel("ERROR")

    base = tempfile.mkdtemp(prefix="bench_lake_spot_")
    table = os.path.join(base, "lineitem_lake")
    li = load_table(spark, "lineitem", args.sf_dir).select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    t0 = time.perf_counter()
    lake_write(li.repartition(n_cpus), table)
    build_s = round(time.perf_counter() - t0, 3)
    n_rows = lake_read(spark, table).count()
    result: dict = {
        "sf": args.sf_dir, "n_rows": n_rows, "build_s": build_s,
        "spark": {}, "ratios": {},
    }
    sys.stderr.write(f"table built: {n_rows} rows in {build_s}s\n")

    def agg_of(df):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("rev"),
        ).collect()[0]

    raw_files = sorted(glob.glob(os.path.join(table, "data", "*", "*.parquet")))

    def plain_unfiltered():
        r = agg_of(spark.read.parquet(*raw_files))
        spark.catalog.clearCache()
        return (r["n"], r["rev"])

    cold, warm, _ = timed(plain_unfiltered)
    result["spark"]["plain_scan"] = {"cold": cold, "warm": warm}

    # --- IN-CONTRACT DV read: 0.1% deleted (inside max_dv_rows) ----------
    # the regime a maintained table actually lives in — DV rows below
    # the broadcast bound (lake_maintain's max_dv_rows drain compacts
    # past it), read via the broadcast anti-join
    t0 = time.perf_counter()
    lake_delete(spark, table, F.col("l_orderkey") % 1000 == 3, strategy="dv")
    result["spark"]["dv_small_delete_commit"] = round(time.perf_counter() - t0, 3)

    def dv_read_small():
        r = agg_of(lake_read(spark, table))
        spark.catalog.clearCache()
        return (r["n"], r["rev"])

    cold, warm, _ = timed(dv_read_small)
    result["spark"]["dv_read_small"] = {"cold": cold, "warm": warm}
    result["ratios"]["dv_read_small_vs_plain_scan"] = round(
        warm / result["spark"]["plain_scan"]["warm"], 3
    )
    sys.stderr.write(
        f"dv_read_small: {result['spark']['dv_read_small']} "
        f"({result['ratios']['dv_read_small_vs_plain_scan']}x plain scan)\n"
    )

    # --- MID-TIER DV read: +2% deleted (compact-key broadcast) ----------
    # 12.6M cumulative DV rows: inside _DV_FID_BROADCAST_MAX_ROWS — the
    # anti-join build side is a compact key and broadcasts; the table
    # side never shuffles
    t0 = time.perf_counter()
    lake_delete(spark, table, F.col("l_orderkey") % 50 == 7, strategy="dv")
    result["spark"]["dv_mid_delete_commit"] = round(time.perf_counter() - t0, 3)

    def dv_read_mid():
        r = agg_of(lake_read(spark, table))
        spark.catalog.clearCache()
        return (r["n"], r["rev"])

    cold, warm, _ = timed(dv_read_mid)
    result["spark"]["dv_read_mid_fid_broadcast"] = {"cold": cold, "warm": warm}
    result["ratios"]["dv_read_mid_vs_plain_scan"] = round(
        warm / result["spark"]["plain_scan"]["warm"], 3
    )
    sys.stderr.write(
        f"dv_read_mid_fid_broadcast: "
        f"{result['spark']['dv_read_mid_fid_broadcast']}\n"
    )

    # --- OUT-OF-CONTRACT DV read: +10% deleted (past every broadcast
    # bound — the shuffled regime lake_maintain's drain prevents) ---------
    t0 = time.perf_counter()
    lake_delete(spark, table, F.col("l_orderkey") % 10 == 3, strategy="dv")
    result["spark"]["dv_delete_commit"] = round(time.perf_counter() - t0, 3)

    def dv_read():
        r = agg_of(lake_read(spark, table))
        spark.catalog.clearCache()
        return (r["n"], r["rev"])

    def plain_filtered():
        r = agg_of(
            spark.read.parquet(*raw_files).filter(
                ~(F.col("l_orderkey") % 10 == 3)
                & ~(F.col("l_orderkey") % 50 == 7)
            )
        )
        spark.catalog.clearCache()
        return (r["n"], r["rev"])

    cold, warm, res_dv = timed(dv_read)
    result["spark"]["dv_read"] = {"cold": cold, "warm": warm}
    cold, warm, res_pf = timed(plain_filtered)
    result["spark"]["plain_filtered_read"] = {"cold": cold, "warm": warm}
    assert res_dv[0] == res_pf[0], (res_dv, res_pf)
    assert abs(res_dv[1] - res_pf[1]) <= 1e-9 * abs(res_pf[1]), (res_dv, res_pf)
    result["ratios"]["dv_read_vs_plain_filter"] = round(
        result["spark"]["dv_read"]["warm"]
        / result["spark"]["plain_filtered_read"]["warm"], 3
    )
    sys.stderr.write(
        f"dv_read: {result['spark']['dv_read']} "
        f"({result['ratios']['dv_read_vs_plain_filter']}x plain filter)\n"
    )

    # --- merge-on-read MERGE: 1% updates, zero files rewritten -----------
    upd = li.filter(F.col("l_orderkey") % 103 == 11).withColumn(
        "l_quantity", F.col("l_quantity") + 2
    )
    n_upd = upd.count()
    t0 = time.perf_counter()
    lake_merge(
        spark, upd, table, ("l_orderkey", "l_partkey", "l_suppkey"),
        strategy="mor",
    )
    mor_s = round(time.perf_counter() - t0, 3)
    result["spark"]["merge_mor"] = {
        "seconds": mor_s,
        "update_rows": n_upd,
        "rows_per_s": round(n_upd / mor_s, 1) if mor_s else None,
    }

    def mor_read():
        r = agg_of(lake_read(spark, table))
        spark.catalog.clearCache()
        return (r["n"], r["rev"])

    cold, warm, _ = timed(mor_read)
    result["spark"]["post_mor_merge_read"] = {"cold": cold, "warm": warm}
    result["ratios"]["post_mor_read_vs_plain_filter"] = round(
        warm / result["spark"]["plain_filtered_read"]["warm"], 3
    )
    sys.stderr.write(f"merge_mor: {result['spark']['merge_mor']}\n")

    # --- maintenance drain: the contract that bounds DV debt -------------
    # lake_maintain(max_dv_rows=1M) against the accumulated ~66M-key
    # debt: compacts every file carrying DV rows (uniform mod deletes
    # → all of them), clears the DVs, and the post-drain read must be
    # a PLAIN scan (no anti-join in the plan) at plain-scan speed.
    from ndvi_etl_pipeline_spark.sources.lake import (
        _latest_version,
        _read_manifest,
        lake_maintain,
    )

    t0 = time.perf_counter()
    versions = lake_maintain(spark, table, max_dv_rows=1_000_000)
    drain_s = round(time.perf_counter() - t0, 3)
    m = _read_manifest(table, _latest_version(table))
    live = [e["path"] if isinstance(e, dict) else e for e in m["files"]]
    result["spark"]["maintain_drain"] = {
        "seconds": drain_s,
        "commits": len(versions),
        "live_files": len(live),
        "live_bytes": int(
            sum(os.path.getsize(os.path.join(table, p)) for p in live)
        ),
        "dvs_after": len(m.get("dvs") or []),
    }
    sys.stderr.write(f"maintain_drain: {result['spark']['maintain_drain']}\n")

    def post_drain_read():
        df = lake_read(spark, table)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LeftAnti" not in plan, "post-drain read still applies DVs"
        r = agg_of(df)
        spark.catalog.clearCache()
        return (r["n"], r["rev"])

    cold, warm, res_pd = timed(post_drain_read)
    result["spark"]["post_drain_read"] = {"cold": cold, "warm": warm}
    result["ratios"]["post_drain_read_vs_plain_scan"] = round(
        warm / result["spark"]["plain_scan"]["warm"], 3
    )
    sys.stderr.write(
        f"post_drain_read: {result['spark']['post_drain_read']} "
        f"({result['ratios']['post_drain_read_vs_plain_scan']}x plain scan)\n"
    )

    out = json.dumps(result, indent=1)
    print(out)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(out + "\n")
    shutil.rmtree(base, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
