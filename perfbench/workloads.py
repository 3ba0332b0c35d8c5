"""The two workloads. Each is a closed loop with one client: the driver
thread issues the next operation when the previous one returns.

A workload's ``setup`` makes its inputs from the seed (and the fixed
tables) in a fresh directory; ``passes`` yields the operations of one
pass; each operation returns what ``check`` later compares with the
expected result. Checks run after the timed loop, never inside an operation's
timing.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import datetime, timezone
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

SCENES = 10
SCENE_PX = 1024
TILE = 256
OVERVIEW_FACTORS = (2, 4, 8, 16, 32)
LAKE_BASE_FILES = 4
LAKE_CHANGE_SHARE = 0.01


class Catalog:
    """One pass: the headline queries of the catalog over the sf0.01
    tables, fully materialized, in a seeded order, then one
    lake_upsert_read cycle (LakeTable) on a lake built from the same
    lineitem. Query results are hashed against DuckDB running the
    registry's oracle SQL over the same files."""

    name = "catalog_mix"

    def __init__(self, seed: int):
        from ndvi_etl_pipeline_spark.plans.queries import REGISTRY

        self.registry = REGISTRY
        self.queries = sorted(n for n, s in REGISTRY.items() if s.headline)
        self.seed = seed
        self.sf_dir = ""
        self.lake = LakeTable(seed)
        self.notes: dict = {}

    def sizes(self) -> dict:
        rows = {t: pq.ParquetFile(os.path.join(datagen.TABLES_DIR, f"{t}.parquet"))
                .metadata.num_rows for t in datagen.TABLES}
        return {"sf": 0.01, "queries": len(self.queries), "rows": rows,
                "lake": self.lake.sizes()}

    def setup(self, spark, work: str) -> None:
        self.sf_dir = os.path.join(work, "tables")
        datagen.copy_tables(self.sf_dir)
        self.lake.build(spark, work, pq.read_table(os.path.join(self.sf_dir, "lineitem.parquet")))

    def passes(self, spark, tracer, n: int):
        order = np.random.default_rng([self.seed, n]).permutation(self.queries)
        for name in order:
            yield name, lambda name=name: self._query(spark, tracer, name), None
        yield from self.lake.ops(spark, tracer)

    def _query(self, spark, tracer, name: str):
        with tracer.span("plans.build"):
            df = self.registry[name].builder(spark, self.sf_dir)
        with tracer.span("exec.collect"):
            out = df.toArrow()
            tracer.plan_of(df)
        return out

    def named_metrics(self, spark, ops, passes, tail):
        lat = [s for n, s, e in ops if not n.startswith("lake.") and not e]
        t, basis = tail(lat)
        metrics, tails = self.lake.named_metrics(spark, ops, tail)
        metrics.update({"queries_per_min": (60 * len(lat) / sum(lat) if lat else None, "1/min"),
                        "query_p50_s": (p50(lat), "s"),
                        "query_tail_s": (t, "s")})
        tails["query_tail_s"] = basis
        return metrics, tails

    def layer_counts(self, spark, results) -> dict:
        return self.lake.layer_counts(spark, results)

    def check(self, results: list[tuple]) -> list[str | None]:
        import duckdb

        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.sf_dir, t)}.parquet'")
            want = {n: con.execute(self.registry[n].oracle).arrow()
                    for n in {r[0] for r in results} if n in self.registry}
        finally:
            con.close()
        errs = []
        check_results_match()
        self.notes["oracle_last_digit_matches"] = 0
        for name, got, expected in results:
            if name.startswith("lake."):
                got = got and got[1]
                errs.append(None if expected is None or got == expected
                            else f"{name}: got {got}, expected {expected}")
            else:
                how = results_match(got, want[name])
                self.notes["oracle_last_digit_matches"] += how == "last digit"
                errs.append(None if how else f"{name}: result differs from the oracle")
        return errs


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return ("null",)
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        r = round(v, 9)
        return ("f", r, math.copysign(1.0, r))
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return ("t", v.isoformat())
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    return ("s", str(v))


def _rows(table: pa.Table) -> tuple[list[str], list[tuple]]:
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return cols, sorted(tuple(_canon(v) for v in row) for row in zip(*data))


def result_hash(table: pa.Table) -> str:
    """Order-independent hash of a result: columns by name, rows sorted,
    floats at 9 decimals with the sign of zero kept."""
    return hashlib.sha256(repr(_rows(table)).encode()).hexdigest()


def _decimals(x: float) -> int:
    text = repr(x)
    return len(text.split(".")[1]) if "." in text and "e" not in text else 0


def results_match(got: pa.Table, want: pa.Table) -> str | None:
    """Equal hashes, or the same rows where floats differ by at most one
    unit in the last decimal the oracle prints in that column. The
    queries round float sums; when the exact sum sits on a rounding tie,
    the summation order of each engine picks the side (e.g. 832408055.185
    as .18 in one and .19 in the other)."""
    if result_hash(got) == result_hash(want):
        return "exact"
    (gc, gr), (wc, wr) = _rows(got), _rows(want)
    if gc != wc or len(gr) != len(wr):
        return None
    # one unit of the finest decimal any oracle row shows in the column
    units = [10.0 ** -max((_decimals(row[i][1]) for row in wr if row[i][0] == "f"), default=0)
             for i in range(len(wc))]
    key = lambda row: tuple(v for v in row if v[0] != "f")  # noqa: E731
    for a, b in zip(sorted(gr, key=key), sorted(wr, key=key)):
        for x, y, unit in zip(a, b, units):
            if x[0] == y[0] == "f":
                if abs(x[1] - y[1]) > unit + 4 * math.ulp(max(abs(x[1]), abs(y[1]))):
                    return None
            elif x != y:
                return None
    return "last digit"


def check_results_match() -> None:
    """The tolerance comes from the oracle's column, not from the
    shorter repr of a pair: 5.0 against an oracle column at 2 decimals
    is off by 7 units, not within one unit of 0.1."""
    want = pa.table({"k": [1, 2], "v": [5.07, 1.25]})
    assert results_match(pa.table({"k": [1, 2], "v": [5.07, 1.25]}), want) == "exact"
    assert results_match(pa.table({"k": [1, 2], "v": [5.08, 1.25]}), want) == "last digit"
    assert results_match(pa.table({"k": [1, 2], "v": [5.0, 1.25]}), want) is None
    assert results_match(pa.table({"k": [1, 2], "v": [5.07, 1.2]}), want) is None


class ScenePipeline:
    """The reference's job: decode and NDVI per tile, per-scene stats,
    AOI clip, overview pyramid, tiled bilinear warp and the product
    upsert, over seeded band pairs."""

    name = "scene_pipeline"

    def __init__(self, seed: int):
        from ndvi_etl_pipeline_spark.operators import raster, upsert, warp  # noqa: F401

        self.seed = seed
        self.bands: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        self.glob = ""
        self.out = ""

    def sizes(self) -> dict:
        return {"scenes": SCENES, "band_px": f"{SCENE_PX}x{SCENE_PX}", "tile": TILE,
                "bytes_per_band": SCENE_PX * SCENE_PX * 4}

    def setup(self, spark, work: str) -> None:
        from ndvi_etl_pipeline_spark.operators import raster

        rng = np.random.default_rng(self.seed)
        d = os.path.join(work, "scenes")
        os.makedirs(d)
        self.bands = {}
        for i in range(SCENES):
            scene = f"LC08_L2SP_189{i:03d}_202206{i % 28 + 1:02d}_02_T1"
            red, nir = datagen.make_scene(rng, SCENE_PX)
            raster.write_geotiff(red, os.path.join(d, f"{scene}_red.tif"))
            raster.write_geotiff(nir, os.path.join(d, f"{scene}_nir.tif"))
            self.bands[scene] = (red, nir)
        os.sync()  # writeback done before timing, so decode does not race it
        self.glob = os.path.join(d, "*.tif")
        self.out = os.path.join(work, "products")

    def passes(self, spark, tracer, n: int):
        yield "pass", lambda: self._pass(spark, tracer), None

    def _pass(self, spark, tracer) -> dict:
        from pyspark.sql import functions as F

        from ndvi_etl_pipeline_spark.operators import raster
        from ndvi_etl_pipeline_spark.operators.upsert import write_upsert
        from ndvi_etl_pipeline_spark.operators.warp import warp_bilinear_tiled

        out = {}
        with tracer.span("raster.scan_ndvi"):
            ndvi = raster.scan_scene_ndvi(spark, self.glob, tile=TILE).persist()
            stats = raster.tile_scene_stats(ndvi)
            out["stats"] = {r.scene_id: (r.n_pixels, r.n_valid, r.mean_ndvi)
                            for r in stats.collect()}
            tracer.plan_of(stats)
        try:
            with tracer.span("raster.clip"):
                s = float(SCENE_PX)
                ring = [(s * .1, s * .1), (s * .8, s * .15), (s * .9, s * .9),
                        (s * .5, s * .5), (s * .15, s * .8)]
                clip = raster.tile_clip_stats(ndvi, ring)
                out["clip_rows"] = len(clip.collect())
                tracer.plan_of(clip)
            with tracer.span("raster.overviews"):
                ov = raster.tile_overviews(ndvi, factors=OVERVIEW_FACTORS).groupBy("factor").agg(
                    F.count(F.lit(1)).alias("tiles"), F.sum("n_valid").alias("n_valid"))
                out["overviews"] = {r.factor: (r.tiles, r.n_valid) for r in ov.collect()}
                tracer.plan_of(ov)
            with tracer.span("warp.tiled"):
                dim = SCENE_PX * 2 // 3  # ~1.5x decimation, a 30 m-style reproject
                warped = warp_bilinear_tiled(ndvi, dim, dim, SCENE_PX / dim, SCENE_PX / dim,
                                             output="tiles", tile_size=TILE)
                out["warp_tiles"] = warped.count()
            with tracer.span("sink.write"):
                products = raster.tile_scene_stats(ndvi).withColumn(
                    "acquisition_date", F.to_date(F.split("scene_id", "_")[3], "yyyyMMdd"))
                write_upsert(products, self.out, partition_cols=("acquisition_date",))
        finally:
            ndvi.unpersist()
        return out

    def named_metrics(self, spark, ops, passes, tail):
        t, basis = tail(passes)
        return ({"scenes_per_min": (60 * SCENES / p50(passes), "1/min"),
                 "pass_p50_s": (p50(passes), "s"),
                 "pass_tail_s": (t, "s")}, {"pass_tail_s": basis})

    def layer_counts(self, spark, results) -> dict:
        files = [os.path.join(r, f) for r, _, fs in os.walk(self.out)
                 for f in fs if f.endswith(".parquet")]
        (_, out, _, _), = results
        return {"raster.tiles": SCENES * math.ceil(SCENE_PX / TILE) ** 2,
                "raster.decoded_mpix": 2 * SCENES * SCENE_PX ** 2 / 1e6,
                "warp.out_tiles": out["warp_tiles"],
                "sink.files_written": len(files),
                "sink.bytes_written": sum(os.path.getsize(f) for f in files)}

    def warp_tiles_expected(self) -> int:
        dim = SCENE_PX * 2 // 3
        scale = SCENE_PX / dim
        per_axis = 0
        for rt in range(-(-SCENE_PX // TILE)):
            lo = max(0, math.ceil((rt * TILE + 0.5) / scale - 0.5))
            hi = min(dim, math.ceil(((rt + 1) * TILE + 0.5) / scale - 0.5))
            per_axis += lo < hi
        return SCENES * per_axis * per_axis

    def check(self, results: list[tuple]) -> list[str | None]:
        ref = {k: datagen.scene_reference(r, n, TILE, OVERVIEW_FACTORS[-1])
               for k, (r, n) in self.bands.items()}
        tiles = sum(v["tiles"] for v in ref.values())
        errs = []
        for _, out, _ in results:
            bad = []
            if set(out["stats"]) != set(ref):
                bad.append("scene set")
            for k, (n_pix, n_val, mean) in out["stats"].items():
                want = ref.get(k)
                if want and (n_pix != want["n_pixels"] or n_val != want["n_valid"]
                             or abs(mean - want["mean_ndvi"]) > 2e-6):
                    bad.append(f"stats of {k}")
            if out["clip_rows"] != SCENES:
                bad.append("clip rows")
            ov = out["overviews"]
            if sorted(ov) != list(OVERVIEW_FACTORS) or any(t != tiles for t, _ in ov.values()):
                bad.append("overview tile count")
            elif ov[OVERVIEW_FACTORS[-1]][1] != sum(v["overview_cells"] for v in ref.values()):
                bad.append("overview valid cells")
            if out["warp_tiles"] != self.warp_tiles_expected():
                bad.append("warp tile count")
            errs.append("; ".join(bad) or None)
        if results:
            sink = pq.read_table(self.out)
            if sink.num_rows != SCENES and errs:
                errs[-1] = (errs[-1] or "") + f"; sink holds {sink.num_rows} rows"
        return errs


class LakeTable:
    """The lake cycle, run once per catalog pass on a lake built from the
    sf0.01 lineitem: an upsert (merge-on-read `lake_merge` of ~1%
    updated and ~1% new rows), a pruned point read of an updated row, a
    full aggregate read, and `lake_maintain` as the post-commit hook.
    The seed picks the updated keys, and the lineitem rows whose values
    the upsert writes."""

    def __init__(self, seed: int):
        self.seed = seed
        self.path = ""
        self.cycle = 0
        self.next_id = 0
        self.rows = 0
        self.source: pa.Table | None = None  # the lineitem upsert rows are drawn from
        self.model: dict[str, np.ndarray] = {}
        self.ingested: list[pa.Table] = []
        self.cycle_bytes = 0
        self.retries0 = 0

    def sizes(self) -> dict:
        k = round(self.rows * LAKE_CHANGE_SHARE)
        return {"base_rows": self.rows, "base_files": LAKE_BASE_FILES,
                "upsert_updates": k, "upsert_inserts": k,
                "maintain": "lake_maintain defaults (compacts past 32 small files)"}

    def build(self, spark, work: str, lineitem: pa.Table) -> None:
        from ndvi_etl_pipeline_spark.sources.lake import lake_write

        n = self.rows = lineitem.num_rows
        self.source = lineitem
        base = lineitem.append_column("row_id", pa.array(np.arange(n, dtype=np.int64)))
        self.path = os.path.join(work, "lake")
        # createDataFrame cuts the rows into contiguous slices, one per
        # base file, so each file holds one row_id range and point reads prune.
        lake_write(spark.createDataFrame(base).coalesce(LAKE_BASE_FILES), self.path)
        self.model = {
            "row_id": np.arange(n, dtype=np.int64),
            "qty": base.column("l_quantity").to_numpy().astype(np.int64),
            "cents": _cents(base),
        }
        self.next_id = n
        self.cycle = 0
        self.ingested = []

    def _upsert(self) -> tuple[pa.Table, int]:
        """This cycle's upsert rows (updated keys, then new keys) and the
        key of the point read, one of the updated rows. The values are
        those of lineitem rows drawn at random."""
        rng = np.random.default_rng([self.seed, self.cycle])
        k = round(self.rows * LAKE_CHANGE_SHARE)
        upd_ids = np.sort(rng.choice(self.model["row_id"], k, replace=False))
        new_ids = np.arange(self.next_id, self.next_id + k, dtype=np.int64)
        self.next_id += k
        rows = self.source.take(rng.integers(0, self.rows, 2 * k))
        rows = rows.append_column("row_id", pa.array(np.concatenate([upd_ids, new_ids])))
        return rows, int(rng.choice(upd_ids))

    def _apply(self, rows: pa.Table) -> None:
        m = self.model
        ids = rows.column("row_id").to_numpy()
        qty = rows.column("l_quantity").to_numpy().astype(np.int64)
        cents = _cents(rows)
        pos = np.searchsorted(m["row_id"], ids)
        old = (pos < len(m["row_id"])) & (m["row_id"][np.minimum(pos, len(m["row_id"]) - 1)] == ids)
        m["qty"][pos[old]] = qty[old]
        m["cents"][pos[old]] = cents[old]
        m["row_id"] = np.concatenate([m["row_id"], ids[~old]])
        m["qty"] = np.concatenate([m["qty"], qty[~old]])
        m["cents"] = np.concatenate([m["cents"], cents[~old]])

    def ops(self, spark, tracer):
        from pyspark.sql import functions as F

        from ndvi_etl_pipeline_spark.sources.lake import lake_maintain, lake_merge, lake_read

        self.cycle += 1
        self.cycle_bytes = dir_bytes(self.path)
        rows, point = self._upsert()
        self.ingested.append(rows)
        rows_df = spark.createDataFrame(rows).coalesce(1)

        def upsert():
            with tracer.span("lake.merge"):
                lake_merge(spark, rows_df, self.path, ("row_id",), strategy="mor")

        def point_read():
            with tracer.span("lake.read_plan"):
                df = lake_read(spark, self.path, where=[("row_id", "==", point)])
            with tracer.span("lake.read_exec"):
                got = df.select("row_id", "l_quantity", "l_extendedprice").collect()
                tracer.plan_of(df)
            return df, [(r.row_id, int(r.l_quantity), round(r.l_extendedprice * 100))
                        for r in got]

        def full_read():
            with tracer.span("lake.read_plan"):
                df = lake_read(spark, self.path)
                agg = df.agg(F.count(F.lit(1)).alias("n"),
                             F.sum("l_quantity").cast("long").alias("qty"),
                             F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                             .alias("cents"))
            with tracer.span("lake.read_exec"):
                r = agg.collect()[0]
                tracer.plan_of(agg)
            return df, [(r.n, r.qty, r.cents)]

        def maintain():
            with tracer.span("lake.maintain"):
                lake_maintain(spark, self.path)

        # The loop times only the yielded operations: the model update
        # and the expected results are computed between them.
        yield "lake.upsert", upsert, None
        self._apply(rows)
        m = self.model
        pos = int(np.searchsorted(m["row_id"], point))
        yield "lake.point_read", point_read, [(point, int(m["qty"][pos]), int(m["cents"][pos]))]
        yield "lake.full_read", full_read, [(len(m["row_id"]), int(m["qty"].sum()),
                                             int(m["cents"].sum()))]
        yield "lake.maintain", maintain, None

    def named_metrics(self, spark, ops, tail):
        from ndvi_etl_pipeline_spark.sources.lake import lake_read

        commits = [s for n, s, e in ops if n in ("lake.upsert", "lake.maintain") and not e]
        reads = [s for n, s, e in ops if n in ("lake.point_read", "lake.full_read") and not e]
        ct, cb = tail(commits)
        rt, rb = tail(reads)
        plain = os.path.join(os.path.dirname(self.path), "live.parquet")
        pq.write_table(lake_read(spark, self.path).toArrow(), plain)
        return ({"commit_p50_s": (p50(commits), "s"), "commit_tail_s": (ct, "s"),
                 "read_p50_s": (p50(reads), "s"), "read_tail_s": (rt, "s"),
                 "space_amp": (dir_bytes(self.path) / os.path.getsize(plain), "ratio")},
                {"commit_tail_s": cb, "read_tail_s": rb})

    def layer_counts(self, spark, results) -> dict:
        """Pruning, file and deletion-vector counts of this pass, read
        from the plans of its reads and the table directory."""
        from ndvi_etl_pipeline_spark.sources.lake import CONFLICT_STATS

        files = {n: out[0].inputFiles() for n, out, _, _ in results if n.endswith("_read")}
        point = [f for f in files.get("lake.point_read", []) if "/data/" in f]
        full = [f for f in files.get("lake.full_read", []) if "/data/" in f]
        dv_rows = sum(pq.ParquetFile(f.removeprefix("file:")).metadata.num_rows
                      for f in files.get("lake.full_read", []) if "/dv/" in f)
        ingested = pa.BufferOutputStream()
        pq.write_table(self.ingested[-1], ingested)
        retries = sum(CONFLICT_STATS.values())
        out = {"lake.files_live": len(full),
               "lake.files_scanned_ratio": len(point) / max(1, len(full)),
               "lake.dv_rows": dv_rows,
               "lake.write_amp": (dir_bytes(self.path) - self.cycle_bytes)
               / ingested.getvalue().size,
               "lake.conflict_retries": retries - self.retries0}
        self.retries0 = retries
        return out


def p50(xs: list[float]) -> float | None:
    return float(np.median(xs)) if xs else None


def _cents(t: pa.Table) -> np.ndarray:
    return np.round(t.column("l_extendedprice").to_numpy() * 100).astype(np.int64)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


WORKLOADS = {w.name: w for w in (ScenePipeline, Catalog)}
