"""DV anti-join keying (sources/lake.py:_dv_pack): exactness of the
packed (file, ordinal) -> one-64-bit-key encoding, plan shape
(single-key anti-join, pos folded into the key), parity with the exact
file-id fallback, and every fallback arm.

Why this exists: a BroadcastHashJoin keyed on ONE long probes Spark's
LongHashedRelation fast path; two long keys force UnsafeHashedRelation
(per-probe UnsafeRow projection + byte compare), measured ~10x slower
per row at 60 M rows (OPTIMIZATION_r09.md, re-checked in
OPTIMIZATION_r10.md §5). The packing must never trade that speed for
correctness — these tests pin the verified fallbacks."""

import pyspark.sql.functions as F

import ndvi_etl_pipeline_spark.sources.lake as L
from ndvi_etl_pipeline_spark.sources.lake import (
    lake_delete,
    lake_merge,
    lake_read,
    lake_write,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _anti_lines(df):
    return [l for l in _plan(df).splitlines() if "Join LeftAnti" in l]


def test_packed_keying_default_plan_and_rows(spark, tmp_path):
    """DV keying packs whenever its guards hold: the anti-join keys on
    the single __dv_k long (shiftleft/OR visible in the plan), no
    file-id (__dv_fid, __dv_pos) key pair, rows exact, broadcast hint
    kept."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(100)]).coalesce(2), t)
    lake_delete(spark, t, F.col("k") % 2 == 0, strategy="dv")
    df = lake_read(spark, t)
    plan = _plan(df)
    assert "__dv_k" in plan and "shiftleft" in plan
    assert "__dv_fid" not in plan  # the 2-key form never materializes
    anti = _anti_lines(df)
    assert anti and all("strategy=broadcast" in l for l in anti)
    assert sorted(r.k for r in df.collect()) == list(range(1, 100, 2))


def test_packed_and_fid_keying_parity(spark, tmp_path):
    """The same rows under a URI-safe root (packed keying) and under a
    root containing a space (exact file-id fallback), each put through
    two chained DV deletes and one MoR merge, read back identically."""
    rows = [(i, "v") for i in range(300)]
    upd = [(k, "u") for k in range(1, 300, 7)] + [(300, "new")]
    plans, got = [], []
    for t in (str(tmp_path / "safe" / "t"), str(tmp_path / "a b" / "t")):
        lake_write(_df(spark, rows).coalesce(3), t)
        lake_delete(spark, t, F.col("k") % 2 == 0, strategy="dv")
        lake_delete(spark, t, F.col("k") % 3 == 0, strategy="dv")
        lake_merge(spark, _df(spark, upd), t, keys=("k",), strategy="mor")
        df = lake_read(spark, t)
        plans.append(_plan(df))
        got.append(sorted((r.k, r.v) for r in df.collect()))
    live = {k: "v" for k in range(300) if k % 2 and k % 3}
    live.update(upd)
    assert got[0] == got[1] == sorted(live.items())
    assert "__dv_k" in plans[0] and "__dv_fid" not in plans[0]
    assert "__dv_fid" in plans[1] and "__dv_k" not in plans[1]


def test_pack_falls_back_when_hash_bits_collide(spark, tmp_path, monkeypatch):
    """When the ordinal width leaves too few hash bits for the entry
    set's truncated hashes to stay distinct (forced here by pretending
    every file holds 2^62 rows -> ONE hash bit for three files, a
    pigeonhole-guaranteed collision), packing must refuse and the read
    must take the file-id keying — rows exact either way."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(90)]).coalesce(3), t)
    lake_delete(spark, t, F.col("k") % 2 == 0, strategy="dv")
    monkeypatch.setattr(L, "_dv_posbits", lambda path, rels: 62)
    L._DV_PACK.clear()
    df = lake_read(spark, t)
    plan = _plan(df)
    assert "__dv_fid" in plan and "__dv_k" not in plan
    assert sorted(r.k for r in df.collect()) == list(range(1, 90, 2))
    L._DV_PACK.clear()


def test_pack_falls_back_when_footers_unreadable(spark, tmp_path, monkeypatch):
    """_dv_posbits=None (unreadable footer) disables packing but not
    the read."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(40)]).coalesce(2), t)
    lake_delete(spark, t, F.col("k") % 4 == 0, strategy="dv")
    monkeypatch.setattr(L, "_dv_posbits", lambda path, rels: None)
    L._DV_PACK.clear()
    df = lake_read(spark, t)
    plan = _plan(df)
    assert "__dv_fid" in plan and "__dv_k" not in plan
    assert sorted(r.k for r in df.collect()) == [
        k for k in range(40) if k % 4
    ]
    L._DV_PACK.clear()


def test_transient_footer_failure_is_not_cached(spark, tmp_path, monkeypatch):
    """A footer read that fails once must cost one read its packing,
    not every later one: the next read packs again, rows exact both
    times."""
    import os

    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(40)]).coalesce(2), t)
    lake_delete(spark, t, F.col("k") % 4 == 0, strategy="dv")
    m = L._read_manifest(t, L._latest_version(t))
    data = {os.path.join(t, L._entry_rel(e)) for e in m["files"]}
    real, failed = pq.ParquetFile, []

    def flaky(p, *a, **kw):
        if p in data and not failed:
            failed.append(p)
            raise OSError("transient footer read failure")
        return real(p, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", flaky)
    want = [k for k in range(40) if k % 4]
    first = lake_read(spark, t)
    assert failed and "__dv_k" not in _plan(first)
    assert sorted(r.k for r in first.collect()) == want
    again = lake_read(spark, t)
    assert "__dv_k" in _plan(again)
    assert sorted(r.k for r in again.collect()) == want


def test_posbits_from_footer_metadata(spark, tmp_path):
    """_dv_posbits = bit_length(max file rows - 1), floored at 1."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(1000)]).coalesce(1), t)
    m = L._read_manifest(t, L._latest_version(t))
    rels = [L._entry_rel(e) for e in m["files"]]
    assert L._dv_posbits(t, rels) == (1000 - 1).bit_length()  # 10
    t2 = str(tmp_path / "t2")
    lake_write(_df(spark, [(1, "v")]).coalesce(1), t2)
    m2 = L._read_manifest(t2, L._latest_version(t2))
    assert L._dv_posbits(t2, [L._entry_rel(e) for e in m2["files"]]) == 1


def test_packed_key_is_exact_same_ordinal_across_files(spark, tmp_path):
    """The classic 2-key trap: ordinal 0 deleted in file A must not
    delete ordinal 0 of file B. Delete exactly one full file's rows
    via a predicate that hits one coalesced partition and verify the
    other files' same-ordinal rows survive under packed keying."""
    t = str(tmp_path / "t")
    # 3 files x 10 rows; delete rows 0..9 of the k<10 file only
    df = spark.createDataFrame(
        [(i, "v") for i in range(30)], "k int, v string"
    ).repartitionByRange(3, "k")
    lake_write(df, t)
    lake_delete(spark, t, F.col("k") < 10, strategy="dv")
    out = lake_read(spark, t)
    assert "__dv_k" in _plan(out)
    assert sorted(r.k for r in out.collect()) == list(range(10, 30))


def test_posbits_per_file_cache_shared_across_subsets(spark, tmp_path):
    """Footer num_rows is cached per FILE: a second (different) subset
    of the same table must not re-read footers of shared files, and
    posbits over a subset reflects only that subset's files."""
    import os

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "v") for i in range(1024 + 2)], "k int, v string"
    ).repartitionByRange(2, "k")  # file A: 513 rows, file B: 513 rows
    lake_write(df, t)
    m = L._read_manifest(t, L._latest_version(t))
    rels = sorted(L._entry_rel(e) for e in m["files"])
    paths = [r if os.path.isabs(r) else os.path.join(t, r) for r in rels]
    full = L._dv_posbits(t, rels)
    # every file's footer is now cached under its absolute path
    assert all(p in L._DV_FILE_ROWS for p in paths)
    assert full == (max(L._DV_FILE_ROWS[p] for p in paths) - 1).bit_length()
    # a one-file subset answers from the cache with its own width
    one = L._dv_posbits(t, rels[:1])
    assert one == max((L._DV_FILE_ROWS[paths[0]] - 1).bit_length(), 1)


def test_packed_keep_meta_chained_deletes(spark, tmp_path):
    """keep_meta consumers (a second dv-delete addressing rows through
    (_DV_FILE, _DV_POS)) still work when the first read was packed."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, "v") for i in range(30)]).coalesce(2), t)
    lake_delete(spark, t, F.col("k") % 2 == 0, strategy="dv")
    lake_delete(spark, t, F.col("k") % 3 == 0, strategy="dv")
    got = sorted(r.k for r in lake_read(spark, t).collect())
    assert got == [k for k in range(1, 30, 2) if k % 3 != 0]
    cols = lake_read(spark, t).columns
    assert "__dv_k" not in cols and "__dv_fid" not in cols
