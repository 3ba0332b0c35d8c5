"""lake_update (COW UPDATE with CDF preimage addresses) and the
lake_sql DML grammar (INSERT INTO / UPDATE / DELETE FROM / MERGE
INTO): atomicity, three-valued WHERE logic, change-feed fidelity,
vacuum liveness of the preimage addresses, and the statement-shell
parser's refusal shapes."""

import os

import pyspark.sql.functions as F
import pytest

from ndvi_etl_pipeline_spark.sources.lake import (
    lake_alter_constraints,
    lake_delete,
    lake_history,
    lake_read,
    lake_read_cdf,
    lake_rename_column,
    lake_update,
    lake_vacuum,
    lake_write,
)
from ndvi_etl_pipeline_spark.sources.lake_sql import lake_sql


def _lm(table_path, version):
    from ndvi_etl_pipeline_spark.sources.lake import _read_manifest

    return _read_manifest(table_path, version)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


# --- lake_update -----------------------------------------------------------


def test_update_basic_and_no_match_is_noop(spark, tmp_path):
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), t)
    lake_write(_df(spark, [(3, "c")]).coalesce(1), t)
    v = lake_update(spark, t, {"v": F.upper(F.col("v"))}, F.col("k") >= 2)
    assert v == 2
    got = {(r.k, r.v) for r in lake_read(spark, t).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "C")}
    # matching nothing publishes no snapshot
    assert lake_update(spark, t, {"v": F.lit("x")}, F.col("k") > 99) == 2
    # old snapshots intact (time travel across the update)
    assert {r.v for r in lake_read(spark, t, version=1).collect()} == {
        "a", "b", "c",
    }
    assert [h["op"] for h in lake_history(t)] == ["append", "append", "update"]


def test_update_rewrites_only_hit_files(spark, tmp_path):
    """COW granularity: a file with no matching row carries over
    VERBATIM (same entry path), never rewritten."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a")]).coalesce(1), t)
    lake_write(_df(spark, [(100, "z")]).coalesce(1), t)
    before = {e["path"] for e in _lm(t, 1)["files"]}
    lake_update(spark, t, {"v": F.lit("Z")}, F.col("k") >= 100)
    m = _lm(t, 2)
    after = {e["path"] for e in m["files"]}
    untouched = before & after
    assert len(untouched) == 1  # the k=1 file carried over
    assert len(m["rewrote_files"]) == 1
    assert set(m["rewrote_files"]) == before - after


def test_update_null_predicate_rows_survive(spark, tmp_path):
    """SQL three-valued logic: WHERE evaluating NULL means NOT
    MATCHED — the row must carry over, even when its FILE is
    rewritten for a true-pred neighbour."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, None), (3, "c")], "k int, v string")
    lake_write(df.coalesce(1), t)  # one file: nulls share it
    lake_update(spark, t, {"k": F.col("k") + 10}, F.col("v") != "c")
    got = {(r.k, r.v) for r in lake_read(spark, t).collect()}
    assert got == {(11, "a"), (2, None), (3, "c")}


def test_delete_cow_null_predicate_rows_survive(spark, tmp_path):
    """Regression: COW delete used filter(~pred) for survivors, which
    silently dropped null-pred rows sharing a file with a matched
    row; the DV path never had the asymmetry. Both must agree."""
    for strategy in ("cow", "dv"):
        t = str(tmp_path / f"t_{strategy}")
        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "a")], "k int, v string"
        )
        lake_write(df.coalesce(1), t)
        lake_delete(spark, t, F.col("v") == "a", strategy=strategy)
        got = {(r.k, r.v) for r in lake_read(spark, t).collect()}
        assert got == {(2, None)}, strategy


def test_update_respects_deletion_vectors(spark, tmp_path):
    """Rows dv-deleted before the update are INVISIBLE: the update
    must neither update nor resurrect them."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), t)
    lake_delete(spark, t, F.col("k") == 2, strategy="dv")
    lake_update(spark, t, {"v": F.lit("U")}, F.lit(True))
    got = {(r.k, r.v) for r in lake_read(spark, t).collect()}
    assert got == {(1, "U"), (3, "U")}


def test_update_cdf_emits_preimage_delete_postimage_insert(spark, tmp_path):
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), t)
    v = lake_update(spark, t, {"v": F.upper(F.col("v"))}, F.col("k") <= 2)
    feed = lake_read_cdf(spark, t, 0, v).collect()
    ev = {(r.k, r.v, r._change_type, r._commit_version) for r in feed}
    assert ev == {
        (1, "a", "delete", 1),
        (2, "b", "delete", 1),
        (1, "A", "insert", 1),
        (2, "B", "insert", 1),
    }
    # multiset compose: snapshot(0) + inserts - deletes == snapshot(v)
    base = {(r.k, r.v) for r in lake_read(spark, t, version=0).collect()}
    ins = {(r.k, r.v) for r in feed if r._change_type == "insert"}
    dels = {(r.k, r.v) for r in feed if r._change_type == "delete"}
    assert (base | ins) - dels == {
        (r.k, r.v) for r in lake_read(spark, t).collect()
    }


def test_update_partition_column_moves_rows(spark, tmp_path):
    """Updating a partition column relocates rows across hive dirs
    and the recorded per-file partition values stay prune-exact."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "us", "a"), (2, "eu", "b"), (3, "eu", "c")],
        "k int, region string, v string",
    )
    lake_write(df, t, partition_by=("region",))
    lake_update(
        spark, t, {"region": F.lit("apac")}, F.col("region") == "eu"
    )
    got = {(r.k, r.region) for r in lake_read(spark, t).collect()}
    assert got == {(1, "us"), (2, "apac"), (3, "apac")}
    # pruning by the NEW value finds the moved rows
    pruned = lake_read(spark, t, where=[("region", "=", "apac")])
    assert {r.k for r in pruned.collect()} == {2, 3}


def test_update_on_renamed_column_mapped_table(spark, tmp_path):
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), t)
    lake_rename_column(t, "v", "label")
    lake_update(spark, t, {"label": F.lit("up")}, F.col("k") == 2)
    got = {(r.k, r.label) for r in lake_read(spark, t).collect()}
    assert got == {(1, "a"), (2, "up")}


def test_update_enforces_check_constraints(spark, tmp_path):
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a")]).coalesce(1), t)
    lake_alter_constraints(spark, t, add_checks={"k_pos": "k > 0"})
    with pytest.raises(ValueError, match="k_pos"):
        lake_update(spark, t, {"k": F.lit(-5)}, F.lit(True))
    # table unchanged after the refused update
    assert {r.k for r in lake_read(spark, t).collect()} == {1}


def test_update_unknown_column_refused(spark, tmp_path):
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a")]), t)
    with pytest.raises(ValueError, match="unknown columns"):
        lake_update(spark, t, {"nope": F.lit(1)}, F.lit(True))


def test_vacuum_keeps_then_collects_update_preimage(spark, tmp_path):
    """The preimage-address parquet lives exactly as long as its
    version's history: kept while the update commit is kept (CDF
    still reads), collected once vacuum drops the commit."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), t)
    v = lake_update(spark, t, {"v": F.lit("u")}, F.col("k") == 1)
    pre_rel = _lm(t, v)["update_preimage_dv"]
    lake_write(_df(spark, [(9, "z")]).coalesce(1), t)
    lake_vacuum(t, keep_last=3, retention_seconds=0)
    assert os.path.isdir(os.path.join(t, pre_rel))
    assert len(lake_read_cdf(spark, t, 0, v).collect()) == 2
    lake_vacuum(t, keep_last=1, retention_seconds=0)
    files = []
    root = os.path.join(t, pre_rel)
    if os.path.isdir(root):
        for _, _, names in os.walk(root):
            files += [n for n in names if n.endswith(".parquet")]
    assert not files  # collected with its dropped history


# --- lake_sql DML ----------------------------------------------------------


def test_sql_insert_values_and_select(spark, tmp_path):
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a")]), t)
    r = lake_sql(
        spark, "INSERT INTO tbl VALUES (2, 'b'), (3, 'c')", {"tbl": t}
    ).collect()[0]
    assert (r.op, r.version) == ("insert", 1)
    # self-referential backfill reads the PRE-insert snapshot
    lake_sql(
        spark,
        "INSERT INTO tbl SELECT k + 10, upper(v) FROM tbl WHERE k >= 2",
        {"tbl": t},
    )
    got = {(r.k, r.v) for r in lake_read(spark, t).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c"), (12, "B"), (13, "C")}


def test_sql_insert_column_list_fills_null(spark, tmp_path):
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a")]), t)
    lake_sql(spark, "INSERT INTO tbl (k) VALUES (7)", {"tbl": t})
    got = {(r.k, r.v) for r in lake_read(spark, t).collect()}
    assert got == {(1, "a"), (7, None)}
    with pytest.raises(ValueError, match="unknown columns"):
        lake_sql(spark, "INSERT INTO tbl (nope) VALUES (1)", {"tbl": t})
    with pytest.raises(ValueError, match="column list has"):
        lake_sql(spark, "INSERT INTO tbl (k) VALUES (1, 'x')", {"tbl": t})


def test_sql_update_delete_roundtrip(spark, tmp_path):
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), t)
    lake_sql(
        spark,
        "UPDATE tbl SET v = concat(v, '!'), k = k * 10 WHERE k < 3",
        {"tbl": t},
    )
    got = {(r.k, r.v) for r in lake_read(spark, t).collect()}
    assert got == {(10, "a!"), (20, "b!"), (3, "c")}
    r = lake_sql(
        spark, "DELETE FROM tbl WHERE k = 20", {"tbl": t}
    ).collect()[0]
    assert r.op == "delete"
    assert {x.k for x in lake_read(spark, t).collect()} == {10, 3}
    # dv strategy: no file rewritten
    before = {e["path"] for e in _lm(t, int(r.version))["files"]}
    lake_sql(
        spark, "DELETE FROM tbl WHERE k = 3", {"tbl": t},
        delete_strategy="dv",
    )
    m = _lm(t, int(r.version) + 1)
    assert {e["path"] for e in m["files"]} == before and m.get("dvs")
    assert {x.k for x in lake_read(spark, t).collect()} == {10}


def test_sql_merge_upsert(spark, tmp_path):
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), t)
    lake_sql(
        spark,
        "MERGE INTO tbl USING (SELECT 2 AS k, 'B' AS v UNION ALL "
        "SELECT 3, 'C') AS s ON tbl.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        {"tbl": t},
    )
    got = {(r.k, r.v) for r in lake_read(spark, t).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "C")}


def test_sql_merge_lake_to_lake(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    lake_write(_df(spark, [(1, "new"), (5, "ins")]), src)
    lake_write(_df(spark, [(1, "old"), (2, "keep")]), dst)
    lake_sql(
        spark,
        "MERGE INTO dst USING src ON dst.k = src.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        {"dst": dst, "src": src},
    )
    got = {(r.k, r.v) for r in lake_read(spark, dst).collect()}
    assert got == {(1, "new"), (2, "keep"), (5, "ins")}


def test_sql_dml_refusals(spark, tmp_path):
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a")]), t)
    with pytest.raises(ValueError, match="unsupported DML shape"):
        lake_sql(spark, "UPDATE tbl", {"tbl": t})
    with pytest.raises(ValueError, match="not a lake table"):
        lake_sql(spark, "DELETE FROM other WHERE k = 1", {"tbl": t})
    with pytest.raises(ValueError, match="key.*equalities only"):
        lake_sql(
            spark,
            "MERGE INTO tbl USING (SELECT 1 AS k, 'x' AS v) AS s "
            "ON tbl.k > s.k WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *",
            {"tbl": t},
        )
    with pytest.raises(ValueError, match="unsupported MERGE actions"):
        # per-action conditions are not in the grammar
        lake_sql(
            spark,
            "MERGE INTO tbl USING (SELECT 1 AS k) AS s ON tbl.k = s.k "
            "WHEN MATCHED AND tbl.k > 0 THEN DELETE",
            {"tbl": t},
        )


def test_sql_merge_matched_delete(spark, tmp_path):
    """WHEN MATCHED THEN DELETE: source keys retract table rows as a
    deletion-vector commit (no file rewritten); absent keys no-op."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), t)
    before = {e["path"] for e in _lm(t, 0)["files"]}
    r = lake_sql(
        spark,
        "MERGE INTO tbl USING (SELECT 2 AS k UNION ALL SELECT 99) AS s "
        "ON tbl.k = s.k WHEN MATCHED THEN DELETE",
        {"tbl": t},
    ).collect()[0]
    assert r.op == "merge_delete"
    m = _lm(t, int(r.version))
    assert {e["path"] for e in m["files"]} == before and m.get("dvs")
    assert {x.k for x in lake_read(spark, t).collect()} == {1, 3}


def test_sql_merge_insert_only_idempotent(spark, tmp_path):
    """WHEN NOT MATCHED THEN INSERT *: only absent keys land, and
    re-delivering the same batch inserts nothing (no new snapshot)."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), t)
    stmt = (
        "MERGE INTO tbl USING (SELECT 2 AS k, 'DUP' AS v UNION ALL "
        "SELECT 3, 'c') AS s ON tbl.k = s.k "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    r = lake_sql(spark, stmt, {"tbl": t}).collect()[0]
    assert (r.op, r.version) == ("merge_insert", 1)
    got = {(x.k, x.v) for x in lake_read(spark, t).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}  # k=2 NOT overwritten
    # replay: every key now present → same version, no commit
    r2 = lake_sql(spark, stmt, {"tbl": t}).collect()[0]
    assert r2.version == 1
    assert {(x.k, x.v) for x in lake_read(spark, t).collect()} == got


def test_sql_insert_creates_new_table(spark, tmp_path):
    t = str(tmp_path / "fresh")
    lake_sql(
        spark,
        "INSERT INTO fresh (k, v) VALUES (1, 'a'), (2, 'b')",
        {"fresh": t},
    )
    got = {(r.k, r.v) for r in lake_read(spark, t).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_sql_maintenance_statements(spark, tmp_path):
    """OPTIMIZE [WHERE] [ZORDER BY], VACUUM RETAIN, DESCRIBE HISTORY
    through the SQL text."""
    t = str(tmp_path / "t")
    for i in range(4):
        lake_write(_df(spark, [(i, "x")]).coalesce(1), t)
    hist = lake_sql(spark, "DESCRIBE HISTORY tbl", {"tbl": t}).collect()
    assert [(h.version, h.op) for h in hist] == [
        (0, "append"), (1, "append"), (2, "append"), (3, "append"),
    ]
    r = lake_sql(
        spark, "OPTIMIZE tbl WHERE k >= 1 AND k < 3", {"tbl": t}
    ).collect()[0]
    assert (r.op, r.version) == ("optimize", 4)
    m = _lm(t, 4)
    # the two in-scope files compacted to one; out-of-scope carried
    assert len(m["files"]) == 3
    assert {x.k for x in lake_read(spark, t).collect()} == {0, 1, 2, 3}
    rv = lake_sql(
        spark, "VACUUM tbl RETAIN 0 HOURS", {"tbl": t}
    ).collect()[0]
    assert rv.op == "vacuum" and rv.n_deleted >= 1  # the compacted pair
    assert {x.k for x in lake_read(spark, t).collect()} == {0, 1, 2, 3}
    # zorder form parses and commits
    r2 = lake_sql(spark, "OPTIMIZE tbl ZORDER BY (k)", {"tbl": t}).collect()[0]
    assert r2.op == "optimize"
    with pytest.raises(ValueError, match="col op literal"):
        lake_sql(spark, "OPTIMIZE tbl WHERE k BETWEEN 1 AND 3", {"tbl": t})


def test_sql_ctas_and_shallow_clone(spark, tmp_path):
    """CREATE TABLE AS SELECT (incl. PARTITIONED BY + OR REPLACE) and
    CREATE TABLE ... SHALLOW CLONE through the SQL text."""
    src = str(tmp_path / "src")
    agg = str(tmp_path / "agg")
    cl = str(tmp_path / "cl")
    lake_write(
        spark.createDataFrame(
            [(1, "us", 10.0), (2, "eu", 20.0), (3, "eu", 5.0)],
            "k int, region string, amt double",
        ),
        src,
    )
    tables = {"src": src, "agg": agg, "cl": cl}
    r = lake_sql(
        spark,
        "CREATE TABLE agg PARTITIONED BY (region) AS "
        "SELECT region, k, amt * 2 AS amt2 FROM src",
        tables,
    ).collect()[0]
    assert (r.op, r.version) == ("create", 0)
    assert _lm(agg, 0)["partition_by"] == ["region"]
    got = {(x.k, x.amt2) for x in lake_read(spark, agg).collect()}
    assert got == {(1, 20.0), (2, 40.0), (3, 10.0)}
    with pytest.raises(ValueError, match="already exists"):
        lake_sql(spark, "CREATE TABLE agg AS SELECT 1 AS k", tables)
    lake_sql(
        spark,
        "CREATE OR REPLACE TABLE agg AS SELECT region, count(*) AS n "
        "FROM src GROUP BY region",
        tables,
    )
    assert {(x.region, x.n) for x in lake_read(spark, agg).collect()} == {
        ("us", 1), ("eu", 2),
    }
    lake_sql(spark, "CREATE TABLE cl SHALLOW CLONE src", tables)
    assert {x.k for x in lake_read(spark, cl).collect()} == {1, 2, 3}


def test_sql_history_has_timestamps_and_neq_refused(spark, tmp_path):
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a")]), t)
    h = lake_sql(spark, "DESCRIBE HISTORY tbl", {"tbl": t}).collect()[0]
    assert h.ts > 1.7e9  # a real commit wall-clock, not the 0.0 default
    with pytest.raises(ValueError, match="col op literal"):
        lake_sql(spark, "OPTIMIZE tbl WHERE k != 1", {"tbl": t})


def test_sql_create_temp_view_passthrough(spark, tmp_path):
    """Second-review regression: CREATE forms that are not CTAS /
    SHALLOW CLONE (e.g. CREATE TEMP VIEW over a rewritten lake
    relation) pass through to spark.sql instead of raising."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b")]), t)
    lake_sql(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW v_pass AS SELECT k FROM tbl "
        "WHERE k > 1",
        {"tbl": t},
    )
    assert [r.k for r in spark.table("v_pass").collect()] == [2]


def test_sql_ctas_transform_partition_spec(spark, tmp_path):
    """CTAS accepts transform partition specs (nested parens)."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    lake_write(_df(spark, [(i, "x") for i in range(8)]), src)
    lake_sql(
        spark,
        "CREATE TABLE dst PARTITIONED BY (bucket(4, k)) AS "
        "SELECT * FROM src",
        {"src": src, "dst": dst},
    )
    assert _lm(dst, 0)["partition_by"] == ["bucket(4, k)"]
    assert {r.k for r in lake_read(spark, dst).collect()} == set(range(8))


def test_sql_optimize_where_literal_grammar(spark, tmp_path):
    t = str(tmp_path / "t")
    lake_write(
        spark.createDataFrame(
            [(1, "a AND b"), (2, "plain")], "k int, v string"
        ).coalesce(1),
        t,
    )
    # quoted literal containing AND survives the split
    r = lake_sql(
        spark, "OPTIMIZE tbl WHERE v = 'a AND b'", {"tbl": t}
    ).collect()[0]
    assert r.op == "optimize"
    # unquoted non-numeric literal: the grammar error, not a float
    # conversion traceback
    with pytest.raises(ValueError, match="number or a quoted string"):
        lake_sql(spark, "OPTIMIZE tbl WHERE v = eu", {"tbl": t})


# --- merge-on-read UPDATE / MERGE (deletion-vector preimages + postimage
# appends: cost O(delta), never O(hit-file bytes)) -------------------------


def test_mor_update_rewrites_nothing(spark, tmp_path):
    """strategy='mor': every pre-existing file entry carries over
    VERBATIM; the matched rows' old versions hide behind a new DV set
    and the new versions append as postimage files."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), t)
    lake_write(_df(spark, [(3, "c")]).coalesce(1), t)
    before = {e["path"] for e in _lm(t, 1)["files"]}
    v = lake_update(
        spark, t, {"v": F.upper(F.col("v"))}, F.col("k") >= 2, strategy="mor"
    )
    m = _lm(t, v)
    after = {e["path"] for e in m["files"]}
    assert before <= after  # zero rewrites: old entries all survive
    assert m["strategy"] == "mor" and m["rewrote_files"] == []
    assert len(m["dvs"]) == 1 and m["dvs"][0] == m["update_preimage_dv"]
    assert set(m["update_files"]) == after - before
    got = {(r.k, r.v) for r in lake_read(spark, t).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "C")}
    # time travel: pre-update snapshot intact
    assert {r.v for r in lake_read(spark, t, version=1).collect()} == {
        "a", "b", "c",
    }
    # matching nothing publishes no snapshot
    assert (
        lake_update(spark, t, {"v": F.lit("x")}, F.col("k") > 99, strategy="mor")
        == v
    )


def test_mor_update_cdf_and_null_predicate(spark, tmp_path):
    """CDF across a MoR update emits delete(preimage)+insert(postimage)
    pairs; NULL predicates mean NOT MATCHED (three-valued logic)."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, None), (3, "c")], "k int, v string")
    lake_write(df.coalesce(1), t)
    v = lake_update(
        spark, t, {"k": F.col("k") + 10}, F.col("v") != "c", strategy="mor"
    )
    got = {(r.k, r.v) for r in lake_read(spark, t).collect()}
    assert got == {(11, "a"), (2, None), (3, "c")}  # null-pred row survives
    feed = lake_read_cdf(spark, t, 0, v).collect()
    ev = {(r.k, r.v, r._change_type) for r in feed}
    assert ev == {(1, "a", "delete"), (11, "a", "insert")}


def test_mor_update_respects_prior_dv(spark, tmp_path):
    """Rows dv-deleted before the MoR update are INVISIBLE: neither
    updated nor resurrected, and never double-addressed."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), t)
    lake_delete(spark, t, F.col("k") == 2, strategy="dv")
    lake_update(spark, t, {"v": F.lit("U")}, F.lit(True), strategy="mor")
    got = {(r.k, r.v) for r in lake_read(spark, t).collect()}
    assert got == {(1, "U"), (3, "U")}


def test_mor_merge_rewrites_nothing_and_upserts(spark, tmp_path):
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1), t)
    upd = _df(spark, [(2, "B2"), (9, "new")])
    from ndvi_etl_pipeline_spark.sources.lake import lake_merge

    v = lake_merge(spark, upd, t, keys=("k",), strategy="mor")
    m = _lm(t, v)
    before = {e["path"] for e in _lm(t, 0)["files"]}
    after = {e["path"] for e in m["files"]}
    assert before <= after and m["strategy"] == "mor"
    assert m["n_rows_delta"] == 1  # +2 inserts, -1 replaced
    got = {(r.k, r.v) for r in lake_read(spark, t).collect()}
    assert got == {(1, "a"), (2, "B2"), (3, "c"), (9, "new")}
    # CDF: delete(old matched) + insert(every update row)
    feed = lake_read_cdf(spark, t, 0, v).collect()
    ev = {(r.k, r.v, r._change_type) for r in feed}
    assert ev == {
        (2, "b", "delete"), (2, "B2", "insert"), (9, "new", "insert"),
    }


def test_mor_merge_no_match_is_pure_insert(spark, tmp_path):
    """A MoR merge whose keys are all absent lands no DV set — the
    commit is effectively an insert and the CDF shows inserts only."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a")]).coalesce(1), t)
    from ndvi_etl_pipeline_spark.sources.lake import lake_merge

    v = lake_merge(spark, _df(spark, [(7, "g")]), t, keys=("k",), strategy="mor")
    m = _lm(t, v)
    assert not m.get("dvs") and "update_preimage_dv" not in m
    feed = lake_read_cdf(spark, t, 0, v).collect()
    assert {(r.k, r._change_type) for r in feed} == {(7, "insert")}


def test_mor_update_enforces_constraints(spark, tmp_path):
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a")]).coalesce(1), t)
    lake_alter_constraints(spark, t, add_checks={"k_pos": "k > 0"})
    with pytest.raises(ValueError, match="k_pos"):
        lake_update(
            spark, t, {"k": F.lit(-5)}, F.lit(True), strategy="mor"
        )
    # failed attempt left no snapshot and no visible change
    assert {(r.k, r.v) for r in lake_read(spark, t).collect()} == {(1, "a")}


def test_mor_update_on_renamed_column_mapped_table(spark, tmp_path):
    """MoR update through id-based column mapping: SET on the logical
    name lands under the stable physical name."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), t)
    lake_rename_column(t, "v", "label")
    lake_update(
        spark, t, {"label": F.upper(F.col("label"))}, F.col("k") == 2,
        strategy="mor",
    )
    got = {(r.k, r.label) for r in lake_read(spark, t).collect()}
    assert got == {(1, "a"), (2, "B")}


def test_mor_compact_materializes_and_vacuum_collects_preimage(spark, tmp_path):
    """lake_maintain's compaction drains the MoR debt: the rewrite
    reads visible rows only and clears the DV list; vacuum keeps the
    preimage addresses while their commit's history lives, then
    collects them."""
    from ndvi_etl_pipeline_spark.sources.lake import lake_compact, lake_merge

    t = str(tmp_path / "t")
    lake_write(_df(spark, [(i, f"v{i}") for i in range(20)]).coalesce(2), t)
    v1 = lake_merge(
        spark, _df(spark, [(1, "U1"), (2, "U2")]), t, keys=("k",),
        strategy="mor",
    )
    pre_rel = _lm(t, v1)["update_preimage_dv"]
    assert os.path.isdir(os.path.join(t, pre_rel))
    v2 = lake_compact(spark, t, num_files=1)
    assert not _lm(t, v2).get("dvs")
    exp = {(i, f"v{i}") for i in range(20) if i not in (1, 2)} | {
        (1, "U1"), (2, "U2"),
    }
    assert {(r.k, r.v) for r in lake_read(spark, t).collect()} == exp
    # CDF across the merge still readable pre-vacuum
    assert len(lake_read_cdf(spark, t, 0, v1).collect()) == 4
    lake_vacuum(t, keep_last=1, retention_seconds=0.0)
    remaining = [
        f
        for f in (
            os.listdir(os.path.join(t, pre_rel))
            if os.path.isdir(os.path.join(t, pre_rel))
            else []
        )
        if f.endswith(".parquet")
    ]
    assert remaining == []  # address payloads collected with the history
    assert {(r.k, r.v) for r in lake_read(spark, t).collect()} == exp


def test_sql_update_and_merge_strategy_knobs(spark, tmp_path):
    """lake_sql(update_strategy='mor' / merge_strategy='mor') routes
    the same statement text through the merge-on-read paths."""
    t = str(tmp_path / "t")
    lake_write(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), t)
    r = lake_sql(
        spark, "UPDATE tbl SET v = upper(v) WHERE k = 2", {"tbl": t},
        update_strategy="mor",
    ).collect()[0]
    assert _lm(t, r.version)["strategy"] == "mor"
    r2 = lake_sql(
        spark,
        "MERGE INTO tbl USING (SELECT 2 AS k, 'M' AS v) AS s ON tbl.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        {"tbl": t},
        merge_strategy="mor",
    ).collect()[0]
    m = _lm(t, r2.version)
    assert m["op"] == "merge" and m["strategy"] == "mor"
    got = {(r.k, r.v) for r in lake_read(spark, t).collect()}
    assert got == {(1, "a"), (2, "M")}


# --- SQL DDL: ALTER TABLE / RESTORE / tags ---------------------------------


def test_sql_alter_rename_drop_widen(spark, tmp_path):
    from ndvi_etl_pipeline_spark.sources.lake import lake_read_cdf

    t = str(tmp_path / "t")
    T = {"tbl": t}
    lake_write(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "k int, v string, w int"
        ).coalesce(1),
        t,
    )
    r = lake_sql(spark, "ALTER TABLE tbl RENAME COLUMN v TO label", T).collect()[0]
    assert (r.op, r.version) == ("rename_column", 1)
    assert lake_read(spark, t).columns == ["k", "label", "w"]
    r = lake_sql(spark, "ALTER TABLE tbl ALTER COLUMN w TYPE bigint", T).collect()[0]
    assert r.op == "widen_column"
    import pyspark.sql.types as TT

    assert lake_read(spark, t).schema["w"].dataType == TT.LongType()
    # narrower INSERT upcasts; widened range is live
    lake_sql(
        spark,
        "INSERT INTO tbl SELECT 3 AS k, 'c' AS label, "
        "CAST(5000000000 AS BIGINT) AS w",
        T,
    )
    got = {(x.k, x.label, x.w) for x in lake_read(spark, t).collect()}
    assert got == {(1, "a", 10), (2, "b", 20), (3, "c", 5000000000)}
    # CDF across the metadata-only commits: inserts only
    feed = lake_read_cdf(spark, t, 0).collect()
    assert {(x.k, x._change_type) for x in feed} == {(3, "insert")}
    # narrowing refuses with the supported-shapes error
    with pytest.raises(ValueError, match="lossless widening"):
        lake_sql(spark, "ALTER TABLE tbl ALTER COLUMN w TYPE int", T)
    r = lake_sql(spark, "ALTER TABLE tbl DROP COLUMN w", T).collect()[0]
    assert r.op == "drop_column"
    assert lake_read(spark, t).columns == ["k", "label"]


def test_sql_tag_ddl_and_restore(spark, tmp_path):
    from ndvi_etl_pipeline_spark.sources.lake import lake_tags

    t = str(tmp_path / "t")
    T = {"tbl": t}
    lake_write(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), t)   # v0
    r = lake_sql(spark, "ALTER TABLE tbl CREATE TAG rel.v1", T).collect()[0]
    assert (r.op, r.version) == ("create_tag", 0)
    lake_sql(spark, "UPDATE tbl SET v = upper(v)", T)             # v1
    # tag reads pin the clean snapshot
    got = lake_sql(
        spark, "SELECT * FROM tbl VERSION AS OF 'rel.v1'", T
    ).collect()
    assert {(x.k, x.v) for x in got} == {(1, "a"), (2, "b")}
    # CREATE without OR REPLACE refuses an existing name
    with pytest.raises(Exception, match="already exists"):
        lake_sql(spark, "ALTER TABLE tbl CREATE TAG rel.v1 AS OF VERSION 1", T)
    r = lake_sql(
        spark, "ALTER TABLE tbl CREATE OR REPLACE TAG rel.v1 AS OF VERSION 1", T
    ).collect()[0]
    assert r.version == 1
    # RESTORE by tag rolls forward a new commit with the old state
    lake_sql(spark, "ALTER TABLE tbl CREATE TAG pre", T)
    r = lake_sql(spark, "RESTORE TABLE tbl TO VERSION AS OF 0", T).collect()[0]
    assert r.op == "restore"
    assert {(x.k, x.v) for x in lake_read(spark, t).collect()} == {
        (1, "a"), (2, "b"),
    }
    lake_sql(spark, "ALTER TABLE tbl DROP TAG pre", T)
    assert set(lake_tags(t)) == {"rel.v1"}


def test_sql_add_drop_check_constraint(spark, tmp_path):
    """ALTER TABLE ADD CONSTRAINT ... CHECK gates every subsequent
    INSERT atomically; DROP CONSTRAINT lifts the gate (round-7 verdict
    ask #5: the library calls existed, the DDL closes the SQL gap)."""
    import pytest

    t = str(tmp_path / "t")
    T = {"tbl": t}
    lake_write(
        spark.createDataFrame([(1, 10), (2, 20)], "k int, w int").coalesce(1),
        t,
    )
    r = lake_sql(
        spark, "ALTER TABLE tbl ADD CONSTRAINT w_pos CHECK (w > 0)", T
    ).collect()[0]
    assert (r.op, r.version) == ("alter_constraints", 1)
    m = _lm(t, 1)
    assert m["constraints"]["checks"] == {"w_pos": "w > 0"}
    # violating INSERT refuses atomically (no partial snapshot)
    with pytest.raises(Exception, match="w_pos|constraint"):
        lake_sql(spark, "INSERT INTO tbl VALUES (3, -5)", T)
    from ndvi_etl_pipeline_spark.sources.lake import _latest_version

    assert _latest_version(t) == 1  # the refused INSERT left no snapshot
    # adding a constraint the CURRENT rows violate refuses
    with pytest.raises(Exception, match="constraint|w_small"):
        lake_sql(
            spark, "ALTER TABLE tbl ADD CONSTRAINT w_small CHECK (w < 15)", T
        )
    r = lake_sql(spark, "ALTER TABLE tbl DROP CONSTRAINT w_pos", T).collect()[0]
    assert r.op == "alter_constraints"
    lake_sql(spark, "INSERT INTO tbl VALUES (3, -5)", T)  # now accepted
    got = {(x.k, x.w) for x in lake_read(spark, t).collect()}
    assert got == {(1, 10), (2, 20), (3, -5)}


def test_sql_set_drop_not_null(spark, tmp_path):
    import pytest

    t = str(tmp_path / "t")
    T = {"tbl": t}
    lake_write(
        spark.createDataFrame([(1, "a")], "k int, v string").coalesce(1), t
    )
    lake_sql(spark, "ALTER TABLE tbl ALTER COLUMN v SET NOT NULL", T)
    with pytest.raises(Exception, match="not_null|null"):
        lake_sql(spark, "INSERT INTO tbl VALUES (2, NULL)", T)
    lake_sql(spark, "ALTER TABLE tbl ALTER COLUMN v DROP NOT NULL", T)
    lake_sql(spark, "INSERT INTO tbl VALUES (2, NULL)", T)
    assert lake_read(spark, t).count() == 2


def test_sql_write_partitioned_by_spec_evolution(spark, tmp_path):
    """ALTER TABLE ... WRITE PARTITIONED BY — partition-spec evolution
    through the SQL surface: metadata-only, old files keep their
    layout, subsequent INSERTs lay out under the new spec."""
    t = str(tmp_path / "t")
    T = {"tbl": t}
    lake_write(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "k int, cat string, w int"
        ).coalesce(1),
        t,
        partition_by=("cat",),
    )
    files_before = {e["path"] for e in _lm(t, 0)["files"]}
    r = lake_sql(
        spark, "ALTER TABLE tbl WRITE PARTITIONED BY (bucket(4, k))", T
    ).collect()[0]
    assert (r.op, r.version) == ("alter_partition_spec", 1)
    m = _lm(t, 1)
    assert {e["path"] for e in m["files"]} == files_before  # zero rewrites
    assert m["partition_specs"] == [["cat"], ["bucket(4, k)"]]
    lake_sql(spark, "INSERT INTO tbl VALUES (3, 'c', 30)", T)
    m = _lm(t, 2)
    assert sorted({e.get("spec", 0) for e in m["files"]}) == [0, 1]
    got = {(x.k, x.cat, x.w) for x in lake_read(spark, t).collect()}
    assert got == {(1, "a", 10), (2, "b", 20), (3, "c", 30)}
    r = lake_sql(spark, "ALTER TABLE tbl WRITE UNPARTITIONED", T).collect()[0]
    assert r.op == "alter_partition_spec"
    assert _lm(t, 3)["partition_specs"] == [["cat"], ["bucket(4, k)"], []]


def test_dv_rows_unreadable_footer_disables_both_broadcast_tiers(tmp_path):
    """_dv_rows' failure sentinel means 'size unknown — do not force
    broadcast'. It must exceed BOTH broadcast thresholds (the CDF/update
    bound and the read's compact-key bound): a sentinel between them
    would force-broadcast a DV set of truly unknown (possibly huge)
    size."""
    import ndvi_etl_pipeline_spark.sources.lake as L

    droot = tmp_path / "_dv" / "set0"
    droot.mkdir(parents=True)
    (droot / "bad.parquet").write_bytes(b"not a parquet footer")
    n = L._dv_rows(str(tmp_path), [os.path.join("_dv", "set0")])
    assert n > L._DV_BROADCAST_MAX_ROWS
    assert n > L._DV_FID_BROADCAST_MAX_ROWS
