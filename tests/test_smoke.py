from ndvi_etl_pipeline_spark.sources.testdata import TABLES, load_table


def test_session_up(spark):
    assert spark.range(10).count() == 10


def test_all_tables_readable(spark, sf_dir):
    for name in TABLES:
        df = load_table(spark, name, sf_dir)
        assert len(df.columns) > 0
        assert df.limit(1).count() == 1


def test_stale_slow_list_entries_are_reported():
    """A slow-list entry naming a test its collected module lacks is
    stale; entries for modules outside the run are not."""
    import types

    from conftest import _stale_slow_ids

    mod = types.ModuleType("m")
    mod.test_kept = lambda: None
    mod.TestK = type("TestK", (), {"test_m": lambda self: None})
    items = [types.SimpleNamespace(nodeid="tests/a.py::test_kept", module=mod)]
    slow = {
        "tests/a.py::test_kept",
        "tests/a.py::test_gone",
        "tests/a.py::test_kept[1]",
        "tests/a.py::TestK::test_m",
        "tests/a.py::TestK::test_gone",
        "tests/b.py::test_elsewhere",
    }
    assert _stale_slow_ids(slow, items) == [
        "tests/a.py::TestK::test_gone",
        "tests/a.py::test_gone",
    ]
