from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "4")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
_SLOW_SKIP_REASON = "slow tier; run with SPARK_GRAFT_FULL_TESTS=1 or -m slow"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavyweight tiers (multi-run e2e benches, 10x-scale proofs, "
        "exhaustive sweeps). Skipped by default so the driver's verify "
        "window sees a COMPLETED run with a summary line (VERDICT r11 item "
        "6: the full suite outgrew the cap and truncated at ~96%, leaving "
        "the gate blind to the tail). Run everything with "
        "SPARK_GRAFT_FULL_TESTS=1 (or select directly with -m slow).",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1":
        return
    if config.getoption("-m"):
        return  # an explicit marker expression overrides the default skip
    skip = pytest.mark.skip(reason=_SLOW_SKIP_REASON)
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


def pytest_terminal_summary(terminalreporter):
    """Say how many slow tests the default run skipped, so the tier that
    did not run stays visible in every summary."""
    n = sum(
        1
        for rep in terminalreporter.stats.get("skipped", [])
        if isinstance(rep.longrepr, tuple) and rep.longrepr[2].endswith(
            _SLOW_SKIP_REASON
        )
    )
    if n:
        terminalreporter.write_line(f"{n} tests auto-skipped: {_SLOW_SKIP_REASON}")


@pytest.fixture(scope="session")
def spark():
    from tickerlake_spark.session import get_spark

    spark = get_spark(app_name="tickerlake-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the testdata tables registered as views,
    mirroring the driver's oracle harness."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings".split()
    ):
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()
