import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM small


@pytest.fixture(scope="session")
def spark():
    from magmapandas_spark.session import get_spark

    s = get_spark(app_name="magmapandas-tests", cpus=8, shuffle_partitions=8)
    yield s


MELTS_CSV = "/root/reference/docs/source/notebooks/data/melts.csv"
OLIVINES_CSV = "/root/reference/docs/source/notebooks/data/olivines.csv"
KD_CALIBRATION_CSV = (
    "/root/reference/src/MagmaPandas/model_calibrations/data/Kd_calibration_data.csv"
)
FE3FE2_CALIBRATION_CSV = (
    "/root/reference/src/MagmaPandas/model_calibrations/data/Fe3Fe2_calibration_data.csv"
)
BENCH_DATA = "/root/reference/docs/source/notebooks/benchmarks/data"


def sf_dir(sf: str = "0.001") -> str:
    return f"/root/testdata/sf{sf}"


# Tests that read the reference checkout's data files carry
# ``@pytest.mark.needs_reference(path, ...)``: without every listed path
# they skip with the first missing one as the reason, and the session
# summary prints how many skipped, so a skip is never read as a pass.
_REFERENCE_SKIP = "reference data absent: "


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "needs_reference(*paths): reads reference-checkout data files; "
        "skipped, naming the missing path, when one is absent",
    )


def pytest_collection_modifyitems(config, items):
    for item in items:
        mark = item.get_closest_marker("needs_reference")
        if mark is None:
            continue
        missing = [p for p in mark.args if not os.path.exists(p)]
        if missing:
            item.add_marker(pytest.mark.skip(reason=_REFERENCE_SKIP + missing[0]))


def pytest_terminal_summary(terminalreporter):
    skipped = [
        r for r in terminalreporter.stats.get("skipped", [])
        if isinstance(r.longrepr, tuple) and _REFERENCE_SKIP in r.longrepr[2]
    ]
    if skipped:
        terminalreporter.write_line(
            f"needs_reference: {len(skipped)} tests skipped "
            f"({skipped[0].longrepr[2].split(': ', 1)[-1]})"
        )
