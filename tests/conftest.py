from __future__ import annotations

import glob
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from quackosm_spark.sources import pbf_encode  # noqa: E402
from quackosm_spark.sources.pbf import ELEMENTS_SCHEMA  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    from quackosm_spark.session import get_spark

    # One JVM serves the whole suite. Its heap is get_spark's default, about
    # half of physical memory: a larger heap lets the kernel OOM-kill the
    # JVM, and every remaining test then fails with ConnectionRefused.
    # SPARK_GRAFT_DRIVER_MEM still overrides it. The UI server is skipped.
    spark = get_spark(
        app_name="quackosm-spark-tests",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="module", autouse=True)
def _release_cached_frames():
    """Operators leave their one cached frame to the caller, and tests and
    ``convert_pbf_to_dataframe`` cache frames of their own (conversions to
    files release theirs); drop every cached frame when a test module
    ends, so that the one driver heap does not fill up over the suite and
    the late modules do not run GC-bound."""
    yield
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.catalog.clearCache()


@pytest.hookimpl(trylast=True)
def pytest_runtest_logreport(report):
    """Stop the run at the first test that fails with the Spark JVM gone, or
    with its SparkContext stopped (as after a driver heap OutOfMemoryError):
    every later test would fail the same way. Runs after the terminal
    reporter, so that failure is still reported."""
    from pyspark import SparkContext

    jvm = getattr(SparkContext._gateway, "proc", None)
    if not report.failed or jvm is None:
        return
    sc = SparkContext._active_spark_context
    if jvm.poll() is not None:
        cause = f"the Spark JVM exited (code {jvm.returncode})"
    elif sc is not None and sc._jsc.sc().isStopped():
        cause = "the SparkContext stopped"
    else:
        return
    pytest.exit(
        f"{cause} during {report.nodeid}; the remaining tests need it",
        returncode=pytest.ExitCode.TESTS_FAILED,
    )


def _node(id, lat, lon, tags=None):
    return ("node", id, tags, None, None, None, lat, lon)


def _way(id, refs, tags=None):
    return ("way", id, tags, refs, None, None, None, None)


def _relation(id, refs, types, roles, tags=None):
    return ("relation", id, tags, refs, types, roles, None, None)


@pytest.fixture(scope="session")
def elements(spark):
    """The F1 scenario table (FIXTURES.md): every pipeline edge case.

    Node grid: ids 1..9 at lat/lon (0.1*i). Scenario inventory in comments.
    """
    rows = [
        # tagged node / untagged node (required only)
        _node(1, 0.1, 0.1, {"amenity": "cafe", "name": "N1"}),
        _node(2, 0.2, 0.1, None),
        _node(3, 0.2, 0.2, {"created_by": "editor"}),  # metadata-only tags
        _node(4, 0.1, 0.2, None),
        _node(5, 0.5, 0.5, {"amenity": "bench", "area": "yes"}),
        _node(6, 0.6, 0.5, None),
        _node(7, 0.6, 0.6, None),
        _node(8, 0.5, 0.6, None),
        _node(9, 5.0, 5.0, {"shop": "bakery"}),  # far away (geometry filter)
        # closed way with polygon tag -> Polygon (nodes 1-2-3-4-1)
        _way(101, [1, 2, 3, 4, 1], {"building": "yes"}),
        # closed way with area=no -> LineString
        _way(102, [5, 6, 7, 8, 5], {"barrier": "wall", "area": "no"}),
        # open way -> LineString
        _way(103, [1, 2, 3], {"highway": "residential"}),
        # closed 3-point way (<4 distinct) -> stays LineString
        _way(104, [1, 2, 1], {"building": "hut"}),
        # way with a dangling ref -> dropped by validity
        _way(105, [1, 2, 999], {"highway": "path"}),
        # untagged closed way (relation member only)
        _way(106, [5, 6, 7, 8, 5], None),
        # two halves of a ring (for linemerge in relation 203)
        _way(107, [1, 2, 3], None),
        _way(108, [3, 4, 1], None),
        # multipolygon: single outer ring split across 2 ways
        _relation(
            201, [107, 108], ["way", "way"], ["outer", "outer"],
            {"type": "multipolygon", "natural": "water"},
        ),
        # multipolygon with outer + inner hole
        _relation(
            202, [106, 101], ["way", "way"], ["outer", "inner"],
            {"type": "multipolygon", "landuse": "forest"},
        ),
        # relation with NULL roles -> default outer
        _relation(
            203, [107, 108], ["way", "way"], [None, None],
            {"type": "multipolygon", "leisure": "park"},
        ),
        # relation with unclosed ring -> dropped whole
        _relation(
            204, [103], ["way"], ["outer"],
            {"type": "multipolygon", "landuse": "meadow"},
        ),
        # route relation -> ignored by kind-validity
        _relation(
            205, [101], ["way"], ["outer"],
            {"type": "route", "route": "bus"},
        ),
        # relation with node member (ignored) + way member
        _relation(
            206, [1, 106], ["node", "way"], ["admin_centre", "outer"],
            {"type": "boundary", "boundary": "administrative"},
        ),
    ]
    return spark.createDataFrame(rows, ELEMENTS_SCHEMA)


@pytest.fixture(scope="session")
def grid_pbf(tmp_path_factory):
    """A 40×40 node grid (every 7th node an ``amenity=bench``) plus 60
    ``highway=footway`` ways, in several PBF blobs: 290 features."""
    els = []
    for i in range(1600):
        els.append({
            "kind": "node", "id": i + 1,
            "tags": {"amenity": "bench"} if i % 7 == 0 else None,
            "lat": 50.0 + (i // 40) * 1e-3, "lon": 19.0 + (i % 40) * 1e-3,
        })
    for w in range(60):
        first = (w * 23) % 1500 + 1
        els.append({"kind": "way", "id": 10_000 + w,
                    "tags": {"highway": "footway"},
                    "refs": [first, first + 1, first + 41]})
    path = str(tmp_path_factory.mktemp("grid") / "grid.osm.pbf")
    return pbf_encode.write_pbf(path, els, elements_per_block=400)


#: The reference checkout's test fixtures: real and hand-crafted PBFs that
#: are not in this repository. Tests whose expected values are the reference
#: engine's own output on one of these files carry ``needs_reference``.
REFERENCE_TEST_FILES = "/root/reference/tests/test_files"
MONACO = f"{REFERENCE_TEST_FILES}/monaco.osm.pbf"


def needs_reference(path) -> pytest.MarkDecorator:
    """Skip the marked test or parameter unless ``path`` (a file of the
    reference checkout, or a glob pattern for one) exists. The test's
    expected values come from the reference engine on that very file, so no
    generated input stands in for it; wherever the file is present the test
    runs unchanged."""
    path = str(path)
    return pytest.mark.skipif(
        not glob.glob(path),
        reason=f"needs {path} from the reference checkout, which is absent",
    )
