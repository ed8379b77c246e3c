"""PbfFileReader class facade — the reference's object API shape."""

from __future__ import annotations

from quackosm_spark import PbfFileReader
from tests.conftest import MONACO, needs_reference


@needs_reference(MONACO)
def test_reader_holds_filters(spark, tmp_path):
    reader = PbfFileReader(
        spark,
        tags_filter={"amenity": "cafe"},
        working_directory=tmp_path,
    )
    df = reader.convert_pbf_to_dataframe(MONACO)
    assert df.count() == 23
    out = reader.convert_pbf_to_parquet(MONACO, sort_result=False)
    assert out.exists() and str(tmp_path) in str(out)


def test_reader_geometry_required(spark):
    import pytest

    reader = PbfFileReader(spark)
    with pytest.raises(ValueError, match="geometry_filter"):
        reader.convert_geometry_to_parquet([])


def test_package_exports():
    import quackosm_spark as q

    for name in q.__all__:
        assert getattr(q, name, None) is not None


def test_invalid_geometry_filters_rejected_at_construction(spark):
    # reference test_pbf_file_reader.py:465-495: zero-area filters raise
    import pytest

    from quackosm_spark.pbf_file_reader import PbfFileReader

    invalid = [
        {"type": "Point", "coordinates": [10.0, 5.0]},
        {"type": "MultiPoint", "coordinates": [[1.0, 2.0], [3.0, 4.0]]},
        {"type": "LineString", "coordinates": [[1.0, 2.0], [3.0, 4.0]]},
        {
            "type": "GeometryCollection",
            "geometries": [
                {
                    "type": "Polygon",
                    "coordinates": [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]],
                },
                {"type": "Point", "coordinates": [10.0, 5.0]},
            ],
        },
    ]
    for geom in invalid:
        with pytest.raises(ValueError, match="polygonal"):
            PbfFileReader(spark, geometry_filter=geom)

    # polygonal filters construct fine
    PbfFileReader(
        spark,
        geometry_filter={
            "type": "Polygon",
            "coordinates": [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]],
        },
    )
