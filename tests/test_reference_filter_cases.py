"""More reference-suite parity: filter-merge algebra, tiny-fixture e2e, and
keep_all_tags tag reading.

Cases extracted from tests/base/test_osm_tags_filtering.py (merge algebra
17-153, tiny hash-named PBF fixtures with the real HEX2VEC / GEOFABRIK_LAYERS
filters 155-217, keep_all_tags single-feature reads 218-267) into
``tests/data/reference_filter_cases.json``. The PBF fixtures live in the
reference checkout, not in this repository; each case that reads one skips
where that file is absent.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from conftest import MONACO, needs_reference
from quackosm_spark.filters.tags import merge_osm_tags_filter
from quackosm_spark.functions import convert_pbf_to_geodataframe

DATA = json.loads(
    (Path(__file__).parent / "data" / "reference_filter_cases.json").read_text()
)
REF_FILES = Path(MONACO).parent


@pytest.mark.parametrize(
    "case", DATA["merge_correct"], ids=lambda c: json.dumps(c[0])[:50]
)
def test_merge_osm_tags_filter_reference_cases(case):
    tags_filter, expected = case
    assert merge_osm_tags_filter(tags_filter) == expected


@pytest.mark.parametrize(
    "bad", DATA["merge_invalid"], ids=lambda f: json.dumps(f)[:50]
)
def test_merge_osm_tags_filter_conflicts_raise(bad):
    with pytest.raises(ValueError):
        merge_osm_tags_filter(bad)


@pytest.mark.parametrize(
    "case",
    [
        pytest.param(c, marks=needs_reference(REF_FILES / c[0]))
        for c in DATA["pbf_reader"]
    ],
    ids=lambda c: f"{c[0][:8]}-{'none' if c[1] is None else len(c[1])}keys",
)
def test_pbf_reader_tiny_fixtures(spark, case):
    # The reference asserts len(columns) == expected + 1 because feature_id
    # is the index — same shape here (convert_pbf_to_geodataframe indexes by
    # feature_id, so columns = tag columns + geometry).
    file_name, tags_filter, expected_rows, expected_tag_columns = case
    gdf = convert_pbf_to_geodataframe(
        spark, REF_FILES / file_name, tags_filter=tags_filter, explode_tags=True
    )
    assert len(gdf) == expected_rows
    assert len(gdf.columns) == expected_tag_columns + 1


@pytest.mark.parametrize(
    "case",
    DATA["tags_reading"],
    ids=lambda c: f"{c[0]}-keepall={c[2]}",
)
@needs_reference(MONACO)
def test_keep_all_tags_reading(spark, case):
    filter_osm_id, tags_filter, keep_all_tags, expected_tags_keys = case
    gdf = convert_pbf_to_geodataframe(
        spark,
        MONACO,
        tags_filter=tags_filter,
        filter_osm_ids=[filter_osm_id],
        explode_tags=False,
        keep_all_tags=keep_all_tags,
    )
    assert len(gdf) == 1
    # The reference asserts key order too; map-entry order out of the PBF
    # string table is not contractual in our decoder, so compare as sets.
    assert sorted(gdf.iloc[0]["tags"].keys()) == sorted(expected_tags_keys)
