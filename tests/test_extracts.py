"""Extract discovery (C13/C14): fuzzy name query, greedy IoU coverage
search, overlap filtering — against a synthetic provider index (network
index scraping is out of scope offline)."""

from __future__ import annotations

import warnings

import pytest

from quackosm_spark.extracts import (
    GeometryNotCoveredError,
    OsmExtractMultipleMatchesError,
    OsmExtractMultipleMatchesWarning,
    OsmExtractZeroMatchesError,
    build_index,
    filter_extracts,
    find_extracts_for_geometry,
    find_smallest_containing_extracts,
    get_extract_by_query,
    raster_area,
)
from tests.conftest import needs_reference


def _sq(x0, y0, x1, y1):
    return {
        "type": "Polygon",
        "coordinates": [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]],
    }


@pytest.fixture(scope="module")
def index():
    # a 2-level hierarchy: one big "europe" extract, four quadrant countries,
    # one city inside a quadrant, plus a faraway extract
    return build_index(
        [
            {"id": "e", "name": "Europe", "file_name": "europe", "parent": "world",
             "url": "u/e", "geometry": _sq(0, 0, 10, 10)},
            {"id": "q1", "name": "Westland", "file_name": "europe/westland", "parent": "e",
             "url": "u/q1", "geometry": _sq(0, 0, 5, 10)},
            {"id": "q2", "name": "Eastland", "file_name": "europe/eastland", "parent": "e",
             "url": "u/q2", "geometry": _sq(5, 0, 10, 10)},
            {"id": "c1", "name": "Monaco", "file_name": "europe/westland/monaco", "parent": "q1",
             "url": "u/c1", "geometry": _sq(1, 1, 2, 2)},
            {"id": "c2", "name": "Monaco", "file_name": "asia/monaco_city", "parent": "far",
             "url": "u/c2", "geometry": _sq(20, 20, 20.5, 20.5)},
            {"id": "far", "name": "Farland", "file_name": "asia/farland", "parent": "world",
             "url": "u/far", "geometry": _sq(20, 20, 30, 30)},
        ]
    )


# ---------------------------------------------------------------- C14 query

def test_query_by_file_name(index):
    assert get_extract_by_query("europe/westland", index).id == "q1"


def test_query_by_name_case_insensitive(index):
    assert get_extract_by_query("  WESTLAND ", index).id == "q1"


def test_query_underscore_space_equivalence(index):
    # "asia/monaco city" matches file_name "asia/monaco_city"
    assert get_extract_by_query("asia/monaco city", index).id == "c2"


def test_query_multiple_matches_picks_smallest_with_warning(index):
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = get_extract_by_query("monaco", index)
    assert got.id == "c2"  # smaller area wins
    assert any(issubclass(x.category, OsmExtractMultipleMatchesWarning) for x in w)


def test_query_multiple_matches_raises_when_asked(index):
    with pytest.raises(OsmExtractMultipleMatchesError) as exc:
        get_extract_by_query("monaco", index, select_first_match=False)
    assert sorted(exc.value.matching_full_names) == [
        "asia/monaco_city", "europe/westland/monaco",
    ]


def test_query_zero_matches_suggests(index):
    with pytest.raises(OsmExtractZeroMatchesError) as exc:
        get_extract_by_query("monacco", index)
    assert "europe/westland/monaco" in exc.value.matching_full_names


def test_query_excluded_ids(index):
    got = get_extract_by_query("monaco", index, excluded_extracts_ids={"c2"})
    assert got.id == "c1"


# ---------------------------------------------------------------- C13 cover

def test_exact_match_shortcut(index):
    ids = find_smallest_containing_extracts(_sq(1, 1, 2, 2), index)
    assert ids == {"c1"}


def test_small_query_prefers_city_extract(index):
    # query inside the city: city extract has far higher IoU than country
    ids = find_smallest_containing_extracts(_sq(1.2, 1.2, 1.8, 1.8), index)
    assert "c1" in ids


def test_query_spanning_two_quadrants(index):
    got = find_extracts_for_geometry(_sq(3, 3, 7, 7), index)
    ids = {e.id for e in got}
    # needs both halves (or the europe parent); never the faraway extract
    assert ids in ({"q1", "q2"}, {"e"})
    assert "far" not in ids


def test_uncovered_raises_and_warns(index):
    with pytest.raises(GeometryNotCoveredError):
        find_smallest_containing_extracts(_sq(50, 50, 60, 60), index)
    with warnings.catch_warnings(record=True):
        warnings.simplefilter("ignore")
        ids = find_smallest_containing_extracts(
            _sq(50, 50, 60, 60), index, allow_uncovered_geometry=True
        )
    assert ids == set()


def test_filter_removes_redundant_small_extract(index):
    # all three west-side extracts selected; the city is redundant when the
    # quadrant (or continent) already covers the query area
    got = filter_extracts(_sq(0.5, 0.5, 4.5, 9.5), ["e", "q1", "c1"], index)
    ids = {e.id for e in got}
    assert "c1" not in ids
    assert len(ids) == 1  # biggest-first: one covering extract remains


def test_iou_threshold_discards_sliver(index):
    # a query overlapping Westland but 99% inside Eastland: after taking
    # Eastland, Westland's IoU for the tiny remainder is under the threshold
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        ids = find_smallest_containing_extracts(
            _sq(4.99, 4.0, 9.0, 6.0), index,
            geometry_coverage_iou_threshold=0.01,
            allow_uncovered_geometry=True,
        )
    assert ids == {"q2"}
    assert any("low IoU" in str(x.message) for x in w)


def test_raster_area():
    assert raster_area(_sq(0, 0, 2, 3)) == pytest.approx(6.0, rel=0.01)


def test_display_available_extracts_tree(index, capsys):
    from quackosm_spark.extracts import display_available_extracts

    display_available_extracts(index)
    lines = capsys.readouterr().out.splitlines()
    assert lines  # every extract appears exactly once
    assert len(lines) == len(index)
    # children are indented under their parent
    depths = {ln.strip(): (len(ln) - len(ln.lstrip())) // 2 for ln in lines}
    by_id = {e.id: e for e in index}
    for e in index:
        label = e.file_name
        if e.parent in by_id:
            assert depths[label] == depths[by_id[e.parent].file_name] + 1


REFERENCE_INIT = "/root/reference/quackosm/__init__.py"


@needs_reference(REFERENCE_INIT)
def test_package_exports_reference_public_api():
    """Every name in the reference's quackosm.__all__ exists here too."""
    import re

    import quackosm_spark as q

    ref_src = open(REFERENCE_INIT).read()
    ref_all = re.findall(
        r'"(\w+)"', re.search(r"__all__\s*=\s*\[(.*?)\]", ref_src, re.S).group(1)
    )
    missing = [n for n in ref_all if n not in q.__all__ or not hasattr(q, n)]
    assert not missing, missing
