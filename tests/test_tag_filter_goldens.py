"""Golden parity with the reference's own tag-filter CI expectations.

The reference's parametrized suite (tests/base/test_osm_tags_filtering.py:
269-936) runs 31 tag filters — flat, grouped, wildcard keys/values, negative
clauses — through the full conversion on its monaco.osm.pbf fixture and
asserts exact row counts, the lexicographic top-10 feature_ids, the exploded
column count, and the sorted top-10 column names. Those expected values were
extracted verbatim into ``tests/data/tag_filter_goldens.json`` (and the 7
invalid filters into ``tag_filter_invalid.json``); this test runs the same
conversions through our Spark pipeline and asserts the same values.

monaco.osm.pbf lives in the reference checkout, not in this repository. The
goldens skip where it is absent, and so do the invalid filters with a
wildcard key: their conflict shows only once the wildcard is expanded
against monaco's keys. The other invalid filters raise before any read.

This is the strongest available end-to-end parity evidence: it covers the
prefilter compile (C1), wildcard key expansion (P4), output shaping in
exploded + grouped modes (C11), empty-column drop (P11), and all three
element-kind geometry paths at once, with ID-level expectations produced by
the reference engine itself.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from quackosm_spark.functions import convert_pbf_to_geodataframe

from conftest import MONACO, needs_reference

DATA = Path(__file__).parent / "data"
GOLDENS = json.loads((DATA / "tag_filter_goldens.json").read_text())
INVALID = json.loads((DATA / "tag_filter_invalid.json").read_text())


def _case_id(case: dict) -> str:
    return json.dumps(case["filter"], sort_keys=True)[:60]


@needs_reference(MONACO)
@pytest.mark.parametrize("case", GOLDENS, ids=_case_id)
def test_reference_tag_filter_golden(spark, case):
    gdf = convert_pbf_to_geodataframe(
        spark, MONACO, tags_filter=case["filter"], explode_tags=True
    )
    assert len(gdf) == case["rows"], (
        f"row count {len(gdf)} != reference {case['rows']}"
    )
    assert list(gdf.sort_index().head(10).index) == case["top10_ids"]
    assert len(gdf.columns) == case["n_columns"], (
        f"column count {len(gdf.columns)} != reference {case['n_columns']}:"
        f" {sorted(gdf.columns)[:15]}"
    )
    assert sorted(gdf.columns)[:10] == case["top10_columns"]


def _invalid_param(bad_filter: dict):
    wildcard = any("*" in key for key in bad_filter)
    return pytest.param(
        bad_filter, marks=[needs_reference(MONACO)] if wildcard else []
    )


@pytest.mark.parametrize(
    "bad_filter", [_invalid_param(f) for f in INVALID], ids=lambda f: json.dumps(f)[:60]
)
def test_reference_invalid_tag_filters_raise(spark, bad_filter):
    # Merge conflicts (positive + False for one key after wildcard expansion)
    # must raise, matching tests/base/test_osm_tags_filtering.py:914-936.
    with pytest.raises(ValueError):
        convert_pbf_to_geodataframe(
            spark, MONACO, tags_filter=bad_filter, explode_tags=False
        )
