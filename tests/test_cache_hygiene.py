"""Cache-lifecycle inspection (r08, VERDICT r07 "Next round" #5).

Operators that persist() an intermediate frame fall in two classes:

1. PURE-TRANSFORMATION operators (no internal action): the cache exists
   so the caller's single action doesn't recompute a shared expensive
   child (the ReusedExchange-can't-dedup lesson). Spark offers no
   scoped unpersist on a returned DataFrame, so the cache lifecycle is
   caller-owned — LRU-evicted or released via
   ``spark.catalog.clearCache()`` (documented ONCE in README "Cache
   lifecycle", not per docstring).
2. Operators that OWN an internal action (a cutoff collect, IRLS steps):
   once their own persisted frame is materialized by that action, any
   INNER cache beneath it is dead weight and must be unpersisted before
   returning (``logprob_band_filter`` releases ``unigram_logprob``'s
   token-array cache this way).

Either way the contract this test enforces: ONE operator call leaves AT
MOST ONE materialized cached frame behind. Round 7's
``logprob_band_filter`` left two (its scored frame plus the unigram
LM's token arrays) — ADVICE r07 #3.

A conversion entry point (``convert_pbf_to_parquet``) owns its whole run,
the write included, so it leaves NO cached frame behind: it releases
every frame it persisted, on success and on failure, and leaves the
caller's own cached frames alone.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

DOCS = "/root/testdata/sf0.001/documents.parquet"
EVENTS = "/root/testdata/sf0.001/events.parquet"


def _cached_rdd_count(spark) -> int:
    """Number of persisted RDDs with materialized storage (cached
    DataFrames appear here once an action has populated them)."""
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


@pytest.fixture()
def clean_cache(spark):
    spark.catalog.clearCache()
    assert _cached_rdd_count(spark) == 0
    yield spark
    spark.catalog.clearCache()


def _assert_leaks_at_most_one(spark, label):
    n = _cached_rdd_count(spark)
    assert n <= 1, (
        f"{label} left {n} materialized cached frames after the caller's "
        f"action — at most 1 allowed (README 'Cache lifecycle')"
    )


def test_logprob_band_filter_releases_inner_token_cache(clean_cache):
    spark = clean_cache
    from quackosm_spark.operators.text import logprob_band_filter

    docs = spark.read.parquet(DOCS)
    out = logprob_band_filter(docs)
    out.count()  # the caller's action
    _assert_leaks_at_most_one(spark, "logprob_band_filter")


def test_curriculum_order_leaves_one_cache(clean_cache):
    spark = clean_cache
    from quackosm_spark.operators.mix import curriculum_order

    docs = spark.read.parquet(DOCS)
    curriculum_order(docs).count()
    _assert_leaks_at_most_one(spark, "curriculum_order")


def test_binary_auc_leaves_one_cache(clean_cache):
    spark = clean_cache
    from quackosm_spark.operators.ml import binary_auc

    ev = spark.read.parquet(EVENTS).select(
        F.col("value").alias("score"),
        (F.col("user_id") % 2 == 0).cast("int").alias("label"),
    )
    binary_auc(ev, "score", "label").count()
    _assert_leaks_at_most_one(spark, "binary_auc")


def test_quality_deciles_leaves_one_cache(clean_cache):
    spark = clean_cache
    from quackosm_spark.operators.stats import quality_deciles

    docs = spark.read.parquet(DOCS)
    quality_deciles(docs).count()
    _assert_leaks_at_most_one(spark, "quality_deciles")


def test_unigram_logprob_leaves_one_cache(clean_cache):
    spark = clean_cache
    from quackosm_spark.operators.text import unigram_logprob

    docs = spark.read.parquet(DOCS)
    unigram_logprob(docs).count()
    _assert_leaks_at_most_one(spark, "unigram_logprob")


def test_dsir_logweights_leaves_one_cache(clean_cache):
    spark = clean_cache
    from quackosm_spark.operators.text import dsir_logweights

    docs = spark.read.parquet(DOCS)
    dsir_logweights(docs, target_source="src0").count()
    _assert_leaks_at_most_one(spark, "dsir_logweights")


def test_match_against_minhash_index_leaves_one_cache(clean_cache):
    """r10 (ADVICE r9): repeated incremental lookups must not accumulate
    MEMORY_AND_DISK blocks beyond the one caller-owned signature cache
    per call (and a clearCache fully releases them)."""
    spark = clean_cache
    from quackosm_spark.operators.dedup import (
        match_against_minhash_index,
        minhash_index,
    )

    docs = spark.read.parquet(DOCS)
    idx = minhash_index(docs.where("doc_id % 2 = 0"), num_hashes=8, bands=4)
    new = docs.where("doc_id % 2 = 1")
    match_against_minhash_index(new, idx, num_hashes=8, bands=4).count()
    _assert_leaks_at_most_one(spark, "match_against_minhash_index")
    spark.catalog.clearCache()
    assert _cached_rdd_count(spark) == 0


def test_unigram_kl_by_group_leaves_one_cache(clean_cache):
    spark = clean_cache
    from quackosm_spark.operators.text import unigram_kl_by_group

    docs = spark.read.parquet(DOCS)
    unigram_kl_by_group(docs).count()
    _assert_leaks_at_most_one(spark, "unigram_kl_by_group")


def test_pmi_collocations_leaves_one_cache(clean_cache):
    spark = clean_cache
    from quackosm_spark.operators.text import pmi_collocations

    docs = spark.read.parquet(DOCS)
    pmi_collocations(docs, min_count=3, top_k=20).count()
    _assert_leaks_at_most_one(spark, "pmi_collocations")


def test_group_keywords_leaves_one_cache(clean_cache):
    spark = clean_cache
    from quackosm_spark.operators.text import group_keywords

    docs = spark.read.parquet(DOCS)
    group_keywords(docs).count()
    _assert_leaks_at_most_one(spark, "group_keywords")


def test_domain_mix_report_leaves_one_cache(clean_cache):
    spark = clean_cache
    from pyspark.sql import functions as F

    from quackosm_spark.operators.mix import domain_mix_report

    docs = spark.read.parquet(DOCS).withColumn(
        "url",
        F.concat(F.lit("https://s"), (F.col("doc_id") % 5).cast("string"),
                 F.lit(".com/p/"), F.col("doc_id").cast("string")),
    )
    domain_mix_report(docs).count()
    _assert_leaks_at_most_one(spark, "domain_mix_report")


def test_conversion_leaves_no_cache_behind(clean_cache, grid_pbf, tmp_path):
    spark = clean_cache
    from quackosm_spark.functions import convert_pbf_to_parquet

    convert_pbf_to_parquet(spark, grid_pbf, result_file_path=tmp_path / "sorted")
    assert _cached_rdd_count(spark) == 0
    convert_pbf_to_parquet(
        spark, grid_pbf, result_file_path=tmp_path / "filtered",
        tags_filter={"amenity": "bench", "highway": True}, explode_tags=True,
        sort_result=False,
    )
    assert _cached_rdd_count(spark) == 0


@F.pandas_udf(StringType())
def _failing_udf(values: pd.Series) -> pd.Series:
    raise ValueError("this conversion fails on purpose")


def test_failed_conversion_leaves_no_cache_behind(clean_cache, grid_pbf, tmp_path, monkeypatch):
    spark = clean_cache
    import quackosm_spark.sinks.geoparquet as gp_mod
    from quackosm_spark.functions import convert_pbf_to_parquet

    monkeypatch.setattr(gp_mod, "_wkb_to_wkt_udf", _failing_udf)
    with pytest.raises(Exception, match="this conversion fails on purpose"):
        convert_pbf_to_parquet(
            spark, grid_pbf, result_file_path=tmp_path / "out", save_as_wkt=True
        )
    assert _cached_rdd_count(spark) == 0


def test_conversion_keeps_the_callers_cached_frames(clean_cache, grid_pbf, tmp_path):
    """The caller's frames stay cached, the one whose plan the conversion
    persists too (the decoded elements) included."""
    spark = clean_cache
    from quackosm_spark.functions import convert_pbf_to_parquet
    from quackosm_spark.sources.pbf import read_osm_pbf

    elements = read_osm_pbf(spark, grid_pbf).cache()
    numbers = spark.range(1000).cache()
    assert elements.count() == 1660 and numbers.count() == 1000
    convert_pbf_to_parquet(spark, grid_pbf, result_file_path=tmp_path / "out")
    assert elements.storageLevel != StorageLevel.NONE
    assert numbers.storageLevel != StorageLevel.NONE
    assert _cached_rdd_count(spark) == 2


def _cache_builders(spark, frame) -> set[int]:
    """Identities of the cached relations a frame's plan reads."""
    leaves = frame._jdf.queryExecution().withCachedData().collectLeaves()
    system = spark.sparkContext._jvm.java.lang.System
    return {
        system.identityHashCode(leaves.apply(i).cacheBuilder())
        for i in range(leaves.size())
        if leaves.apply(i).nodeName() == "InMemoryRelation"
    }


def test_wildcard_expansion_and_features_share_one_decode(clean_cache, grid_pbf, monkeypatch):
    """The distinct-keys job of the wildcard expansion and the features read
    the same cached elements, so the file is decoded once."""
    spark = clean_cache
    import quackosm_spark.filters.tags as tags_mod
    from quackosm_spark.functions import convert_pbf_to_dataframe

    expanded = []
    expand = tags_mod.expand_wildcard_keys

    def recording(elements, tags_filter, *args, **kwargs):
        expanded.append(_cache_builders(spark, elements))  # as the job plans it
        return expand(elements, tags_filter, *args, **kwargs)

    monkeypatch.setattr(tags_mod, "expand_wildcard_keys", recording)
    # compact tags: no output cache hides the features' own plan
    features = convert_pbf_to_dataframe(
        spark, grid_pbf, tags_filter={"amen*": True}, explode_tags=False
    )
    assert features.count() == 1600 // 7 + 1
    assert len(expanded[0]) == 1
    assert expanded[0] <= _cache_builders(spark, features)
