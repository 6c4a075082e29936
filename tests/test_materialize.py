"""Pin the one materialisation mechanism (polars_pipe_spark.materialize):
every frame a query build caches or checkpoints is released when the
runner's ``released()`` scope closes, and no code outside the helper
calls ``persist``/``cache``/``localCheckpoint`` itself."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from polars_pipe_spark.materialize import materialize, released
from tests.conftest import _TESTDATA as SF

REPO = Path(__file__).resolve().parents[1]


def persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture()
def clean(spark):
    """Start from an empty CacheManager and snapshot the persistent RDDs
    left by earlier tests that ran outside any scope (the ContextCleaner
    may still drop some of those, so checks compare with ``<=``)."""
    spark.catalog.clearCache()
    return persistent_rdds(spark)


class TestReleasedScope:
    def test_cached_and_checkpointed_frames_released_on_error(self, spark, clean):
        with pytest.raises(RuntimeError, match="stage failed"):
            with released():
                cached = materialize(spark.range(100).selectExpr("id % 7 AS k"))
                cut = materialize(cached.groupBy("k").count(), truncate=True)
                assert cut.count() == 7
                assert persistent_rdds(spark) - clean
                assert not cache_manager_empty(spark)
                raise RuntimeError("stage failed")
        assert persistent_rdds(spark) <= clean
        assert cache_manager_empty(spark)

    def test_scope_releases_only_its_own_frames(self, spark, clean):
        kept = materialize(spark.range(10), truncate=True)
        with released():
            assert kept.count() == 10
        assert kept.count() == 10  # the inner scope did not own it
        kept._jdf.queryExecution().analyzed().rdd().unpersist(False)


@pytest.mark.skipif(not Path(SF).is_dir(), reason="generated testdata not present")
@pytest.mark.parametrize(
    "name",
    ["q58_tfidf", "q63_dedup_clusters", "q237_bpe_encode", "q61_fuzzy_join"],
)
def test_query_leaves_nothing_materialised(spark, clean, name):
    """Build and collect the query as tools/check_oracle.py does; its
    caches AND its checkpoint RDDs (which clearCache() leaves behind)
    are gone once the scope closes."""
    import __spark_entry__ as entry

    with released():
        entry.queries()[name](spark, SF).toArrow()
    assert persistent_rdds(spark) <= clean
    assert cache_manager_empty(spark)


def test_no_materialisation_outside_the_helper():
    pattern = re.compile(r"\.persist\(|\.cache\(\)|\.localCheckpoint\(")
    files = [REPO / "__spark_entry__.py", *(REPO / "polars_pipe_spark").rglob("*.py")]
    offenders = [
        f"{path.relative_to(REPO)}:{i}"
        for path in files
        if path.name != "materialize.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not offenders, f"materialise through polars_pipe_spark.materialize: {offenders}"
