"""The sharing gate: ``sources.registry.materialize_auto`` is the only
place that picks checkpoint or persist for a frame feeding several
subtrees, and ``sources.registry._is_local`` the only local-vs-cluster
test outside ``session.get_spark``.

- the cluster branch (recomputable persist, no ``spread``) runs in the
  default lane by forcing the predicate false under the local session,
  and returns the same rows as the local branch;
- repeated fresh builds on a local master leave no CacheManager entry
  behind;
- a source guard keeps hand-written copies of the decision out of the
  package.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from data_platform_copilot_spark.queries import QUERIES
from data_platform_copilot_spark.sources import registry
from tests.conftest import normalize_rows

PKG = Path(__file__).resolve().parents[1] / "data_platform_copilot_spark"

# One entry per rewritten sharing site family: jaccard_pairs, the
# heavy-hitter token stream, the lang-id confusion matrix,
# triangle_stats' edge set, and salted_join's hot-key set.
CLUSTER_ENTRIES = (
    "dedup_ngram_jaccard", "heavy_hitter_tokens", "lang_id_prf_report",
    "knn_graph_triangles", "salted_join_brand_volume",
)


def _cache_entries(spark) -> int:
    """Number of CacheManager entries (``cachedData`` is private, so
    read it by reflection)."""
    cm = spark._jsparkSession.sharedState().cacheManager()  # noqa: SLF001
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


def _fresh_rows(spark, sf_dir, name):
    """Build the entry anew and collect."""
    return normalize_rows(QUERIES[name](spark, sf_dir).toPandas())


@pytest.fixture
def cluster_branch(spark, monkeypatch):
    """Take the cluster branch of every sharing decision under the
    local test session; drop whatever it persisted afterwards."""
    monkeypatch.setattr(registry, "_is_local", lambda _spark: False)
    yield
    spark.catalog.clearCache()


@pytest.mark.parametrize("name", CLUSTER_ENTRIES)
def test_cluster_branch_matches_local_branch(spark, sf_dir, name, request):
    local = _fresh_rows(spark, sf_dir, name)
    assert local, f"{name}: empty result proves nothing"
    request.getfixturevalue("cluster_branch")
    before = _cache_entries(spark)
    assert _fresh_rows(spark, sf_dir, name) == local
    # the branch really ran: its MEMORY_AND_DISK persist registered
    assert _cache_entries(spark) > before


@pytest.mark.parametrize("name", ["heavy_hitter_tokens",
                                  "salted_join_brand_volume"])
def test_fresh_builds_leave_no_cache_entry(spark, sf_dir, name):
    before = _cache_entries(spark)
    for _ in range(3):
        QUERIES[name](spark, sf_dir).collect()
    assert _cache_entries(spark) == before


def test_sharing_decision_lives_in_one_place():
    local_forks, storage_levels = [], []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        text = path.read_text()
        local_forks += [rel] * text.count('startswith("local")')
        if rel.split("/")[0] in ("operators", "queries") \
                and "StorageLevel" in text:
            storage_levels.append(rel)
    assert sorted(local_forks) == ["session.py", "sources/registry.py"]
    assert storage_levels == []
