"""The registry's session-fixture helpers in queries.py: a cached
artifact whose probe subdir was reaped is rebuilt, and a stream drain
that times out stops its query, raises and caches nothing. Neither test
waits for the 300 s timeout or starts a streaming query."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from building_a_rag_pipeline_with_airflow_spark import queries


@pytest.fixture
def artifacts(monkeypatch, tmp_path):
    """A fresh, empty artifact store whose temp roots land in tmp_path."""
    store = {}
    monkeypatch.setattr(queries, "_ARTIFACTS", store)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return store


def test_session_artifact_rebuilds_a_reaped_artifact(artifacts):
    roots = []

    def build(root):
        roots.append(root)
        os.makedirs(f"{root}/index/postings")
        return f"{root}/index"

    first = queries._session_artifact("sf", "idx", "postings", build)
    assert queries._session_artifact("sf", "idx", "postings", build) == first
    assert len(roots) == 1

    shutil.rmtree(f"{first}/postings")
    second = queries._session_artifact("sf", "idx", "postings", build)
    assert len(roots) == 2 and second != first
    assert os.path.isdir(f"{second}/postings")
    assert artifacts == {("idx", "sf"): second}


class _StuckQuery:
    """A started query that never finishes within the timeout."""

    def __init__(self):
        self.waited, self.stopped = [], False

    def awaitTermination(self, timeout):
        self.waited.append(timeout)
        return False

    def stop(self):
        self.stopped = True


def test_drain_timeout_stops_the_query_and_caches_nothing(spark, artifacts):
    query = _StuckQuery()
    roots = []

    def build(root):
        roots.append(root)
        drops = [spark.range(3), spark.range(3, 6)]
        queries._drain(spark, root, drops, lambda stream, ck: query)
        return f"{root}/state"

    with pytest.raises(TimeoutError, match="300 s"):
        queries._session_artifact("sf", "gate", "state", build)
    assert query.waited == [300] and query.stopped
    assert artifacts == {}
    assert not os.path.exists(roots[0])  # the failed build left no temp root
