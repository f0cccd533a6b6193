"""Session preparation: the package archive is shipped to the workers
once per SparkContext, however many sessions and threads ask."""

from __future__ import annotations

import os
import threading
import zipfile


def test_ship_package_once_per_context_across_threads(spark, monkeypatch, tmp_path):
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from cod_stats_spark import session as S

    sc = spark.sparkContext
    added = []
    # as if this context had shipped nothing yet; record instead of add
    monkeypatch.setattr(S, "_SHIPPED_APPS", set())
    monkeypatch.setattr(sc, "addPyFile", added.append)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    sessions = [spark.newSession() for _ in range(8)]
    start = threading.Barrier(len(sessions))

    def prep(s):
        start.wait()
        return S.prep_session(s)

    with ThreadPoolExecutor(max_workers=len(sessions)) as pool:
        list(pool.map(prep, sessions))

    assert len(added) == 1
    archive = added[0]
    # a fresh mkdtemp directory, never a fixed shared path
    assert os.path.dirname(os.path.dirname(archive)) == str(tmp_path)
    assert os.path.basename(os.path.dirname(archive)).startswith("cod_stats_spark_")
    with zipfile.ZipFile(archive) as z:
        assert "cod_stats_spark/session.py" in z.namelist()

    S.prep_session(spark.newSession())
    assert len(added) == 1
