from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from aws_lakehouse_project_spark.session import build_session

    spark = build_session(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture()
def rescans(monkeypatch):
    """Group keys each materialized-view refresh hands to its bounded
    MIN/MAX rescan, one sorted list per ``_merge_nets`` call that has a
    rescan (empty when nothing retracted an extremum). Wraps
    ``matview._merge_nets`` and collects the ``trig`` frame passed to
    ``rescan_fn``; the engine itself is unchanged."""
    from aws_lakehouse_project_spark.plans import matview

    seen: list[list[tuple]] = []
    merge_nets = matview._merge_nets

    def spy(*args, rescan_fn=None, **kw):
        if rescan_fn is not None:

            def counting(trig):
                seen.append(sorted(tuple(r) for r in trig.collect()))
                return rescan_fn(trig)

            kw["rescan_fn"] = counting
        return merge_nets(*args, **kw)

    monkeypatch.setattr(matview, "_merge_nets", spy)
    return seen
