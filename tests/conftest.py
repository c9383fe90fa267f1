"""Shared fixtures: a session-scoped SparkSession and a synthesized STIX 2.0
bundle shaped like the reference's canonical fixture (100 observations of
ipv4-addr / network-traffic / url / user-account; see FIXTURES.md) —
synthesized, not copied, so golden values are computed from first principles.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from firepit_spark.session import build_spark

    spark = build_spark("tests")
    yield spark


_JOB_GROUP_KEYS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def count_jobs(spark, fn) -> int:
    """Run ``fn()`` under a fresh job group and return how many Spark jobs
    it started (broadcast and AQE stage jobs inherit the group). The
    caller's job group is restored afterwards."""
    import uuid

    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_KEYS}
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    # the status tracker learns of jobs through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def make_bundle(n_obs: int = 100) -> dict:
    """Deterministic STIX 2.0 bundle: each observation holds src+dst ipv4,
    one network-traffic, most hold a url and a user-account."""
    objects = [
        {
            "type": "identity",
            "id": "identity--b1e2c3d4-1111-4222-8333-944444444444",
            "identity_class": "program",
            "name": "synth",
            "created": "2024-05-01T00:00:00.000Z",
            "modified": "2024-05-01T00:00:00.000Z",
        }
    ]
    for i in range(n_obs):
        minute, second = divmod(i * 37 % 300, 60)
        first = f"2024-05-01T12:{minute:02d}:{second:02d}.{i % 1000:03d}Z"
        src = f"10.0.{i % 5}.{i % 7 + 1}"
        dst = f"192.168.{i % 10}.{i % 50 + 1}"
        dst_port = [22, 3128, 443, 49152 + i][i % 4]
        scos = {
            "0": {"type": "ipv4-addr", "value": src},
            "1": {"type": "ipv4-addr", "value": dst},
            "2": {
                "type": "network-traffic",
                "src_ref": "0",
                "dst_ref": "1",
                "src_port": 49000 + (i % 100),
                "dst_port": dst_port,
                "protocols": ["ip", "tcp"],
            },
        }
        idx = 3
        if i % 10 != 9:  # ~90% have a url
            scos[str(idx)] = {
                "type": "url",
                "value": f"http://www{i % 8}.example.com/page/{i % 5}",
            }
            idx += 1
        scos[str(idx)] = {
            "type": "user-account",
            "user_id": str(1000 + i % 14),
            "account_login": f"user{i % 14}",
        }
        objects.append(
            {
                "type": "observed-data",
                "id": f"observed-data--{i:08d}-0000-4000-8000-000000000000",
                "created_by_ref": "identity--b1e2c3d4-1111-4222-8333-944444444444",
                "created": first,
                "modified": first,
                "first_observed": first,
                "last_observed": first,
                "number_observed": 1 + (i % 3),
                "objects": scos,
            }
        )
    return {"type": "bundle", "id": "bundle--0000", "objects": objects}


def distinct_urls(n_obs: int = 100) -> int:
    return len({(i % 8, i % 5) for i in range(n_obs) if i % 10 != 9})


def url_occurrences(n_obs: int = 100) -> int:
    return sum(1 for i in range(n_obs) if i % 10 != 9)


@pytest.fixture(scope="session")
def bundle():
    return make_bundle()


@pytest.fixture(scope="session")
def base_warehouse(spark, bundle, tmp_path_factory):
    """Ingest the bundle once per session; tests copy the parquet tree."""
    import copy

    from firepit_spark.storage import SparkStorage

    wh = str(tmp_path_factory.mktemp("base") / "wh")
    st = SparkStorage(wh, spark=spark)
    st.cache("q1", copy.deepcopy(bundle))
    return wh


@pytest.fixture()
def store(spark, base_warehouse, tmp_path):
    """A SparkStorage with the synthetic bundle cached under query id 'q1'."""
    import shutil

    from firepit_spark.storage import SparkStorage

    wh = str(tmp_path / "wh")
    shutil.copytree(base_warehouse, wh)
    return SparkStorage(wh, spark=spark)
