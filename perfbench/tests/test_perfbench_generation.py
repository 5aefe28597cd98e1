"""Input generation is a function of the seed (needs a local Spark session)."""

from __future__ import annotations

import pytest

from perfbench.run import Sessions, prepare_env
from perfbench.tracing import Tracer
from perfbench.workloads import WORKLOADS


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = tmp_path_factory.mktemp("perfbench")
    prepare_env(work)
    sessions = Sessions(work)
    sessions.start(2, Tracer(enabled=False))
    yield sessions.spark
    sessions.close()


def _fingerprint(spark, tmp_path, name, seed, tag):
    wl = WORKLOADS[name](tmp_path / f"{name}-{seed}-{tag}", seed)
    wl.n_docs = 60
    if getattr(wl, "mega_every", 0):
        wl.mega_every = 30
    return wl.generate(spark)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_generation_is_deterministic_per_seed(spark, tmp_path, name):
    first = _fingerprint(spark, tmp_path, name, 7, "a")
    again = _fingerprint(spark, tmp_path, name, 7, "b")
    other = _fingerprint(spark, tmp_path, name, 8, "c")
    assert first == again
    assert first["content_hash"] != other["content_hash"]
