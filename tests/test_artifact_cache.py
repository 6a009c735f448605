"""``sources.catalog.ArtifactCache``: build once per dataset content,
one live entry per path (no Spark session needed)."""

from __future__ import annotations

import os
import threading
import time

import pytest

from news_data_pipeline_spark.sources.catalog import ArtifactCache


def _write(sf_dir, text):
    # successive contents differ in size, so the fingerprint moves even
    # within the filesystem's mtime granularity
    with open(os.path.join(sf_dir, "t.parquet"), "w") as f:
        f.write(text)


def test_concurrent_misses_build_once(tmp_path):
    sf_dir = str(tmp_path)
    _write(sf_dir, "v1")
    cache = ArtifactCache("t")
    builds, got = [], []
    barrier = threading.Barrier(4)

    def build():
        builds.append(1)
        time.sleep(0.1)  # hold the miss open while the others arrive
        return object()

    def race():
        barrier.wait()
        got.append(cache.get(sf_dir, build))

    threads = [threading.Thread(target=race) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(builds) == 1
    assert len(got) == 4 and all(g is got[0] for g in got)


def test_new_fingerprint_evicts_and_releases_old_entry(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    _write(str(a), "v1")
    _write(str(b), "other")
    cache = ArtifactCache("t")
    released = []
    assert cache.get(str(a), lambda: "a1", release=released.append) == "a1"
    assert cache.get(str(b), lambda: "b1", release=released.append) == "b1"
    # a hit neither builds nor releases
    assert cache.get(str(a), lambda: "never", release=released.append) == "a1"
    assert released == []

    _write(str(a), "v2 longer")
    assert cache.get(str(a), lambda: "a2", release=released.append) == "a2"
    assert released == ["a1"]
    assert cache.entries(str(a)) == ["a2"]
    assert cache.entries(str(b)) == ["b1"]  # other paths untouched


def test_hit_that_is_not_alive_rebuilds(tmp_path):
    sf_dir = str(tmp_path)
    _write(sf_dir, "v1")
    cache = ArtifactCache("t")
    released = []
    first = cache.get(sf_dir, lambda: ["first"])
    second = cache.get(
        sf_dir, lambda: ["second"], alive=lambda art: False,
        release=released.append,
    )
    assert second == ["second"]
    assert released == [first]
    assert cache.entries(sf_dir) == [["second"]]
    assert cache.get(sf_dir, lambda: ["third"], alive=lambda art: True) == [
        "second"
    ]


def test_failed_build_caches_nothing(tmp_path):
    sf_dir = str(tmp_path)
    _write(sf_dir, "v1")
    cache = ArtifactCache("t")
    cache.get(sf_dir, lambda: "v1 artifact")
    _write(sf_dir, "v2 longer")

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        cache.get(sf_dir, boom)
    assert cache.entries(sf_dir) == []  # the stale entry went too
    assert cache.get(sf_dir, lambda: "retry") == "retry"
