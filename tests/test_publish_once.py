"""Build-once publication (`core/publish.publish_once`), the corpus
fingerprint every query fixture is keyed by, and the worker package zip
(`plans/common`)."""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import threading
import zipfile

import pytest

from cdk_datalake_analytics_comercial_spark.core.publish import publish_once
from cdk_datalake_analytics_comercial_spark.plans.common import (
    corpus_fixture,
    corpus_fixture_path,
    package_zip,
)


@pytest.fixture
def scratch(tmp_path, monkeypatch):
    d = tmp_path / "scratch"
    d.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(d))
    return d


@pytest.fixture
def sf_dir(tmp_path):
    docs = tmp_path / "sf" / "documents.parquet"
    docs.mkdir(parents=True)
    (docs / "part-0.parquet").write_bytes(b"corpus bytes")
    return str(tmp_path / "sf")


def _writer(calls: list):
    def build(tmp: str) -> None:
        calls.append(tmp)
        with open(os.path.join(tmp, "data"), "w") as fh:
            fh.write("built")

    return build


def test_same_content_reuses_the_dir_without_building(scratch, sf_dir):
    calls: list = []
    first = corpus_fixture(sf_dir, "documents", "fx", "fx|v1", _writer(calls))
    assert first.startswith(str(scratch))
    assert os.path.basename(first).startswith("spark_graft_fx_")
    assert len(calls) == 1

    def never(tmp):
        raise AssertionError("a published fixture must not rebuild")

    assert corpus_fixture(sf_dir, "documents", "fx", "fx|v1", never) == first
    assert sorted(os.listdir(scratch)) == [os.path.basename(first)]
    with open(os.path.join(first, "data")) as fh:
        assert fh.read() == "built"


def test_fingerprint_key_is_unchanged(scratch, sf_dir):
    # published caches stay valid only while the key formula is byte-stable
    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    st = os.stat(os.path.join(src, "part-0.parquet"))
    key = hashlib.sha1(
        f"{src}|part-0.parquet:{st.st_size}:{st.st_mtime_ns}|fx|v1".encode()
    ).hexdigest()[:16]
    assert corpus_fixture_path(sf_dir, "documents", "fx", "fx|v1") == str(
        scratch / f"spark_graft_fx_{key}"
    )


def test_new_mtime_gives_a_new_key(scratch, sf_dir):
    before = corpus_fixture_path(sf_dir, "documents", "fx", "fx|v1")
    part = os.path.join(sf_dir, "documents.parquet", "part-0.parquet")
    os.utime(part, ns=(1, 1))
    after = corpus_fixture_path(sf_dir, "documents", "fx", "fx|v1")
    assert after != before
    assert corpus_fixture_path(sf_dir, "documents", "fx", "fx|v2") != after


def test_raising_build_leaves_nothing(scratch, sf_dir):
    seen: list = []

    def broken(tmp: str) -> None:
        seen.append(tmp)
        with open(os.path.join(tmp, "half"), "w") as fh:
            fh.write("half-built")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        corpus_fixture(sf_dir, "documents", "fx", "fx|v1", broken)
    assert len(seen) == 1 and ".build-" in os.path.basename(seen[0])
    assert os.listdir(scratch) == []


def test_racing_builds_share_one_published_dir(scratch):
    n = 8
    final = str(scratch / "spark_graft_race_0123")
    gate = threading.Barrier(n, timeout=30)
    calls: list = []
    results: list = []
    errors: list = []

    def build(tmp: str) -> None:
        _writer(calls)(tmp)
        gate.wait()  # every build is past the existence check

    def run() -> None:
        try:
            results.append(publish_once(final, build))
        except BaseException as exc:
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run) for _ in range(n)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(calls) == n
    assert results == [final] * n
    assert os.listdir(scratch) == [os.path.basename(final)]
    assert os.listdir(final) == ["data"]


def test_package_zip_built_once_per_content(scratch):
    """Sessions over an unchanged checkout share one package zip: two
    builds leave exactly one content-keyed dir and no loose zip."""
    first, second = package_zip(), package_zip()
    assert first == second
    entries = sorted(os.listdir(scratch))
    assert entries == [os.path.basename(os.path.dirname(first))]
    assert entries[0].startswith("cdk_datalake_analytics_comercial_spark_pkg_")
    with zipfile.ZipFile(first) as zf:
        names = zf.namelist()
    assert "cdk_datalake_analytics_comercial_spark/plans/common.py" in names
    assert all(n.endswith(".py") for n in names)
