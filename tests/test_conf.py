"""``conf.build_session`` defaults, checked without a JVM: the builder
is replaced by a fake that records every ``.config`` call."""

from types import SimpleNamespace

import pytest

from ai_log_analyzer_spark import conf, packaging


class _FakeBuilder:
    def __init__(self):
        self.confs = {}

    def master(self, m):
        self.confs["master"] = m
        return self

    def appName(self, _name):
        return self

    def config(self, k, v):
        self.confs[k] = v
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(
            setLogLevel=lambda _lvl: None, addPyFile=lambda _path: None))


@pytest.fixture
def recorded(monkeypatch):
    builder = _FakeBuilder()
    monkeypatch.setattr(conf, "SparkSession", SimpleNamespace(builder=builder))
    monkeypatch.setattr(packaging, "package_zip", lambda: "unused.zip")
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        monkeypatch.setenv(var, "1")
    return builder.confs


@pytest.mark.parametrize("kw, want", [
    ({"cores": 2}, "2"),                            # the old floor gave 8
    ({"cores": 32}, "32"),
    ({"cores": 2, "shuffle_partitions": 8}, "8"),
])
def test_shuffle_partitions_default_to_cores(recorded, kw, want):
    conf.build_session(**kw)
    assert recorded["master"] == f"local[{kw['cores']}]"
    assert recorded["spark.sql.shuffle.partitions"] == want
