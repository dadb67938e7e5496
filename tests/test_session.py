"""Session configuration on a session we do not own."""

from __future__ import annotations

from chrono_ts_spark.session import RUNTIME_CONFS, apply_runtime_confs


class _RuntimeConf:
    def __init__(self, partitions: str) -> None:
        self.values = {"spark.sql.shuffle.partitions": partitions}

    def get(self, key: str) -> str:
        return self.values[key]

    def set(self, key: str, value: str) -> None:
        self.values[key] = value


class _Context:
    """A SparkContext whose getConf() counts its calls; the SparkConf
    it returns is the context itself (only getAll is used)."""

    def __init__(self, launch: dict) -> None:
        self.launch = launch
        self.getconf_calls = 0

    def getConf(self):  # noqa: N802 - SparkContext's name
        self.getconf_calls += 1
        return self

    def getAll(self):  # noqa: N802 - SparkConf's name
        return list(self.launch.items())


class _Session:
    def __init__(self, launch: dict, partitions: str) -> None:
        self.sparkContext = _Context(launch)
        self.conf = _RuntimeConf(partitions)


def test_sparkconf_read_once_per_context():
    s = _Session({}, "200")
    for _ in range(5):
        apply_runtime_confs(s)
    assert s.sparkContext.getconf_calls == 1
    # the stock 200 -> 64 rule still fires, and every runtime conf is set
    assert s.conf.get("spark.sql.shuffle.partitions") == "64"
    assert all(s.conf.get(k) == v for k, v in RUNTIME_CONFS.items())


def test_explicit_200_in_sparkconf_is_kept():
    s = _Session({"spark.sql.shuffle.partitions": "200"}, "200")
    for _ in range(3):
        apply_runtime_confs(s)
    assert s.sparkContext.getconf_calls == 1
    assert s.conf.get("spark.sql.shuffle.partitions") == "200"


def test_stock_session_commits_streaming_state_as_a_changelog():
    s = _Session({}, "200")
    apply_runtime_confs(s)
    assert s.conf.get("spark.sql.streaming.stateStore.providerClass").endswith(
        "RocksDBStateStoreProvider"
    )
    assert (
        s.conf.get("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
        == "true"
    )
