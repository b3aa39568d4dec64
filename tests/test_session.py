"""Driver-side defaults decided before Spark runs: the local-mode heap
size and the optional scan-parallelism spread.  No JVM is started."""

from __future__ import annotations

import types

import pytest

from datalake_spark.session import local_driver_memory

MEMINFO_15G = """MemTotal:       16479424 kB
MemFree:        14479424 kB
MemAvailable:   15479424 kB
"""


def test_heap_is_45_percent_of_memtotal():
    # 16479424 kB = 16093.2 MB; 45% of it, rounded down
    assert local_driver_memory(MEMINFO_15G) == "7241m"


def test_heap_is_capped_at_16g_on_large_hosts():
    assert local_driver_memory("MemTotal: 263000000 kB\n") == "16384m"


def test_heap_falls_back_without_memtotal():
    assert local_driver_memory("MemFree: 1000 kB\n") == "4g"


@pytest.mark.parametrize("exc_name", [
    "ArrowException", "ArrowNotImplementedError", "ArrowInvalid",
])
def test_spread_footer_error_disables_spread_unmemoized(
        tmp_path, monkeypatch, exc_name):
    """A pyarrow footer error turns the optional spread off for that call
    instead of failing the query, and is not memoized."""
    import pyarrow.lib
    import pyarrow.parquet as pq

    from datalake_spark import queries

    exc = getattr(pyarrow.lib, exc_name)

    def broken_footer(path):
        raise exc("unreadable footer")

    (tmp_path / "part-0.parquet").write_bytes(b"not parquet")
    monkeypatch.setattr(pq, "ParquetFile", broken_footer)
    monkeypatch.delenv("SPARK_GRAFT_NO_SPREAD", raising=False)
    spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(defaultParallelism=4))
    path = str(tmp_path)
    assert queries._spread_partitions(spark, path) is None
    assert path not in queries._SPREAD_MEMO
