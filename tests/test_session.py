"""Session defaults fit the host they run on (no Spark session started)."""

import pytest

from corpus_dedup_spark.plans.session import _default_driver_memory


def _mb(spec: str) -> int:
    assert spec.endswith("m"), spec
    return int(spec[:-1])


# 16456384 kB: a 4-core / 15 GiB host, where the old fixed 24g exceeded RAM
@pytest.mark.parametrize("total_kb", [2 << 20, 8 << 20, 16456384, 64 << 20,
                                      512 << 20])
def test_driver_memory_never_exceeds_physical(tmp_path, total_kb):
    f = tmp_path / "meminfo"
    f.write_text(f"MemTotal:       {total_kb} kB\nMemFree:  1024 kB\n")
    mb = _mb(_default_driver_memory(str(f)))
    assert 0 < mb < total_kb // 1024
    assert mb <= 24 << 10


def test_driver_memory_without_meminfo(tmp_path):
    assert _default_driver_memory(str(tmp_path / "absent")) == "24576m"
