"""bench.py's host classification: the pinned HEALTHY band only judges
probes taken on the core count it was pinned on."""

import bench


def _probe(ncpu, scale=1.0):
    probe = {
        k: v * scale for k, v in bench.HEALTHY_BAND.items() if k != "ncpu"
    }
    probe["ncpu"] = ncpu
    return probe


def test_band_records_its_core_count():
    assert isinstance(bench.HEALTHY_BAND["ncpu"], int)


def test_same_core_count_is_classified():
    n = bench.HEALTHY_BAND["ncpu"]
    assert bench.classify_host(_probe(n, 0.9)) == "HEALTHY"
    assert bench.classify_host(_probe(n, 2.0)) == "DEGRADED"


def test_other_core_count_is_unknown():
    n = bench.HEALTHY_BAND["ncpu"]
    assert bench.classify_host(_probe(n // 8, 2.0)) == "UNKNOWN"
    assert bench.classify_host(_probe(n // 8, 0.9)) == "UNKNOWN"
    legacy = _probe(n, 0.9)
    del legacy["ncpu"]  # a probe from before ncpu was recorded
    assert bench.classify_host(legacy) == "UNKNOWN"
