"""bench.py's measurement core without Spark: the steal arithmetic, the
min-of-N loop, the headline and streaming re-sample rules, and the
cpu-aware detail naming and band-source lineage."""

from __future__ import annotations

import json

import pytest

import bench
from bench import Samples


def _samples(times, steals=None):
    return Samples(list(times), list(steals or [0.0] * len(times)))


def _feed(monkeypatch, seq):
    """Make ``bench.timed`` return the (wall, steal) pairs of ``seq`` in
    order; returns the list of pairs handed out."""
    it = iter(seq)
    used = []

    def fake_timed(fn):
        used.append(next(it))
        return used[-1]

    monkeypatch.setattr(bench, "timed", fake_timed)
    return used


# ---- steal arithmetic ------------------------------------------------------

def test_steal_pct_is_share_of_elapsed_ticks():
    assert bench._steal_pct((10, 1000), (20, 1100)) == pytest.approx(10.0)
    assert bench._steal_pct((10, 1000), (10, 1400)) == 0.0


@pytest.mark.parametrize("c0, c1", [
    (None, (20, 1100)), ((10, 1000), None), (None, None),
    ((10, 1000), (10, 1000)),  # no tick elapsed
])
def test_steal_pct_without_a_usable_reading_is_zero(c0, c1):
    assert bench._steal_pct(c0, c1) == 0.0


def test_cpu_ticks_reads_steal_column_and_total():
    ticks = bench._cpu_ticks()
    if ticks is None:
        pytest.skip("no readable /proc/stat on this host")
    steal, total = ticks
    assert 0 <= steal <= total


def test_unreadable_proc_stat_gives_zero_steal(monkeypatch):
    def no_open(*a, **k):
        raise PermissionError("denied")

    monkeypatch.setattr(bench, "open", no_open, raising=False)
    assert bench._cpu_ticks() is None
    wall, steal = bench.timed(lambda: None)
    assert wall >= 0.0 and steal == 0.0


def test_timed_calls_once_and_measures_wall():
    calls = []
    wall, steal = bench.timed(lambda: calls.append(1))
    assert calls == [1] and wall >= 0.0 and 0.0 <= steal <= 100.0


# ---- Samples ---------------------------------------------------------------

def test_samples_best_steal_of_best_and_spread():
    s = _samples([2.0, 1.0, 1.5, 1.0, 4.0], [0.0, 7.0, 0.0, 1.0, 0.0])
    assert s.best == 1.0
    assert s.steal_of_best == 7.0  # the FIRST fastest sample's steal
    assert s.best3_spread_pct == pytest.approx(50.0)  # 1.0, 1.0, 1.5
    assert len(s) == 5


def test_samples_spread_of_zero_best_is_zero():
    assert _samples([0.0, 0.5]).best3_spread_pct == 0.0


def test_measure_runs_until_the_rule_says_stop(monkeypatch):
    _feed(monkeypatch, [(3.0, 1.0), (2.0, 2.0), (5.0, 0.0)])
    s = bench.measure(lambda: None, bench.min_runs(3))
    assert s.times == [3.0, 2.0, 5.0] and s.steals == [1.0, 2.0, 0.0]
    assert s.best == 2.0 and s.steal_of_best == 2.0


# ---- headline rule ---------------------------------------------------------

def test_headline_constants_are_pinned():
    assert (bench.N_RUNS, bench.SPREAD_GATE_PCT, bench.MAX_EXTRA_RUNS,
            bench.BAND_FACTOR, bench.MIN_ABS_DELTA_S,
            bench.STEAL_GATE_PCT) == (3, 50.0, 5, 1.6, 0.3, 5.0)


def _again(times, steals=None, prior=None):
    return bench.headline_rule("q", prior)(_samples(times, steals))


def test_headline_takes_n_runs_first():
    assert _again([]) and _again([9.0]) and _again([1.0, 9.0])


def test_headline_quiet_samples_stop_at_n_runs():
    assert not _again([1.0, 1.1, 1.2])


def test_headline_spread_gate_needs_relative_and_absolute_disagreement():
    assert _again([1.0, 1.0, 1.6])          # 60% and 0.6 s
    assert not _again([0.2, 0.2, 0.4])      # 100% but only 0.2 s apart
    assert not _again([1.0, 1.0, 1.5])      # 0.5 s but exactly 50%
    assert not _again([1.0, 1.0, 1.3, 9.0])  # slow 4th sample is not best-3


def test_headline_band_gate_needs_factor_and_absolute_distance():
    assert _again([2.0, 2.0, 2.0], prior=1.0)       # 2x and 1.0 s over
    assert not _again([1.5, 1.5, 1.5], prior=1.0)   # under 1.6x
    assert not _again([0.4, 0.4, 0.4], prior=0.2)   # 2x but 0.2 s over
    assert not _again([2.0, 2.0, 2.0], prior=None)


def test_headline_steal_gate_reads_the_steal_of_the_min():
    assert _again([1.0, 1.1, 1.2], [6.0, 0.0, 0.0])
    assert not _again([1.0, 1.1, 1.2], [5.0, 50.0, 50.0])


def test_headline_extra_runs_are_capped(monkeypatch):
    used = _feed(monkeypatch, [(1.0, 90.0)] * 20)  # always stolen
    s = bench.measure(lambda: None, bench.headline_rule("q", None))
    assert len(s) == len(used) == bench.N_RUNS + bench.MAX_EXTRA_RUNS


def test_headline_stops_once_a_clean_sample_wins(monkeypatch):
    _feed(monkeypatch, [(1.0, 9.0), (1.0, 9.0), (1.0, 9.0), (0.9, 0.0),
                        (5.0, 0.0)])
    s = bench.measure(lambda: None, bench.headline_rule("q", None))
    assert s.times == [1.0, 1.0, 1.0, 0.9]


# ---- streaming rule --------------------------------------------------------

def test_stream_rule_min_of_three_then_up_to_three_more_under_steal():
    assert bench.stream_rule(_samples([1.0, 1.0]))
    assert not bench.stream_rule(_samples([1.0, 1.0, 1.0]))
    assert bench.stream_rule(_samples([1.0, 2.0, 2.0], [6.0, 0.0, 0.0]))
    assert not bench.stream_rule(
        _samples([1.0] * 6, [9.0] * 6))


def test_stream_rule_caps_at_six(monkeypatch):
    _feed(monkeypatch, [(1.0, 50.0)] * 10)
    assert len(bench.measure(lambda: None, bench.stream_rule)) == 6


# ---- detail naming and band source ----------------------------------------

def test_detail_name_suffixes_non_default_core_counts():
    assert bench.detail_name(13, 32) == "BENCH_DETAIL_r13.json"
    assert bench.detail_name(13, 4) == "BENCH_DETAIL_r13_c4.json"
    assert bench.detail_name(0, 32) == "BENCH_DETAIL.json"
    assert bench.detail_name(0, 8) == "BENCH_DETAIL_c8.json"


def _write(d, name, cpus=None, **queries):
    body = {"queries": queries}
    if cpus is not None:
        body["cpus"] = cpus
    (d / name).write_text(json.dumps(body))


def test_band_source_matches_stamped_cpus_including_c_files(tmp_path):
    _write(tmp_path, "BENCH_DETAIL_r09.json", q01=9.0)  # unstamped: 32
    _write(tmp_path, "BENCH_DETAIL_r10.json", 32, q01=10.0)
    _write(tmp_path, "BENCH_DETAIL_r11_c8.json", 8, q01=11.8)
    _write(tmp_path, "BENCH_DETAIL_r12.json", 32, q01=12.0)
    _write(tmp_path, "BENCH_DETAIL_r12_c8.json", 8, q01=12.8)
    _write(tmp_path, "BENCH_DETAIL_r13_c8.json", 8, q01=13.8)  # this round
    _write(tmp_path, "BENCH_DETAIL_r02_c4.json", 4, q01=2.4)
    _write(tmp_path, "BENCH_DETAIL_r12_c4.json", 8, q01=0.0)  # stamp rules
    (tmp_path / "BENCH_r12.json").write_text("{}")

    assert bench.band_source(str(tmp_path), 13, 8) == (
        "BENCH_DETAIL_r12_c8.json", {"q01": 12.8})
    assert bench.band_source(str(tmp_path), 13, 32) == (
        "BENCH_DETAIL_r12.json", {"q01": 12.0})
    assert bench.band_source(str(tmp_path), 13, 4) == (
        "BENCH_DETAIL_r02_c4.json", {"q01": 2.4})
    assert bench.band_source(str(tmp_path), 13, 16) is None
    # integer round order: r9 is older than r10
    assert bench.band_source(str(tmp_path), 11, 32) == (
        "BENCH_DETAIL_r10.json", {"q01": 10.0})


def test_detail_round_ignores_cpu_suffixed_artifacts(tmp_path):
    for f in ("BENCH_r11.json", "BENCH_r12.json", "BENCH_r12_c8.json",
              "BENCH_r13_c4.json"):
        (tmp_path / f).write_text("{}")
    assert bench._detail_round(str(tmp_path)) == 13


# ---- conf stamp -----------------------------------------------------------

def test_conf_stamp_reads_each_key_and_marks_unset_ones_none():
    class Conf:
        def get(self, key, default):
            return {"spark.master": "local[4]",
                    "spark.sql.codegen.cache.maxEntries": "4096",
                    "spark.python.daemon.module": "adenhq_hive_spark.worker_daemon",
                    "spark.hadoop.fs.file.impl": "adenhq_hive_spark.ForkFreeLocalFs$Local",
                    "spark.driver.extraJavaOptions": "-Xshare:on -XX:SharedArchiveFile=a.jsa",
                    }.get(key, default)

    class Spark:
        conf = Conf()

    stamp = bench.conf_stamp(Spark())
    assert list(stamp) == list(bench.STAMP_CONF)
    assert stamp["spark.master"] == "local[4]"
    assert stamp["spark.sql.codegen.cache.maxEntries"] == "4096"
    assert stamp["spark.python.daemon.module"] == "adenhq_hive_spark.worker_daemon"
    assert stamp["spark.hadoop.fs.file.impl"] == "adenhq_hive_spark.ForkFreeLocalFs$Local"
    assert stamp["spark.hadoop.fs.AbstractFileSystem.file.impl"] is None
    assert stamp["spark.driver.extraJavaOptions"] == "-Xshare:on -XX:SharedArchiveFile=a.jsa"
    assert stamp["spark.memory.offHeap.size"] is None
