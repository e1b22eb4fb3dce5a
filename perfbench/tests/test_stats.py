import os
import statistics

import pytest

from perfbench import stats


def test_percentile_matches_inclusive_quantiles():
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0]
    qs = statistics.quantiles(xs, n=4, method="inclusive")
    assert stats.percentile(xs, 25) == pytest.approx(qs[0])
    assert stats.percentile(xs, 50) == pytest.approx(statistics.median(xs))
    assert stats.percentile(xs, 75) == pytest.approx(qs[2])
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 9.0


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)
    with pytest.raises(ValueError):
        stats.median([])


@pytest.mark.parametrize("n, want", [
    (9, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0),
    (10_000, 99.9),
])
def test_supported_percentile_leaves_ten_samples_beyond(n, want):
    p = stats.supported_percentile(n)
    assert p == want
    if p is not None:
        assert n * (1000 - round(p * 10)) >= 10 * 1000


def test_summary_keeps_every_sample():
    xs = [float(i) for i in range(1, 41)]
    s = stats.summary(xs)
    assert s["n"] == 40
    assert s["median"] == pytest.approx(20.5)
    assert s["min"] == 1.0 and s["max"] == 40.0
    assert s["tail_pct"] == 75.0
    assert s["tail"] == pytest.approx(stats.percentile(xs, 75))
    assert "tail" not in stats.summary([1.0, 2.0])
    assert stats.summary([]) == {"n": 0}


def _fake_proc(tmp_path, procs):
    """procs: pid → (ppid, rss_kb, comm)."""
    for pid, (ppid, rss, comm) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(f"{pid} ({comm}) S {ppid} 1 1 0 -1\n")
        (d / "status").write_text(f"Name:\t{comm}\nVmRSS:\t {rss} kB\n")
    (tmp_path / "self").mkdir()
    return str(tmp_path)


def test_tree_rss_sums_descendants_only(tmp_path):
    proc = _fake_proc(tmp_path, {
        10: (1, 1024, "python"),
        11: (10, 2048, "java"),
        12: (11, 512, "python worker"),   # space in the command name
        13: (11, 512, "py) (odd"),        # parenthesis in the command name
        20: (1, 99_999, "unrelated"),
    })
    assert stats.tree_rss_mb(10, proc) == pytest.approx(4096 / 1024)
    assert stats.tree_rss_mb(11, proc) == pytest.approx(3072 / 1024)
    assert stats.tree_rss_mb(99, proc) == 0.0


def test_rss_sampler_keeps_peak(tmp_path):
    proc = _fake_proc(tmp_path, {10: (1, 2048, "python")})
    sampler = stats.RssSampler(10, interval=0.01, proc=proc)
    with sampler:
        (tmp_path / "10" / "status").write_text("VmRSS:\t 8192 kB\n")
        sampler.sample()
        (tmp_path / "10" / "status").write_text("VmRSS:\t 1024 kB\n")
    assert sampler.peak_mb == pytest.approx(8.0)
    assert sampler.samples >= 3
    assert not sampler._thread.is_alive()


def test_rss_sampler_reads_this_process():
    assert stats.tree_rss_mb(os.getpid()) > 1.0
