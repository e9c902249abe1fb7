"""Command-line checks of the measurement harness that need no Spark."""

from __future__ import annotations

import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_repeats_below_one_rejected_at_parse(monkeypatch, capsys):
    """--repeats 0 used to reach min() of an empty sample list."""
    monkeypatch.syspath_prepend(REPO)
    import bench_extra

    for bad in ("0", "-2"):
        with pytest.raises(SystemExit) as exc:
            bench_extra.main(["--time", "tfidf_topterms", "--repeats", bad])
        assert exc.value.code == 2
        assert "--repeats: must be >= 1" in capsys.readouterr().err


def test_probe_ceiling_clamped_at_one(monkeypatch):
    """A narrow leg slower than the wide one (timing noise) reads as a
    ceiling of 1.0, never as more capacity than the host has."""
    import itertools
    import multiprocessing

    monkeypatch.syspath_prepend(REPO)
    import bench

    class _Pool:
        def __init__(self, workers):
            pass

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

        def map(self, fn, args):
            return [None for _ in args]

    # (t0, t1) per leg: solo 1 s, 2-way 2 s, 4-way 1 s
    clock = itertools.chain([0.0, 1.0], [0.0, 2.0], [0.0, 1.0])
    monkeypatch.setattr(multiprocessing, "Pool", _Pool)
    monkeypatch.setattr(bench.time, "perf_counter", lambda: next(clock))
    probe = bench.host_parallel_capacity(2, 4, n=1, repeats=1)
    assert probe["wall_2way_sec"] == 2.0 and probe["wall_4way_sec"] == 1.0
    assert probe["ceiling"] == 1.0
