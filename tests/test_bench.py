"""Checks of the bench.py measuring harness that need no Spark."""

from __future__ import annotations

import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def bench(monkeypatch):
    monkeypatch.syspath_prepend(REPO)
    import bench

    return bench


def test_repeats_below_one_rejected_at_parse(bench, capsys):
    """--repeats 0 used to reach min() of an empty sample list (--queries)
    or best["value"] of None (--scaling); every mode rejects it at parse."""
    for mode in (["--scaling"], ["--queries", "tfidf_topterms"]):
        for bad in ("0", "-2"):
            with pytest.raises(SystemExit) as exc:
                bench.main([*mode, "--repeats", bad])
            assert exc.value.code == 2
            assert "--repeats: must be >= 1" in capsys.readouterr().err


def test_query_flags_checked_at_parse(bench, capsys):
    """An unknown query name, or --noop/--explain without --queries, stops
    at parse, before the probe and the session start."""
    for argv, msg in ((["--queries", "tfidf_topterms,nope"], "unknown nope"),
                      (["--noop"], "need --queries"),
                      (["--explain"], "need --queries")):
        with pytest.raises(SystemExit) as exc:
            bench.main(argv)
        assert exc.value.code == 2
        assert msg in capsys.readouterr().err


def test_time_query_samples_rows_sinks_and_gc(bench, monkeypatch):
    """time_query records one sample per repeat and keeps their min, takes
    the rows from count(), times the noop sink only when asked, and runs
    one untimed GC per query."""
    import types

    events = []

    class _Writer:
        def format(self, fmt):
            assert fmt == "noop"
            return self

        def mode(self, mode):
            assert mode == "overwrite"
            return self

        def save(self):
            events.append("noop")

    class _Frame:
        write = _Writer()

        def count(self):
            events.append("count")
            return 42

    spark = types.SimpleNamespace(sparkContext=types.SimpleNamespace(
        _jvm=types.SimpleNamespace(System=types.SimpleNamespace(
            gc=lambda: events.append("gc")))))

    def query(session, sf_dir):
        assert session is spark and sf_dir == "/sf"
        return _Frame()

    def ticks(*walls):  # time.time() as (0, wall) per sample
        return iter([t for wall in walls for t in (0.0, wall)])

    monkeypatch.setattr(bench.time, "time", lambda: next(clock))
    clock = ticks(3.0, 1.0, 2.0)
    counted = bench.time_query(spark, query, "/sf", 3)
    assert counted == {"samples": [3.0, 1.0, 2.0], "best": 1.0, "rows": 42}
    assert events == ["count"] * 3 + ["gc"]

    events.clear()
    clock = ticks(3.0, 1.0, 2.0, 5.0, 4.0, 6.0)
    both = bench.time_query(spark, query, "/sf", 3, noop=True)
    assert both == {"samples": [3.0, 1.0, 2.0], "best": 1.0, "rows": 42,
                    "noop_samples": [5.0, 4.0, 6.0], "noop_best": 4.0}
    assert events == ["count"] * 3 + ["noop"] * 3 + ["gc"]


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
