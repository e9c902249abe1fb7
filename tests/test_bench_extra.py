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
