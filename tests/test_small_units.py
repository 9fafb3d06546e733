"""Driver-side helpers that need no Spark session."""

import importlib.util
import os
import sys

import pyarrow.parquet as pq

from weaver_spark.engine import _seq_bounds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _g(mn, mx):
    return {"mn_seq": mn, "mx_seq": mx}


def test_seq_bounds_spans_groups():
    assert _seq_bounds([_g(5, 9), _g(2, 4), _g(7, 12)]) == (2, 12)


def test_seq_bounds_empty_or_null_is_none():
    assert _seq_bounds([]) is None
    # a group whose rows all carry a null seq: no bound, no TypeError
    assert _seq_bounds([_g(5, 9), _g(None, None)]) is None
    assert _seq_bounds([_g(None, 3)]) is None
    assert _seq_bounds([_g(3, None)]) is None


def test_make_sf_measure_import_reads_no_parquet(monkeypatch):
    def no_read(*a, **k):
        raise AssertionError("parquet read at import time")

    monkeypatch.setattr(pq, "read_table", no_read)
    sentinel = "/nonexistent/sentinel-out-dir"
    monkeypatch.setattr(sys, "argv", ["make_sf_measure.py", sentinel])
    path = os.path.join(ROOT, "scripts", "make_sf_measure.py")
    spec = importlib.util.spec_from_file_location("make_sf_measure", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(mod.main)
    # the output dir is a command-line argument, parsed in main() only
    assert sentinel not in vars(mod).values()
