"""Driver-side helpers that need no Spark session."""

import importlib.util
import os
import sys

import pyarrow.parquet as pq

from weaver_spark.engine import _seq_range

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_seq_range_of_observed_row():
    assert _seq_range({"lo": 2, "hi": 12}) == (2, 12)
    assert _seq_range({"lo": 7, "hi": 7}) == (7, 7)


def test_seq_range_empty_batch_is_none():
    # min/max over no rows observe as null: no bounds, no TypeError
    assert _seq_range({"lo": None, "hi": None}) is None


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
