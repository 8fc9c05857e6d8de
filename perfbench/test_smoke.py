"""Tiny-input smoke test of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q     (from the checkout root)

Every workload, on inputs a few hundred rows large, must emit every metric
BENCHMARK.json names, in both modes, with its outputs checked correct; and a
deliberately corrupted engine output must be counted as a failed operation.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (ROOT, HERE):
    if p not in sys.path:
        sys.path.insert(0, p)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import run  # noqa: E402


@pytest.fixture(scope="module", autouse=True)
def engine_stopped_after():
    """Stop the driver JVM and wait for every process under this one once
    the module's tests are done, as run.py does after a run."""
    run.adopt_orphans()
    yield
    try:
        run.stop_jvm()
    finally:
        run.reap_children()


TINY = {
    "frontier_round": {"n_urls": 3000},
    "warc_ingest": {"n_records": 400, "n_files": 4},
}


@pytest.mark.parametrize("name", run.WORKLOADS)
def test_every_metric_is_emitted_and_outputs_check(name):
    record = run.run_workload(name, seed=3, seconds=0.1, trace=True, sizes=TINY[name])
    assert record["correct"], (record["errors"], record.get("trace_checks"),
                               record.get("trace_detail"))
    assert record["failed"] == 0 and record["attempted"] >= 4
    for trace, names in ((False, run.END_TO_END), (True, run.PER_LAYER)):
        line = run.final_line(dict(record, trace=trace))
        assert set(line["metrics"]) == set(names)
        for m in line["metrics"].values():
            assert isinstance(m["value"], (int, float))
    assert all(record["end_to_end"][k]["median"] > 0 for k in run.END_TO_END)


def _drop_first_fetch(orig):
    def corrupted(*args, **kwargs):
        from pyspark.sql import functions as F

        return orig(*args, **kwargs).filter(F.col("fetch_order") != 1)
    return corrupted


def _garble_first_record(orig):
    def corrupted(*args, **kwargs):
        from pyspark.sql import functions as F

        df = orig(*args, **kwargs)
        return df.withColumn("content", F.when(
            F.col("offset") == 0, F.lit(bytearray(b"garbled"))
        ).otherwise(F.col("content")))
    return corrupted


CORRUPT = {
    "frontier_round": ("warcio_spark.plans.frontier", "fetch_order", _drop_first_fetch),
    "warc_ingest": ("warcio_spark.sources", "read_warc", _garble_first_record),
}


@pytest.mark.parametrize("name", run.WORKLOADS)
def test_corrupted_output_is_counted_failed(name, monkeypatch):
    import importlib

    module, attr, wrap = CORRUPT[name]
    mod = importlib.import_module(module)
    monkeypatch.setattr(mod, attr, wrap(getattr(mod, attr)))
    record = run.run_workload(name, seed=4, seconds=0.1, trace=False, sizes=TINY[name])
    assert record["failed"] == record["attempted"] >= 4
    assert not record["correct"]
