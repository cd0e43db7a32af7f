"""Tests for the benchmark's own code. From the repository root:

    python -m pytest kgbench -q
"""

from __future__ import annotations

import statistics
from pathlib import Path

import pytest

from kgbench import checks
from kgbench import inputs as gen
from kgbench.stats import median, quartile_spread, table_digest
from kgbench.tracing import GroupStats, parse_event_log, span_table

SAMPLE_LOG = Path(__file__).parent / "testdata" / "eventlog_sample.jsonl"
REPO = Path(__file__).resolve().parents[1]


def test_median_and_quartile_spread():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    values = [1.0, 2.0, 3.0, 4.0, 5.0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert quartile_spread(values) == pytest.approx((q3 - q1) / 3.0)
    assert quartile_spread([2.0, 2.0, 2.0]) == 0.0
    with pytest.raises(ValueError):
        median([])
    with pytest.raises(ValueError):
        quartile_spread([1.0])


def test_table_digest_is_order_independent_and_counts_duplicates():
    rows = [("a", 1, None), ("b", 2, [1, 2]), ("c", 3.5, "x")]
    assert table_digest(rows) == table_digest(list(reversed(rows)))
    assert table_digest(rows) != table_digest(rows + [rows[0]])
    assert table_digest(rows) != table_digest([("a", 1, None), ("b", 2, [2, 1]), ("c", 3.5, "x")])


def test_digest_ignores_wall_clock_columns():
    cols = ["fact_id", "first_seen_at"]
    a = checks.digest(cols, [{"fact_id": "f1", "first_seen_at": "2026-05-01"}])
    b = checks.digest(cols, [{"fact_id": "f1", "first_seen_at": "2026-10-16"}])
    c = checks.digest(cols, [{"fact_id": "f2", "first_seen_at": "2026-05-01"}])
    assert a == b != c


def test_parse_recorded_event_log():
    with open(SAMPLE_LOG) as fh:
        groups = parse_event_log(fh)
    traced = groups["kgbench:canonicalize#0"]
    assert traced == GroupStats(
        jobs=1, run_ms=6785, cpu_ns=1094084171, shuffle_bytes=357,
        spill_bytes=0, python_bytes=3232, input_bytes=0,
    )
    assert groups[None].jobs == 1
    assert groups[None].python_bytes == 0


def test_span_table_self_time_and_idle_share():
    spans = [
        {"name": "pipeline", "group": "p", "parent": None, "start": 0.0, "end": 10.0},
        {"name": "upsert.facts", "group": "u", "parent": "p", "start": 2.0, "end": 5.0},
    ]
    groups = {"p": GroupStats(jobs=3, run_ms=4000), "u": GroupStats(jobs=2, run_ms=6000),
              "q": GroupStats(jobs=1)}
    table = span_table(spans, groups, cores=4, stream_groups={"q"}, stream_overhead_s=0.5)
    tail = table["pipeline.tail"]
    assert tail["wall_s"] == 7.0 and tail["jobs"] == 3
    assert tail["idle_core_frac"] == pytest.approx(1 - 4 / (7 * 4))
    assert table["upsert.facts"]["idle_core_frac"] == pytest.approx(1 - 6 / (3 * 4))
    assert table["stream.overhead"]["jobs"] == 1
    assert table["ppr"]["jobs"] == 0 and table["ppr"]["idle_core_frac"] == 1.0


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = gen.stream_inputs(tmp_path / "a", 5)
    b = gen.stream_inputs(tmp_path / "b", 5)
    c = gen.stream_inputs(tmp_path / "c", 6)
    for name in ("base.parquet", "drop/batch-0.parquet"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
    assert a.bytes == b.bytes
    assert c.batch_pages != a.batch_pages
    boot = gen.bootstrap_inputs(tmp_path / "boot", 5)
    longest = max(len(p["text"].split()) for p in boot.batch_pages[0])
    assert longest > 200 and len(boot.long_urls) == gen.BOOT_LONG


@pytest.mark.parametrize("workload,traced", [("bootstrap", False), ("stream_drain", True)])
def test_smoke_run_on_tiny_inputs(workload, traced, tmp_path, monkeypatch):
    from kgbench.workloads import run_workload

    for name, value in {"BOOT_SHORT": 12, "BOOT_LONG": 2, "STREAM_BASE": 12,
                        "STREAM_BATCH": 6, "STREAM_REPEATED": 3}.items():
        monkeypatch.setattr(gen, name, value)
    monkeypatch.setenv("PYTHONPATH", str(REPO))
    monkeypatch.chdir(tmp_path)  # the run lives in its checkout, the cwd
    # the run points these at its own dir; restore them afterwards
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))
    result = run_workload(workload, seed=3, seconds=0, traced=traced, root=tmp_path, expected={})
    assert result["failed"] == 0, result["failures"]
    assert result["attempted"] == 1
    assert all(v > 0 for v, _ in result["metrics"].values())
    if traced:
        assert result["layers"]["pipeline.jobs"] > 0
        assert result["layers"]["upsert.facts.wall_s"] > 0
        assert all(d["rows"] > 0 for d in result["read_digests"].values())
    assert not any((tmp_path / ".kgbench_work").iterdir())
