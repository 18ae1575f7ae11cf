"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import diff, gen, metrics, run, spans, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# --- percentile rule ---------------------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [
        (0, None),
        (19, None),  # not even the median has 10 samples beyond it
        (20, 50.0),
        (39, 50.0),
        (40, 75.0),
        (99, 75.0),
        (100, 90.0),
        (199, 90.0),
        (200, 95.0),
        (1000, 99.0),
        (10_000, 99.9),
    ],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, expected):
    assert metrics.tail_percentile(n) == expected


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(7)
    xs = list(rng.exponential(size=57))
    for p in (0, 10, 50, 90, 99, 100):
        assert metrics.percentile(xs, p) == pytest.approx(np.percentile(xs, p))


def test_summarize_reports_count_median_and_tail():
    s = metrics.summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["tail_pct"] == 90.0
    assert s["p50"] == pytest.approx(50.5)
    assert s["tail"] == pytest.approx(np.percentile(range(1, 101), 90))
    short = metrics.summarize([5.0, 1.0, 3.0])
    assert (short["p50"], short["tail_pct"], short["tail"]) == (3.0, 0.0, 0.0)


def test_iqr_share():
    # statistics.quantiles' default (exclusive) method: 2.25, 4.5, 6.75
    assert metrics.iqr_share([float(i) for i in range(1, 9)]) == pytest.approx(1.0)


def test_round_medians_ignore_one_slow_round():
    fast = [("a", 10.0), ("b", 20.0), ("c", 30.0)]
    slow = [(k, 5 * ms) for k, ms in fast]
    op_p50, round_ms = metrics.round_medians(fast + slow + fast)
    assert (op_p50, round_ms) == (20.0, 60.0)


# --- freshness from a synthetic progress and commit log ----------------------


def _write_log(path: str, entries) -> None:
    with open(path, "w") as fh:
        fh.write("v1\n" + "\n".join(json.dumps(e) for e in entries) + "\n")


def test_freshness_from_source_log_and_sink_commits(tmp_path):
    src_log = tmp_path / "ckpt" / "sources" / "0"
    meta = tmp_path / "out" / "_spark_metadata"
    src_log.mkdir(parents=True)
    meta.mkdir(parents=True)
    entry = lambda name, b: {"path": f"file:///x/src/{name}", "timestamp": 1, "batchId": b}  # noqa: E731
    _write_log(src_log / "0", [entry("a.json", 0)])
    _write_log(src_log / "1", [entry("b.json", 1), entry("c.json", 1)])
    # a compacted log repeats earlier batches; the first batch still wins
    _write_log(src_log / "2.compact", [entry("a.json", 0), entry("d.json", 2)])
    (src_log / ".2.compact.crc").write_text("")  # checksum files are ignored
    commits = {"0": 100.25, "1": 101.0, "2.compact": 102.5}
    for name, t in commits.items():
        (meta / name).write_text("v1\n")
        os.utime(meta / name, ns=(int(t * 1e9), int(t * 1e9)))

    batches = metrics.source_log(str(src_log))
    assert batches == {0: {"a.json"}, 1: {"b.json", "c.json"}, 2: {"d.json"}}
    commit_s = metrics.commit_times(str(meta))
    assert commit_s == pytest.approx({0: 100.25, 1: 101.0, 2: 102.5})

    send = {"a.json": 100.0, "b.json": 100.5, "c.json": 100.75, "d.json": 102.0,
            "never.json": 102.25}
    fresh = metrics.freshness_ms(send, batches, commit_s)
    assert fresh == pytest.approx(
        {"a.json": 250.0, "b.json": 500.0, "c.json": 250.0, "d.json": 500.0}
    )


def test_backlog_counts_sent_but_uncommitted_files():
    sends = [0.0, 1.0, 2.0, 3.0]
    assert metrics.backlog_max(sends, [0.5, 1.5, 2.5, 3.5]) == 1
    assert metrics.backlog_max(sends, [3.5, 3.5, 3.5, 3.5]) == 4


def test_uncovered_ms_is_op_time_outside_jobs():
    # op 10.0 s .. 11.0 s; jobs cover 10.1-10.4 and 10.3-10.6 (overlapping)
    ivs = [(10_100.0, 10_400.0), (10_300.0, 10_600.0), (12_000.0, 12_500.0)]
    assert spans.uncovered_ms(10.0, 11.0, ivs) == pytest.approx(500.0)


def test_tracer_records_nested_spans_only_when_enabled():
    tr = spans.Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [s["name"] for s in tr.spans] == ["outer", "inner"]
    assert tr.spans[1]["parent"] == 0
    assert all(s["end"] >= s["start"] for s in tr.spans)
    off = spans.Tracer(False)
    with off.span("outer"):
        pass
    assert off.spans == []


# --- seed determinism --------------------------------------------------------


def _inputs(seed: int):
    ev = gen.events_table(seed, 5_000, 300)
    table, labels = gen.kafka_records(seed, ev)
    star = gen.star_tables(seed, 50, 400, 1_000)
    return ev, table, labels, star


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    paths = []
    for i in range(2):
        ev, table, _, star = _inputs(11)
        d = tmp_path / f"r{i}"
        gen.write_partitions(table, str(d / "kafka"))
        gen.write_parquet(ev, str(d / "events.parquet"))
        for name, t in star.items():
            gen.write_parquet(t, str(d / f"{name}.parquet"))
        gen.write_stream_files(table, 1_000, str(d / "hold"))
        paths.append(d)
    files = sorted(p.relative_to(paths[0]) for p in paths[0].rglob("*") if p.is_file())
    assert len(files) == 8 + 1 + 5 + 5
    for rel in files:
        assert (paths[0] / rel).read_bytes() == (paths[1] / rel).read_bytes(), rel


def test_other_seed_gives_other_inputs():
    _, a, _, _ = _inputs(1)
    _, b, _, _ = _inputs(2)
    assert gen.json_lines(a) != gen.json_lines(b)


def test_payload_shares_and_expected_counts():
    ev = gen.events_table(3, 40_000, 1_000)
    table, labels = gen.kafka_records(3, ev)
    landed: dict = {}
    shapes = {"new": 0, "old": 0, "default": 0, "malformed": 0}
    for v in table.column("value").to_pylist():
        try:
            d = json.loads(v)
        except ValueError:
            shapes["malformed"] += 1
            continue
        if d["event_type"] in ("sword_event", "guild_event"):
            shapes["new"] += 1
            key = (d["event_type"], d["direction"])
            landed[key] = landed.get(key, 0) + 1
        elif d["event_type"] == "default":
            shapes["default"] += 1
        else:
            shapes["old"] += 1
    assert gen.expected_counts(labels) == landed
    for shape, share in gen.SHARES.items():
        assert shapes[shape] / table.num_rows == pytest.approx(share, abs=0.01)


def test_stream_files_split_rows_in_order(tmp_path):
    _, table, _, _ = _inputs(5)
    files = gen.write_stream_files(table, 1_000, str(tmp_path))
    assert len(files) == 5
    rows = [json.loads(line) for f in files for line in open(f)]
    assert [r["offset"] for r in rows] == table.column("offset").to_pylist()
    assert [r["value"] for r in rows] == table.column("value").to_pylist()


# --- the contract file and the diff script ----------------------------------


def test_benchmark_json_matches_the_metrics_run_py_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == (
        run.END_TO_END
    )
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == (
        run.PER_LAYER
    )
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    stream = next(w["why"] for w in spec["workloads"] if w["name"] == "stream_ingest")
    assert f"{workloads.STREAM_RATE:g} files/s" in stream
    assert f"{workloads.STREAM_FILE_EVENTS} events" in stream
    shares = "/".join(f"{round(100 * v)}" for v in gen.SHARES.values())
    assert shares in stream


def test_diff_prints_each_delta_with_its_base(tmp_path):
    base = {"correct": True, "attempted": 4, "failed": 0,
            "metrics": {"a": {"value": 2.0, "unit": "ms"}, "z": {"value": 0.0, "unit": "count"}}}
    new = {"correct": True, "attempted": 4, "failed": 0,
           "metrics": {"a": {"value": 3.0, "unit": "ms"}, "z": {"value": 1.0, "unit": "count"}}}
    p = tmp_path / "base.txt"
    p.write_text("report line\n" + json.dumps(base) + "\n")
    lines = diff.diff_lines(diff.load(str(p)), new)
    assert "a [ms]: 2 -> 3  delta +1 (+50.0%)" in lines
    assert any(line.startswith("z [count]") and "base is 0" in line for line in lines)
