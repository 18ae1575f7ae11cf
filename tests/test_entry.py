"""Smoke test of the driver contract surface."""

from __future__ import annotations

import importlib


def test_entry_runs(spark):
    mod = importlib.import_module("__spark_entry__")
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert {f.name for f in df.schema.fields} == {
        "event_type",
        "direction",
        "num_events",
    }
    total = sum(r["num_events"] for r in rows)
    assert total > 0


def test_contract_shapes():
    mod = importlib.import_module("__spark_entry__")
    qs = mod.queries()
    os_ = mod.oracle_sql()
    assert qs, "queries() must not be empty"
    assert set(os_) <= set(qs)
    for name, fn in qs.items():
        assert callable(fn), name


def test_rotation_spends_check_slots_on_unverified_queries():
    """The driver hash-checks only the first 50 queries() entries: the
    rotation must order oracle-backed never-checked -> oracle-backed
    checked-not-green -> rows-only never-checked -> rows-only re-checks ->
    green, derived from the CORRECTNESS_r*.json history files. Rows-only
    entries can never turn hash-green, so every hash-capable query
    outranks them; a rows-only FIRST look still beats a rows-only
    re-check (the latter's row already exists)."""
    import glob
    import json
    import os

    from user_behavior_spark_pipeline_spark.registry import ORACLES, QUERIES

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    status = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        for name, row in json.load(open(path)).items():
            if isinstance(row, dict):
                if row.get("hash_match") is True:
                    status[name] = "green"
                else:
                    status.setdefault(name, "checked")
    keys = list(QUERIES)

    def rank(k):
        s = status.get(k, "never")
        if s == "never":
            return 0 if k in ORACLES else 2
        if s == "checked":
            return 1 if k in ORACLES else 3
        return 4

    ranks = [rank(k) for k in keys]
    assert ranks == sorted(ranks), "rotation classes out of order"
    # every oracle-backed non-green query fits in the driver's 50-slot
    # check window (rows-only entries may overflow — their check is weak
    # anyway and they queue for the next round)
    hash_pending_outside = [
        k for k in keys[50:] if status.get(k) != "green" and k in ORACLES
    ]
    assert not hash_pending_outside, (
        f"hash-pending queries outside the check window: {hash_pending_outside}"
    )


def test_rotation_order_is_a_pure_function_of_history():
    """_rotation_order over hand-built history: the latest round's status
    wins, stale greens precede recent ones, and with no history the order
    is registration order."""
    from user_behavior_spark_pipeline_spark.registry import _rotation_order

    keys = ["a", "b", "c", "d", "e"]
    oracles = set(keys)
    assert _rotation_order(keys, [], oracles) == keys

    green, red = {"hash_match": True}, {"hash_match": False}
    # a: green then red (latest wins -> re-check tier, ahead of greens);
    # b: red then green (latest wins -> green, vintage r1)
    history = [{"a": green, "b": red}, {"a": red, "b": green}]
    assert _rotation_order(["b", "a"], history, oracles) == ["a", "b"]

    # c, d green in r0 (stale), e green in r1 (recent), b green in r1:
    # stale greens first, registration order within a vintage; a has no
    # row and outranks every green
    history = [{"c": green, "d": green}, {"e": green, "b": green}]
    assert _rotation_order(keys, history, oracles) == ["a", "c", "d", "b", "e"]
    # rows-only entries queue behind hash-capable ones of the same status
    assert _rotation_order(["a", "f"], [], {"f"}) == ["f", "a"]


def test_scratch_dirs_are_removed_at_exit(tmp_path):
    """Stream sinks, checkpoints and staged sources live under one
    per-process root that the registry removes at interpreter exit."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os\n"
        "from user_behavior_spark_pipeline_spark.registry import _scratch_dir\n"
        "a = _scratch_dir('ubsp_a_')\n"
        "b = _scratch_dir('ubsp_b_')\n"
        "assert a != b and os.path.dirname(a) == os.path.dirname(b)\n"
        "assert os.path.basename(os.path.dirname(a)).startswith("
        "f'ubsp_run_{os.getpid()}_')\n"
        "open(os.path.join(a, 'part'), 'w').close()\n"
        "print(len(os.listdir(os.environ['TMPDIR'])))\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=repo)
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=repo,
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "1"  # one root while the process runs
    assert [p for p in os.listdir(tmp_path) if p.startswith("ubsp_")] == []
