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


def test_registration_order_is_pinned():
    """QUERIES/ORACLES key order is the rotation's tie-break, so moving code
    around the registry must not reorder registration: the order (by the
    line each query is defined on) is pinned by hash, and the rotation of
    it is exactly the exported key order."""
    import hashlib

    from user_behavior_spark_pipeline_spark.registry import (
        _HISTORY,
        ORACLES,
        QUERIES,
        _rotation_order,
    )

    order = sorted(QUERIES, key=lambda k: QUERIES[k].__code__.co_firstlineno)
    digest = hashlib.sha1("\n".join(order).encode()).hexdigest()
    assert digest == "e94c79afb246af7fb913b0c6a74d351918fc09e1", order
    assert _rotation_order(order, _HISTORY, ORACLES) == list(QUERIES)
    oracled = [k for k in order if k in ORACLES]
    assert _rotation_order(oracled, _HISTORY, ORACLES) == list(ORACLES)


def test_scratch_dirs_are_removed_at_exit(tmp_path):
    """Stream sinks, checkpoints and other run outputs live under one
    per-process root that is removed at interpreter exit."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os\n"
        "from user_behavior_spark_pipeline_spark.fixtures import _scratch_dir\n"
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


def test_temp_dirs_are_made_only_by_fixtures():
    """Where staged inputs and run scratch live is decided in one module:
    no other package module makes or locates a temp dir, or touches the
    staging memo."""
    import os
    import re

    import user_behavior_spark_pipeline_spark as pkg

    root = os.path.dirname(pkg.__file__)
    hits = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == os.path.join(root, "fixtures.py"):
                continue
            with open(path, encoding="utf-8") as fh:
                if re.search(r"mkdtemp|gettempdir|_STAGED_SOURCES", fh.read()):
                    hits.append(os.path.relpath(path, root))
    assert hits == []


def test_regenerated_source_leaves_one_staged_tree(spark, tmp_path, monkeypatch):
    """Staging a lake fixture again after ``documents.parquet`` changes
    publishes a new tree and prunes the one staged from the old file;
    the same fixture's tree for another sf_dir is kept."""
    import os
    import tempfile

    from user_behavior_spark_pipeline_spark.fixtures import _stage_lake_frames

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    sf_dirs = [tmp_path / "sf_a", tmp_path / "sf_b"]
    for d in sf_dirs:
        d.mkdir()
        (d / "documents.parquet").write_bytes(b"v1")

    def build():
        return {"t": spark.range(3)}

    def stage(sf_dir):
        return _stage_lake_frames(spark, str(sf_dir), "probe", build)

    def trees():
        return sorted(p for p in os.listdir(tmp) if p.startswith("ubsp_stage_"))

    other = stage(sf_dirs[1]).base
    first = stage(sf_dirs[0]).base
    assert len(trees()) == 2
    docs = sf_dirs[0] / "documents.parquet"
    st = os.stat(docs)
    os.utime(docs, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    read = stage(sf_dirs[0])
    assert read.base != first and not os.path.exists(first)
    assert trees() == sorted(os.path.basename(p) for p in (other, read.base))
    assert read("t").count() == 3


def test_regenerated_events_restage_stream_sources(
    spark, tmp_path, sf_dir, monkeypatch
):
    """The staging fingerprint covers every table in sf_dir, not only
    documents.parquet: touching events.parquet makes the staged stream
    sources publish new trees (and prune the old ones) with no memo
    popped by hand."""
    import os
    import shutil
    import tempfile

    from user_behavior_spark_pipeline_spark.fixtures import (
        _stage_events_parquet,
        _stage_stream_source,
    )

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    src = tmp_path / "sf"
    src.mkdir()
    events = src / "events.parquet"
    shutil.copy(os.path.join(sf_dir, "events.parquet"), events)

    def stage():
        return [
            _stage_events_parquet(spark, str(src)),
            _stage_stream_source(spark, str(src)),
        ]

    first = stage()
    assert stage() == first
    st = os.stat(events)
    os.utime(events, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    second = stage()
    assert all(a != b for a, b in zip(first, second))
    assert not any(os.path.exists(p) for p in first)
    n = spark.read.parquet(str(events)).count()
    assert spark.read.parquet(second[0]).count() == n
    assert spark.read.json(second[1]).count() == n
