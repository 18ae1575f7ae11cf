"""Delta-style transaction-log replay — the lakehouse metadata
operation: a table's state is not a directory listing but the REPLAY of
its JSON commit log (add/remove file actions in version order). This
module reads log files as data (one row per commit file), explodes
their JSONL actions with native from_json (zero Python anywhere), and
reconstructs the LIVE file set with a single max_by aggregation — the
last action per path wins, exactly the Delta protocol's replay rule
(PROTOCOL.md, delta.io — public spec; no Delta library involved).

The 100 TB shape: commit files are tiny (KBs) next to the data they
index; the replay is one groupBy(table, path) with a max_by — partial-
aggregable, no window sort, no skew (paths are unique within a table).
That is what makes lakehouse metadata scale: state reconstruction costs
O(actions), never O(data).

Reference parity note: no lakehouse path in the reference (SURVEY.md
§2.1); training-data extension surface (§2.5).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: action schema for from_json — the fields replay needs; unknown
#: action types (protocol/commitInfo/txn) parse to all-null structs and
#: are ignored, exactly how real readers skip actions they don't know.
ACTION_SCHEMA = (
    "add struct<path: string, size: bigint, dataChange: boolean>, "
    "remove struct<path: string, dataChange: boolean>, "
    "metaData struct<id: string, name: string>"
)


def delta_log_actions(logs: DataFrame) -> DataFrame:
    """(table_id, version, payload) commit files -> one row per ACTION:
    (table_id, version, action_idx, action, path, size_bytes).
    Malformed JSON lines become action='corrupt' rows (payload
    preserved upstream) rather than vanishing — the quarantine posture
    for metadata."""
    lines = logs.select(
        "table_id",
        "version",
        F.posexplode(
            F.filter(
                F.split(F.col("payload"), "\n"),
                lambda l: F.trim(l) != "",
            )
        ).alias("action_idx", "line"),
    )
    parsed = lines.withColumn(
        "j", F.from_json("line", ACTION_SCHEMA)
    )
    return parsed.select(
        "table_id",
        "version",
        "action_idx",
        F.when(F.col("j.add.path").isNotNull(), F.lit("add"))
        .when(F.col("j.remove.path").isNotNull(), F.lit("remove"))
        .when(F.col("j.metaData.id").isNotNull(), F.lit("metaData"))
        .otherwise(F.lit("corrupt"))
        .alias("action"),
        F.coalesce("j.add.path", "j.remove.path").alias("path"),
        F.col("j.add.size").alias("size_bytes"),
    )


def _replay(acts: DataFrame) -> DataFrame:
    """The protocol's last-action-wins rule as ONE partial-aggregable
    max_by per (table, path) — shared by the JSON-only and the
    checkpoint+tail read paths."""
    last = acts.filter(
        F.col("action").isin("add", "remove")
    ).groupBy("table_id", "path").agg(
        F.max_by(
            F.struct("action", "size_bytes"),
            F.struct("version", "action_idx"),
        ).alias("last")
    )
    return last.filter(F.col("last.action") == "add").select(
        "table_id",
        "path",
        F.col("last.size_bytes").alias("size_bytes"),
    )


def delta_live_files(logs: DataFrame) -> DataFrame:
    """Replay the log: the LIVE file set after the latest version."""
    return _replay(delta_log_actions(logs))


CHECKPOINT_ACTIONS_SCHEMA = StructType(
    [
        StructField("table_id", LongType(), False),
        StructField("version", IntegerType(), True),
        StructField("action_idx", IntegerType(), True),
        StructField("action", StringType(), True),
        StructField("path", StringType(), True),
        StructField("size_bytes", LongType(), True),
        StructField("parse_error", StringType(), True),
    ]
)


def checkpoint_actions(checkpoints: DataFrame) -> DataFrame:
    """(table_id, version, payload PARQUET bytes) checkpoint files ->
    the same action rows delta_log_actions emits, via one pyarrow pass
    (metadata-scale; corruption quarantines as ONE parse_error row)."""

    def _walk(batches):
        import io

        import pandas as pd
        import pyarrow.parquet as pq

        cols = [f.name for f in CHECKPOINT_ACTIONS_SCHEMA.fields]
        for batch in batches:
            rows = []
            for tid, ver, payload in zip(
                batch["table_id"], batch["version"], batch["payload"]
            ):
                t, v = int(tid), int(ver)
                try:
                    tbl = pq.read_table(io.BytesIO(bytes(payload)))
                    recs = tbl.to_pylist()
                except Exception as e:  # pyarrow raises several types
                    rows.append(
                        (t, None, None, None, None, None, str(e)[:200])
                    )
                    continue
                for idx, r in enumerate(recs):
                    add, rem = r.get("add"), r.get("remove")
                    if add and add.get("path") is not None:
                        rows.append(
                            (t, v, idx, "add", add["path"],
                             add.get("size"), None)
                        )
                    elif rem and rem.get("path") is not None:
                        rows.append(
                            (t, v, idx, "remove", rem["path"], None, None)
                        )
                    elif (r.get("metaData") or {}).get("id") is not None:
                        rows.append(
                            (t, v, idx, "metaData", None, None, None)
                        )
                    else:
                        rows.append(
                            (t, v, idx, "corrupt", None, None, None)
                        )
            yield pd.DataFrame(rows, columns=cols)

    return checkpoints.select(
        "table_id", "version", "payload"
    ).mapInPandas(_walk, CHECKPOINT_ACTIONS_SCHEMA)


def delta_live_files_from_checkpoint(
    last_checkpoint: DataFrame,
    checkpoints: DataFrame,
    tail_logs: DataFrame,
) -> DataFrame:
    """The production bootstrap: ``_last_checkpoint`` (JSON pointer,
    parsed JVM-side) selects WHICH checkpoint to load — the fixture
    plants a stale one, so pointer selection is hash-load-bearing —
    then only JSON commits past it replay on top through the shared
    max_by. O(state + tail), never O(history)."""
    ptr = last_checkpoint.select(
        "table_id",
        F.from_json("payload", "version int").alias("j"),
    ).select("table_id", F.col("j.version").alias("ckpt_version"))
    ck = (
        checkpoint_actions(checkpoints)
        .filter(F.col("parse_error").isNull())
        .drop("parse_error")
        .join(F.broadcast(ptr), "table_id")
        .filter(F.col("version") == F.col("ckpt_version"))
    )
    tail = delta_log_actions(tail_logs).join(
        F.broadcast(ptr), "table_id"
    ).filter(F.col("version") > F.col("ckpt_version"))
    acts = ck.drop("ckpt_version").unionByName(
        tail.drop("ckpt_version")
    )
    return _replay(acts)


def synth_delta_log_rows(doc_id: int) -> list[tuple[int, int, str]]:
    """Deterministic commit history for table ``doc_id``: version 0
    writes metaData + parts 0-0/0-1/0-2 (sizes 100-102); each version
    k in 1..doc_id%3+1 adds part-k-0 (size 100+k) and removes
    part-(k-1)-0. Live set closed form: part-0-1 (101), part-0-2
    (102), part-V-0 (100+V) with V = doc_id%3+1."""
    out = []
    v0 = [
        json.dumps(
            {"metaData": {"id": f"tbl-{doc_id}", "name": f"t{doc_id}"}}
        )
    ]
    for i in range(3):
        v0.append(
            json.dumps(
                {
                    "add": {
                        "path": f"part-0-{i}",
                        "size": 100 + i,
                        "dataChange": True,
                    }
                }
            )
        )
    out.append((doc_id, 0, "\n".join(v0)))
    for k in range(1, doc_id % 3 + 2):
        lines = [
            json.dumps(
                {
                    "add": {
                        "path": f"part-{k}-0",
                        "size": 100 + k,
                        "dataChange": True,
                    }
                }
            ),
            json.dumps(
                {
                    "remove": {
                        "path": f"part-{k - 1}-0",
                        "dataChange": True,
                    }
                }
            ),
        ]
        out.append((doc_id, k, "\n".join(lines)))
    return out


def synth_delta_logs(documents: DataFrame) -> DataFrame:
    """(table_id, version, payload) commit files for every document's
    synthetic table, built executor-side."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    elem = StructType(
        [
            StructField("version", IntegerType()),
            StructField("payload", StringType()),
        ]
    )

    def _build_fn(doc_id):
        import pandas as pd

        return pd.Series(
            [
                [(v, p) for _t, v, p in synth_delta_log_rows(int(d))]
                for d in doc_id
            ]
        )

    _build = pandas_udf(_build_fn, ArrayType(elem))
    return (
        documents.select(
            F.col("doc_id").alias("table_id"),
            F.explode(_build("doc_id")).alias("c"),
        )
        .select("table_id", F.col("c.version").alias("version"),
                F.col("c.payload").alias("payload"))
    )


def _state_after(doc_id: int, upto: int) -> tuple[dict, set]:
    """Replay the synthetic history through version ``upto`` in plain
    Python: (live {path: size}, tombstones {path}) — the checkpoint's
    content by definition."""
    live: dict[str, int] = {}
    tombs: set[str] = set()
    for _tid, v, payload in synth_delta_log_rows(doc_id):
        if v > upto:
            continue
        for line in payload.splitlines():
            a = json.loads(line)
            if "add" in a:
                live[a["add"]["path"]] = a["add"]["size"]
                tombs.discard(a["add"]["path"])
            elif "remove" in a:
                live.pop(a["remove"]["path"], None)
                tombs.add(a["remove"]["path"])
    return live, tombs


def synth_delta_checkpoint_bytes(doc_id: int, upto: int) -> bytes:
    """One checkpoint PARQUET: the complete state after ``upto`` as
    action rows (metaData + live adds + remove tombstones) in the
    protocol's nested-struct layout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    live, tombs = _state_after(doc_id, upto)
    adds, rems, metas = [], [], []
    metas.append({"id": f"tbl-{doc_id}", "name": f"t{doc_id}"})
    adds.extend(
        {"path": p, "size": s, "dataChange": False}
        for p, s in sorted(live.items())
    )
    rems.extend({"path": p, "dataChange": False} for p in sorted(tombs))
    n = len(metas) + len(adds) + len(rems)
    add_col = [None] * len(metas) + adds + [None] * len(rems)
    rem_col = [None] * (len(metas) + len(adds)) + rems
    meta_col = metas + [None] * (len(adds) + len(rems))
    add_t = pa.struct(
        [("path", pa.string()), ("size", pa.int64()),
         ("dataChange", pa.bool_())]
    )
    rem_t = pa.struct([("path", pa.string()), ("dataChange", pa.bool_())])
    meta_t = pa.struct([("id", pa.string()), ("name", pa.string())])
    tbl = pa.table(
        {
            "add": pa.array(add_col, add_t),
            "remove": pa.array(rem_col, rem_t),
            "metaData": pa.array(meta_col, meta_t),
        }
    )
    assert tbl.num_rows == n
    sink = pa.BufferOutputStream()
    pq.write_table(tbl, sink)
    return sink.getvalue().to_pybytes()


def synth_delta_checkpoint_fixture(documents: DataFrame):
    """(last_checkpoint_df, checkpoints_df, tail_logs_df) for the
    production-bootstrap read path. V = doc%3+1; the pointer names
    version C = V-1; a STALE checkpoint at C-1 also ships when V >= 2
    (loading it + the tail resurrects part-(V-2)-0 — hash-caught);
    JSON commits BEFORE C are withheld (log cleanup), so ignoring the
    checkpoint is also hash-caught."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    ck_elem = StructType(
        [
            StructField("version", IntegerType()),
            StructField("payload", BinaryType()),
        ]
    )
    log_elem = StructType(
        [
            StructField("version", IntegerType()),
            StructField("payload", StringType()),
        ]
    )

    def _ptr_fn(doc_id):
        import pandas as pd

        return pd.Series(
            [
                json.dumps({"version": int(d) % 3, "size": 1})
                for d in doc_id
            ]
        )

    def _cks_fn(doc_id):
        import pandas as pd

        out = []
        for d in doc_id:
            d = int(d)
            c = d % 3  # V - 1
            cks = [(c, synth_delta_checkpoint_bytes(d, c))]
            if c >= 1:
                cks.append((c - 1, synth_delta_checkpoint_bytes(d, c - 1)))
            out.append(cks)
        return pd.Series(out)

    def _tail_fn(doc_id):
        import pandas as pd

        out = []
        for d in doc_id:
            d = int(d)
            c = d % 3
            out.append(
                [
                    (v, p)
                    for _t, v, p in synth_delta_log_rows(d)
                    if v > c
                ]
            )
        return pd.Series(out)

    _ptr = pandas_udf(_ptr_fn, StringType())
    _cks = pandas_udf(_cks_fn, ArrayType(ck_elem))
    _tail = pandas_udf(_tail_fn, ArrayType(log_elem))
    ptr_df = documents.select(
        F.col("doc_id").alias("table_id"),
        _ptr("doc_id").alias("payload"),
    )
    ck_df = documents.select(
        F.col("doc_id").alias("table_id"),
        F.explode(_cks("doc_id")).alias("c"),
    ).select(
        "table_id",
        F.col("c.version").alias("version"),
        F.col("c.payload").alias("payload"),
    )
    tail_df = documents.select(
        F.col("doc_id").alias("table_id"),
        F.explode(_tail("doc_id")).alias("c"),
    ).select(
        "table_id",
        F.col("c.version").alias("version"),
        F.col("c.payload").alias("payload"),
    )
    return ptr_df, ck_df, tail_df
