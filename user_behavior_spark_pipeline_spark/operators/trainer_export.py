"""Trainer-handoff WRITE side: packed token sequences -> tar / NPZ
shards (r15 — closes the VERDICT r14 "all readers, no writer" seam).

A training pipeline ends by MATERIALIZING packed sequences in the
formats trainers actually mount: WebDataset tar shards (one
``.tokens.npy`` + ``.meta.json`` member pair per sample) and stacked
NPZ shards (``tokens.npy`` [n_samples x window] padded + ``lengths
.npy``). Every byte this module writes is read back through the
repo's own certified walkers (webdataset.tar_members, zip_members,
tensors.npy_decode), so the write side is certified by the read side
it hands off to — and by the DuckDB closed form over the source
documents.

Token scheme: CODEPOINT tokens (a char-level LM vocabulary) — ids are
``ord(c)``, deterministic, language-free, and exactly expressible in
ANSI SQL (``unicode(substr(text, i, 1))``), which is what lets the
oracle certify VALUES, not just counts. The BPE lanes (operators/bpe*)
swap in via the same packing math; the handoff format is identical.

Packing = the pack_spans law (operators/corpus.py): each shard
(= ``source``) concatenates its documents in doc_id order into one
token stream, split into fixed ``window`` sequences; sequences group
into files of ``samples_per_file``.

The 100 TB shape: ONE shuffle total. Per-doc lengths + a per-shard
window cumsum assign every document a global token offset JVM-side;
docs then explode to the output FILES they overlap (a doc crossing a
file boundary feeds both files, the pack_spans trick), so the
applyInPandas builder that materializes one file's bytes holds at most
``window * samples_per_file`` tokens plus one document — bounded
memory regardless of shard size, and files build embarrassingly
parallel. No driver collect; shard payloads are rows, written by any
binary sink (a cluster deployment writes straight to object storage
from the executor).

Reference parity note: the reference pipeline's sink surface is
parquet only (SURVEY.md §2.3); this is training-data extension
surface (§2.5).
"""

from __future__ import annotations

import io
import json
import zipfile
from collections.abc import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SHARD_SCHEMA = StructType(
    [
        StructField("shard", StringType(), False),
        StructField("file_id", LongType(), False),
        StructField("n_samples", LongType(), False),
        StructField("n_tokens", LongType(), False),
        StructField("payload", BinaryType(), False),
    ]
)

SAMPLE_STATS_SCHEMA = StructType(
    [
        StructField("shard", StringType(), False),
        StructField("sample_id", LongType(), False),
        StructField("n_tok", LongType(), False),
        StructField("tok_sum", LongType(), False),
    ]
)


def _codepoints(text: str):
    """Codepoint ids as a numpy vector — utf-32-le reinterpretation,
    no per-char Python loop."""
    import numpy as np

    return np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(
        np.int32
    )


def _tar_shard_bytes(shard: str, sample_ids, samples) -> bytes:
    """WebDataset-style tar: per sample a ``.tokens.npy`` (int32 1-D)
    and a ``.meta.json`` sharing the sample key, ustar headers via the
    same writer the fixture synthesis uses."""
    from .tensors import npy_encode
    from .webdataset import _tar_header

    out = bytearray()
    for sid, arr in zip(sample_ids, samples):
        key = f"{shard}/{int(sid):08d}"
        npy = npy_encode(arr, (len(arr),), "<i4")
        meta = json.dumps(
            {"shard": shard, "sample_id": int(sid), "n_tok": len(arr)},
            sort_keys=True,
        ).encode()
        for name, data in ((f"{key}.tokens.npy", npy),
                           (f"{key}.meta.json", meta)):
            out += _tar_header(name, len(data))
            out += data
            out += b"\x00" * (-len(data) % 512)
    out += b"\x00" * 1024  # end-of-archive
    return bytes(out)


def _npz_shard_bytes(window: int, sample_ids, samples) -> bytes:
    """Stacked NPZ: ``tokens.npy`` [n x window] int32, short tail
    sample zero-padded; ``lengths.npy`` [n] int32 true lengths;
    ``sample_ids.npy`` [n] int64 global ids. Deterministic ZIP
    (stored, epoch timestamp)."""
    import numpy as np

    from .tensors import npy_encode

    n = len(samples)
    mat = np.zeros((n, window), dtype=np.int32)
    lens = np.zeros(n, dtype=np.int32)
    for i, arr in enumerate(samples):
        mat[i, : len(arr)] = arr
        lens[i] = len(arr)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        for name, payload in (
            ("tokens.npy", npy_encode(mat.ravel(), (n, window), "<i4")),
            ("lengths.npy", npy_encode(lens, (n,), "<i4")),
            (
                "sample_ids.npy",
                npy_encode(
                    np.asarray(sample_ids, dtype=np.int64), (n,), "<i8"
                ),
            ),
        ):
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(zi, payload)
    return buf.getvalue()


def write_packed_shards(
    documents: DataFrame,
    window: int = 128,
    samples_per_file: int = 64,
    fmt: str = "tar",
) -> DataFrame:
    """(documents) -> one row per trainer shard FILE: (shard, file_id,
    n_samples, n_tokens, payload). ``fmt``: ``tar`` (WebDataset) or
    ``npz`` (stacked + lengths). See the module docstring for the
    packing law and the scale shape."""
    if fmt not in ("tar", "npz"):
        raise ValueError(f"unknown trainer shard format {fmt!r}")
    span = window * samples_per_file  # tokens per output file

    # Spark length() counts codepoints (UTF8String.numChars), matching
    # Python len() and DuckDB length() — the offsets computed JVM-side
    # are exactly the slices the Python builder takes.
    docs = documents.filter(F.col("text").isNotNull()).select(
        F.col("source").alias("shard"),
        "doc_id",
        "text",
        F.length("text").cast("long").alias("n"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    docs = docs.withColumn("s", F.sum("n").over(w) - F.col("n")).filter(
        F.col("n") > 0
    )
    e = F.col("s") + F.col("n")
    files = docs.select(
        "shard",
        "doc_id",
        "text",
        "n",
        "s",
        F.explode(
            F.sequence(
                (F.col("s") / span).cast("long"),
                ((e - 1) / span).cast("long"),
            )
        ).alias("file_id"),
    )

    def _build(keys, pdf):
        import numpy as np
        import pandas as pd

        shard, file_id = str(keys[0]), int(keys[1])
        lo = file_id * span
        pdf = pdf.sort_values("doc_id")
        # the file's token range is bounded by the shard stream end
        hi_end = int((pdf["s"] + pdf["n"]).max())
        hi = min(lo + span, hi_end)
        stream = np.zeros(hi - lo, dtype=np.int32)
        for s, text in zip(pdf["s"], pdf["text"]):
            cps = _codepoints(text)
            a, b = max(int(s), lo), min(int(s) + len(cps), hi)
            if a < b:
                stream[a - lo : b - lo] = cps[a - int(s) : b - int(s)]
        sample_ids, samples = [], []
        for i in range(0, len(stream), window):
            sample_ids.append(lo // window + i // window)
            samples.append(stream[i : i + window])
        payload = (
            _tar_shard_bytes(shard, sample_ids, samples)
            if fmt == "tar"
            else _npz_shard_bytes(window, sample_ids, samples)
        )
        return pd.DataFrame(
            [
                (
                    shard,
                    file_id,
                    len(samples),
                    len(stream),
                    payload,
                )
            ],
            columns=[f.name for f in SHARD_SCHEMA.fields],
        )

    # pin the grouped exchange on the FULL grouping key: without this the
    # grouped map reuses the cumsum window's hashpartitioning(shard), so
    # parallelism of the Python file builders — and of the downstream
    # readback walker, which inherits this partitioning — is capped at
    # the number of distinct SOURCES (plus hash collisions stacking two
    # sources on one task), not the number of output files. Explicit-N
    # keyed repartition spreads the (shard, file_id) groups over every
    # core and blocks AQE from byte-coalescing a compute-bound Python
    # stage (deltadv.py:213 / udf_surface pattern, guide §2.5).
    files = files.repartition(
        documents.sparkSession.sparkContext.defaultParallelism,
        "shard",
        "file_id",
    )
    return files.groupBy("shard", "file_id").applyInPandas(
        _build, SHARD_SCHEMA
    )


def epoch_shuffle(
    samples: DataFrame,
    epochs: tuple[int, ...] = (1, 2),
    shard_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-epoch shuffle ORDER for trainer handoff:
    every epoch e assigns each sample the position
    row_number() over (shard, ORDER BY md5(e || ':' || id), id) - 1 —
    a fresh, reproducible permutation per epoch with no RNG state, no
    materialized copies, and no cross-engine drift (md5 is md5
    everywhere; the id tiebreak removes any collision ambiguity).

    Scale shape: one window per (epoch, shard) — the sort is
    shard-local, so it parallelizes across shards and never needs a
    global order (the pack_spans partitioning philosophy). A trainer
    reads samples in ``pos`` order per shard; epochs differ because
    the hash input differs.

    Columns: epoch, shard, <id_col>, pos.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    # fan each sample out to every epoch by exploding a literal epoch
    # array in-row — no join at all (the crossJoin-against-a-literal-df
    # form planned as the BroadcastNestedLoopJoin the plan lint
    # forbids), and the generator runs scan-side with zero shuffle
    keyed = samples.select(
        F.col(shard_col).alias("shard"), F.col(id_col)
    ).withColumn(
        "epoch",
        F.explode(F.array(*[F.lit(int(e)).cast("long") for e in epochs])),
    )
    h = F.md5(
        F.concat_ws(
            ":", F.col("epoch").cast("string"), F.col(id_col).cast("string")
        )
    )
    w = W.partitionBy("epoch", "shard").orderBy(h, F.col(id_col))
    return keyed.select(
        "epoch",
        "shard",
        id_col,
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
    )


def packed_sample_stats(shards: DataFrame, fmt: str = "tar") -> DataFrame:
    """Read trainer shards BACK through the certified walkers and emit
    one row per sample: (shard, sample_id, n_tok, tok_sum) — the
    roundtrip the oracle certifies. tar: tar_members + npy_decode per
    ``.tokens.npy`` member (meta.json cross-checked); npz: zip_members
    + npy_decode of the stacked matrix, padding verified zero beyond
    each row's length. A malformed shard raises (walker-quarantine
    discipline is the READERS' domain; the writer's own bytes must
    parse)."""
    if fmt not in ("tar", "npz"):
        raise ValueError(f"unknown trainer shard format {fmt!r}")

    def _walk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        from .tensors import npy_decode
        from .webdataset import tar_members, zip_members

        for batch in batches:
            rows = []
            for shard, payload in zip(batch["shard"], batch["payload"]):
                payload = bytes(payload)
                if fmt == "tar":
                    metas: dict[str, dict] = {}
                    toks: dict[str, "np.ndarray"] = {}
                    for name, data in tar_members(payload):
                        # the sample key is everything before the FIXED
                        # member suffix. Never split on the first '.':
                        # member names are '{source}/{seq}.tokens.npy'
                        # and a dotted source name (e.g. 'web.en') would
                        # shear the key mid-name, pair nothing, and pass
                        # the emptiness-symmetric unpaired guard with
                        # ZERO rows (round-15 review finding)
                        if name.endswith(".tokens.npy"):
                            d = npy_decode(data)
                            toks[name[: -len(".tokens.npy")]] = d["values"]
                        elif name.endswith(".meta.json"):
                            metas[name[: -len(".meta.json")]] = json.loads(
                                data
                            )
                    if set(metas) != set(toks):
                        raise ValueError("tar shard: unpaired members")
                    for key, vals in toks.items():
                        m = metas[key]
                        if m["n_tok"] != len(vals):
                            raise ValueError("meta/tensor length mismatch")
                        rows.append(
                            (
                                str(shard),
                                int(m["sample_id"]),
                                len(vals),
                                int(np.asarray(vals).sum()),
                            )
                        )
                else:
                    members = dict(zip_members(payload))
                    tok = npy_decode(members["tokens.npy"])
                    lens = npy_decode(members["lengths.npy"])["values"]
                    sids = npy_decode(members["sample_ids.npy"])["values"]
                    n, wdw = tok["shape"]
                    mat = np.asarray(tok["values"]).reshape(n, wdw)
                    for i in range(n):
                        ln = int(lens[i])
                        if mat[i, ln:].any():
                            raise ValueError("nonzero padding beyond length")
                        rows.append(
                            (
                                str(shard),
                                int(sids[i]),
                                ln,
                                int(mat[i, :ln].sum()),
                            )
                        )
            yield pd.DataFrame(
                rows, columns=[f.name for f in SAMPLE_STATS_SCHEMA.fields]
            )

    return shards.select("shard", "payload").mapInPandas(
        _walk, SAMPLE_STATS_SCHEMA
    )
