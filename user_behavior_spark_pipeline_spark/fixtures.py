"""Query inputs: the source tables, staged fixtures and per-run scratch.

One rule holds here: derived INPUTS (lake and media fixtures, stream
sources, format doubles) are staged, and run OUTPUTS (stream sinks,
checkpoints, the directories behind session catalog tables) are scratch.
Every staged tree goes through one seam, :func:`_stage`; every scratch
directory lives under one per-process root, :func:`_scratch_dir`.
``prepare_staged`` pre-warms all of them so a benchmark times query
execution, not fixture setup.

This module imports the registry only inside functions (the registry
imports it at the top).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.generator import load_kafka_records

    return load_kafka_records(spark, sf_dir)


def _valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ingest import validate_events

    return validate_events(_raw(spark, sf_dir))


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from .sources.tables import load_table

    return load_table(spark, sf_dir, name)


_SCRATCH_ROOT: str | None = None


def _scratch_dir(prefix: str) -> str:
    """A new directory for a run output: a stream sink, a checkpoint or
    a session catalog table's data. All of them live under one
    per-process root ``ubsp_run_<pid>_*`` in the temp dir, made on first
    use and removed at interpreter exit."""
    import atexit
    import os
    import shutil
    import tempfile

    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix=f"ubsp_run_{os.getpid()}_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


#: Bump whenever any synth_* fixture builder's OUTPUT changes — the
#: staged trees below are keyed on this, so a stale on-disk tree from
#: an older builder can never be served to a newer operator.
_LAKE_STAGE_EPOCH = "r15a"

# (fixture, sf_dir, source print) -> published tree; read only by _stage
_STAGED_SOURCES: dict[tuple, str] = {}


def _source_print(sf_dir: str) -> tuple:
    """``(file, size, mtime_ns)`` for every ``*.parquet`` table in
    ``sf_dir``: what a staged fixture or catalog table derives from."""
    import glob as _glob
    import os as _os

    prints = []
    for path in sorted(_glob.glob(_os.path.join(sf_dir, "*.parquet"))):
        try:
            st = _os.stat(path)
        except OSError:
            continue
        prints.append((_os.path.basename(path), st.st_size, st.st_mtime_ns))
    return tuple(prints)


def _digest(parts, n: int) -> str:
    import hashlib as _hashlib

    return _hashlib.sha1(repr(parts).encode()).hexdigest()[:n]


def _stage_print(tree: str) -> tuple[str, int] | None:
    """``(epoch, newest source mtime_ns)`` from a staged tree's
    ``_STAGED`` marker; None when unreadable."""
    import os as _os

    try:
        with open(_os.path.join(tree, "_STAGED")) as fh:
            epoch, mtime_ns = fh.read().split()
        return epoch, int(mtime_ns)
    except (OSError, ValueError):
        return None


def _prune_stale_stages(base: str, prefix: str) -> None:
    """Remove the trees beside ``base`` whose names start with ``prefix``
    (the same fixture and sf_dir) and that were staged by another epoch
    or from older source tables. A tree with a newer source print is
    kept: another process may be serving it."""
    import os as _os
    import shutil as _shutil

    mine = _stage_print(base)
    if mine is None:
        return
    root = _os.path.dirname(base)
    for entry in _os.listdir(root):
        tree = _os.path.join(root, entry)
        if not entry.startswith(prefix) or tree == base:
            continue
        theirs = _stage_print(tree)
        if theirs is not None and (theirs[0] != mine[0] or theirs[1] < mine[1]):
            _shutil.rmtree(tree, ignore_errors=True)


def _stage(sf_dir: str, name: str, write) -> str:
    """The one staging seam: the path of fixture ``name``'s tree for
    ``sf_dir``, filled by ``write(tmp_dir)`` on first use. Every derived
    INPUT (lake and media fixtures, stream sources, format doubles) is
    staged here; run OUTPUTS (sinks, checkpoints) go to :func:`_scratch_dir`.
    Staging is fixture setup, not query work, so BENCH (which pre-warms via
    prepare_staged) prices the operator under test; queries stay
    self-sufficient — the first hit pays the synthesis.

    The on-disk location is DETERMINISTIC and published atomically via
    rename, so a prepare pass in another process — or an earlier session
    on the same machine — is reused instead of re-paying the synthesis.
    Its name is ``ubsp_stage_<fixture>_<family>_<tag>``: ``family`` hashes
    (fixture, sf_dir), ``tag`` hashes ``_LAKE_STAGE_EPOCH`` and the source
    print (:func:`_source_print`, every table in sf_dir). Publishing a tree
    prunes its family's trees staged from older data
    (:func:`_prune_stale_stages`), so regenerated testdata leaves one tree
    per fixture and scale, not one per regeneration.

    The print is stat'd on every call and is part of the in-process memo
    key too: testdata regenerated at the same path within one process
    must invalidate, not just across processes — a tree staged from the
    old tables would otherwise be served to queries whose oracles
    recompute from the new ones."""
    import os as _os
    import shutil as _shutil
    import tempfile

    src_print = _source_print(sf_dir)
    key = (name, sf_dir, src_print)
    if key not in _STAGED_SOURCES:
        family = _digest((name, _os.path.abspath(sf_dir)), 8)
        tag = _digest((_LAKE_STAGE_EPOCH, src_print), 12)
        prefix = f"ubsp_stage_{name}_{family}_"
        base = _os.path.join(tempfile.gettempdir(), prefix + tag)
        if not _os.path.exists(_os.path.join(base, "_STAGED")):
            tmp = tempfile.mkdtemp(prefix=f"ubsp_{name}_")
            try:
                write(tmp)
            except BaseException:
                _shutil.rmtree(tmp, ignore_errors=True)
                raise
            newest = max((p[2] for p in src_print), default=0)
            with open(_os.path.join(tmp, "_STAGED"), "w") as fh:
                fh.write(f"{_LAKE_STAGE_EPOCH} {newest}")
            try:
                _os.rename(tmp, base)
            except OSError:
                # another process published first — use its tree
                _shutil.rmtree(tmp, ignore_errors=True)
            else:
                _prune_stale_stages(base, prefix)
        _STAGED_SOURCES[key] = base
    return _STAGED_SOURCES[key]


def _stage_lake_frames(spark, sf_dir, name, build):
    """Parquet front of :func:`_stage`: ``build`` maps the source to
    {subdir: DataFrame}, each written as parquet under the tree; returns
    ``read(sub)`` reading a subdir back, with the tree's root as
    ``read.base`` for callers that need a PATH (stream-twin sources)."""
    import os as _os

    def write(tmp):
        for sub, df in build().items():
            df.write.mode("overwrite").parquet(_os.path.join(tmp, sub))

    base = _stage(sf_dir, name, write)

    def read(sub):
        return spark.read.parquet(_os.path.join(base, sub))

    read.base = base
    return read


def _staged_media(spark, sf_dir, name, synth, mod=None, path=False):
    """r15: the media-fixture application of the staging seam —
    synthesize the deterministic (media_id, payload) table once per
    (fixture, sf) via the per-doc builder over the docs slice ``mod``
    (see :func:`_lake_docs`), stage it as parquet, and read it back, so
    the timed region prices the WALKER under test instead of re-running
    fixture synthesis every pass. ``path=True`` stages it as 4 files for
    a stream twin's maxFilesPerTrigger batching and returns the directory
    the file stream reads; the stream execution itself (micro-batches,
    checkpoint, sink) stays fresh per run."""
    import os as _os

    def build():
        media = synth(_lake_docs(spark, sf_dir, mod))
        return {"media": media.repartition(4) if path else media}

    read = _stage_lake_frames(spark, sf_dir, name, build)
    return _os.path.join(read.base, "media") if path else read("media")


def _stage_r15_media(spark, sf_dir) -> None:
    """Pre-warm the r15-staged media fixtures (prepare_staged hook):
    every deterministic per-doc format builder whose synthesis used to
    run inside the timed region. The queries themselves stage lazily on
    first use; this just front-loads the cost like the lakehouse/warc
    staging above it."""
    from .operators.arrow_ipc import synth_arrow_media
    from .operators.avro import (
        synth_avro_collections_media,
        synth_avro_evolution_media,
        synth_avro_logical_media,
        synth_avro_media,
    )
    from .operators.demux import synth_corrupt_mp4_media, synth_ogg_media
    from .operators.flac import synth_flac_media
    from .operators.h264 import synth_h264_media
    from .operators.lake import synth_parquet_media
    from .operators.mkv import synth_mkv_media
    from .operators.multimodal import synth_tiff_variant_media
    from .operators.pdf import synth_pdf_media, synth_pdf_modern_media
    from .operators.protowire import synth_proto_media
    from .operators.tensors import synth_npz_media
    from .registry import QUERIES

    _staged_media(spark, sf_dir, "tiff_media", synth_tiff_variant_media, mod=0)
    for name, synth in (
        ("pdf_classic", synth_pdf_media),
        ("pdf_modern", synth_pdf_modern_media),
        ("proto_media", synth_proto_media),
        ("parquet_media", synth_parquet_media),
        ("ogg_media", synth_ogg_media),
        ("mkv_media", synth_mkv_media),
        ("arrow_media", synth_arrow_media),
        ("npz_media", synth_npz_media),
        ("avro_media", synth_avro_media),
        ("avro_logical_media", synth_avro_logical_media),
        ("avro_collections_media", synth_avro_collections_media),
        ("avro_evolution_media", synth_avro_evolution_media),
        ("flac_media", synth_flac_media),
        ("h264_media", synth_h264_media),
        ("corrupt_mp4_media", synth_corrupt_mp4_media),
    ):
        _staged_media(spark, sf_dir, name, synth)
    from .operators.webdataset import synth_jsonl_shards

    _staged_media(spark, sf_dir, "avro_stream_src", synth_avro_media, path=True)
    _staged_media(spark, sf_dir, "jsonl_stream_src", synth_jsonl_shards, path=True)
    _staged_media(
        spark, sf_dir, "demux_stream_src", synth_corrupt_mp4_media, path=True
    )
    # the arrow_untrusted fixture stages through its query body (the
    # corrupting builder lives there); invoke it once to warm the tree
    QUERIES["x_arrow_untrusted"](spark, sf_dir)


def _lake_docs(spark, sf_dir, mod: int | None):
    docs = _table(spark, sf_dir, "documents")
    if mod is not None:
        docs = docs.filter(f"doc_id % 5 = {mod}")
    # one-row-group parallelism fix (r13, cf. x_pdf_text): the per-doc
    # synthesis is the CPU cost of the staging write
    return docs.repartition(spark.sparkContext.defaultParallelism)


def _stage_delta_dv(spark, sf_dir):
    from .operators.deltadv import synth_delta_dv_files, synth_delta_dv_logs

    def build():
        docs = _lake_docs(spark, sf_dir, 2)
        return {
            "logs": synth_delta_dv_logs(docs),
            "files": synth_delta_dv_files(docs),
        }

    read = _stage_lake_frames(spark, sf_dir, "delta_dv", build)
    return read("logs"), read("files")


def _stage_iceberg_v1(spark, sf_dir):
    from .operators.iceberg import (
        synth_iceberg_manifests,
        synth_iceberg_metadata,
    )

    def build():
        docs = _lake_docs(spark, sf_dir, None)
        return {
            "metadata": synth_iceberg_metadata(docs),
            "files": synth_iceberg_manifests(docs),
        }

    read = _stage_lake_frames(spark, sf_dir, "iceberg_v1", build)
    return read("metadata"), read("files")


def _stage_iceberg_v2(spark, sf_dir):
    from .operators.iceberg import (
        synth_iceberg_v2_manifests,
        synth_iceberg_v2_metadata,
    )

    def build():
        docs = _lake_docs(spark, sf_dir, 1)
        return {
            "metadata": synth_iceberg_v2_metadata(docs),
            "files": synth_iceberg_v2_manifests(docs),
        }

    read = _stage_lake_frames(spark, sf_dir, "iceberg_v2", build)
    return read("metadata"), read("files")


def _stage_delta_checkpoint(spark, sf_dir):
    from .operators.deltalog import synth_delta_checkpoint_fixture

    def build():
        docs = _lake_docs(spark, sf_dir, 0)
        ptr, cks, tail = synth_delta_checkpoint_fixture(docs)
        return {"ptr": ptr, "cks": cks, "tail": tail}

    read = _stage_lake_frames(spark, sf_dir, "delta_ckpt", build)
    return read("ptr"), read("cks"), read("tail")


def _stage_stream_source(spark: SparkSession, sf_dir: str, duplicate: bool = False) -> str:
    """Materialize the Kafka-double records as JSON files for a file-stream
    source; returns the source directory. Staged per (sf_dir, duplicate):
    staging is fixture setup, not query work — each streaming query still
    pays its own full stream execution."""

    def write(tmp):
        records = _raw(spark, sf_dir)
        if duplicate:
            records = records.union(records)
        records.coalesce(4).write.mode("overwrite").json(tmp)

    return _stage(sf_dir, "stream_src_dup" if duplicate else "stream_src", write)


def _stage_events_parquet(spark: SparkSession, sf_dir: str) -> str:
    """Raw events table staged as parquet files for file-stream sources
    (same rationale as _stage_stream_source)."""

    def write(tmp):
        _table(spark, sf_dir, "events").coalesce(4).write.mode(
            "overwrite"
        ).parquet(tmp)

    return _stage(sf_dir, "events_src", write)


def _events_stream(spark: SparkSession, sf_dir: str, src: str | None = None, **options):
    """A file stream over the staged events parquet (or over ``src``, a
    staged copy of it) with the events table's schema; ``options`` go to
    the stream reader."""
    events = _table(spark, sf_dir, "events")
    if src is None:
        src = _stage_events_parquet(spark, sf_dir)
    return spark.readStream.schema(events.schema).options(**options).parquet(src)


def _stage_events_parquet_sealed(spark: SparkSession, sf_dir: str) -> str:
    """Events staged for OUTER stream-stream joins: the real events plus one
    far-future sentinel (click, purchase) pair under user_id = -1, written as
    a separate trailing file. The sentinel advances BOTH sides' watermarks
    past every real click's horizon, so `availableNow`'s trailing no-data
    batch provably seals every window and flushes every outer-null row —
    the null-padded output becomes deterministic (= a batch LEFT JOIN) and
    therefore oracle-able. Queries drop the sentinel with user_id >= 0."""
    # Derive from the plain staged copy with driver-side file ops — no
    # second Spark rewrite of the whole table (measured ~4 s of the
    # query's first-hit cost) and no Spark max(ts) job: hard-link the
    # already-canonicalized part files and read their ts column stats
    # with pyarrow.
    plain = _stage_events_parquet(spark, sf_dir)

    def write(src):
        import datetime
        import glob
        import os
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        parts = sorted(glob.glob(os.path.join(plain, "*.parquet")))
        max_ts = None
        schema = None
        # EVERY row group must carry ts stats for the stats-derived max to be
        # trusted: one stats-less group (legal for any parquet writer) makes
        # it a lower bound only — the true max could hide there, the sentinel
        # would trail it, and real windows would stay unsealed. Partial
        # stats ⇒ scan the ts column instead (driver-side, still cheap).
        stats_complete = True
        for i, p in enumerate(parts):
            dst = os.path.join(src, f"part-{i:05d}.parquet")
            try:
                os.link(p, dst)
            except OSError:
                shutil.copy2(p, dst)
            f = pq.ParquetFile(p)
            if schema is None:
                schema = f.schema_arrow
            if not stats_complete:
                continue
            ts_idx = f.schema_arrow.get_field_index("ts")
            for rg in range(f.metadata.num_row_groups):
                stats = f.metadata.row_group(rg).column(ts_idx).statistics
                if stats is None or stats.max is None:
                    stats_complete = False
                    break
                max_ts = stats.max if max_ts is None else max(max_ts, stats.max)
        if not stats_complete or max_ts is None:
            import pyarrow.dataset as ds

            max_ts = (
                ds.dataset(parts).to_table(columns=["ts"]).column("ts")
                .to_pandas().max().to_pydatetime()
            )
        seal_ts = max_ts + datetime.timedelta(hours=3)  # > horizon (1h) + delay
        sentinel_cols = {
            "event_id": [-(10**9), -(10**9) + 1],
            "ts": [seal_ts, seal_ts],
            "user_id": [-1, -1],
            "event_type": ["click", "purchase"],
            "value": [0.0, 0.0],
            "props": ["{}", "{}"],
        }
        sentinel = pa.table(
            {name: pa.array(sentinel_cols[name], type=schema.field(name).type)
             for name in schema.names}
        )
        pq.write_table(sentinel, os.path.join(src, "part-sentinel.parquet"))

    return _stage(sf_dir, "events_src_sealed", write)


def _stage_tables(spark, sf_dir, tables, write) -> None:
    """Register ``tables`` in this session's catalog by running ``write()``,
    unless they already are registered from ``sf_dir``'s current data. The
    record of that is the table's comment, a hash of sf_dir and its source
    print: it lives and dies with the catalog entry, so a fresh session, a
    DROP or regenerated testdata all re-stage, and the table NAMES being
    global while sf_dirs alternate serves no stale data. (A comment is read
    through ``spark.catalog`` in milliseconds; a table property needs a
    SQL command per read.)"""
    import os as _os

    tag = _digest((_os.path.abspath(sf_dir), _source_print(sf_dir)), 12)
    if all(
        spark.catalog.tableExists(t) and spark.catalog.getTable(t).description == tag
        for t in tables
    ):
        return
    write()
    for t in tables:
        spark.sql(f"COMMENT ON TABLE {t} IS '{tag}'")


def _stage_catalog_table(spark, sf_dir):
    """External-table DDL round trip — validated events written as
    partitioned parquet, an EXTERNAL table created over the directory
    (README.md:394-411 contract). Registered once per session and sf_dir
    (:func:`_stage_tables`) and pre-warmed by the bench prepare pass: the
    DDL is fixture layout work a deployment does once, not per-query
    cost."""
    from .catalog import create_external_parquet_table

    def write():
        out = _scratch_dir("ubsp_catalog_")
        # repartition by the partition column first: one file per partition
        # value instead of (tasks × values) small files — the standard
        # partitioned-sink layout fix, and the file-listing cost dominates
        # this query otherwise
        _valid(spark, sf_dir).repartition("event_type").write.mode(
            "overwrite"
        ).partitionBy("event_type").parquet(out)
        create_external_parquet_table(spark, "valid_events_ext", out, repair=True)

    _stage_tables(spark, sf_dir, ["valid_events_ext"], write)


def _stage_warc(spark, sf_dir, variant: str):
    """Staged WARC fixture (r14): one staged tree per builder variant
    — 'plain' (x_warc_records/x_warc_digest), 'html' (x_warc_text),
    'http' (x_warc_http), 'crawl' (x_curate_crawl's suffixed docs),
    'corrupt' (x_stream_warc's source; returns the 4-file DIR for the
    file stream). Archive build is fixture; the walker (and gzip
    transparency, HTTP split, digest recompute...) runs per read."""
    import os as _os

    def build():
        from pyspark.sql import functions as F

        from .operators.warc import (
            synth_corrupt_warc_archives,
            synth_warc_archives,
        )

        docs = _lake_docs(spark, sf_dir, None)
        if variant == "crawl":
            docs = docs.withColumn(
                "text",
                F.concat(
                    F.col("text"),
                    F.when(
                        F.col("doc_id") % 2 == 0,
                        F.lit(" and that have with the"),
                    ).otherwise(F.lit("")),
                ),
            )
            return {"archives": synth_warc_archives(docs, html=True)}
        if variant == "corrupt":
            return {
                "archives": synth_corrupt_warc_archives(docs).repartition(4)
            }
        kw = {"plain": {}, "html": {"html": True},
              "http": {"http_envelope": True}}[variant]
        return {"archives": synth_warc_archives(docs, **kw)}

    read = _stage_lake_frames(spark, sf_dir, f"warc_{variant}", build)
    if variant == "corrupt":
        return _os.path.join(read.base, "archives")
    return read("archives")


def _stage_wds_shards(spark, sf_dir):
    """Staged WebDataset shard fixture, shared by the three wds
    queries (r14 — same honesty move as the lakehouse staging: the
    tar/gzip BUILD is fixture, the walker is the operator). Returns
    (32-partition DataFrame for the batch walkers, 4-file directory
    path for the stream twin — few files keeps its maxFilesPerTrigger
    multi-micro-batch shape meaningful)."""
    import os as _os

    from .operators.webdataset import synth_webdataset_shards

    def write(base):
        docs = _lake_docs(spark, sf_dir, None)
        synth_webdataset_shards(docs).write.mode("overwrite").parquet(
            _os.path.join(base, "shards")
        )
        # derive the 4-file stream copy from the STAGED bytes — a
        # second write from the synthesis lineage would run the whole
        # tar/gzip build twice (review r14)
        spark.read.parquet(_os.path.join(base, "shards")).repartition(
            4
        ).write.mode("overwrite").parquet(
            _os.path.join(base, "shards_stream")
        )

    base = _stage(sf_dir, "wds_shards", write)
    return (
        spark.read.parquet(_os.path.join(base, "shards")),
        _os.path.join(base, "shards_stream"),
    )


def _stage_format(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """events staged once per (format, sf) as csv/json files; ts carried as
    epoch millis (format-neutral, no tz/precision ambiguity)."""
    from pyspark.sql import functions as F

    def write(src):
        flat = (
            _table(spark, sf_dir, "events")
            .select(
                "event_id",
                "user_id",
                "event_type",
                F.round(F.col("value") * 100).cast("long").alias("cents"),
                # timestampdiff, not unix_millis: ts is TIMESTAMP_NTZ
                # (unix_millis rejects NTZ) and the diff is pure
                # wall-clock arithmetic.
                F.expr(
                    "timestampdiff(MILLISECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                ).alias("ts_ms"),
            )
            .coalesce(4)
        )
        if fmt == "csv":
            flat.write.mode("overwrite").option("header", "true").csv(src)
        elif fmt == "orc":
            flat.write.mode("overwrite").orc(src)
        else:
            flat.write.mode("overwrite").json(src)

    return _stage(sf_dir, f"events_{fmt}", write)


def _stage_bucketed(spark, sf_dir):
    """Bucketed CTAS for both join sides — fixture setup (the layout a 100 TB
    deployment maintains continuously), registered once per session and
    sf_dir (:func:`_stage_tables`) and pre-warmed by bench.py's prepare
    pass so the timed query is the join, not the CTAS. Each staging writes
    a fresh scratch directory (see write_bucketed_table)."""
    from .sinks import write_bucketed_table

    def write():
        customer = _table(spark, sf_dir, "customer")
        for name, df in (
            ("bq_orders", _table(spark, sf_dir, "orders")),
            ("bq_customer", customer.withColumnRenamed("c_custkey", "o_custkey")),
        ):
            write_bucketed_table(
                spark, df, name, _scratch_dir("ubsp_bucketed_"), "o_custkey", 8
            )

    _stage_tables(spark, sf_dir, ["bq_orders", "bq_customer"], write)


def prepare_staged(spark: SparkSession, sf_dir: str) -> None:
    """Pre-warm every staged fixture (stream sources, format doubles,
    lake and media trees) and catalog table (bucketed CTAS, external
    table) so a benchmark times query execution, not fixture setup.
    Queries stay self-sufficient — each stages lazily on first use —
    this just moves the cost outside a caller's timed region."""
    _stage_stream_source(spark, sf_dir)
    _stage_stream_source(spark, sf_dir, duplicate=True)
    _stage_events_parquet(spark, sf_dir)
    _stage_format(spark, sf_dir, "csv")
    _stage_format(spark, sf_dir, "json")
    _stage_format(spark, sf_dir, "orc")
    _stage_bucketed(spark, sf_dir)
    _stage_catalog_table(spark, sf_dir)
    # lakehouse fixture trees (r14 — VERDICT r13 #3): synthesis is the
    # dominant cost of these four queries' first hit; staging it here
    # makes BENCH price the replay/walk under test
    _stage_delta_dv(spark, sf_dir)
    _stage_iceberg_v1(spark, sf_dir)
    _stage_iceberg_v2(spark, sf_dir)
    _stage_delta_checkpoint(spark, sf_dir)
    _stage_wds_shards(spark, sf_dir)
    for variant in ("plain", "html", "http", "crawl", "corrupt"):
        _stage_warc(spark, sf_dir, variant)
    _stage_r15_media(spark, sf_dir)
    # warm-ups are optimizations, never prerequisites: a failure must not
    # abort the prepare pass (the real queries just pay their own first-hit)
    try:
        _warm_streaming(spark, sf_dir)
    except Exception:
        pass
    _warm_codegen(spark, sf_dir)


# the widest whole-stage-codegen / Python-worker plans: first execution
# pays seconds of class generation (64-column minhash/simhash aggregates,
# Expand trees, HLL sketches) that every later run reuses
_CODEGEN_WARM = (
    "x_dedup_minhash",
    "x_dedup_simhash",
    "x_dedup_simhash_portable",
    "x_dedup_ngram",
    "x_dedup_components",
    "x_dedup_incremental",
    "x_curate_corpus",
    "x_corpus_contamination",
    "x_corpus_boilerplate",
    "x_text_distinctive",
    "x_text_fingerprint",
    "x_approx_distinct",
    "x_rollup_orders",
    "x_cube_lineitem",
)


def _warm_codegen(spark: SparkSession, sf_dir: str) -> None:
    """Compile the widest codegen plans once against the TINY sibling
    fixture (sf0.001): Spark's generated-class cache keys on the generated
    source, which depends on the plan/schema, not the data, so a pass over
    the 0.001 tables pre-compiles the exact classes the target-scale run
    needs (measured: x_dedup_minhash first-hit 7.0 s → 3.2 s at sf0.1).
    JIT warm-up is fixture work, not query work — same rationale as the
    streaming-machinery warm-up above. Skips silently when no tiny sibling
    exists (non-standard layouts)."""
    import os

    from .registry import QUERIES

    tiny = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.realpath(tiny) == os.path.realpath(sf_dir) or not os.path.isdir(
        tiny
    ):
        return
    for name in _CODEGEN_WARM:
        try:
            QUERIES[name](spark, tiny).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            # warm-up is best-effort; the real run simply pays its own
            # compile if a plan could not be warmed
            pass
    try:
        # Python DataSource machinery (registration + per-partition Python
        # workers) — a 100-row read warms the workers; the timed queries
        # still generate their full row counts themselves
        from .sources.eventgen import register

        register(spark)
        spark.read.format("eventgen").option("rows", "100").load().write.format(
            "noop"
        ).mode("overwrite").save()
    except Exception:
        pass


def _warm_streaming(spark: SparkSession, sf_dir: str) -> None:
    """One-time streaming-machinery warm-up: the FIRST streaming query in a
    session pays ~5-6 s of state-store provider init + stateful-aggregation
    codegen that every later stream query reuses (measured: the first
    x_stream_* run 7.5 s, the second 1.5 s on an idle box). Run a minimal
    availableNow stateful stream over one staged file so that session-wide
    cost lands in fixture prep, not on whichever alphabetically-first
    streaming query the timed loop hits."""
    from pyspark.sql import functions as F

    from .streaming.jobs import file_stream_source

    src = _stage_stream_source(spark, sf_dir)
    ckpt = _scratch_dir("ubsp_warm_ckpt_")
    stream = file_stream_source(spark, src)
    (
        stream.withColumn("ts_ltz", F.col("timestamp").cast("timestamp"))
        .withWatermark("ts_ltz", "1 day")
        .groupBy(F.window("ts_ltz", "1 day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
