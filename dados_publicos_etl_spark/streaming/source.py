"""How a catalog stream is fed, driven and folded.

Every streaming catalog query goes through this module, so each of
these decisions is made in one place:

- **read** — :func:`read_event_stream` is the one ``readStream`` over
  the events table.  Structured Streaming's file source needs an
  explicit schema, and the fixture tables have carried both
  TIMESTAMP(NANOS) and TIMESTAMP(MICROS) ``ts`` columns over time.
  Declaring ``ts long`` keeps NANOS files readable
  (``spark.sql.legacy.parquet.nanosAsLong``), but the raw int64 must
  then be rescaled by the unit the WRITER used, which the reader
  sniffs from the parquet footer exactly like the batch path
  (``io.read_table``) does.  Hardcoding a unit is the 1970-windows
  bug class.
- **feed** — :func:`cached_feed` builds a query's input files (a split
  copy of a fixture table that forces several micro-batches) once per
  corpus snapshot; :func:`write_parity_feed` and
  :func:`write_ordered_feed` are the two split shapes.
- **drive** — :func:`drain` starts a writer, drives it to completion
  with ``processAllAvailable`` and always stops it;
  :func:`drain_to_memory` is its memory-sink form.
  :func:`_streaming_shuffle` bounds state-store parallelism around a
  drive.
- **fold** — :func:`fold_batches` merges each micro-batch into a
  versioned parquet state table and returns the final version.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from dados_publicos_etl_spark.io import epoch_micros_sql, parquet_ts_meta
from dados_publicos_etl_spark.tmpstore import (
    CACHE_LOCK,
    TempDirPool,
    corpus_fingerprint,
)

EVENTS_RAW_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


def read_event_stream(
    spark: SparkSession, sf_dir: str, ntz: bool = False
) -> DataFrame:
    """``readStream`` over ``<sf_dir>/events.parquet`` with ``ts``
    normalized to a microsecond timestamp.

    ``ntz=False`` (default) yields TIMESTAMP (LTZ) — required by
    watermarks; render window bounds through ``to_utc_timestamp`` to
    stay session-timezone-stable.  ``ntz=True`` yields TIMESTAMP_NTZ
    (UTC wall time), matching the batch path for operators that only
    format/compare timestamps.

    The declared schema BRANCHES on the footer's physical unit:
    NANOS (and plain-numeric) files read ``ts`` as long
    (``nanosAsLong``) and rescale by integer arithmetic; MICROS /
    MILLIS files are NOT long-readable under that conf, so they read
    through Spark's native timestamp path (TIMESTAMP_NTZ for
    wall-time files, TIMESTAMP for adjusted-to-UTC files) and
    convert to epoch micros with session-timezone-independent
    expressions (NTZ diff from epoch / ``unix_micros``).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    unit, tz = parquet_ts_meta(os.path.join(sf_dir, "events.parquet"), "ts")
    if unit in ("ns", None):
        schema = EVENTS_RAW_SCHEMA
        micros = epoch_micros_sql("ts", unit)
    elif tz is None:
        # wall-time NTZ file: pure NTZ arithmetic, no session-tz term
        schema = EVENTS_RAW_SCHEMA.replace("ts long", "ts timestamp_ntz")
        micros = (
            "timestampdiff(MICROSECOND, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00', `ts`)"
        )
    else:
        # instant-semantics file (adjusted to UTC): epoch extraction
        schema = EVENTS_RAW_SCHEMA.replace("ts long", "ts timestamp")
        micros = "unix_micros(`ts`)"
    if ntz:
        ts_expr = (
            f"timestampadd(MICROSECOND, {micros}, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        )
    else:
        ts_expr = f"timestamp_micros({micros})"
    # layout-aware source: the streaming file source requires a
    # DIRECTORY basePath, so a directory-layout events.parquet (the
    # scale-probe replica) is streamed directly, while the testdata's
    # single-FILE layout keeps the parent dir + leaf-name filter (a
    # pathGlobFilter alone would silently feed an EMPTY stream on the
    # directory layout — measured as bogus <1x scale ratios)
    table = f"{sf_dir}/events.parquet"
    if os.path.isdir(table):
        reader = spark.readStream.schema(schema).parquet(table)
    else:
        reader = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return reader.withColumn("ts", F.expr(ts_expr))


# (kind, sf_dir, corpus fingerprint, *key) -> TemporaryDirectory of a
# built feed; held for the session, removed by its finalizer at exit
_FEEDS: dict[tuple, tempfile.TemporaryDirectory] = {}


def cached_feed(
    kind: str,
    sf_dir: str,
    table: str,
    build: Callable[[str], None],
    *key,
) -> str:
    """Directory of a query's input feed, built by ``build(dir)`` once
    per snapshot of ``<sf_dir>/<table>``.

    The feed files stand in for an external landing zone, so repeat
    runs measure the stream, not the fixture write.  The cache key
    carries the table's ``corpus_fingerprint``: a corpus rewritten
    under the same path builds a fresh feed instead of serving the
    old one."""
    k = (kind, sf_dir, corpus_fingerprint(sf_dir, table), *key)
    with CACHE_LOCK:
        hit = _FEEDS.get(k)
    if hit is not None:
        return hit.name
    tmp = tempfile.TemporaryDirectory(prefix=f"spark_{kind}_feed_")
    build(tmp.name)
    with CACHE_LOCK:
        return _FEEDS.setdefault(k, tmp).name


def write_parity_feed(df: DataFrame, col: str, out: str) -> None:
    """Two files under ``out``, even ``col`` first: two micro-batches
    under ``maxFilesPerTrigger=1``, in an order unrelated to time."""
    for half in (0, 1):
        (
            df.filter(F.col(col) % 2 == half)
            .coalesce(1)
            .write.mode("append")
            .parquet(out)
        )


def write_ordered_feed(df: DataFrame, col: str, out: str) -> None:
    """One file per value of the integer ``col`` (a ``col=<v>``
    directory, read back with ``recursiveFileLookup``), in ONE write
    pass: a single coalesced task splits the rows.  File mtimes are
    pinned ``600 * v`` seconds apart, so the mtime-ordered file source
    turns value ``v`` into micro-batch ``v``."""
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .partitionBy(col)
        .parquet(out)
    )
    for part in os.listdir(out):
        if not part.startswith(f"{col}="):
            continue
        shift = int(part.split("=", 1)[1]) * 600
        d = os.path.join(out, part)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                st = os.stat(p)
                os.utime(p, (st.st_atime, st.st_mtime + shift))


@contextmanager
def _streaming_shuffle(spark: SparkSession, n: int = 4):
    """Bound stateful-stream parallelism while a query is planned,
    and skip no-data micro-batches for the drive-to-completion run.

    A stateful streaming query creates one state store PER shuffle
    partition PER stateful operator; micro-batch latency in local
    mode is dominated by store open/commit, not data volume, so the
    drive-to-completion queries plan with a small fixed number
    (A/B at sf0.1 warm: 8 partitions ~1.5-4.2 s per query, 4
    partitions ~1.1-3.0 s; below 4 it flattens).  On a
    real cluster raise it (~2-3x executor cores) — state partitioning
    is fixed at first checkpoint, so size it for peak key cardinality
    up front.  The session value is restored afterwards; the stream
    keeps the value captured at plan time.

    ``noDataMicroBatches`` is disabled for the same window: after the
    data batch, processAllAvailable otherwise waits out an EMPTY
    batch whose only job is advancing the watermark — which none of
    the wrapped queries need (complete-mode aggs re-emit on every
    data batch; append-mode dedup/inner-join emit on sight/match,
    watermark only evicts state).  A/B at sf0.1 warm: the 4
    true-streaming queries total 5.7 s with no-data batches, 4.0 s
    without, identical results (oracle-checked).  Operators that DO
    emit on watermark advance (EventTimeTimeout session close —
    ``stateful.streaming_session_close``) must not use this wrapper.
    """
    _NODATA_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nodata = spark.conf.get(_NODATA_KEY, None)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    spark.conf.set(_NODATA_KEY, "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if prev_nodata is None:
            spark.conf.unset(_NODATA_KEY)
        else:
            spark.conf.set(_NODATA_KEY, prev_nodata)


def drain(writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer``, process everything its source holds, and
    stop the query even when a batch raises.  The stopped query is
    returned: its ``recentProgress`` stays readable."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def drain_to_memory(df: DataFrame, mode: str, name: str) -> DataFrame:
    """:func:`drain` into a memory sink under a unique ``name_<hex>``
    table, in output ``mode`` (``append`` or ``update``); returns the
    sink table."""
    table = f"{name}_{uuid.uuid4().hex[:8]}"
    drain(df.writeStream.outputMode(mode).format("memory").queryName(table))
    return df.sparkSession.table(table)


# Pooled dirs of the streaming state tables and sinks, ``keep`` newest
# per purpose (see tmpstore)
_STATE_DIRS = TempDirPool()
# purpose -> run metadata of its latest fold (output mode, batch
# count, streaming progress incl. numRowsRemoved /
# numRowsDroppedByWatermark) — pytest pins the watermark claims on it
_STREAM_LAST_RUNS: dict[str, dict] = {}


def fold_batches(
    spark: SparkSession,
    stream: DataFrame,
    purpose: str,
    merge: Callable[[DataFrame | None, DataFrame], DataFrame],
) -> DataFrame | None:
    """Drive ``stream`` to completion in UPDATE mode, folding each
    micro-batch into a versioned parquet state table:
    ``v<N> = merge(v<N-1> or None, batch)``; returns the final
    version, or None when no batch ran.

    This is the bounded-state sink shape of every drive-to-completion
    fold in this package: update mode emits only the keys whose
    aggregate changed in the batch, and a watermark EVICTS closed
    windows from the state store (complete mode would retain every
    key forever and re-emit the whole result each trigger — the
    unbounded anti-pattern).  Each version is a new directory, so a
    batch never reads the file it overwrites.  Run metadata lands in
    ``_STREAM_LAST_RUNS[purpose]``.
    """
    state_dir = _STATE_DIRS.new_dir(purpose, f"spark_{purpose}_")
    state: dict = {"path": None, "version": 0}

    def step(bdf: DataFrame, _bid: int) -> None:
        prev = None
        if state["path"] is not None:
            prev = spark.read.parquet(state["path"])
        state["version"] += 1
        new_path = f"{state_dir}/v{state['version']}"
        merge(prev, bdf).write.mode("overwrite").parquet(new_path)
        state["path"] = new_path

    with _streaming_shuffle(spark):
        q = drain(stream.writeStream.outputMode("update").foreachBatch(step))
    _STREAM_LAST_RUNS[purpose] = {
        "output_mode": "update",
        "n_batches": state["version"],
        "progress": list(q.recentProgress or []),
    }
    if state["path"] is None:
        return None
    # EAGERLY materialize off the pooled state dir: the pool rotates
    # this dir out after ``keep`` newer runs of the same purpose, so a
    # lazily-returned parquet read deferred past that would hit an
    # unreadable path — localCheckpoint pins the rows in block storage
    return spark.read.parquet(state["path"]).localCheckpoint(eager=True)
