"""The streaming drain: the one module that knows how a stream of
micro-batches is run to completion and where its scratch files live.

Every ``foreachBatch`` query in lsh_spark goes through here (only
``events.streaming_near_dup_against_corpus`` keeps its own table sink):

  * ``table_stream`` — the file-source stream over one sf table, one
    file per trigger, schema from ``load_table``;
  * ``drain_to_parquet`` — the AvailableNow ``foreachBatch`` query whose
    per-batch frame lands in an idempotent ``out_dir/batch_id=N`` sink;
  * ``drain`` — the gate form: fresh scratch dirs, the drain under the
    scoped state partitions, and the read-back;
  * ``run_available_now`` — the memory-sink drain of the gate queries
    the incremental engine runs natively (windows, sessions, dedup,
    ``applyInPandasWithState``, stateless maps).

Scratch lives under one per-process root (``tempfile.mkdtemp``, so it
honours ``TMPDIR``), removed at interpreter exit — never earlier: the
frames ``drain`` returns read it lazily.  Two processes on the same SF
therefore never share (or clear) each other's checkpoints.
"""

from __future__ import annotations

import atexit
import functools
import glob
import os
import shutil
import tempfile
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# maps a micro-batch to one frame, or to {sink: frame} for several sinks
PerBatch = Callable[[DataFrame], "DataFrame | dict[str, DataFrame]"]


@functools.cache
def scratch_root() -> str:
    """This process's scratch root, made on first use."""
    root = tempfile.mkdtemp(prefix="lsh_spark_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def scratch_dir(key: str) -> str:
    """An empty directory ``<root>/<key>``; whatever an earlier call in
    this process left there is cleared, so reruns stay bounded."""
    d = os.path.join(scratch_root(), key)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream over ``<sf_dir>/<table>.parquet``, one file per
    micro-batch, with the batch reader's schema."""
    from ..sources.io import load_table

    return (
        spark.readStream.schema(load_table(spark, sf_dir, table).schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )


def _write_batch_idempotent(frame: DataFrame, out_dir: str,
                            batch_id: int) -> None:
    """foreachBatch provides at-least-once delivery: after a mid-run
    failure the restarted query REPLAYS the last uncommitted micro-batch,
    so a bare ``mode("append")`` would duplicate its rows.  Keying the
    write on ``batch_id`` (one overwritten partition directory per batch)
    makes the replay rewrite the same files instead — the standard
    idempotent-sink recipe.  Readers see ``batch_id`` as a discovered
    partition column; every consumer selects named columns."""
    frame.write.mode("overwrite").parquet(
        os.path.join(out_dir, f"batch_id={batch_id}"))


def drain_to_parquet(stream: DataFrame,
                     per_batch: PerBatch,
                     out_dir: str, checkpoint_dir: str):
    """Start an AvailableNow ``foreachBatch`` query that writes
    ``per_batch(batch)`` of every non-empty micro-batch to
    ``out_dir/batch_id=N`` (a ``{sink: frame}`` result to
    ``out_dir/<sink>/batch_id=N``).  Returns the started StreamingQuery."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = per_batch(batch_df)
        for sink, frame in (out if isinstance(out, dict)
                            else {"": out}).items():
            _write_batch_idempotent(
                frame, os.path.join(out_dir, sink), batch_id)

    return (
        stream.writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def _read_back(spark: SparkSession, out_dir: str, schema: str) -> DataFrame:
    if not glob.glob(os.path.join(out_dir, "batch_id=*")):
        return spark.createDataFrame([], schema)
    return spark.read.parquet(out_dir)


def drain(spark: SparkSession, stream: DataFrame,
          per_batch: PerBatch, name: str,
          sf_dir: str, schema: str | dict[str, str]):
    """Gate form of ``drain_to_parquet``: drain ``stream`` to completion
    into fresh scratch dirs keyed by ``name`` and the SF tag, and return
    the union of every batch's output (``batch_id`` a partition column).
    When no batch landed, the result is an empty frame of the per-batch
    ``schema``.  A ``{sink: schema}`` dict, for a ``per_batch`` returning
    ``{sink: frame}``, returns ``{sink: frame}``."""
    d = scratch_dir(f"{name}_{os.path.basename(sf_dir.rstrip('/'))}")
    out = os.path.join(d, "out")
    with scoped_state_partitions(spark):
        drain_to_parquet(stream, per_batch, out,
                         os.path.join(d, "ckpt")).awaitTermination()
    if isinstance(schema, dict):
        return {sink: _read_back(spark, os.path.join(out, sink), s)
                for sink, s in schema.items()}
    return _read_back(spark, out, schema)


def run_available_now(stream_df: DataFrame, query_name: str,
                      output_mode: str = "complete",
                      state_partitions: int = 8):
    """Drain every available input with AvailableNow into a memory sink;
    returns the already-TERMINATED StreamingQuery (a further
    ``awaitTermination()`` is a no-op; read ``SELECT * FROM
    <query_name>``).  Use ``complete`` for windowed aggs (finite corpus
    → last windows never pass the watermark in append mode), ``update``
    for stateful operators.

    The drain runs under a scoped ``spark.sql.shuffle.partitions``
    override (restored afterwards): every stateful operator pays a
    state-store commit PER SHUFFLE PARTITION per micro-batch, which is
    pure fixed overhead at gate-corpus state sizes — measured at
    sf0.1/local[32], 32 → 8 partitions halves the streaming queries'
    wall (events_error_click_pairs 5.7 → 3.0 s, events_hourly 1.7 →
    1.0 s) with identical results (hash-pinned by the oracles; state
    partitioning never affects WHAT is emitted).  At real scale size
    ``state_partitions`` to state volume instead — the override is
    per-drain, not a session default.

    A leftover sink table from an earlier run in the same session is
    dropped first — append-mode memory sinks would otherwise accumulate
    across reruns."""
    spark = stream_df.sparkSession
    try:
        spark.catalog.dropTempView(query_name)
    except Exception:
        pass
    with scoped_state_partitions(spark, state_partitions):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


@contextmanager
def scoped_state_partitions(spark: SparkSession, n: int = 8):
    """Scoped ``spark.sql.shuffle.partitions`` override for a streaming
    drain (see ``run_available_now`` for the measurement); also wraps
    every ``drain``, where 32 → 8 cut wall ~25-35% at sf0.1 (the
    per-micro-batch join input is a fraction of the corpus, so
    fewer-but-fuller partitions win).  Always restored — the override
    must never leak into the session's batch queries."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
