"""The stream layers: four live queries over dropped files.

Event and doc files are dropped before the queries start and read one
file per trigger, so each query runs a first batch (its fixed set-up
cost) and then a steady one. The four run together in the one
session, as they would in a deployment:

- ``streaming.ops.tumbling_agg`` (1-minute windows, complete mode)
- ``streaming.ops.stream_dedup`` on event_id
- a click -> purchase ``streaming.ops.stream_stream_join``
- a docs ``foreachBatch`` calling
  ``streaming.dedup_stream.minhash_dedup_batch_apply``

A query's progress says how many input rows it has committed; every
file holds the same number of rows, so that gives the files committed.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

from pyspark.sql import functions as F

from hybridbackend_spark.streaming import dedup_stream, ops

QUERIES = ("tumbling_agg", "stream_dedup", "stream_stream_join",
           "minhash_dedup_batch_apply")
# per-layer metric prefix of each query
LAYER = {
    "tumbling_agg": "streaming.tumbling_agg",
    "stream_dedup": "streaming.stream_dedup",
    "stream_stream_join": "streaming.stream_stream_join",
    "minhash_dedup_batch_apply": "dedup_stream.minhash_dedup_batch_apply",
}
FILES_PER_TRIGGER = 1
DRAIN_TIMEOUT_S = 90


def _event_stream(spark, path):
    return ops.read_event_stream(spark, path, max_files_per_trigger=FILES_PER_TRIGGER)


def _clicks(df):
    return df.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id"))


def _purchases(df):
    return df.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("buyer"), F.col("ts").alias("buy_ts"),
        F.col("event_id").alias("buy_id"))


def _join(clicks, purchases):
    return ops.stream_stream_join(
        clicks, purchases.withColumnRenamed("buyer", "user_id"), "user_id",
        "click_ts", "buy_ts", within_expr="INTERVAL 2 MINUTES")


def start_docs(spark, work: str):
    state_dir = os.path.join(work, "dedup_state")

    def apply(batch_df, _epoch):
        try:
            dedup_stream.minhash_dedup_batch_apply(
                spark, batch_df, state_dir, "text", "doc_id", portable=True)
        except Exception:
            # the JVM side reports only a truncated message
            traceback.print_exc()
            raise

    docs = (spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", str(FILES_PER_TRIGGER))
            .parquet(os.path.join(work, "docs")))
    return (docs.writeStream.foreachBatch(apply).queryName("minhash_dedup_batch_apply")
            .option("checkpointLocation", os.path.join(work, "ckpt", "docs")).start())


def start_events(spark, work: str) -> dict:
    ev_dir = os.path.join(work, "events")

    def memory(df, name, mode):
        return (df.writeStream.format("memory").queryName(name).outputMode(mode)
                .option("checkpointLocation", os.path.join(work, "ckpt", name)).start())

    return {
        "tumbling_agg": memory(
            ops.tumbling_agg(_event_stream(spark, ev_dir), "ts", "1 minute",
                             keys=["event_type"]),
            "tumbling_agg", "complete"),
        "stream_dedup": memory(
            ops.stream_dedup(_event_stream(spark, ev_dir), ["event_id"], "ts"),
            "stream_dedup", "append"),
        "stream_stream_join": memory(
            _join(_clicks(_event_stream(spark, ev_dir)),
                  _purchases(_event_stream(spark, ev_dir))),
            "stream_stream_join", "append"),
    }


def committed_files(q, rows_per_file: int) -> int:
    """Files this query has committed, from its cumulative input rows
    (the least over its sources)."""
    cum = None
    for p in q.recentProgress:
        rows = [src.numInputRows for src in p.sources]
        cum = rows if cum is None else [a + b for a, b in zip(cum, rows)]
    return 0 if cum is None else min(cum) // rows_per_file


def _wait(qs: dict, per_file: dict, files: int, deadline: float) -> int:
    """Poll until every query in ``qs`` has committed ``files`` files or
    the deadline passes; return the least committed."""
    while True:
        for q in qs.values():
            if q.exception() is not None:
                raise RuntimeError(f"stream query {q.name} failed: {q.exception()}")
        done = min(committed_files(q, per_file[n]) for n, q in qs.items())
        if done >= files or time.time() > deadline:
            return done
        time.sleep(0.1)


def run(spark, d: str, work: str, props: dict, files: int) -> dict:
    """Drop ``files`` event and doc files, run the four queries together
    until each has committed them (or DRAIN_TIMEOUT_S passes), then stop
    them. They start together because starting the docs query alone
    first made the event queries' batches, and the phase, longer."""
    for kind in ("events", "docs"):
        os.makedirs(os.path.join(work, kind))
        for k in range(files):
            name = f"{kind}-{k:04d}.parquet"
            shutil.copyfile(os.path.join(d, name), os.path.join(work, kind, name))
    per_file = {name: props["events_per_file"] for name in QUERIES}
    per_file["minhash_dedup_batch_apply"] = props["docs_per_file"]

    t0 = time.time()
    qs = start_events(spark, work)
    try:
        qs["minhash_dedup_batch_apply"] = start_docs(spark, work)
        done = _wait(qs, per_file, files, t0 + DRAIN_TIMEOUT_S)
        return {"files": files, "committed": done, "drain_s": time.time() - t0}
    finally:
        for q in qs.values():
            q.stop()


def _rows(df, cols) -> list[tuple]:
    t = df.select(*cols).toArrow()
    return sorted(zip(*[t.column(c).to_pylist() for c in cols]))


def check(spark, work: str, con) -> dict[str, list[str]]:
    """Each stream result against the batch result of the same operation
    over the same files (``con`` is a DuckDB connection for the window
    counts and the MinHash replica). Returns problems per check."""
    import reference

    ev_dir = os.path.join(work, "events")
    static = spark.read.parquet(ev_dir).withColumn("ts", F.col("ts").cast("timestamp"))
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    windows = _rows(spark.table("tumbling_agg"), cols)
    batch_windows = _rows(
        ops.tumbling_agg(static, "ts", "1 minute", keys=["event_type"]), cols)
    duck = reference.stream_windows(con, ev_dir)
    # batch frames have no watermark dedup; every row is inside the
    # watermark here, so it equals a plain dropDuplicates
    dedup = _rows(spark.table("stream_dedup"), ["event_id"])
    batch_dedup = _rows(static.dropDuplicates(["event_id"]), ["event_id"])
    cols = ["user_id", "click_id", "buy_id"]
    joined = _rows(spark.table("stream_stream_join"), cols)
    batch_joined = _rows(_join(_clicks(static), _purchases(static)), cols)
    survivors = _rows(dedup_stream.stream_survivors(
        spark, os.path.join(work, "dedup_state"), "doc_id"), ["doc_id"])
    batch_survivors = reference.stream_docs_survivors(con, os.path.join(work, "docs"))

    def same(a, b, what):
        return [] if a == b else [f"{what}: {len(a)} stream rows vs {len(b)} batch rows differ"]

    return {
        "tumbling_agg": same(windows, batch_windows, "windows"),
        "tumbling_agg counts": same(
            [(r[1], r[2], round(r[3] * 100)) for r in windows],
            [(r[1], r[2], r[3]) for r in duck], "window counts vs DuckDB"),
        "stream_dedup": same(dedup, batch_dedup, "deduped events"),
        "stream_stream_join": same(joined, batch_joined, "joined pairs"),
        "minhash_dedup_batch_apply": same(survivors, batch_survivors, "survivors"),
    }
