"""bulk_cow_stream: a weekly catch-up drained into a copy-on-write table.

Setup writes a backlog of ``repo_file_events`` parquet files. Each
operation drains the whole backlog with
``CdcStreamPipeline.run_available_now`` into a fresh 32-bucket COW
table, in micro-batches of ``FILES_PER_TRIGGER`` files (the backlog's
hash split can leave fewer than ``N_FILES`` files). Every micro-batch
touches every bucket, so the time goes to the lake merge's shuffle,
winners aggregate and bucket rewrite. The check compares the
last drained table with a DuckDB latest-per-key replay of the backlog
files.
"""

from __future__ import annotations

import os
import shutil
import statistics

from pyspark.sql import types as T

import oracle

N_KEYS = 100_000
EVENTS_PER_KEY = 3
N_FILES = 6
FILES_PER_TRIGGER = 2
BUCKETS = 32
KEYS = ["repo", "path", "commit"]
SCHEMA = T.StructType([T.StructField(c, T.StringType())
                       for c in KEYS + ["lang", "content"]])


class BulkCowStream:
    build_reps = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.events_dir = ctx.path("events")
        self.n_ops = 0
        self.table = None
        self.drain = None
        self.stream_tot = {"streaming.batches": 0.0, "streaming.trigger_ms": 0.0,
                           "streaming.overhead_ms": 0.0}
        self.stream_n = 0
        self.live_rows = 0

    def _drain(self, tag: str, events_dir: str):
        from encode_ingest_spark.lake import LakeTable
        from encode_ingest_spark.streaming.pipeline import CdcStreamPipeline

        root = self.ctx.path("tables", tag)
        shutil.rmtree(root, ignore_errors=True)
        table = LakeTable.create(self.ctx.spark, os.path.join(root, "t"), SCHEMA,
                                 KEYS, num_buckets=BUCKETS)
        pipe = CdcStreamPipeline(
            table, events_dir=events_dir,
            checkpoint_dir=os.path.join(root, "ckpt"),
            max_files_per_trigger=FILES_PER_TRIGGER, merge_mode="cow",
        )
        return table, pipe

    def build(self) -> None:
        from encode_ingest_spark.cdc import repo_file_events
        from encode_ingest_spark.streaming.pipeline import write_event_files

        shutil.rmtree(self.events_dir, ignore_errors=True)
        write_event_files(
            repo_file_events(self.ctx.spark, N_KEYS, EVENTS_PER_KEY, seed=self.ctx.seed),
            self.events_dir, N_FILES)
        files = [f for f in os.listdir(self.events_dir) if f.endswith(".parquet")]
        self.batches = -(-len(files) // FILES_PER_TRIGGER)

    def warm(self) -> None:
        """Drain the backlog once into a throwaway table."""
        self._drain("warm", self.events_dir)[1].run_available_now(self.ctx.spark)
        shutil.rmtree(self.ctx.path("tables", "warm"), ignore_errors=True)

    def prepare(self) -> None:
        if self.table is not None:
            shutil.rmtree(self.ctx.path("tables", f"op{self.n_ops - 1}"),
                          ignore_errors=True)
        self.table, self.drain = self._drain(f"op{self.n_ops}", self.events_dir)
        self.n_ops += 1

    def op(self) -> None:
        ctx = self.ctx
        with ctx.timed("drain"):
            batches = self.drain.run_available_now(ctx.spark,
                                                   collect_metrics=ctx.trace)
        ctx.check(batches == self.batches,
                  f"drain merged {batches} of {self.batches} micro-batches")
        ctx.work_units += N_KEYS * EVENTS_PER_KEY
        if ctx.trace:
            self._streaming_layer()

    def _streaming_layer(self) -> None:
        """Trigger time from the query's progress events, and the part of
        it spent outside ``merge_into``."""
        spans = self.ctx.tracer.spans
        progress = [p for p in self.drain.progress if p["num_input_rows"]]
        trigger_ms = sum(p["duration_ms"].get("triggerExecution", 0)
                         for p in progress)
        drain = [s for s in spans if s.name == "drain"][-1]
        merge_ms = 1000.0 * sum(s.end - s.start for s in spans
                                if s.name == "lake.merge_into"
                                and s.start >= drain.start)
        self.stream_n += 1
        for k, v in (("streaming.batches", len(progress)),
                     ("streaming.trigger_ms", trigger_ms),
                     ("streaming.overhead_ms", trigger_ms - merge_ms)):
            self.stream_tot[k] += v
            self.ctx.layer[k] = self.stream_tot[k] / self.stream_n

    def verify(self) -> None:
        con = oracle.duck(self.ctx)
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{self.events_dir}/*.parquet')")
        self.live_rows = oracle.check_latest_per_key(self.ctx, self.table, KEYS,
                                                     con, "events")

    def detail(self) -> dict:
        s = self.ctx.samples["drain"]
        return {
            "ingest_events_per_s": N_KEYS * EVENTS_PER_KEY * len(s) / sum(s),
            "drain_p50_ms": 1000.0 * statistics.median(s),
            "stored_bytes_per_row": oracle.stored_bytes_per_row(self.table,
                                                                self.live_rows),
            "events_per_drain": N_KEYS * EVENTS_PER_KEY,
        }
