"""trickle_mor_rw: narrow merge-on-read commits interleaved with readers.

Setup preloads a ``N_KEYS``-row table and sets its
``mor.compact.threshold`` property. Each operation is one compaction
cycle of ``CYCLE`` steps: ``COMPACT_THRESHOLD`` steps that each add a
delta file per bucket, then the step whose commit compacts them, so
every operation does the same mix of work. Each step is:

* a ``merge_into(mode="mor")`` of ``BATCH`` events sliced off one
  ``repo_file_events`` stream (updates, some deletes, out of order);
* ``LOOKUPS`` ``LakeTable.lookup`` calls on keys that batch wrote, each
  checked against the latest event for its key;
* a full ``read()`` scan to the noop sink;
* a ``read_changes(prev, cur)`` over that step's commits, to the noop
  sink.

The check replays the preload and every batch through DuckDB
(latest event per key, deletes absent) and compares the final table.
"""

from __future__ import annotations

import hashlib
import shutil
import statistics

from pyspark.sql import functions as F
from pyspark.sql import types as T

import oracle
from stats import tail

N_KEYS = 50_000
#: versions per key in the trickle stream; each batch is a slice of it
EVENTS_PER_KEY = 64
BATCH = 2_000
BUCKETS = 16
COMPACT_THRESHOLD = 3
#: enough lookups per cycle of steps for a tail percentile
LOOKUPS = 8
#: steps per operation
CYCLE = COMPACT_THRESHOLD + 1
KEYS = ["repo", "path", "commit"]
SCHEMA = T.StructType([T.StructField(c, T.StringType())
                       for c in KEYS + ["lang", "content"]])


def _events(spark, seed: int, step: int | None):
    """The preload (``step`` None: one insert per key) or one batch."""
    from encode_ingest_spark.cdc import repo_file_events

    if step is None:
        return repo_file_events(spark, N_KEYS, 1, seed=seed, delete_pct=0)
    return repo_file_events(spark, N_KEYS, EVENTS_PER_KEY, seed=seed,
                            slot_range=(step * BATCH, (step + 1) * BATCH))


def _fingerprint(df):
    return df.select(*KEYS, "op", "event_seq",
                     F.md5("content").alias("content_md5")).toArrow()


class TrickleMorRW:
    build_reps = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.table = None
        self.step = 0
        self.seen = []          # fingerprints of every merged batch
        self.latest = {}        # key -> (event_seq, op, content_md5)
        #: per step of the next cycle: [(key, expected latest event)]
        self.expect = []
        self.live_rows = 0

    def _create(self, name: str, n_keys: int):
        from encode_ingest_spark.cdc import repo_file_events
        from encode_ingest_spark.lake import LakeTable, merge_into

        root = self.ctx.path("tables", name)
        shutil.rmtree(root, ignore_errors=True)
        t = LakeTable.create(self.ctx.spark, root, SCHEMA, KEYS,
                             num_buckets=BUCKETS)
        merge_into(t, repo_file_events(self.ctx.spark, n_keys, 1,
                                       seed=self.ctx.seed, delete_pct=0),
                   source_id="preload", batch_id=1)
        t.set_properties({"mor.compact.threshold": str(COMPACT_THRESHOLD)})
        return t

    def build(self) -> None:
        self.table = self._create("main", N_KEYS)

    def warm(self) -> None:
        """Run every part of a step once on a throwaway table."""
        warm = self._create("warm", BATCH)
        self._step_ops(warm, step=0, expect=[], check=False)
        shutil.rmtree(self.ctx.path("tables", "warm"), ignore_errors=True)

    def prepare(self) -> None:
        """Untimed: the batches of the next cycle, and the latest event
        each step's lookups should see."""
        del self.seen[self.step:]  # batches of a cycle that raised
        self.expect = []
        for step in range(self.step, self.step + CYCLE):
            fp = _fingerprint(_events(self.ctx.spark, self.ctx.seed, step))
            self.seen.append(fp)
            keys = []
            for r in fp.to_pylist():
                k = tuple(r[c] for c in KEYS)
                if k not in self.latest or r["event_seq"] > self.latest[k][0]:
                    self.latest[k] = (r["event_seq"], r["op"], r["content_md5"])
                if k not in keys:
                    keys.append(k)
            self.expect.append([(k, self.latest[k]) for k in keys[:LOOKUPS]])

    def op(self) -> None:
        for expect in self.expect:
            self._step_ops(self.table, self.step, expect, check=True)
            self.step += 1
            self.ctx.work_units += BATCH

    def _step_ops(self, table, step: int, expect: list, check: bool) -> None:
        from encode_ingest_spark.lake import merge_into

        ctx = self.ctx
        prev = table.current_version()
        with ctx.timed("commit"):
            res = merge_into(table, _events(ctx.spark, ctx.seed, step),
                             source_id="trickle", batch_id=step + 2, mode="mor")
        for k, (_, op, md5) in expect:
            with ctx.timed("lookup"):
                row = table.lookup(dict(zip(KEYS, k)))
            if op == "delete":
                ok = row is None
            else:
                ok = row is not None and hashlib.md5(
                    row["content"].encode()).hexdigest() == md5
            ctx.check(ok, f"lookup {k} after step {step}")
        with ctx.timed("scan"):
            ctx.force(table.read())
        with ctx.timed("changelog"):
            ctx.force(table.read_changes(prev, table.current_version()))
        if check:
            ctx.check(not res.skipped, f"step {step} merge was fence-skipped")

    def verify(self) -> None:
        import pyarrow as pa

        con = oracle.duck(self.ctx)
        preload = _fingerprint(_events(self.ctx.spark, self.ctx.seed, None))
        # the last prepared batch may not have been merged if its step failed
        merged = self.seen[:self.step]
        con.register("events", pa.concat_tables([preload] + merged))
        self.live_rows = oracle.check_latest_per_key(self.ctx, self.table, KEYS,
                                                     con, "events")

    def detail(self) -> dict:
        s = self.ctx.samples
        ms = {k: [1000.0 * x for x in v] for k, v in s.items()}
        commit_tail, commit_pct = tail(ms["commit"])
        lookup_tail, lookup_pct = tail(ms.get("lookup", []))
        return {
            "commit_p50_ms": statistics.median(ms["commit"]),
            "commit_tail_ms": commit_tail, "commit_tail_pct": commit_pct,
            "scan_p50_ms": statistics.median(ms["scan"]),
            "changelog_p50_ms": statistics.median(ms["changelog"]),
            "lookup_p50_ms": statistics.median(ms["lookup"]) if ms.get("lookup") else None,
            "lookup_tail_ms": lookup_tail, "lookup_tail_pct": lookup_pct,
            "ingest_events_per_s": BATCH * len(s["commit"]) / sum(s["commit"]),
            "stored_bytes_per_row": oracle.stored_bytes_per_row(self.table,
                                                                self.live_rows),
        }
