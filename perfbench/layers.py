"""Per-layer readout: which engine entry points are traced, and how the
spans become the per-layer metrics of a traced run.

Layers are named after the package's modules. Every time and count is
a total over the measured window divided by the number of measured
operations (one drain, compaction cycle, epoch or suite pass), so the layer times of
one workload add up to at most its ``op_p50_ms``-scale operation time.
``MOVES`` records, before any measurement, the end-to-end metric and
workload each layer metric is expected to move. Those named metrics
are printed on each run's ``detail:`` line; the bounded end-to-end
metrics ``op_p50_ms`` and ``work_per_s`` are, on each workload, the
median and the throughput of the same operation (drain, compaction
cycle, epoch or pass), so a move in a named metric shows in them on its workload.
"""

from __future__ import annotations

from collections import defaultdict

from spans import Tracer

#: (metric, unit)
PER_LAYER: list[tuple[str, str]] = [
    ("session.start_s", "s"),
    ("cdc.generate.plan_ms", "ms"),
    ("streaming.batches", "count"),
    ("streaming.trigger_ms", "ms"),
    ("streaming.overhead_ms", "ms"),
    ("lake.merge_into.self_s", "s"),
    ("lake.merge_into.calls", "count"),
    ("lake.merge_into.jobs", "count"),
    ("lake.merge.files_added", "count"),
    ("lake.merge.files_removed", "count"),
    ("lake.merge.bytes_written", "bytes"),
    ("lake.cow.rows_rewritten_per_row_changed", "ratio"),
    ("lake.compactions", "count"),
    ("lake.compact_ms", "ms"),
    ("lake.files_per_bucket_max", "count"),
    ("lake.read.ms", "ms"),
    ("lake.read.files", "count"),
    ("lake.read_changes.ms", "ms"),
    ("lake.read_changes.files", "count"),
    ("lake.read_changes.pruned_frac", "fraction"),
    ("lake.lookup.ms", "ms"),
    ("lake.merge_local_delta.ms", "ms"),
    ("lake.merge_local_delta.calls", "count"),
    ("lake.merge_small_batch.ms", "ms"),
    ("lake.txn.group_commit_ms", "ms"),
    ("entities.refresh.self_s", "s"),
    ("entities.refresh.jobs", "count"),
    ("entities.merge_batches.s", "s"),
    ("entities.trees_landed", "count"),
]

#: the nine headline queries of the query_suite workload
SUITE_QUERIES = [
    "cdc_dedup_latest",
    "cdc_final_state",
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "j2_grouped_left_join",
    "t3_quality_score",
    "d4_minhash_lsh_pairs",
    "s1_cosine_topk",
]
for _q in SUITE_QUERIES:
    PER_LAYER += [(f"suite.{_q}.plan_ms", "ms"), (f"suite.{_q}.exec_ms", "ms")]
PER_LAYER += [("trace.overhead_pct", "%"), ("trace.self_sum_frac", "fraction")]

#: layer metric prefix -> (end-to-end metric it should move, workload)
MOVES = {
    "session.": ("setup_s", "all workloads"),
    "cdc.": ("commit_p50_ms", "trickle_mor_rw"),
    "streaming.": ("ingest_events_per_s", "bulk_cow_stream"),
    "lake.merge_into.": ("ingest_events_per_s / commit_p50_ms",
                         "bulk_cow_stream / trickle_mor_rw"),
    "lake.merge.": ("ingest_events_per_s / commit_p50_ms",
                    "bulk_cow_stream / trickle_mor_rw"),
    "lake.cow.": ("ingest_events_per_s", "bulk_cow_stream"),
    "lake.compact": ("commit_tail_ms, scan_p50_ms", "trickle_mor_rw"),
    "lake.files_per_bucket_max": ("commit_tail_ms, scan_p50_ms", "trickle_mor_rw"),
    "lake.read.": ("scan_p50_ms", "trickle_mor_rw"),
    "lake.read_changes.": ("changelog_p50_ms / epoch_p50_s",
                           "trickle_mor_rw / universe_epochs"),
    "lake.lookup.": ("lookup_p50_ms", "trickle_mor_rw"),
    "lake.merge_local_delta.": ("epoch_p50_s, driver_rss_mb", "universe_epochs"),
    "lake.merge_small_batch.": ("epoch_p50_s, driver_rss_mb", "universe_epochs"),
    "lake.txn.": ("epoch_p50_s", "universe_epochs"),
    "entities.": ("epoch_p50_s", "universe_epochs"),
    "suite.": ("suite_s", "query_suite"),
    "trace.": ("(tracer health, moves nothing)", "all workloads"),
}


def install(tracer: Tracer) -> None:
    """Wrap the traced public entry points. Call after the package is
    imported and before the measured loop."""
    from encode_ingest_spark.cdc import generator
    from encode_ingest_spark.lake import merge, table, txn

    LakeTable = table.LakeTable

    def merge_before(tbl, *a, **kw):
        return tbl.current_version()

    def merge_after(s, v0, res, tbl, *a, **kw):
        if res.skipped:
            return
        old = {f.path for f in tbl.manifest_at(v0).files}
        new = res.manifest.files
        added = [f for f in new if f.path not in old]
        per_bucket: dict[int, int] = {}
        for f in new:
            per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
        s.attrs.update(
            mode=kw.get("mode", "cow"),
            files_per_bucket_max=max(per_bucket.values(), default=0),
            files_added=len(added),
            files_removed=len(old - {f.path for f in new}),
            bytes_written=sum(f.bytes for f in added),
            rows_written=sum(f.rows for f in added),
            rows_changed=sum(res.counts.get(k, 0)
                             for k in ("inserted", "updated", "deleted")),
        )

    def read_after(s, _, df, tbl, version=None, buckets=None, *a, **kw):
        if not isinstance(version, int):
            version = tbl.current_version()
        files = tbl.manifest_at(version).files
        if buckets is not None:
            keep = set(buckets)
            files = [f for f in files if f.bucket in keep]
        s.attrs["files"] = len(files)

    def changes_after(s, _, df, tbl, from_version, to_version=None, *a, **kw):
        to_v = tbl.current_version() if to_version is None else to_version
        m_to = tbl.manifest_at(to_v)
        changed = tbl.changed_buckets(from_version, to_v)
        keep = set(range(m_to.num_buckets) if changed is None else changed)
        s.attrs["files"] = sum(
            1 for m in (tbl.manifest_at(from_version), m_to)
            for f in m.files if f.bucket in keep
        )
        s.attrs["pruned_frac"] = 1.0 - len(keep) / m_to.num_buckets

    tracer.wrap_function(generator.repo_file_events, "cdc.generate")
    tracer.wrap_function(merge.merge_into, "lake.merge_into",
                         before=merge_before, after=merge_after)
    tracer.wrap_function(merge.merge_local_delta, "lake.merge_local_delta")
    tracer.wrap_function(merge.merge_small_batch, "lake.merge_small_batch")
    tracer.wrap_method(LakeTable, "compact_deltas", "lake.compact")
    tracer.wrap_method(LakeTable, "read", "lake.read", after=read_after)
    tracer.wrap_method(LakeTable, "read_changes", "lake.read_changes",
                       after=changes_after)
    tracer.wrap_method(LakeTable, "lookup", "lake.lookup")
    tracer.wrap_method(txn.TableGroup, "commit", "lake.txn.group_commit")


def readout(tracer: Tracer, t0: float, t1: float, n_ops: int,
            extra: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics of one traced run; ``extra`` carries the values
    the workload measured itself (session start, streaming progress)."""
    spans = [s for s in tracer.spans if s.start >= t0 and s.end <= t1]
    self_s = tracer.self_times(t0, t1)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s.name].append(s)
    n = max(n_ops, 1)

    def self_ms(name):
        return 1000.0 * self_s.get(name, 0.0) / n

    def total(name, attr):
        return sum(s.attrs.get(attr, 0) for s in by_name[name]) / n

    merges = by_name["lake.merge_into"]
    cow = [s for s in merges if s.attrs.get("mode") == "cow"]
    changed = sum(s.attrs.get("rows_changed", 0) for s in cow)
    changes = by_name["lake.read_changes"]
    refresh = by_name["entities.refresh"]
    out = {
        "cdc.generate.plan_ms": self_ms("cdc.generate"),
        "lake.merge_into.self_s": self_ms("lake.merge_into") / 1000.0,
        "lake.merge_into.calls": len(merges) / n,
        "lake.merge_into.jobs": sum(s.jobs for s in merges) / n,
        "lake.merge.files_added": total("lake.merge_into", "files_added"),
        "lake.merge.files_removed": total("lake.merge_into", "files_removed"),
        "lake.merge.bytes_written": total("lake.merge_into", "bytes_written"),
        "lake.cow.rows_rewritten_per_row_changed": (
            sum(s.attrs.get("rows_written", 0) for s in cow) / changed
            if changed else 0.0
        ),
        "lake.compactions": len(by_name["lake.compact"]) / n,
        "lake.compact_ms": self_ms("lake.compact"),
        "lake.files_per_bucket_max": max(
            (s.attrs.get("files_per_bucket_max", 0) for s in merges), default=0),
        "lake.read.ms": self_ms("lake.read"),
        "lake.read.files": total("lake.read", "files"),
        "lake.read_changes.ms": self_ms("lake.read_changes"),
        "lake.read_changes.files": total("lake.read_changes", "files"),
        "lake.read_changes.pruned_frac": (
            sum(s.attrs.get("pruned_frac", 0.0) for s in changes) / len(changes)
            if changes else 0.0
        ),
        "lake.lookup.ms": self_ms("lake.lookup"),
        "lake.merge_local_delta.ms": self_ms("lake.merge_local_delta"),
        "lake.merge_local_delta.calls": len(by_name["lake.merge_local_delta"]) / n,
        "lake.merge_small_batch.ms": self_ms("lake.merge_small_batch"),
        "lake.txn.group_commit_ms": self_ms("lake.txn.group_commit"),
        "entities.refresh.self_s": self_ms("entities.refresh") / 1000.0,
        "entities.refresh.jobs": sum(s.jobs for s in refresh) / n,
        "entities.merge_batches.s": self_ms("entities.merge_batches") / 1000.0,
        "entities.trees_landed": total("entities.refresh", "trees_landed"),
        "trace.overhead_pct": 100.0 * tracer.overhead_s / (t1 - t0),
        "trace.self_sum_frac": sum(self_s.values()) / (t1 - t0),
    }
    for q in SUITE_QUERIES:
        out[f"suite.{q}.plan_ms"] = self_ms(f"suite.{q}.plan")
        out[f"suite.{q}.exec_ms"] = self_ms(f"suite.{q}.exec")
    out.update(extra)
    return {name: float(out.get(name, 0.0)) for name, _ in PER_LAYER}
