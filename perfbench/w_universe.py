"""universe_epochs: change-driven epochs over the 13-mapper entity universe.

The build bootstraps ``N_EXP`` experiments (with their replicates,
libraries, biosamples, files and analysis chain) into the raw tables
and refreshes every output tree once, which is also the warm-up. Each
operation is one epoch: ``merge_universe_batches`` of the files of
``DIRTY`` experiments plus ``MOVES`` replicate foreign-key moves (which
ones is drawn from the seed), then ``refresh_entity_universe`` ending in
one ``TableGroup`` commit. The check recomputes every output tree with
``transform_all`` over the final raw snapshots and compares rows.
"""

from __future__ import annotations

import random
import statistics

from pyspark.sql import functions as F
from pyspark.sql import types as T

from stats import tail

#: experiments in the bootstrap
N_EXP = 1000
DIRTY = 32
MOVES = 8
BUCKETS = 4


def _sid(prefix: str, col):
    return F.concat(F.lit(prefix), col.cast("string"), F.lit("/"))


def _finish(name: str, df, epoch: int):
    """Align to the raw schema and add the CDC envelope; event_seq
    strictly increases per key across epochs."""
    from encode_ingest_spark.entities.universe import UNIVERSE_SCHEMAS
    from encode_ingest_spark.lake.evolution import align_to_schema

    target = T.StructType([
        T.StructField(f.name, f.dataType, True)
        for f in T._parse_datatype_string(UNIVERSE_SCHEMAS[name]).fields
    ])
    seq = (F.lit(epoch).cast("long") * F.lit(10**9).cast("long")
           + F.abs(F.xxhash64("@id")) % F.lit(10**9).cast("long"))
    return (align_to_schema(df, target).withColumn("op", F.lit("upsert"))
            .withColumn("event_seq", seq))


def _files(spark, keep, epoch: int):
    """File rows (4 per experiment) for the experiments ``keep`` selects."""
    i = F.col("id")
    e = i % N_EXP
    return spark.range(4 * N_EXP).filter(keep(e)).select(
        _sid("/files/F", i).alias("@id"),
        F.when(i % 4 < 2, "raw data").otherwise("alignment").alias("output_category"),
        _sid("/experiments/EX", e).alias("dataset"),
        F.when(i % 4 < 2, F.array(_sid("/biosamples/BS", e))).alias("origin_batches"),
        F.when(i % 4 >= 2, F.array(_sid("/files/F", i - 2))).alias("derived_from"),
        F.when(i % 4 >= 2, _sid("/analysis-step-runs/SR", i)).alias("step_run"),
        F.when(i % 4 >= 2, F.array(F.lit("GRCh38"))).alias("assembly"),
        F.array(F.when(i % 2 == 0, "RNA-seq").otherwise("ChIP-seq"))
        .alias("assay_term_name"),
        (i + F.lit(epoch * 10_000_000)).alias("file_size"),
        F.lit("2020-01-04T00:00:00+00:00").alias("date_created"),
    )


def bootstrap_batches(spark) -> dict:
    i = F.col("id")
    E = N_EXP
    exp = spark.range(E).select(
        _sid("/experiments/EX", i).alias("@id"),
        F.when(i % 2 == 0, "RNA-seq").otherwise("ChIP-seq").alias("assay_term_name"),
        F.concat(F.lit("OBI:"), i.cast("string")).alias("assay_term_id"),
        F.lit("released").alias("status"),
        F.lit("2020-01-01T00:00:00+00:00").alias("date_created"),
        F.array(_sid("/replicates/R", i * 2), _sid("/replicates/R", i * 2 + 1))
        .alias("replicates"),
    )
    reps = spark.range(2 * E).select(
        _sid("/replicates/R", i).alias("@id"),
        _sid("/experiments/EX", F.floor(i / 2)).alias("experiment"),
        _sid("/libraries/LB", i).alias("library"),
    )
    libs = spark.range(2 * E).select(
        _sid("/libraries/LB", i).alias("@id"),
        _sid("/biosamples/BS", i % E).alias("biosample"),
        F.lit("2020-01-02T00:00:00+00:00").alias("date_created"),
        F.concat(F.lit("P"), (i % 5).cast("string")).alias("product_id"),
    )
    bios = spark.range(E).select(
        _sid("/biosamples/BS", i).alias("@id"),
        F.lit("human").alias("organism"),
        F.lit("adult").alias("human_life_stage"),
        _sid("/biosample-types/BT", i % 2).alias("biosample_ontology"),
        F.lit(False).alias("perturbed"),
        F.lit("2020-01-03T00:00:00+00:00").alias("date_created"),
    )
    runs = spark.range(4 * E).filter(i % 4 >= 2).select(
        _sid("/analysis-step-runs/SR", i).alias("@id"),
        _sid("/analysis-step-versions/V", i % 3).alias("analysis_step_version"),
    )
    vers = spark.range(3).select(
        _sid("/analysis-step-versions/V", i).alias("@id"),
        F.concat(F.lit("v1."), i.cast("string")).alias("name"),
        _sid("/analysis-steps/S", i % 2).alias("analysis_step"),
    )
    steps = spark.range(2).select(
        _sid("/analysis-steps/S", i).alias("@id"),
        F.array(_sid("/pipelines/P", i)).alias("pipelines"),
    )
    pipes = spark.range(2).select(
        _sid("/pipelines/P", i).alias("@id"),
        F.array(F.lit("RNA-seq"), F.lit("ChIP-seq")).alias("assay_term_names"),
        F.concat(F.lit("pipeline "), i.cast("string")).alias("title"),
    )
    orgs = spark.createDataFrame([("/organisms/human/", "Homo sapiens")],
                                 "`@id` string, scientific_name string")
    bt = spark.range(2).select(
        _sid("/biosample-types/BT", i).alias("@id"),
        F.when(i == 0, "tissue").otherwise("cell line").alias("classification"),
        F.concat(F.lit("UBERON:"), i.cast("string")).alias("term_id"),
    )
    raw = {
        "experiments": exp, "replicates": reps, "libraries": libs,
        "biosamples": bios, "files": _files(spark, lambda e: F.lit(True), 1),
        "analysis_step_runs": runs, "analysis_step_versions": vers,
        "analysis_steps": steps, "pipelines": pipes, "organisms": orgs,
        "biosample_types": bt,
    }
    return {n: _finish(n, df, 1) for n, df in raw.items()}


def epoch_batches(spark, seed: int, epoch: int) -> dict:
    """The files of ``DIRTY`` consecutive experiments change size, and
    ``MOVES`` replicates move to the next experiment; the offsets come
    from (seed, epoch)."""
    rng = random.Random(seed * 100_003 + epoch)
    off, move_off = rng.randrange(N_EXP), rng.randrange(N_EXP)
    i = F.col("id")
    r = (i + move_off) % N_EXP
    reps = spark.range(MOVES).select(
        _sid("/replicates/R", r * 2).alias("@id"),
        _sid("/experiments/EX", (r + 1) % N_EXP).alias("experiment"),
        _sid("/libraries/LB", r * 2).alias("library"),
    )
    files = _files(spark, lambda e: (e - off + N_EXP) % N_EXP < DIRTY, epoch)
    return {"files": _finish("files", files, epoch),
            "replicates": _finish("replicates", reps, epoch)}


def _rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())


class UniverseEpochs:
    #: the bootstrap dominates set-up and runs once; an epoch takes
    #: about 9 s, so a run measures one (the runner's default
    #: ``min_ops``) and the runs' median is the figure compared
    build_reps = 1
    #: the lake fsyncs every manifest, and unlinking a file that has
    #: reached the disk costs tens of ms on a disk mounted with online
    #: discard; the universe's few hundred such files would add about
    #: 20 s to every run, so its 5 MB of tables stay behind
    rm_work = False

    def __init__(self, ctx):
        self.ctx = ctx
        self.epoch = 1
        self.batches = None
        self.live_rows = 0

    def _epoch(self) -> None:
        from encode_ingest_spark.entities.universe import (
            merge_universe_batches,
            refresh_entity_universe,
        )

        ctx, e = self.ctx, self.epoch
        g0 = self.group.current_version()
        with ctx.tracer.span("entities.merge_batches"):
            merge_universe_batches(self.universe, self.batches,
                                   source_id="bench", batch_id=e)
        with ctx.tracer.span("entities.refresh") as s:
            res = refresh_entity_universe(ctx.spark, self.universe, self.targets,
                                          self.fv, batch_id=e, group=self.group)
        if s is not None:
            s.attrs["trees_landed"] = sum(1 for r in res.values() if not r.skipped)
        self.fv = {n: t.current_version() for n, t in self.universe.items()}
        ctx.check(self.group.current_version() == g0 + 1,
                  f"epoch {e} did not commit the group once")

    def build(self) -> None:
        from encode_ingest_spark.entities.universe import (
            create_entity_targets,
            create_universe,
        )
        from encode_ingest_spark.lake import TableGroup

        spark, root = self.ctx.spark, self.ctx.path("universe")
        self.universe = create_universe(spark, root + "/raw", num_buckets=BUCKETS)
        self.targets = create_entity_targets(spark, root + "/out",
                                             num_buckets=BUCKETS)
        self.group = TableGroup.create(
            spark, root + "/grp",
            {n: t for n, t in self.targets.items() if not n.startswith("_")})
        self.fv = {n: 0 for n in self.universe}
        self.batches = bootstrap_batches(spark)
        self._epoch()

    def warm(self) -> None:
        """Nothing beyond the build: its bootstrap refresh runs every
        mapper once, and a first incremental epoch after it measured
        within 5% of the next ones."""

    def prepare(self) -> None:
        self.epoch += 1
        self.batches = epoch_batches(self.ctx.spark, self.ctx.seed, self.epoch)

    def op(self) -> None:
        with self.ctx.timed("epoch"):
            self._epoch()
        self.ctx.work_units += 4 * DIRTY + MOVES

    def verify(self) -> None:
        from encode_ingest_spark.entities import transform_all

        want = transform_all(self.ctx.spark,
                             {n: t.read() for n, t in self.universe.items()})
        for name in self.group.tables():
            got = _rows(self.group.read(name))
            self.live_rows += len(got)
            self.ctx.check(got == _rows(want[name]),
                           f"{name}: incremental state != full recompute")

    def detail(self) -> dict:
        s = self.ctx.samples["epoch"]
        epoch_tail, pct = tail(s)
        stored = sum(f.bytes for t in self.group.tables().values()
                     for f in t.current_manifest().files)
        return {
            "epoch_p50_s": statistics.median(s),
            "epoch_tail_s": epoch_tail, "epoch_tail_pct": pct,
            "epochs": len(s),
            "change_rows_per_epoch": 4 * DIRTY + MOVES,
            "stored_bytes_per_row": stored / max(self.live_rows, 1),
        }
