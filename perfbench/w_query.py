"""query_suite: the nine read-only headline queries to the noop sink.

This is the operators/functions layer with no lake writes, the bypass
workload for every write-path change. The build writes the seeded
tables (``querydata``); the warm-up is one pass, which fills the
suite's scan memo and is reported apart as ``suite_memo_fill_s``. Each
operation is one warm pass: for every query, the
``QUERIES[name](spark, dir)`` call (plan build) and then its noop write
(execution). The check compares
each query's rows with its DuckDB oracle in ``suite.ORACLES`` under the
oracle-parity test's normalization, exactly, except for
``t3_quality_score``: its scores are rounded to four decimals, and a
value on a round-half edge may round the other way on each engine, so
there a double that differs by at most one unit in the fourth decimal
counts as equal and is reported in ``tolerance_hits``.
"""

from __future__ import annotations

import datetime
import decimal
import math
import shutil
import statistics
import time

import oracle
import querydata
from layers import SUITE_QUERIES

TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem",
          "events", "documents", "embeddings"]
#: the one query whose doubles may sit on a round-half edge
ROUND_HALF_QUERY = "t3_quality_score"
#: absolute slack for a double rounded to 4 decimals on one engine and
#: landing on the other side of a half on the other
ROUND_HALF_SLACK = 1.5e-4
#: scale factor of the generated tables
SF = 0.1


def _norm(v):
    if v is None:
        return ("_none", "")
    if isinstance(v, bool):
        return ("b", str(v))
    if isinstance(v, int):
        return ("i", str(v))
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else v)
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("d", v.isoformat())
    return ("o", str(v))


def _rows(cols, data) -> list[tuple]:
    """Columns in name order; rows ordered by their non-double values
    first, so a last-digit double difference cannot reorder them."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in data]
    return sorted(rows, key=lambda r: (
        tuple(x for x in r if x[0] != "f"), tuple(str(x[1]) for x in r if x[0] == "f")))


def _close(a, b) -> bool:
    return (a[0] == b[0] == "f" and isinstance(a[1], float) and isinstance(b[1], float)
            and abs(a[1] - b[1]) <= max(ROUND_HALF_SLACK, 1e-12 * abs(a[1])))


class QuerySuite:
    build_reps = 3
    #: a pass takes about 3 s; one pass alone would be a run's whole
    #: figure
    min_ops = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = ctx.path("sf")
        self.fill_s = 0.0
        self.tolerance_hits: list[str] = []

    def build(self) -> None:
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        querydata.write_tables(self.sf_dir, self.ctx.seed, SF)

    def warm(self) -> None:
        """One pass over the final tables; it fills the scan memo."""
        t = time.perf_counter()
        self._pass()
        self.fill_s = time.perf_counter() - t

    def _pass(self) -> None:
        from encode_ingest_spark.suite import QUERIES

        ctx = self.ctx
        for q in SUITE_QUERIES:
            with ctx.timed(f"suite.{q}.plan"):
                df = QUERIES[q](ctx.spark, self.sf_dir)
            with ctx.timed(f"suite.{q}.exec"):
                ctx.force(df)

    def prepare(self) -> None:
        pass

    def op(self) -> None:
        with self.ctx.timed("pass"):
            self._pass()
        self.ctx.work_units += len(SUITE_QUERIES)

    def verify(self) -> None:
        from encode_ingest_spark.suite import ORACLES, QUERIES

        con = oracle.duck(self.ctx)
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')")
        for q in SUITE_QUERIES:
            sdf = QUERIES[q](self.ctx.spark, self.sf_dir)
            got = _rows(sdf.columns, [tuple(r) for r in sdf.collect()])
            res = con.execute(ORACLES[q])
            want = _rows([d[0] for d in res.description], res.fetchall())
            ok = sorted(sdf.columns) == sorted(d[0] for d in res.description)
            ok = ok and len(got) == len(want)
            edge = False
            for a, b in zip(got, want) if ok else []:
                for x, y in zip(a, b):
                    if x != y:
                        edge = True
                        ok = ok and q == ROUND_HALF_QUERY and _close(x, y)
            if ok and edge:
                self.tolerance_hits.append(q)
            self.ctx.check(ok, f"{q}: rows differ from the DuckDB oracle")

    def detail(self) -> dict:
        s = self.ctx.samples
        out = {
            "suite_s": statistics.median(s["pass"]),
            "suite_memo_fill_s": self.fill_s,
            "tolerance_hits": self.tolerance_hits,
        }
        for q in SUITE_QUERIES:
            out[f"{q}.exec_p50_ms"] = 1000.0 * statistics.median(s[f"suite.{q}.exec"])
        return out
