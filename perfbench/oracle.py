"""Independent correctness checks, run after the measured window."""

from __future__ import annotations

from host import cpu_count


def duck(ctx):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{ctx.path('tmp', 'duckdb')}'")
    con.execute(f"SET threads = {cpu_count()}")
    con.execute("SET memory_limit = '2GB'")
    return con


def check_latest_per_key(ctx, table, keys: list[str], con, source: str) -> int:
    """One check: the table's live rows equal the latest event per key of
    ``source`` (a DuckDB relation with ``op``, ``event_seq``, the keys and
    either ``content`` or its ``content_md5``), deletes absent. Returns
    the table's live row count."""
    from pyspark.sql import functions as F

    got = table.read().select(*keys, F.md5("content").alias("h")).toArrow()
    con.register("got", got)
    cols = [c[0] for c in con.execute(f"DESCRIBE {source}").fetchall()]
    h = "content_md5" if "content_md5" in cols else "md5(content)"
    k = ", ".join(f'"{c}"' for c in keys)
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW want AS
        SELECT {k}, {h} AS h FROM {source}
        QUALIFY row_number() OVER (PARTITION BY {k} ORDER BY event_seq DESC) = 1
          AND op <> 'delete'""")
    diff = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got))"
        " + (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want))"
    ).fetchone()[0]
    ctx.check(diff == 0, f"final table differs from latest-per-key in {diff} rows")
    return got.num_rows


def stored_bytes_per_row(table, live_rows: int) -> float:
    files = table.current_manifest().files
    return sum(f.bytes for f in files) / max(live_rows, 1)
