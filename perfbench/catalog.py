"""catalog_sf01: catalog queries materialized through a noop-sink write.

Each query first runs once, untimed, on sf0.01 tables of the same seed
(a first execution is dominated by code generation and JIT compilation,
which the single timed pass of a run would otherwise measure). Passes
over the query list then repeat until the time budget is spent, at
least one; a query's wall is its median over the passes. In the first
pass each result is persisted while it is written, then read back from
the cache and checked against its DuckDB oracle on the same generated
tables (row count, column names and the order-insensitive row hash of
tools/verify_local.py), so no query runs a second time for its check.
"""

from __future__ import annotations

import time

from harness import add_into, median

# One query per layer the catalog leans on; the set is trimmed to fit
# a run of under a minute at sf0.1 on four cores.
QUERIES = [
    "q1_pricing_summary",    # scan + hash aggregate over lineitem, decimal sums
    "q3_shipping_priority",  # joins and exchanges
    "user_rolling_7d",       # sort + range-frame window
    "avro_decode_fold",      # Python boundary: Arrow UDF decodes every document row
    "doc_fingerprint",       # codegen-heavy projection that count() would prune away
]
PROBE = ["user_rolling_7d"]


def materialize(df) -> None:
    """The timed action: every output column of every row is computed."""
    df.write.format("noop").mode("overwrite").save()


def _duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_rows(ctx, con, name: str, scols: list, srows: list, oracle_sql: str) -> None:
    from verify_local import _hash_rows

    if ctx.plant_wrong == f"catalog.{name}":
        srows = srows[1:]
    res = con.execute(oracle_sql)
    dcols, drows = [d[0] for d in res.description], res.fetchall()
    if len(srows) != len(drows):
        raise AssertionError(f"{name}: rowcount spark={len(srows)} duckdb={len(drows)}")
    if sorted(scols) != sorted(dcols):
        raise AssertionError(f"{name}: columns spark={sorted(scols)} duckdb={sorted(dcols)}")
    if _hash_rows(scols, srows) != _hash_rows(dcols, drows):
        raise AssertionError(f"{name}: value hash differs from the DuckDB oracle")


def run(ctx, names: list[str], budget_s: float, passes: int | None = None,
        warm_tables: str | None = None) -> dict:
    """Time `names` pass after pass until `budget_s` is spent (or for
    `passes` passes), at least once. The first pass keeps each result
    cached so that it is checked without running the query again.
    `warm_tables` first runs every query once, untimed, on those (small)
    tables, which compiles the code the timed pass runs."""
    from goconnect_spark.queries import all_oracles, all_queries

    qs, oracles = all_queries(), all_oracles()
    if warm_tables:
        for name in names:
            with ctx.tracer.span(f"queries.warm.{name}"):
                ctx.ops.run(f"catalog.warm.{name}",
                            lambda: materialize(qs[name](ctx.spark, warm_tables)))
        if ctx.plan:
            ctx.plan.collect()  # the warm-up is not part of the profile
    con = _duck(ctx.tables)
    walls: dict[str, list[float]] = {n: [] for n in names}
    t_end = time.time() + budget_s
    done = 0
    while True:
        first = done == 0
        for name in names:
            if not first and not walls[name]:
                continue  # failed or wrong on the first pass
            df = None

            def timed():
                nonlocal df
                df = qs[name](ctx.spark, ctx.tables)
                if first:
                    df = df.persist()
                materialize(df)

            with ctx.tracer.span(f"queries.{name}"):
                t0 = time.perf_counter()
                ok, _ = ctx.ops.run(f"catalog.{name}", timed)
                dt = time.perf_counter() - t0
            if ctx.plan:
                add_into(ctx.exec_acc, ctx.plan.collect())
            if ok and first:
                ok, _ = ctx.ops.run(f"catalog.check.{name}", lambda: check_rows(
                    ctx, con, name, df.columns, [tuple(r) for r in df.collect()], oracles[name]))
                if ctx.plan:
                    ctx.plan.collect()  # the check is not part of the profile
            if first and df is not None:
                df.unpersist()
            if ok:
                walls[name].append(dt)
            else:
                ctx.correct = False
        done += 1
        if (passes is not None and done >= passes) or (passes is None and time.time() >= t_end):
            break
    con.close()
    per_query = {n: median(w) for n, w in walls.items() if w}
    print(f"# catalog walls (s) over {done} passes: "
          f"{ {n: [round(x, 3) for x in w] for n, w in walls.items()} }")
    return {"wall_s": sum(per_query.values()), "per_query": per_query, "passes": done}
