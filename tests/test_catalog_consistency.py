"""Catalog bookkeeping invariants — the structures the driver's
certification gate depends on must stay mutually consistent.
No Spark session needed; pure registry checks."""


def test_driver_order_is_oldest_certificate_first():
    # the driver verifies a capped prefix of __spark_entry__.queries()
    # each round; the order is computed from the committed
    # CORRECTNESS_r*.json ledgers, so it must hold exactly the
    # registry's names, put the oldest cohort first (r12 at this
    # ledger) and the most recently verified one (r15) last
    import json
    from pathlib import Path

    import __spark_entry__
    from goconnect_spark.queries import ALL_MODULES

    registry = set()
    for m in ALL_MODULES:
        registry |= m.QUERIES.keys()
    order = list(__spark_entry__.queries())
    assert len(order) == len(registry) and set(order) == registry

    def passing(rnd):
        path = Path(__spark_entry__.__file__).parent / f"CORRECTNESS_r{rnd}.json"
        return {
            n for n, e in json.loads(path.read_text()).items()
            if e["rows_match"] and e["schema_match"] and e["hash_match"]
            and e["err"] is None
        }

    later = passing(13) | passing(14) | passing(15)
    r12 = (passing(12) & registry) - later
    assert len(r12) == 39
    assert set(order[:39]) == r12
    r15 = passing(15) & registry
    assert set(order[-len(r15):]) == r15


def test_every_query_has_an_oracle():
    # since round 7 the catalog is 100% oracle-gated; a new entry
    # without a DuckDB twin reverts the driver gate to rows-only
    from goconnect_spark.queries import all_oracles, all_queries

    qs, os_ = all_queries(), all_oracles()
    assert set(qs) == set(os_), set(qs) ^ set(os_)


def test_bench_headline_names_resolve():
    import bench
    from goconnect_spark.queries import all_queries

    qs = all_queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, missing
    assert set(bench.HEADLINE31) <= set(bench.HEADLINE)
