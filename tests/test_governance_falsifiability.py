"""Falsifiability for dq_referential_integrity's ri_ok certificate.

The round-11 mutation pass (scripts/mutation_probe_r12.py, in git history
at 8cabfc2) proved that
NO code flip can falsify ri_ok on the clean testdata lake — n_orphans
is 0 under both the correct predicate and a side-swapped one, so the
strict compare passes either way. The certificate's teeth therefore
need a DATA mutation: this test builds a scratch lake with one orphan
per child->parent relation and pins that each relation's ri_ok flips
FALSE with the right orphan count, while a clean lake reports all TRUE.
(This was the round-12 staged item; executed in round 11.)
"""

from __future__ import annotations

from spark_streaming_practicum_spark.registry import all_queries


def _write_lake(spark, path, orphans: bool) -> str:
    customer = [(1,), (2,)]
    supplier = [(10,), (11,)]
    orders = [(100, 1), (101, 2)]
    lineitem = [(100, 10), (101, 11)]
    if orphans:
        orders.append((102, 99))  # o_custkey 99: no such customer
        lineitem.append((999, 10))  # l_orderkey 999: no such order
        lineitem.append((100, 98))  # l_suppkey 98: no such supplier
    spark.createDataFrame(customer, "c_custkey long").coalesce(1).write.parquet(
        f"{path}/customer.parquet"
    )
    spark.createDataFrame(supplier, "s_suppkey long").coalesce(1).write.parquet(
        f"{path}/supplier.parquet"
    )
    spark.createDataFrame(orders, "o_orderkey long, o_custkey long").coalesce(
        1
    ).write.parquet(f"{path}/orders.parquet")
    spark.createDataFrame(lineitem, "l_orderkey long, l_suppkey long").coalesce(
        1
    ).write.parquet(f"{path}/lineitem.parquet")
    return str(path)


def test_ri_certificate_flips_on_orphaned_lake(spark, tmp_path):
    fn = all_queries()["dq_referential_integrity"].fn

    clean = _write_lake(spark, tmp_path / "clean", orphans=False)
    rows = {r.relation: r for r in fn(spark, clean).collect()}
    assert all(r.ri_ok for r in rows.values())
    assert all(r.n_orphans == 0 for r in rows.values())

    dirty = _write_lake(spark, tmp_path / "dirty", orphans=True)
    rows = {r.relation: r for r in fn(spark, dirty).collect()}
    assert not rows["orders->customer"].ri_ok
    assert rows["orders->customer"].n_orphans == 1
    assert not rows["lineitem->orders"].ri_ok
    assert rows["lineitem->orders"].n_orphans == 1
    assert not rows["lineitem->supplier"].ri_ok
    # the orphan-order row (999, 10) has a VALID supplier; only (100, 98)
    # is a supplier orphan
    assert rows["lineitem->supplier"].n_orphans == 1
