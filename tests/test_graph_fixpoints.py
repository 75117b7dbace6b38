"""The nation-graph fixpoints that run on the driver: oracle parity on a
crafted lake, and pins on what building them costs.

The testdata lakes trade along nearly every lane, so they never exercise
the node-set edge cases the driver-side fixpoints must keep. The lake
here (10 nations) does:
- a nation with no lanes (ROMANIA, 9);
- a self-lane that must count twice in the symmetrized weights
  (CHINA, 3: its self-lane outweighs its one lane to BRAZIL only when
  counted twice);
- sink nations with in-lanes only (JAPAN 5, FRANCE 8);
- nations unreachable from nation 0 (3, 6, 7, 8, 9);
- an LPA weight tie that the smaller label must win (FRANCE hears EGYPT
  6 and INDIA 7 with equal weight in round 1; the winner reaches EGYPT's
  and INDIA's final labels in round 2);
- a k-core node that drops only in round 2 (JAPAN 5, once its degree-2
  neighbors 6 and 7 are gone);
- a DAG chain of depth 4 (0 -> 1 -> 2 -> 4 -> 5). It is also the
  cheapest path to JAPAN, which SSSP's 3 synchronous rounds must not
  reach: they settle JAPAN on the cheapest path of at most 3 lanes."""

from __future__ import annotations

import inspect
import pathlib

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from spark_streaming_practicum_spark.catalog import table
from spark_streaming_practicum_spark.operators import graph
from spark_streaming_practicum_spark.registry import all_queries

from .conftest import SF_DIR, job_count
from .test_oracle_parity import _canon_frame, spark_frame

_NAMES = {
    0: "KENYA", 1: "BRAZIL", 2: "PERU", 3: "CHINA", 4: "ALGERIA",
    5: "JAPAN", 6: "EGYPT", 7: "INDIA", 8: "FRANCE", 9: "ROMANIA",
}
# (customer nation, supplier nation, lineitems)
_LANES = [
    (0, 1, 5), (0, 2, 2), (0, 4, 1), (1, 2, 5), (1, 4, 1), (2, 4, 10),
    (4, 5, 3), (3, 3, 2), (3, 1, 3), (6, 5, 1), (7, 5, 1), (6, 8, 2), (7, 8, 2),
]
_TABLES = ("nation", "customer", "supplier", "orders", "lineitem")

# The queries that collect the lanes and iterate on the driver.
FIXPOINTS = [
    "graph_pagerank_trade",
    "graph_label_propagation",
    "graph_modularity_score",
    "graph_sssp_bellman_ford",
    "graph_kcore_peel",
    "graph_topo_layers",
    "graph_hits_hubs_authorities",
    "graph_katz_centrality",
]


def _write_lake(d: pathlib.Path) -> None:
    keys = sorted(_NAMES)
    i64, i32 = pa.int64(), pa.int32()
    tables = {
        "nation": {
            "n_nationkey": pa.array(keys, i32),
            "n_name": pa.array([_NAMES[k] for k in keys]),
            "n_regionkey": pa.array([0] * len(keys), i32),
        },
        # one customer (100 + k) and one supplier (200 + k) per nation
        "customer": {
            "c_custkey": pa.array([100 + k for k in keys], i64),
            "c_nationkey": pa.array(keys, i32),
        },
        "supplier": {
            "s_suppkey": pa.array([200 + k for k in keys], i64),
            "s_nationkey": pa.array(keys, i32),
        },
        # one order per lane, holding the lane's lineitems
        "orders": {
            "o_orderkey": pa.array(range(1, len(_LANES) + 1), i64),
            "o_custkey": pa.array([100 + s for s, _, _ in _LANES], i64),
        },
        "lineitem": {
            "l_orderkey": pa.array(
                [i for i, (_, _, w) in enumerate(_LANES, 1) for _ in range(w)], i64
            ),
            "l_suppkey": pa.array([200 + d for _, d, w in _LANES for _ in range(w)], i64),
        },
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), d / f"{name}.parquet")


@pytest.fixture(scope="module")
def lake(tmp_path_factory):
    d = tmp_path_factory.mktemp("trade_lake")
    _write_lake(d)
    con = duckdb.connect()
    for t in _TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d / t}.parquet')")
    yield str(d), con
    con.close()


@pytest.mark.parametrize(
    "name", FIXPOINTS + ["graph_triangle_count", "graph_mst_boruvka_round"]
)
def test_crafted_lake_matches_oracle(name, spark, lake):
    sf_dir, con = lake
    d = all_queries()[name]
    got_cols, got = _canon_frame(spark_frame(d.fn(spark, sf_dir)))
    want_cols, want = _canon_frame(con.execute(d.oracle).df())
    assert got_cols == want_cols
    assert got == want


def _rows(spark, sf_dir, name) -> list[tuple]:
    return [tuple(r) for r in all_queries()[name].fn(spark, sf_dir).collect()]


def test_crafted_lake_exercises_the_edge_cases(spark, lake):
    """The fixture keeps its cases: a broken lake would let the oracle
    comparison pass on nothing."""
    sf_dir, _ = lake
    assert dict(_rows(spark, sf_dir, "graph_topo_layers")) == {
        0: 0, 1: 1, 2: 2, 4: 3, 5: 4, 6: 0, 7: 0, 8: 1,
    }
    assert dict(_rows(spark, sf_dir, "graph_kcore_peel")) == {
        "ALGERIA": 3, "BRAZIL": 3, "KENYA": 3, "PERU": 3,
    }
    assert dict(_rows(spark, sf_dir, "graph_sssp_bellman_ford")) == {
        "KENYA": 0, "BRAZIL": 200000, "PERU": 400000, "ALGERIA": 500000,
        "JAPAN": 933333,
    }
    lpa = dict(_rows(spark, sf_dir, "graph_label_propagation"))
    assert (lpa["CHINA"], lpa["EGYPT"], lpa["INDIA"], lpa["ROMANIA"]) == (3, 6, 6, 9)
    for name in ("graph_pagerank_trade", "graph_hits_hubs_authorities",
                 "graph_katz_centrality"):
        assert len(_rows(spark, sf_dir, name)) == len(_NAMES), name


@pytest.mark.parametrize("name", FIXPOINTS)
def test_fixpoint_builds_with_the_lane_collect_only(name, spark):
    """With the schemas memoized, building a fixpoint query runs exactly
    the jobs of collecting the trade lanes and, for every fixpoint but
    topological layers (keyed by nationkey), the nation rows. The result
    is rows on the driver: every physical-plan leaf is a
    ``LocalTableScan``, so executing it reads no table again."""
    for t in _TABLES:
        table(spark, SF_DIR, t)
    frames = [graph._trade_lanes(spark, SF_DIR)]
    if name != "graph_topo_layers":
        frames.append(table(spark, SF_DIR, "nation").select("n_nationkey", "n_name"))
    collects = job_count(spark, lambda: [df.collect() for df in frames])
    out = []
    built = job_count(spark, lambda: out.append(all_queries()[name].fn(spark, SF_DIR)))
    assert built == collects, f"{name} build ran {built} jobs, the lane collect runs {collects}"
    leaves = out[0]._jdf.queryExecution().sparkPlan().collectLeaves()
    kinds = {leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())}
    assert kinds == {"LocalTableScanExec"}, kinds


def test_graph_module_pins_nothing_and_collects_once():
    """The fixpoints need no per-step checkpoint, and the only driver
    collect in the module is the bounded lane collect."""
    src = inspect.getsource(graph)
    assert "localCheckpoint(" not in src
    assert src.count(".collect(") == 1
    assert ".collect(" in inspect.getsource(graph._collect)
