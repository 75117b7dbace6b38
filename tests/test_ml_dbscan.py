"""Grid-DBSCAN (``ml_dbscan_grid_clusters``): the driver-side union-find
against the oracle's recursive CTE on a crafted ``embeddings`` table whose
cells force merging, and a pin on the query's build jobs.

The testdata tables yield one cluster plus noise, so they never make two
components merge; the fixture here does:
- dense cells that touch only diagonally, both ways;
- a U-shaped chain whose arms join only through the far cell, so the
  min label must propagate across the whole chain;
- an isolated dense cell and a dense pair at negative coordinates;
- sparse cells next to dense ones, one between two dense cells, which
  must not bridge them."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from spark_streaming_practicum_spark.catalog import table
from spark_streaming_practicum_spark.operators.ml import _DB_ENC, _DB_EPS, _DB_OFF
from spark_streaming_practicum_spark.registry import all_queries

from .conftest import SF_DIR, job_count

# cell (cx, cy) -> point count; dense at >= 5
_CELLS = {
    (0, 0): 5, (1, 1): 6,  # diagonal-only touch
    (10, 5): 5, (10, 6): 6, (10, 7): 7, (11, 7): 8, (12, 7): 9, (12, 6): 10, (12, 5): 11,
    (30, 30): 7,  # isolated
    (-5, -4): 5, (-4, -5): 6,  # negative coordinates, anti-diagonal touch
    (20, 0): 5, (21, 0): 4, (22, 0): 5,  # sparse cell between two dense ones
    (2, 2): 3, (40, 40): 1,  # sparse
}


def _cid(cx: int, cy: int) -> int:
    return (cx + _DB_OFF) * _DB_ENC + (cy + _DB_OFF)


def _write_embeddings(path: str) -> None:
    ids, vecs = [], []
    for (cx, cy), c in _CELLS.items():
        for j in range(c):
            # inside the cell, well away from its edges
            x = (cx + 0.3 + 0.05 * j) * _DB_EPS
            y = (cy + 0.6 - 0.05 * j) * _DB_EPS
            ids.append(len(ids))
            vecs.append([x, y, 0.5])
    pq.write_table(
        pa.table({
            "vec_id": pa.array(ids, type=pa.int64()),
            "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
            "label": pa.array([0] * len(ids), type=pa.int32()),
        }),
        path,
    )


def test_dbscan_merges_match_oracle(spark, tmp_path):
    _write_embeddings(str(tmp_path / "embeddings.parquet"))
    d = all_queries()["ml_dbscan_grid_clusters"]
    got = sorted(tuple(r) for r in d.fn(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{tmp_path / 'embeddings.parquet'}')"
        )
        oracle = sorted(con.execute(d.oracle).fetchall())
    finally:
        con.close()
    assert got == oracle
    assert got == sorted([
        (_cid(0, 0), 2, 11),
        (_cid(10, 5), 7, 56),
        (_cid(30, 30), 1, 7),
        (_cid(-5, -4), 2, 11),
        (_cid(20, 0), 1, 5),
        (_cid(22, 0), 1, 5),
        (-1, 3, 8),
    ])


def test_dbscan_build_job_count_pinned(spark):
    """The build collects the resolution-bounded cell counts once and
    does the rest on the driver; with the embeddings schema already
    memoized, building runs at most the collect's two jobs (the
    aggregation's shuffle stage and its result). A persist, an adjacency
    join or a separate noise aggregation creeping back raises it."""
    table(spark, SF_DIR, "embeddings")
    jobs = job_count(spark, lambda: all_queries()["ml_dbscan_grid_clusters"].fn(spark, SF_DIR))
    assert jobs <= 2, f"ml_dbscan_grid_clusters build ran {jobs} jobs, expected <= 2"
