"""pagerank_weights against its DuckDB oracle on exact similarity ties,
and the declared per-group size bound."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as E
import ir_base_spark.ops.pagerank as PR
from tools.check_entry import _canon


def _write_tables(root) -> None:
    """Groups of PR_MIN + 1 and PR_MIN + 3 (ranked), PR_MIN (not) and a
    null source of PR_MIN + 1 (dropped, as the oracle's join drops it).
    Vectors come from a few dyadic patterns, so many dot products tie
    exactly and the neighbor order rests on the (s desc, dst asc) rule;
    one group mixes in float32 noise vectors whose dots need rounding.
    Rows are shuffled so file order is not id order."""
    rng = np.random.default_rng(5)
    patterns = np.array(
        [[0.5, 0.25, 0.0], [0.25, 0.5, 0.0], [0.5, 0.25, 0.0], [0.0, 0.0, 0.75]]
    )
    docs, vecs = [], []
    doc_id = 100
    for src, size, noisy in (
        ("tie", E.PR_MIN + 1, False),
        ("mix", E.PR_MIN + 3, True),
        ("small", E.PR_MIN, False),
        (None, E.PR_MIN + 1, False),
    ):
        for i in range(size):
            if noisy and i % 2:
                v = rng.normal(size=3)
            else:
                v = patterns[rng.integers(len(patterns))]
            docs.append((doc_id, src))
            vecs.append((doc_id, [float(x) for x in np.float32(v)]))
            doc_id += int(rng.integers(1, 4))
    order = rng.permutation(len(docs))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([docs[i][0] for i in order], pa.int64()),
                "source": [docs[i][1] for i in order],
            }
        ),
        root / "documents.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([vecs[i][0] for i in order], pa.int64()),
                "embedding": pa.array(
                    [vecs[i][1] for i in order], pa.list_(pa.float32())
                ),
            }
        ),
        root / "embeddings.parquet",
    )


def test_pagerank_ties_match_oracle(spark, tmp_path):
    _write_tables(tmp_path)
    got = _canon(E.q_pagerank_weights(spark, str(tmp_path)).toPandas())
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet'")
    want = _canon(con.sql(E._pagerank_sql()).df())
    con.close()
    assert set(got["source"]) == {"tie", "mix"}
    assert len(got) == 2 * E.PR_MIN + 4
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_group_above_bound_raises(spark, monkeypatch):
    rows = [
        ("big", i, [float(i % 3), 1.0]) for i in range(12)
    ] + [("small", 100 + i, [1.0, 0.0]) for i in range(3)]
    df = spark.createDataFrame(rows, "grp string, id long, vec array<double>")
    monkeypatch.setattr(PR, "MAX_GROUP_SIZE", 11)
    with pytest.raises(Exception) as err:
        PR.pagerank_instance_weights(df, min_group_size=2).collect()
    assert "'big' has 12 rows, above MAX_GROUP_SIZE=11" in str(err.value)
    assert "ANN candidate seam" in str(err.value)
    # groups at or under min_group_size are never ranked, so never checked
    monkeypatch.setattr(PR, "MAX_GROUP_SIZE", 1)
    assert PR.pagerank_instance_weights(df, min_group_size=12).collect() == []
