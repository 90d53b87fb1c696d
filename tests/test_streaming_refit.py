"""End-to-end Structured Streaming OnlineRanker (StreamingPageRankRefit).

Reference anchors: ``traits.rs:127-148`` (OnlineRanker = per-period
refits) and PRD FR-5 (PageRank: warm-start batch refit only). The test
drives a real file-source stream (maxFilesPerTrigger=1 → two genuine
micro-batches under Trigger.AvailableNow), then pins the streaming
result to the cold batch fixpoint — the same parity contract
test_periods_warm.py checks for the plain warm refit.
"""

from __future__ import annotations

import pytest

from conftest import scores_dict

from propagon_spark.graph import Graph
from propagon_spark.graph.pagerank import pagerank
from propagon_spark.streaming.incremental import StreamingPageRankRefit

P1 = [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)]
P2 = [("c", "d", 2.0), ("d", "a", 1.0), ("b", "d", 1.0)]
SCHEMA = "src string, dst string, weight double"


def _write_one_file(rows, path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src, dst, w = zip(*rows)
    pq.write_table(
        pa.table(
            {
                "src": pa.array(src, pa.string()),
                "dst": pa.array(dst, pa.string()),
                "weight": pa.array(w, pa.float64()),
            }
        ),
        path,
    )


def test_streaming_refit_matches_cold_batch(spark, tmp_path):
    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    # two plain parquet FILES = two micro-batches with maxFilesPerTrigger=1
    _write_one_file(P1, str(src_dir / "batch1.parquet"))
    _write_one_file(P2, str(src_dir / "batch2.parquet"))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    refit = StreamingPageRankRefit(
        spark,
        str(tmp_path / "work"),
        sink="uniform",
        tol=1e-12,
        max_iterations=200,
    )
    q = refit.attach(stream)
    q.awaitTermination(180)
    assert not q.isActive

    assert len(refit.periods) == 2, refit.periods
    assert [p["period"] for p in refit.periods] == [0, 1]
    assert refit.periods[0]["edge_rows"] == 3
    assert refit.periods[1]["edge_rows"] == 6
    assert all(p["converged"] for p in refit.periods)

    cold = pagerank(
        Graph.from_edges(
            spark.createDataFrame(P1 + P2, SCHEMA), weight="weight"
        ),
        sink="uniform",
        tol=1e-12,
        max_iterations=200,
    )
    cs, ws = scores_dict(cold.scores), scores_dict(refit.scores)
    assert set(cs) == set(ws) == {"a", "b", "c", "d"}
    for k in cs:
        assert ws[k] == pytest.approx(cs[k], abs=1e-9)


def test_streaming_refit_direct_replay(spark, tmp_path):
    """process_batch is callable without a stream — the batch replay path
    (reprocessing a bronze table period-by-period uses the same body)."""
    refit = StreamingPageRankRefit(
        spark, str(tmp_path / "w"), sink="uniform", tol=1e-10,
        max_iterations=200,
    )
    refit.process_batch(spark.createDataFrame(P1, SCHEMA), 0)
    first = scores_dict(refit.scores)
    assert set(first) == {"a", "b", "c"}
    # empty micro-batch is a no-op, not a period
    refit.process_batch(spark.createDataFrame([], SCHEMA), 1)
    assert len(refit.periods) == 1
    refit.process_batch(spark.createDataFrame(P2, SCHEMA), 2)
    assert [p["period"] for p in refit.periods] == [0, 2]
    assert set(scores_dict(refit.scores)) == {"a", "b", "c", "d"}
    # the period scores keep the fit's order (score desc, name asc)
    rows = [(-r["score"], r["name"]) for r in refit.scores.collect()]
    assert rows == sorted(rows)
