"""The shared streaming drive (``streaming.source``): drains stop their
query whatever happens, feeds follow the corpus they were built from,
and folded state dirs are pooled rather than kept per run."""

from __future__ import annotations

import os
import tempfile

import pyarrow.parquet as pq
import pytest

from dados_publicos_etl_spark.plans import QUERIES
from dados_publicos_etl_spark.plans import catalog  # noqa: F401
from dados_publicos_etl_spark.streaming import source
from tests.conftest import SF_SMOKE

# catalog queries that start a StreamingQuery (the other ``stream_*``
# names are batch windows over the same table)
_STREAMING = [
    "stream_ann_probe",
    "stream_cdc_upsert",
    "stream_decontaminate_gate",
    "stream_dedup_watermark",
    "stream_histogram_quantile",
    "stream_hll_distinct",
    "stream_kl_drift",
    "stream_late_drop",
    "stream_static_enrich",
    "stream_stream_join",
    "stream_stream_outer_join",
    "stream_topk_windows",
    "stream_true_streaming",
]


def test_drain_stops_query_when_batch_raises(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)

    def boom(_df, _bid):
        raise RuntimeError("batch failed on purpose")

    writer = spark.readStream.schema("id long").parquet(src).writeStream
    with pytest.raises(Exception, match="batch failed on purpose"):
        source.drain(writer.foreachBatch(boom))
    assert spark.streams.active == []


@pytest.mark.parametrize("name", _STREAMING)
def test_streaming_query_leaves_no_active_stream(spark, name):
    QUERIES[name].fn(spark, SF_SMOKE).count()
    assert spark.streams.active == []


def test_cdc_feed_follows_rewritten_corpus(spark, tmp_path):
    """A corpus rewritten under the same path must get a fresh feed,
    not the one built from the old file."""
    events = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    path = str(tmp_path / "events.parquet")
    pq.write_table(events.slice(0, events.num_rows // 2), path)
    QUERIES["stream_cdc_upsert"].fn(spark, str(tmp_path)).collect()

    pq.write_table(events, path)
    out = QUERIES["stream_cdc_upsert"].fn(spark, str(tmp_path))
    got = {r.user_id: r.n_events for r in out.collect()}
    want = {
        r.user_id: r["count"]
        for r in spark.read.parquet(path).groupBy("user_id").count().collect()
    }
    assert got == want


def test_folded_state_dirs_are_pooled(spark):
    """Once the pool for a query is full, further runs add no
    directory under the temp dir, and the last result still reads."""
    keep = source._STATE_DIRS.keep
    fn = QUERIES["stream_hll_distinct"].fn
    for _ in range(keep):
        fn(spark, SF_SMOKE)
    tmp = tempfile.gettempdir()

    def n_dirs() -> int:
        return sum(e.is_dir() for e in os.scandir(tmp))

    before = n_dirs()
    for _ in range(keep):
        last = fn(spark, SF_SMOKE)
    assert n_dirs() == before
    assert last.collect()
