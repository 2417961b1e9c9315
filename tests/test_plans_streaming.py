"""Checkpoint/resume, salting, streaming, multimodal plumbing tests."""

import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_checkpointed_write_and_resume(spark, sf_dir):
    from trefoil_spark.plans.checkpointing import checkpointed_write, done_keys

    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "out")
        cp = os.path.join(tmp, "checkpoint")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
            "bucket", (F.col("doc_id") % 4).cast("int")
        )

        # first run: only half the work units "survive" (simulated kill)
        half = docs.filter(F.col("bucket") < 2)
        r1 = checkpointed_write(half, out, cp, "stage1", ["bucket"])
        assert r1["written_keys"] == 2 and r1["skipped_keys"] == 0

        # resume with the FULL input: completed buckets are skipped
        r2 = checkpointed_write(docs, out, cp, "stage1", ["bucket"])
        assert r2["written_keys"] == 2 and r2["skipped_keys"] == 2

        # output complete, no duplicates
        got = spark.read.parquet(out)
        assert got.count() == docs.count()
        assert got.select("doc_id").distinct().count() == docs.count()

        # ledger: per-key row counts + lineage recorded
        ledger = spark.read.parquet(cp)
        assert ledger.count() == 4
        want = {r["bucket"]: r["n"] for r in docs.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()}
        for row in ledger.collect():
            assert row["row_count"] == want[int(row["key"])]
            assert row["n_partitions"] >= 1

        # third run: everything skipped, nothing rewritten
        r3 = checkpointed_write(docs, out, cp, "stage1", ["bucket"])
        assert r3["written_keys"] == 0 and r3["skipped_keys"] == 4
        assert spark.read.parquet(out).count() == docs.count()


def test_salted_aggregation_matches_plain(spark, sf_dir):
    from trefoil_spark.plans.salting import salted_sum_count
    from trefoil_spark.sources.pages import build_pages

    pages = build_pages(spark, sf_dir, with_html=False).withColumn(
        "n_chars", F.length("text")
    )
    # the hot cell cluster is the deliberate skew (20% of rows, one key)
    salted = salted_sum_count(pages, "cell", "n_chars", n_salts=8, salt_source="doc_id")
    plain = pages.groupBy("cell").agg(
        F.sum(F.col("n_chars").cast("double")).alias("sum"),
        F.count(F.lit(1)).alias("count"),
    )
    s = {r["cell"]: (r["sum"], r["count"]) for r in salted.collect()}
    p = {r["cell"]: (r["sum"], r["count"]) for r in plain.collect()}
    assert s == p  # integer-valued doubles → exact


def test_streaming_matches_batch(spark, sf_dir):
    from tests.reference import batch_interval_stats
    from trefoil_spark.streaming.interval import (
        run_available_now,
        streaming_interval_stats,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("ts", "value")
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "stream_src")
        ev.write.parquet(src)
        stream = streaming_interval_stats(
            spark, src, "ts timestamp, value double", window="6 hours"
        )
        got = run_available_now(stream, "t_interval").orderBy("window_start").toPandas()
    want = batch_interval_stats(ev, window="6 hours").orderBy("window_start").toPandas()
    assert len(got) == len(want)
    assert (got["count"] == want["count"]).all()
    assert np.allclose(got["value_sum"], want["value_sum"])


def test_multimodal_plumbing(spark, sf_dir):
    from trefoil_spark.operators.multimodal import (
        attach_fake_media,
        extract_features,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    media = attach_fake_media(docs)
    feats = extract_features(media).collect()
    assert len(feats) == docs.count()
    for r in feats[:5]:
        v = np.array(r["features"])
        assert v.shape == (16,) and abs(v.sum() - 1.0) < 1e-5  # normalized hist

    # determinism: same payload → same features
    f2 = {r["doc_id"]: r["features"] for r in extract_features(media).collect()}
    f1 = {r["doc_id"]: r["features"] for r in feats}
    assert f1 == f2

    # real decoder is an explicit stub
    with pytest.raises(Exception):
        extract_features(media, decoder="real").collect()


def test_streaming_zonal_equals_batch(spark, sf_dir):
    """Stream-static PIP join + running zonal agg == batch twin."""
    import tempfile

    from pyspark.sql import functions as F

    from trefoil_spark.sources.pages import build_pages
    from trefoil_spark.sources.zones import ZONE_LAYER
    from trefoil_spark.streaming.interval import run_available_now
    from tests.reference import batch_zonal_twin
    from trefoil_spark.streaming.zonal import streaming_zonal_stats

    slim = build_pages(spark, sf_dir, with_html=False).select(
        "lon", "lat", F.length("text").cast("bigint").alias("n_chars")
    )
    tmp = tempfile.mkdtemp(prefix="szonal_test_")
    slim.write.mode("overwrite").parquet(tmp)
    stream = streaming_zonal_stats(
        spark, tmp, "lon double, lat double, n_chars bigint", ZONE_LAYER
    )
    got = {
        r["zone_value"]: (r["count"], r["value_sum"])
        for r in run_available_now(stream, "t_szonal").collect()
    }
    want = {
        r["zone_value"]: (r["count"], r["value_sum"])
        for r in batch_zonal_twin(slim, ZONE_LAYER).collect()
    }
    assert got == want and len(got) >= 2
