"""Custom PySpark DataSource tests (SURVEY §2.1 S5): batch reader,
streaming reader, row-group partitioning, network-mode gating."""

from __future__ import annotations

import pytest

from fxblue_etl_spark.sources.rss_datasource import (
    RssFeedDataSource,
    fake_entry,
    fake_entry_count,
)


@pytest.fixture(scope="module")
def registry(tmp_path_factory):
    """A 20-account registry parquet in 4 row groups (6 + 6 + 6 + 2)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path_factory.mktemp("registry") / "registry.parquet")
    pq.write_table(
        pa.table(
            {
                "account_id": [str(i) for i in range(20)],
                "rss_url": [f"https://x/feed/u{i}" for i in range(20)],
            }
        ),
        path,
        row_group_size=6,
    )
    return path


def _fake_feed(n_accounts: int = 20) -> list[tuple]:
    return sorted(
        fake_entry(str(a), i)
        for a in range(n_accounts)
        for i in range(fake_entry_count(a))
    )


def _batch(spark, registry, **opts):
    spark.dataSource.register(RssFeedDataSource)
    r = spark.read.format("fxblue_rss").option("registry_path", registry)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_batch_scan_matches_fake_feed(spark, registry):
    rows = _batch(spark, registry).collect()
    assert len(rows) == sum(fake_entry_count(i) for i in range(20))
    got = {(r.account_id, r.entry_idx): tuple(r) for r in rows}
    assert got[("7", 1)] == fake_entry("7", 1)
    # snapshot rows carry no position fields and vice versa
    snap = [r for r in rows if r.entry_idx % 3 == 0]
    assert all(r.position_ticket is None and r.account_balance is not None for r in snap)


def test_stream_equals_batch(spark, registry):
    from fxblue_etl_spark.streaming.pipelines import run_to_table

    spark.dataSource.register(RssFeedDataSource)
    s = (
        spark.readStream.format("fxblue_rss")
        .option("registry_path", registry)
        .load()
    )
    out = run_to_table(s, "append")
    batch = _batch(spark, registry)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def test_registry_path_matches_fake_feed_and_plans_per_row_group(spark, registry):
    """Path-backed registry: every account's fake feed, with one input
    partition per parquet row group and no driver-side account
    materialization, in the batch and the streaming reader."""
    from fxblue_etl_spark.streaming.pipelines import run_to_table

    df = _batch(spark, registry)
    assert df.rdd.getNumPartitions() == 4
    assert sorted(map(tuple, df.collect())) == _fake_feed()

    s = spark.readStream.format("fxblue_rss").option("registry_path", registry).load()
    out = run_to_table(s, "append")
    assert sorted(map(tuple, out.collect())) == _fake_feed()


def test_empty_registry_reads_no_rows(spark, tmp_path):
    """A registry Spark wrote from no rows has no row groups: the batch
    reader gets Spark's one ``None`` partition, the stream reader none."""
    import pyarrow.parquet as pq

    from fxblue_etl_spark.streaming.pipelines import run_to_table

    path = str(tmp_path / "empty")
    spark.createDataFrame([], "account_id string, rss_url string").write.parquet(path)
    files = [f for f in (tmp_path / "empty").iterdir() if f.suffix == ".parquet"]
    assert sum(pq.ParquetFile(f).metadata.num_row_groups for f in files) == 0
    assert _batch(spark, path).count() == 0
    s = spark.readStream.format("fxblue_rss").option("registry_path", path).load()
    assert run_to_table(s, "append").count() == 0


def test_registry_path_is_required(spark):
    spark.dataSource.register(RssFeedDataSource)
    with pytest.raises(Exception, match="requires a 'registry_path' option"):
        spark.read.format("fxblue_rss").load().collect()


def test_network_mode_requires_feedparser(spark, registry):
    try:
        import feedparser  # noqa: F401

        pytest.skip("feedparser installed; network path would fetch")
    except ImportError:
        pass
    df = _batch(spark, registry, mode="network")
    with pytest.raises(Exception, match="feedparser"):
        df.collect()


def test_pyds_sink_manifest_and_shards(spark, sf_dir):
    import json
    import os

    from fxblue_etl_spark.io import sink_dir
    from fxblue_etl_spark.sources.pyds_sink import (
        N_SHARDS,
        pyds_jsonl_sink_roundtrip,
    )

    row = pyds_jsonl_sink_roundtrip(spark, sf_dir).collect()[0]
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert row["n_rows"] == row["n_docs"] == n_docs

    out_dir = sink_dir(sf_dir, "pyds_jsonl_sink_roundtrip")
    with open(os.path.join(out_dir, "_MANIFEST.json")) as fh:
        manifest = json.load(fh)
    assert manifest["n_rows"] == n_docs
    assert len(manifest["shards"]) == N_SHARDS
    # every manifest shard exists and the per-shard counts add up
    assert sum(s["n_rows"] for s in manifest["shards"]) == n_docs
    for s in manifest["shards"]:
        assert os.path.exists(s["path"])


def test_stream_sink_per_batch_manifests_and_orphan_invisible(spark, sf_dir, tmp_path):
    """4 micro-batches through the custom streaming sink must publish
    one batch manifest each; the manifest-union read equals the full
    table even with an orphan shard on disk."""
    import json
    import shutil

    from pyspark.sql import functions as F

    from fxblue_etl_spark.io import table
    from fxblue_etl_spark.sources.pyds_sink import (
        JsonlShardDataSource,
        committed_stream_shards,
    )

    spark.dataSource.register(JsonlShardDataSource)
    ev = table(spark, sf_dir, "events").select(
        F.col("event_id").alias("doc_id"),
        F.col("event_type").alias("lang"),
        F.col("props").alias("text"),
    )
    staged = tmp_path / "in4"
    staged.mkdir()
    for i in range(4):
        part = tmp_path / f"s{i}"
        ev.filter(F.col("doc_id") % 4 == i).coalesce(1).write.parquet(str(part))
        (src,) = part.glob("part-*.parquet")
        shutil.copyfile(src, staged / f"{i:02d}.parquet")

    out_dir = str(tmp_path / "sink")
    schema = spark.read.parquet(str(staged)).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(staged))
        .writeStream.format("jsonl_shards")
        .option("path", out_dir)
        .option("columns_json", json.dumps(["doc_id", "lang", "text"]))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    import glob as _glob
    import os

    manifests = sorted(_glob.glob(os.path.join(out_dir, "_BATCH-*.json")))
    assert len(manifests) == 4, manifests
    with open(os.path.join(out_dir, "epoch-shard-zz-orphan.jsonl"), "w") as fh:
        fh.write('{"doc_id": -1, "lang": "xx", "text": "orphan"}\n')

    shards = committed_stream_shards(out_dir)
    back = spark.read.schema("doc_id long, lang string, text string").json(shards)
    assert back.count() == ev.count()
    assert back.filter(F.col("doc_id") == -1).count() == 0
    n_manifest_rows = 0
    for mf in manifests:
        with open(mf) as fh:
            n_manifest_rows += json.load(fh)["n_rows"]
    assert n_manifest_rows == ev.count()
