"""Custom PySpark DataSource *writer* (Spark 4 ``DataSourceWriter``):
a sharded JSONL training-export sink with a committed manifest.

Completes the Python DataSource surface next to the RSS *reader*
(`sources/rss_datasource.py`): the reference's write path is
row-at-a-time psycopg2 upserts (`CSV PARSER/gcp_csv.py:159-193`); the
Spark-native form is a task-parallel sink — each partition task
writes one shard and returns a commit message; the driver's
``commit()`` publishes an atomic ``_MANIFEST.json`` naming every
shard with its row count (readers treat manifest-less directories as
uncommitted). ``abort()`` removes the partial shards.

Scale shape: one shard file per partition task, no driver data
movement — the driver sees only O(partitions) commit messages. Shard
count is the upstream partitioning, so the writer inherits whatever
layout (repartition / bucketing) the plan chose.

The round-trip query writes the documents table out, reads the
shards back, and emits an order-insensitive content checksum that
the DuckDB oracle reproduces straight from the source table —
certifying the sink lossless end-to-end (JSON string escaping
included).
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

#: shards the round-trip query writes (the upstream repartition)
N_SHARDS = 4


class ShardCommit(WriterCommitMessage):
    def __init__(self, shard_path: str, n_rows: int):
        self.shard_path = shard_path
        self.n_rows = n_rows


class JsonlShardWriter(DataSourceWriter):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_shards sink requires a 'path' option")
        self.columns = json.loads(options.get("columns_json", "[]"))

    def write(self, iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        shard = os.path.join(self.path, f"shard-{pid:05d}.jsonl")
        n = 0
        with open(shard, "w", encoding="utf-8") as fh:
            for row in iterator:
                d = row.asDict(recursive=True)
                if self.columns:
                    d = {c: d[c] for c in self.columns}
                fh.write(json.dumps(d, ensure_ascii=False, sort_keys=True))
                fh.write("\n")
                n += 1
        return ShardCommit(shard, n)

    def commit(self, messages):
        shards = sorted(
            ({"path": m.shard_path, "n_rows": m.n_rows} for m in messages),
            key=lambda s: s["path"],
        )
        manifest = {
            "shards": shards,
            "n_rows": sum(m.n_rows for m in messages),
        }
        tmp = os.path.join(self.path, "_MANIFEST.json.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, os.path.join(self.path, "_MANIFEST.json"))

    def abort(self, messages):
        for m in messages:
            try:
                os.remove(m.shard_path)
            except OSError:
                pass


class ShardPartition(InputPartition):
    def __init__(self, shard_path: str):
        self.shard_path = shard_path


class JsonlManifestReader(DataSourceReader):
    """Manifest-committed reader: plans ONE partition per shard named
    in ``_MANIFEST.json`` and reads nothing else.  Orphan shard files
    (a crashed task's leftovers, a concurrent uncommitted write) are
    invisible — the reader honors the sink's commit protocol, which a
    plain directory-glob ``spark.read.json`` cannot."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_shards reader requires a 'path' option")

    def partitions(self) -> list[InputPartition]:
        with open(
            os.path.join(self.path, "_MANIFEST.json"), encoding="utf-8"
        ) as fh:
            manifest = json.load(fh)
        return [ShardPartition(s["path"]) for s in manifest["shards"]]

    def read(self, partition: ShardPartition):
        with open(partition.shard_path, encoding="utf-8") as fh:
            for line in fh:
                d = json.loads(line)
                yield (d.get("doc_id"), d.get("lang"), d.get("text"))


class JsonlShardDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonl_shards"

    def schema(self) -> str:
        return "doc_id long, lang string, text string"

    def writer(self, schema: StructType, overwrite: bool) -> JsonlShardWriter:
        return JsonlShardWriter(self.options)

    def reader(self, schema: StructType) -> JsonlManifestReader:
        return JsonlManifestReader(self.options)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return JsonlStreamShardWriter(self.options)


def pyds_jsonl_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents through the custom sink, read the shards back,
    and emit exact lossless-ness evidence: row count, distinct docs,
    total chars, and an order-insensitive md5-based content sum."""
    import shutil

    from ..io import sink_dir, table
    from ..operators.dedup import _hex8_sql  # noqa: F401  (oracle twin below)

    spark.dataSource.register(JsonlShardDataSource)

    out_dir = sink_dir(sf_dir, "pyds_jsonl_sink_roundtrip")
    shutil.rmtree(out_dir, ignore_errors=True)

    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    (
        d.repartition(N_SHARDS)
        .write.format("jsonl_shards")
        .option("path", out_dir)
        .option("columns_json", json.dumps(["doc_id", "lang", "text"]))
        .mode("append")
        .save()
    )
    assert os.path.exists(os.path.join(out_dir, "_MANIFEST.json"))

    # pathGlobFilter (not a glob in the path) keeps the FileStreamSink
    # metadata probe off the raw glob string — no spurious WARN
    back = (
        spark.read.schema("doc_id long, lang string, text string")
        .option("pathGlobFilter", "shard-*.jsonl")
        .json(out_dir)
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("n_chars_total"),
        # coalesce each field to an explicit sentinel: concat_ws
        # SKIPS nulls while the oracle's || PROPAGATES them (dropping
        # the row from the sum) — identical NULL handling by
        # construction instead of silent divergence on a future
        # fixture with NULL lang/text
        F.sum(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.coalesce(F.col("doc_id").cast("string"), F.lit("<null>")),
                            F.coalesce("lang", F.lit("<null>")),
                            F.coalesce("text", F.lit("<null>")),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
        )
        .cast("long")
        .alias("content_sum"),
    )


def _roundtrip_oracle() -> str:
    from ..operators.dedup import _hex8_sql

    h = _hex8_sql(
        "md5(coalesce(CAST(doc_id AS VARCHAR), '<null>') || '|' "
        "|| coalesce(lang, '<null>') || '|' || coalesce(text, '<null>'))",
        1,
    )
    return f"""
SELECT count(*) AS n_rows,
       count(DISTINCT doc_id) AS n_docs,
       CAST(sum(len(text)) AS BIGINT) AS n_chars_total,
       CAST(sum({h}) AS BIGINT) AS content_sum
FROM documents
"""


PYDS_ROUNDTRIP_ORACLE = _roundtrip_oracle()


def pyds_manifest_reader_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents through the custom sink, plant an ORPHAN shard
    file the manifest does not name, then read back through the
    custom manifest reader.  The checksum equals the source table's
    only if the reader honors the commit protocol — a glob read
    would ingest the orphan and fail the hash."""
    import shutil

    from ..io import sink_dir, table

    spark.dataSource.register(JsonlShardDataSource)

    out_dir = sink_dir(sf_dir, "pyds_manifest_reader_roundtrip")
    shutil.rmtree(out_dir, ignore_errors=True)

    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    (
        d.repartition(N_SHARDS)
        .write.format("jsonl_shards")
        .option("path", out_dir)
        .option("columns_json", json.dumps(["doc_id", "lang", "text"]))
        .mode("append")
        .save()
    )
    # the orphan: a well-formed shard a crashed/uncommitted task left
    # behind — present on disk, absent from the manifest
    with open(os.path.join(out_dir, "shard-99999.jsonl"), "w", encoding="utf-8") as fh:
        fh.write('{"doc_id": 999999999, "lang": "xx", "text": "orphan row"}\n')

    back = (
        spark.read.format("jsonl_shards").option("path", out_dir).load()
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("n_chars_total"),
        F.sum(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.coalesce(F.col("doc_id").cast("string"), F.lit("<null>")),
                            F.coalesce("lang", F.lit("<null>")),
                            F.coalesce("text", F.lit("<null>")),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
        )
        .cast("long")
        .alias("content_sum"),
    )


class JsonlStreamShardWriter(DataSourceStreamWriter):
    """Streaming half of the sink (Spark 4 ``DataSourceStreamWriter``):
    per micro-batch, each partition task writes one uniquely-named
    shard and returns its commit message; the driver's
    ``commit(messages, batchId)`` publishes ``_BATCH-<id>.json``
    naming that epoch's shards — readers take the union of batch
    manifests, so partially-written epochs (abort path deletes their
    shards) are never visible.  Exactly-once composes from this
    manifest protocol + the file source's checkpointed offsets."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_shards stream sink requires 'path'")
        self.columns = json.loads(options.get("columns_json", "[]"))

    def write(self, iterator):
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        shard = os.path.join(
            self.path, f"epoch-shard-{pid:05d}-{uuid.uuid4().hex[:8]}.jsonl"
        )
        n = 0
        with open(shard, "w", encoding="utf-8") as fh:
            for row in iterator:
                d = row.asDict(recursive=True)
                if self.columns:
                    d = {c: d[c] for c in self.columns}
                fh.write(json.dumps(d, ensure_ascii=False, sort_keys=True))
                fh.write("\n")
                n += 1
        return ShardCommit(shard, n)

    def commit(self, messages, batchId):
        shards = sorted(
            (
                {"path": m.shard_path, "n_rows": m.n_rows}
                for m in messages
                if m is not None
            ),
            key=lambda s: s["path"],
        )
        manifest = {
            "batch_id": batchId,
            "n_shards": len(shards),
            "n_rows": sum(s["n_rows"] for s in shards),
            "shards": shards,
        }
        tmp = os.path.join(self.path, f"._BATCH-{batchId}.json.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(self.path, f"_BATCH-{batchId}.json"))

    def abort(self, messages, batchId):
        for m in messages:
            if m is not None and os.path.exists(m.shard_path):
                os.remove(m.shard_path)


def committed_stream_shards(out_dir: str) -> list[str]:
    """Union of every batch manifest's shard paths — the reader-side
    half of the streaming commit protocol (orphans invisible)."""
    import glob as _glob

    shards: list[str] = []
    for mf in sorted(_glob.glob(os.path.join(out_dir, "_BATCH-*.json"))):
        with open(mf, encoding="utf-8") as fh:
            shards.extend(s["path"] for s in json.load(fh)["shards"])
    return shards


def pyds_stream_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the events stream into the custom STREAMING sink, plant
    an orphan shard (a crashed epoch's leftover), read back only the
    batch-manifest-committed shards, and certify conservation against
    the source table — the streaming writer quadrant of the Python
    DataSource surface (reader/writer × batch/streaming)."""
    import shutil

    from ..io import sink_dir
    from ..streaming.pipelines import events_stream

    spark.dataSource.register(JsonlShardDataSource)

    out_dir = sink_dir(sf_dir, "pyds_stream_sink_roundtrip")
    shutil.rmtree(out_dir, ignore_errors=True)

    s = events_stream(spark, sf_dir).select(
        F.col("event_id").alias("doc_id"),
        F.col("event_type").alias("lang"),
        F.col("props").alias("text"),
    )
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            s.writeStream.format("jsonl_shards")
            .option("path", out_dir)
            .option("columns_json", json.dumps(["doc_id", "lang", "text"]))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    with open(
        os.path.join(out_dir, "epoch-shard-99999-orphan.jsonl"),
        "w",
        encoding="utf-8",
    ) as fh:
        fh.write('{"doc_id": 999999999, "lang": "xx", "text": "orphan"}\n')

    shards = committed_stream_shards(out_dir)
    assert shards, "stream sink committed no shards"
    back = spark.read.schema("doc_id long, lang string, text string").json(
        shards
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("n_chars_total"),
        F.sum(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.coalesce(F.col("doc_id").cast("string"), F.lit("<null>")),
                            F.coalesce("lang", F.lit("<null>")),
                            F.coalesce("text", F.lit("<null>")),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
        )
        .cast("long")
        .alias("content_sum"),
    )


def _stream_roundtrip_oracle() -> str:
    from ..operators.dedup import _hex8_sql

    h = _hex8_sql(
        "md5(coalesce(CAST(event_id AS VARCHAR), '<null>') || '|' "
        "|| coalesce(event_type, '<null>') || '|' || coalesce(props, '<null>'))",
        1,
    )
    return f"""
SELECT count(*) AS n_rows,
       count(DISTINCT event_id) AS n_docs,
       CAST(sum(len(props)) AS BIGINT) AS n_chars_total,
       CAST(sum({h}) AS BIGINT) AS content_sum
FROM events
"""


PYDS_STREAM_ROUNDTRIP_ORACLE = _stream_roundtrip_oracle()


QUERIES = {
    "pyds_jsonl_sink_roundtrip": pyds_jsonl_sink_roundtrip,
    "pyds_manifest_reader_roundtrip": pyds_manifest_reader_roundtrip,
    "pyds_stream_sink_roundtrip": pyds_stream_sink_roundtrip,
}

ORACLES = {
    "pyds_jsonl_sink_roundtrip": PYDS_ROUNDTRIP_ORACLE,
    "pyds_manifest_reader_roundtrip": PYDS_ROUNDTRIP_ORACLE,
    "pyds_stream_sink_roundtrip": PYDS_STREAM_ROUNDTRIP_ORACLE,
}
