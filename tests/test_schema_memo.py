"""``io.table`` infers a fixture table's parquet schema once per
session: a later scan passes the memoized schema to the reader and
starts no Spark job, while a rewritten table, another schema conf or
another session infers afresh."""

from __future__ import annotations

import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from fxblue_etl_spark.io import drain_all, table


def _jobs(spark, fn) -> int:
    """The number of Spark jobs ``fn()`` starts, read from the
    status tracker under a job group of its own."""
    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _fixture(src_dir: str, dst) -> str:
    dst.mkdir()
    shutil.copy(f"{src_dir}/documents.parquet", dst / "documents.parquet")
    return str(dst)


def test_second_scan_starts_no_job(spark, sf_dir, tmp_path):
    d = _fixture(sf_dir, tmp_path / "fx")
    assert _jobs(spark, lambda: table(spark, d, "documents")) >= 1
    assert _jobs(spark, lambda: table(spark, d, "documents")) == 0
    # the memoized read still scans the file
    want = pq.read_table(f"{d}/documents.parquet").num_rows
    assert table(spark, d, "documents").count() == want


def test_rewritten_table_is_inferred_again(spark, sf_dir, tmp_path):
    d = _fixture(sf_dir, tmp_path / "fx")
    assert "extra" not in table(spark, d, "documents").columns
    path = f"{d}/documents.parquet"
    t = pq.read_table(path)
    pq.write_table(t.append_column("extra", pa.array(range(t.num_rows), pa.int64())), path)
    n = _jobs(spark, lambda: table(spark, d, "documents"))
    df = table(spark, d, "documents")
    assert n >= 1
    assert df.columns[-1] == "extra"
    assert df.agg({"extra": "max"}).first()[0] == t.num_rows - 1


def test_new_session_infers_again(spark, sf_dir, tmp_path):
    d = _fixture(sf_dir, tmp_path / "fx")
    table(spark, d, "documents")
    other = spark.newSession()
    assert _jobs(other, lambda: table(other, d, "documents")) >= 1
    assert _jobs(other, lambda: table(other, d, "documents")) == 0


def test_schema_conf_is_part_of_the_key(spark, sf_dir, tmp_path):
    d = _fixture(sf_dir, tmp_path / "fx")
    table(spark, d, "documents")
    conf = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(conf, None)
    spark.conf.set(conf, "true")
    try:
        assert _jobs(spark, lambda: table(spark, d, "documents")) >= 1
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)
    assert _jobs(spark, lambda: table(spark, d, "documents")) == 0


def test_drain_all_keeps_the_memo(spark, sf_dir, tmp_path):
    d = _fixture(sf_dir, tmp_path / "fx")
    table(spark, d, "documents")
    drain_all(spark)
    assert _jobs(spark, lambda: table(spark, d, "documents")) == 0


def test_events_ts_stays_timestamp(spark, sf_dir, tmp_path):
    """Both the first and the memoized scan normalize ``events.ts``,
    on the fixture's micros vintage and on a TIMESTAMP(NANOS) copy."""
    nanos = tmp_path / "nanos"
    nanos.mkdir()
    t = pq.read_table(f"{sf_dir}/events.parquet")
    i = t.schema.get_field_index("ts")
    pq.write_table(
        t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns"))),
        nanos / "events.parquet",
    )
    for d in (sf_dir, str(nanos)):
        first = table(spark, d, "events")
        again = table(spark, d, "events")
        assert dict(first.dtypes)["ts"] == dict(again.dtypes)["ts"] == "timestamp"
        assert sorted(first.select("ts").collect()) == sorted(again.select("ts").collect())
    assert sorted(table(spark, sf_dir, "events").select("ts").collect()) == sorted(
        table(spark, str(nanos), "events").select("ts").collect()
    )
