"""Spine memo fixture fingerprint (round-5 advice): the checkpointed
LSH+CC dedup spine is keyed by (session, sf_dir, documents.parquet
mtime+size).  A fixture REGENERATED at the same path must invalidate
the entry — before the fix, split_decontaminate/canonical_doc_selection
silently served the stale spine for the process lifetime."""

from __future__ import annotations

import os
import shutil

from fxblue_etl_spark.io import drain_all
from fxblue_etl_spark.operators.graph import _doc_dup_groups

SRC = "/root/testdata/sf0.001/documents.parquet"


def _write_fixture(tmpdir: str, doc_id_offset: int) -> None:
    """Materialize a documents.parquet whose doc_ids (and therefore
    spine rows) depend on the offset — regeneration changes content."""
    import duckdb

    duckdb.connect().execute(f"""
    COPY (SELECT doc_id + {doc_id_offset} AS doc_id, lang, source,
                 n_chars, text
          FROM read_parquet('{SRC}') WHERE doc_id < 120)
    TO '{tmpdir}/documents.parquet' (FORMAT PARQUET)
    """)


def test_regenerated_fixture_invalidates_memo(spark, tmp_path):
    d = str(tmp_path / "fx")
    os.makedirs(d)
    drain_all(spark)
    try:
        _write_fixture(d, 0)
        ids_a = {r.doc_id for r in _doc_dup_groups(spark, d).collect()}
        assert ids_a and max(ids_a) < 1000

        # regenerate IN PLACE with shifted ids; ensure the stat
        # fingerprint moves even on coarse-mtime filesystems
        _write_fixture(d, 1000)
        st = os.stat(f"{d}/documents.parquet")
        os.utime(f"{d}/documents.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 1))

        ids_b = {r.doc_id for r in _doc_dup_groups(spark, d).collect()}
        assert ids_b == {i + 1000 for i in ids_a}, (
            "memo served the stale pre-regeneration spine"
        )
    finally:
        drain_all(spark)
        shutil.rmtree(d, ignore_errors=True)


def test_superseded_memo_entry_is_released(spark, tmp_path):
    """Round-6 advice: the invalidation path must RELEASE the
    superseded localCheckpoint's blocks when overwriting the memo
    entry — otherwise one corpus-sized RDD leaks per regeneration."""
    d = str(tmp_path / "fx3")
    os.makedirs(d)
    drain_all(spark)

    def _rdd_ids() -> set[int]:
        jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
        return {it.next()._1() for it in [jmap.iterator()] for _ in range(jmap.size())}

    try:
        _write_fixture(d, 0)
        df_a = _doc_dup_groups(spark, d)
        df_a.count()
        rdd_a = df_a._jdf.queryExecution().analyzed().rdd().id()

        _write_fixture(d, 1000)
        st = os.stat(f"{d}/documents.parquet")
        os.utime(f"{d}/documents.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 1))
        _doc_dup_groups(spark, d).count()

        live = _rdd_ids()
        assert rdd_a not in live, (
            "superseded spine checkpoint still pinned after regeneration"
        )
    finally:
        drain_all(spark)
        shutil.rmtree(d, ignore_errors=True)


def test_unchanged_fixture_hits_memo(spark, tmp_path):
    d = str(tmp_path / "fx2")
    os.makedirs(d)
    drain_all(spark)
    try:
        _write_fixture(d, 0)
        df_a = _doc_dup_groups(spark, d)
        df_b = _doc_dup_groups(spark, d)
        assert (
            df_a._jdf.queryExecution().analyzed().rdd().id()
            == df_b._jdf.queryExecution().analyzed().rdd().id()
        ), "same fixture must return the memoized checkpoint"
    finally:
        drain_all(spark)
        shutil.rmtree(d, ignore_errors=True)
