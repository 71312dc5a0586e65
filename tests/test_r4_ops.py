"""Round-4 operators: DSIR importance stats, per-doc LM fluency,
leak-free split, canonical-doc selection, multi-probe IVF, embedding
moment stats."""

from __future__ import annotations

from pyspark.sql import functions as F

from fxblue_etl_spark.io import sink_dir, table
from fxblue_etl_spark.operators.corpusops import dsir_importance_stats
from fxblue_etl_spark.operators.graph import (
    DECON_J,
    canonical_doc_selection,
    split_decontaminate,
)
from fxblue_etl_spark.operators.ml import (
    N_PROBE,
    embedding_moment_stats,
    ivf_multiprobe_topk,
    quantized_ivf_topk,
)
from fxblue_etl_spark.operators.tfidf import lm_doc_perplexity
from fxblue_etl_spark.operators.textops import quality_score, ws_tokens


def test_dsir_bigram_counts_and_ratio_bounds(spark, sf_dir):
    out = dsir_importance_stats(spark, sf_dir).collect()
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(ws_tokens("text")).alias("nt")
    )
    nt = {r["doc_id"]: r["nt"] for r in docs.collect()}
    # one row per doc with >= 2 tokens; n_bigrams = n_tokens - 1
    assert {r["doc_id"] for r in out} == {d for d, n in nt.items() if n >= 2}
    for r in out:
        assert r["n_bigrams"] == nt[r["doc_id"]] - 1
        # per-bigram ppm masses are bounded by 1e6 each
        assert 0 <= r["tgt_mass_ppm"] <= r["n_bigrams"] * 1_000_000
        assert 0 < r["src_mass_ppm"] <= r["n_bigrams"] * 1_000_000
        if r["dsir_ratio_ppm"] is not None:
            assert r["dsir_ratio_ppm"] >= 0


def test_dsir_upweights_target_language(spark, sf_dir):
    """The defining DSIR property: documents drawn from the target
    domain (lang = en) must receive a higher mean importance ratio
    than the rest of the corpus."""
    out = dsir_importance_stats(spark, sf_dir)
    langs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    j = out.join(langs, "doc_id").filter(F.col("dsir_ratio_ppm").isNotNull())
    rows = (
        j.groupBy((F.col("lang") == "en").alias("is_tgt"))
        .agg(F.avg("dsir_ratio_ppm").alias("mean_ratio"))
        .collect()
    )
    m = {r["is_tgt"]: r["mean_ratio"] for r in rows}
    assert m[True] > m[False]


def test_lm_perplexity_bounds(spark, sf_dir):
    out = lm_doc_perplexity(spark, sf_dir).collect()
    for r in out:
        # continuation ppm of each pair is in (0, 1e6]
        assert 0 < r["avg_cont_ppm"] <= 1_000_000
        assert 0 <= r["fluency_band"] <= 10
        assert r["cont_ppm_sum"] <= r["n_pairs"] * 1_000_000
        assert r["avg_cont_ppm"] == r["cont_ppm_sum"] // r["n_pairs"]


def test_split_decontaminate_partitions_and_never_straddles(spark, sf_dir):
    out = split_decontaminate(spark, sf_dir).collect()
    n_docs_total = table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in out) == n_docs_total
    assert {r["split"] for r in out} <= {"train", "val", "test"}
    for r in out:
        # the certification column: no near-dup group crosses splits
        assert r["n_straddling_groups"] == 0
        assert r["n_groups"] <= r["n_docs"]


def test_canonical_selection_picks_best_quality(spark, sf_dir):
    sel = canonical_doc_selection(spark, sf_dir).collect()
    q = {
        r["doc_id"]: int(round(r["quality_score"] * 10))
        for r in quality_score(spark, sf_dir).collect()
    }
    assert sel, "fixture has near-dup clusters at Jaccard >= %s" % DECON_J
    for r in sel:
        assert r["n_members"] >= 2
        assert r["n_dropped"] == r["n_members"] - 1
        # the canonical doc carries the cluster's max quality
        assert q[r["canonical_doc"]] == r["canonical_q10"]
        # component labeling is min-id: the component id is a member,
        # and no member id is smaller
        assert r["component"] <= r["canonical_doc"]


def test_multiprobe_recall_at_least_single_probe(spark, sf_dir):
    """Probing N_PROBE clusters must not lose neighbors vs probing
    one: mean exact-top-5 overlap of multi-probe >= single-probe."""
    from fxblue_etl_spark.operators.similarity import cosine_topk_bruteforce

    def overlaps(df, k):
        a = {}
        for r in df.collect():
            a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return a

    exact = overlaps(cosine_topk_bruteforce(spark, sf_dir), 5)
    single = overlaps(quantized_ivf_topk(spark, sf_dir), 3)
    multi = overlaps(ivf_multiprobe_topk(spark, sf_dir), 5)
    assert set(multi) == set(exact)
    mean_single = sum(
        len(single[q] & exact[q]) / len(single[q]) for q in single
    ) / len(single)
    mean_multi = sum(
        len(multi[q] & exact[q]) / len(multi[q]) for q in multi
    ) / len(multi)
    assert mean_multi >= mean_single - 1e-9, (mean_multi, mean_single)
    assert N_PROBE > 1


def test_manifest_reader_ignores_orphan_shards(spark, sf_dir):
    """The custom reader must read exactly the manifest-listed
    shards: the planted orphan shard (present on disk, absent from
    _MANIFEST.json) contributes nothing, while a naive glob read of
    the same directory sees it."""
    import os

    from fxblue_etl_spark.sources.pyds_sink import pyds_manifest_reader_roundtrip

    out = pyds_manifest_reader_roundtrip(spark, sf_dir).first()
    n_docs = table(spark, sf_dir, "documents").count()
    assert out["n_rows"] == n_docs
    assert out["n_docs"] == n_docs
    out_dir = sink_dir(sf_dir, "pyds_manifest_reader_roundtrip")
    assert os.path.exists(os.path.join(out_dir, "shard-99999.jsonl"))
    naive = (
        spark.read.schema("doc_id long, lang string, text string")
        .option("pathGlobFilter", "shard-*.jsonl")
        .json(out_dir)
        .count()
    )
    assert naive == n_docs + 1  # the glob read ingests the orphan


def test_frequency_spectrum_accounts_for_whole_vocab(spark, sf_dir):
    from fxblue_etl_spark.operators.tfidf import token_frequency_spectrum
    from fxblue_etl_spark.operators.textops import ws_tokens as wt

    out = token_frequency_spectrum(spark, sf_dir).collect()
    docs = table(spark, sf_dir, "documents")
    n_total = docs.select(F.explode(wt("text")).alias("t")).count()
    n_vocab = docs.select(F.explode(wt("text")).alias("t")).distinct().count()
    assert sum(r["n_types"] for r in out) == n_vocab
    assert sum(r["mass"] for r in out) == n_total
    for r in out:
        # band k holds counts with k+1 decimal digits
        lo, hi = 10 ** r["band"], 10 ** (r["band"] + 1) - 1
        assert r["n_types"] * lo <= r["mass"] <= r["n_types"] * hi
        assert 0 <= r["types_ppm"] <= 1_000_000
        assert 0 <= r["mass_ppm"] <= 1_000_000


def test_gdpr_propagation_accounting(spark, sf_dir):
    from fxblue_etl_spark.plans.dq import GDPR_MOD, gdpr_delete_propagation

    rows = {r["table_name"]: r for r in gdpr_delete_propagation(spark, sf_dir).collect()}
    assert set(rows) == {"documents", "chunks"}
    for r in rows.values():
        assert r["n_before"] == r["n_deleted"] + r["n_after"]
        assert r["n_orphans"] == 0
    n_req = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % GDPR_MOD == 0)
        .count()
    )
    assert rows["documents"]["n_deleted"] == n_req


def test_schema_evolution_nulls_match_old_batch(spark, sf_dir):
    from fxblue_etl_spark.plans.sinks import schema_evolution_roundtrip

    r = schema_evolution_roundtrip(spark, sf_dir).first()
    n_orders = table(spark, sf_dir, "orders").count()
    assert r["n_rows"] == n_orders
    # exactly the pre-evolution batch carries NULL in the new column
    assert r["n_null_evolved"] == r["n_old_batch"]
    assert 0 < r["n_old_batch"] < n_orders


def test_streaming_dlq_conserves_rows_and_mass(spark, sf_dir):
    from fxblue_etl_spark.streaming.pipelines import streaming_dlq_split

    r = streaming_dlq_split(spark, sf_dir).first()
    ev = table(spark, sf_dir, "events")
    n_total = ev.count()
    n_err = ev.filter(F.col("event_type") == "error").count()
    assert r["n_main"] + r["n_dlq"] == n_total
    assert r["n_dlq"] == n_err
    assert r["n_reject_reasons"] == 1
    total_e4 = ev.agg(
        F.sum(F.floor(F.col("value") * 1e4)).cast("long")
    ).first()[0]
    assert r["main_value_e4"] + r["dlq_value_e4"] == total_e4


def test_moment_stats_consistency(spark, sf_dir):
    out = embedding_moment_stats(spark, sf_dir).collect()
    n_rows = table(spark, sf_dir, "embeddings").count()
    dim = len(table(spark, sf_dir, "embeddings").first()["embedding"])
    assert len(out) == dim
    for r in out:
        assert r["n"] == n_rows
        assert r["q_min"] <= r["q_sum"] / r["n"] <= r["q_max"]
        # E[q^2] >= E[q]^2 (variance nonneg), in the emitted units:
        # q_sq_sum_e3 * 1e3 * n >= q_sum^2 approximately (floor slack)
        assert (r["q_sq_sum_e3"] + 1) * 1000 * r["n"] >= r["q_sum"] ** 2
