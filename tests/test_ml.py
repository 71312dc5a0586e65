"""k-means / quantization / gapfill / sink operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from fxblue_etl_spark.io import table
from fxblue_etl_spark.operators.ml import (
    K,
    _assign,
    _init_centroids,
    embedding_quantize,
    kmeans_assign_stats,
)
from fxblue_etl_spark.operators.temporal import gapfill_daily_locf
from fxblue_etl_spark.plans.sinks import KEPT_PRIORITIES, partitioned_sink_roundtrip


def test_assign_covers_all_vectors(spark, sf_dir):
    out = kmeans_assign_stats(spark, sf_dir).collect()
    assert sum(r["n_members"] for r in out) == table(spark, sf_dir, "embeddings").count()
    assert {r["cluster"] for r in out} <= set(range(K))
    # each init centroid is its own nearest centroid (distance 0)
    emb = table(spark, sf_dir, "embeddings")
    a = _assign(emb, _init_centroids(emb))
    for r in a.filter(F.col("vec_id") < K).collect():
        assert r["cluster"] == r["vec_id"]


def test_quantize_bounds_and_argmax(spark, sf_dir):
    out = embedding_quantize(spark, sf_dir).collect()
    emb = {r["vec_id"]: r["embedding"] for r in table(spark, sf_dir, "embeddings").collect()}
    for r in out[:50]:
        assert all(-128 <= q <= 127 for q in r["q"])
        mx = max(abs(x) for x in emb[r["vec_id"]])
        assert abs(r["max_abs_e9"] / 1e9 - mx) < 1e-6
        # the max-magnitude element hits ±127 or -128-ish floor edge
        assert max(abs(q) for q in r["q"]) >= 126


def test_gapfill_dense_and_locf(spark, sf_dir):
    out = gapfill_daily_locf(spark, sf_dir)
    rows = out.collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    import datetime as dt

    for user, rs in list(by_user.items())[:20]:
        rs.sort(key=lambda r: r["day"])
        days = [dt.date.fromisoformat(r["day"]) for r in rs]
        # dense daily grid, no holes
        assert (days[-1] - days[0]).days + 1 == len(days)
        # first day is never a gap; gaps carry the previous value
        assert rs[0]["is_gap"] == 0
        for prev, cur in zip(rs, rs[1:]):
            if cur["is_gap"]:
                assert cur["filled_value_e4"] == prev["filled_value_e4"]


def test_dpp_join_plants_runtime_partition_filter(spark, sf_dir):
    from fxblue_etl_spark.plans.sinks import dpp_monthly_join

    df = dpp_monthly_join(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    # the month-partitioned fact scan must carry a PartitionFilter
    scan = plan[plan.index("orders_by_month") - 600 : plan.index("orders_by_month") + 600]
    assert "PartitionFilters: [(" in scan or "PartitionFilters: [dynamicpruning" in scan
    assert df.count() > 0


def test_sink_roundtrip_prunes_partitions(spark, sf_dir):
    df = partitioned_sink_roundtrip(spark, sf_dir)
    assert df.count() > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the priority predicate must be a partition filter on the
    # read-back scan, not a row-level Filter over all partitions
    assert "PartitionFilters" in plan
    seg = plan[plan.index("PartitionFilters"):]
    assert "o_orderpriority" in seg[: seg.index("]") + 1]
    pris = {r["o_orderpriority"] for r in df.collect()}
    assert pris == set(KEPT_PRIORITIES)


def test_compaction_is_range_clustered(spark, sf_dir):
    import os

    from fxblue_etl_spark.io import stage_fixture
    from fxblue_etl_spark.plans.sinks import compact_small_files

    def unstaged(tmp):
        raise AssertionError("compact_small_files did not stage orders_compact")

    row = compact_small_files(spark, sf_dir).collect()[0]
    assert row["compaction_ok"] is True
    path = stage_fixture(sf_dir, "orders_compact", unstaged)
    spans = []
    for n in sorted(os.listdir(path)):
        if n.startswith("part-") and n.endswith(".parquet"):
            part = spark.read.parquet(os.path.join(path, n))
            lo, hi = part.agg({"o_orderdate": "min"}).first()[0], part.agg(
                {"o_orderdate": "max"}
            ).first()[0]
            spans.append((lo, hi))
    # range clustering: per-file date spans must not interleave
    spans.sort()
    for (_, prev_hi), (nxt_lo, _) in zip(spans, spans[1:]):
        assert prev_hi <= nxt_lo


def test_quantized_topk_recall_vs_exact(spark, sf_dir):
    from fxblue_etl_spark.operators.ml import quantized_topk
    from fxblue_etl_spark.operators.similarity import cosine_topk_bruteforce

    approx = quantized_topk(spark, sf_dir).collect()
    exact = cosine_topk_bruteforce(spark, sf_dir).collect()
    a, e = {}, {}
    for r in approx:
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in exact:
        e.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(a) == set(e)
    recalls = [len(a[q] & e[q]) / len(e[q]) for q in e]
    mean_recall = sum(recalls) / len(recalls)
    # int8 codes must preserve neighborhoods well; dot-vs-cosine and
    # quantization noise cost some of the tail
    assert mean_recall >= 0.5, mean_recall


def test_quantized_ivf_topk_recall_vs_exact(spark, sf_dir):
    """The IVF+int8 composition still finds real neighbors: its top-3
    per query overlaps the exact float top-5, despite probing a single
    cluster AND ranking by quantized integer dot product."""
    from fxblue_etl_spark.operators.ml import quantized_ivf_topk
    from fxblue_etl_spark.operators.similarity import cosine_topk_bruteforce

    approx = quantized_ivf_topk(spark, sf_dir).collect()
    exact = cosine_topk_bruteforce(spark, sf_dir).collect()
    a, e = {}, {}
    for r in approx:
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in exact:
        e.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(a) == set(e)
    # every query returns k=3 candidates from its probe cluster
    assert all(len(v) == 3 for v in a.values())
    hits = [len(a[q] & e[q]) / 3 for q in e]
    mean_overlap = sum(hits) / len(hits)
    # single-cluster probing trades recall for 1/C scan cost; the
    # composition must still beat chance by a wide margin
    assert mean_overlap >= 0.3, mean_overlap


def test_grouped_pandas_ols_matches_builtin_regr(spark, sf_dir):
    """Differential: a per-group OLS fit via applyInPandas (Arrow
    grouped-map, numpy math) must agree with the JVM regr_slope /
    regr_intercept aggregates to float tolerance."""
    import pandas as pd

    from fxblue_etl_spark.io import table
    from fxblue_etl_spark.plans.advanced import regression_analytics

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        x, y = pdf["l_quantity"].to_numpy(), pdf["l_extendedprice"].to_numpy()
        slope, intercept = np.polyfit(x, y, 1)
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "slope": [slope],
                "intercept": [intercept],
            }
        )

    udf_fit = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .applyInPandas(fit, "l_returnflag string, slope double, intercept double")
        .collect()
    }
    builtin = {r["l_returnflag"]: r for r in regression_analytics(spark, sf_dir).collect()}
    assert set(udf_fit) == set(builtin)
    for flag, b in builtin.items():
        u = udf_fit[flag]
        assert abs(u["slope"] - b["slope"]) < 1e-2, (flag, u["slope"], b["slope"])
        assert abs(u["intercept"] - b["intercept"]) < 1.0, flag


def test_label_cohesion_bounds(spark, sf_dir):
    from fxblue_etl_spark.operators.ml import label_cohesion_stats

    rows = label_cohesion_stats(spark, sf_dir).collect()
    assert len(rows) >= 2
    for r in rows:
        assert r["n_members"] >= 1
        assert r["self_dot_sum"] > 0
        # Cauchy-Schwarz: |S|^2 <= n * sum|q_i|^2, so ppm is in [0, 1e6]
        assert 0 <= r["cohesion_ppm"] <= 1_000_000
        assert r["cohesion_ppm"] == (1_000_000 * r["centroid_sq_sum"]) // (
            r["n_members"] * r["self_dot_sum"]
        )


def test_jl_projection_preserves_norms_in_expectation(spark, sf_dir):
    """JL with ±1 signs: E[Σ_j y_j²] = k·Σ_i q_i², so the per-vector
    norm_ratio_ppm concentrates around 1e6 and its corpus mean must
    land well inside ±25%."""
    from fxblue_etl_spark.operators.ml import JL_DIM, jl_sign_projection

    rows = jl_sign_projection(spark, sf_dir).collect()
    assert len(rows) == table(spark, sf_dir, "embeddings").count()
    ratios = [r["norm_ratio_ppm"] for r in rows]
    assert all(r >= 0 for r in ratios)
    mean = sum(ratios) / len(ratios)
    assert 750_000 < mean < 1_250_000, mean
    # projections are JL_DIM comma-separated integers, not all zero
    parts = rows[0]["proj_csv"].split(",")
    assert len(parts) == JL_DIM
    assert any(int(p) != 0 for p in parts)


def test_triplet_mining_matches_numpy_argmax(spark, sf_dir):
    """Hardest positive/negative per anchor re-derived with numpy on
    the e3-quantized integers must agree exactly, including the
    (dot desc, vec_id asc) tie-break."""
    import numpy as np

    from fxblue_etl_spark.operators.ml import triplet_margin_mining

    emb = {
        r["vec_id"]: (
            r["label"],
            np.floor(np.asarray(r["embedding"], dtype=np.float64) * 1e3).astype(
                np.int64
            ),
        )
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    rows = {r["query_id"]: r for r in triplet_margin_mining(spark, sf_dir).collect()}
    assert set(rows) == {i for i in emb if i % 50 == 0}
    for qid, r in rows.items():
        qlabel, qq = emb[qid]
        best = {}
        for vid, (lab, v) in emb.items():
            if vid == qid:
                continue
            same = int(lab == qlabel)
            cand = (-int(qq @ v), vid)
            if same not in best or cand < best[same]:
                best[same] = cand
        assert (r["pos_dot"], r["pos_id"]) == (-best[1][0], best[1][1])
        assert (r["neg_dot"], r["neg_id"]) == (-best[0][0], best[0][1])
        assert r["margin"] == r["pos_dot"] - r["neg_dot"]


def test_semdedup_prune_matches_numpy_reference(spark, sf_dir):
    """semdedup_prune's per-cluster ledger must equal a NumPy
    re-derivation from first principles: exact-Lloyd assignments in,
    every within-cluster pair with round(cos, 6) >= tau prunes its
    more-central member (tie -> larger vec_id), edge members survive."""
    import numpy as np

    from fxblue_etl_spark.operators.ml import (
        _SEMDEDUP_TAU,
        _exact_lloyd,
        semdedup_prune,
    )

    final, _ = _exact_lloyd(spark, sf_dir)
    asg = {
        r["vec_id"]: (r["dc"]["cluster"], r["dc"]["dist"])
        for r in final.collect()
    }
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    by_cluster: dict[int, list[int]] = {}
    for vid, (c, _) in asg.items():
        by_cluster.setdefault(c, []).append(vid)
    pruned: set[int] = set()
    n_pairs = 0
    for c, ids in by_cluster.items():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                va, vb = vecs[a], vecs[b]
                sim = round(
                    float(va @ vb)
                    / (np.sqrt(va @ va) * np.sqrt(vb @ vb)),
                    6,
                )
                if sim >= _SEMDEDUP_TAU:
                    n_pairs += 1
                    da, db = asg[a][1], asg[b][1]
                    pruned.add(a if da < db else b)
    assert n_pairs > 0, "fixture must exercise the prune path"
    rows = {r["cluster"]: r for r in semdedup_prune(spark, sf_dir).collect()}
    assert sum(r["n_members"] for r in rows.values()) == len(vecs)
    for c, r in rows.items():
        members = set(by_cluster.get(c, []))
        want = pruned & members
        assert r["n_pruned"] == len(want)
        assert r["pruned_id_sum"] == sum(want)
        assert r["n_kept"] == r["n_members"] - r["n_pruned"]


def test_prototype_prune_matches_python_reference(spark, sf_dir):
    """prototype_prune's ledger must equal a first-principles
    re-derivation: rank by (dist, vec_id) inside each exact-Lloyd
    cluster, drop rank <= floor(n/4)."""
    from fxblue_etl_spark.operators.ml import _exact_lloyd, prototype_prune

    final, _ = _exact_lloyd(spark, sf_dir)
    asg = [
        (r["dc"]["cluster"], r["dc"]["dist"], r["vec_id"])
        for r in final.collect()
    ]
    by_cluster: dict[int, list[tuple[int, int]]] = {}
    for c, d, vid in asg:
        by_cluster.setdefault(c, []).append((d, vid))
    rows = {r["cluster"]: r for r in prototype_prune(spark, sf_dir).collect()}
    assert set(rows) == set(by_cluster)
    total_dropped = 0
    for c, members in by_cluster.items():
        members.sort()
        n = len(members)
        dropped = [vid for i, (_d, vid) in enumerate(members) if 4 * (i + 1) <= n]
        r = rows[c]
        assert r["n_members"] == n
        assert r["n_dropped"] == len(dropped) == n // 4
        assert r["n_kept"] == n - len(dropped)
        assert r["dropped_id_sum"] == sum(dropped)
        total_dropped += len(dropped)
    assert total_dropped > 0


def test_ivf_pq_adc_topk_recall_vs_exact(spark, sf_dir):
    """The full IVFPQ stack (cluster pruning + 4-bit codes + ADC)
    still finds real neighbors: per-query top-3 overlaps the exact
    float top-5 well above chance despite probing one cluster at
    1/64 the bytes — and it can never beat its own int8 sibling's
    candidate set constraint (same probed cluster)."""
    from fxblue_etl_spark.operators.ml import ivf_pq_adc_topk
    from fxblue_etl_spark.operators.similarity import cosine_topk_bruteforce

    approx = ivf_pq_adc_topk(spark, sf_dir).collect()
    exact = cosine_topk_bruteforce(spark, sf_dir).collect()
    a, e = {}, {}
    for r in approx:
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in exact:
        e.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(a) == set(e)
    assert all(len(v) == 3 for v in a.values())
    assert all(r["adc_dist"] >= 0 for r in approx)
    hits = [len(a[q] & e[q]) / 3 for q in e]
    mean_overlap = sum(hits) / len(hits)
    # 4-bit codes over a 16-entry codebook are far coarser than the
    # int8 sibling (which pins >= 0.3): random top-3 against the
    # exact top-5 over ~200 vectors overlaps ~0.075 in expectation,
    # so >= 0.1 is the beats-chance line for THIS quantization level
    # (observed 0.17 at sf0.001)
    assert mean_overlap >= 0.1, mean_overlap
