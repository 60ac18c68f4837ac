"""Algebraic cross-operator identities (SURVEY.md §5.4).

These validate operators against each other rather than against the
oracle: union additivity, dedup idempotence, rollup totals, cumsum
closure — cheap invariants that hold at every scale factor.
"""

from pyspark.sql import functions as F

import __spark_entry__ as E
from covid_19_data_analysis_bigdata_spark.sources.io import load_table


def _q(spark, sf_dir, name):
    return E.queries()[name](spark, sf_dir)


def test_union_all_count_additivity(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").count()
    hibal = c.filter(F.col("c_acctbal") > 5000).count()
    assert _q(spark, sf_dir, "set_union_all").count() == building + hibal


def test_intersect_plus_except_partitions_left_side(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").count()
    inter = _q(spark, sf_dir, "set_intersect").count()
    exc = _q(spark, sf_dir, "set_except").count()
    assert inter + exc == building


def test_distinct_idempotent(spark, sf_dir):
    d = _q(spark, sf_dir, "dedup_distinct")
    assert d.count() == d.distinct().count()


def test_rollup_grand_total_matches_global(spark, sf_dir):
    roll = _q(spark, sf_dir, "agg_rollup")
    grand = roll.filter(F.col("gid") == 3).collect()
    assert len(grand) == 1
    total_customers = load_table(spark, sf_dir, "customer").count()
    assert grand[0]["customer_cnt"] == total_customers


def test_cumsum_final_value_equals_group_sum(spark, sf_dir):
    cum = _q(spark, sf_dir, "win_cumsum")
    finals = cum.groupBy("user_id").agg(F.max("cum_value").alias("final"))
    ev = load_table(spark, sf_dir, "events")
    sums = ev.groupBy("user_id").agg(F.round(F.sum("value"), 4).alias("expect"))
    joined = finals.join(sums, "user_id").collect()
    for row in joined:
        # cum_value is rounded per-prefix; allow the final rounding ulp.
        assert abs(row["final"] - row["expect"]) < 1e-3, row


def test_semi_plus_anti_partitions_customers(spark, sf_dir):
    total = load_table(spark, sf_dir, "customer").count()
    semi = _q(spark, sf_dir, "join_semi").count()
    anti = _q(spark, sf_dir, "join_anti").count()
    assert semi + anti == total


def test_topk_is_subset_of_sorted(spark, sf_dir):
    top = {r["o_orderkey"] for r in _q(spark, sf_dir, "topk_limit").collect()}
    allkeys = {
        r["o_orderkey"]
        for r in load_table(spark, sf_dir, "orders").select("o_orderkey").collect()
    }
    assert top <= allkeys and len(top) == 10


def test_fuzzy_dedup_pairs_are_ordered_and_above_tau(spark, sf_dir):
    rows = _q(spark, sf_dir, "llm_dedup_fuzzy").collect()
    for r in rows:
        assert r["a_id"] < r["b_id"]
        assert r["jaccard"] >= 0.5


def test_knn_returns_k_per_probe(spark, sf_dir):
    from collections import Counter

    rows = _q(spark, sf_dir, "llm_knn_per_query").collect()
    per_probe = Counter(r["probe_id"] for r in rows)
    assert set(per_probe) == set(range(10))
    assert all(v == 5 for v in per_probe.values())


def test_salted_agg_equals_plain_groupby(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plain = {
        r["l_returnflag"]: (r["cnt"], r["sum_qty"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
        .collect()
    }
    salted = {
        r["l_returnflag"]: (r["cnt"], r["sum_qty"])
        for r in _q(spark, sf_dir, "agg_skew_salted").collect()
    }
    assert salted == plain


def test_resize_respects_max_edge_and_aspect(spark, sf_dir):
    for r in _q(spark, sf_dir, "multimodal_resize_stub").collect():
        if max(r["w"], r["h"]) <= 256:
            assert (r["out_w"], r["out_h"]) == (r["w"], r["h"])
        else:
            assert max(r["out_w"], r["out_h"]) == 256
            # floor() may shrink the short edge by at most one pixel.
            expect = r["w"] / r["h"]
            got = r["out_w"] / r["out_h"]
            assert abs(expect - got) / expect < 0.05, r


def test_frame_sample_stride_and_bounds(spark, sf_dir):
    from collections import defaultdict

    frames = defaultdict(list)
    for r in _q(spark, sf_dir, "multimodal_frame_sample").collect():
        frames[r["doc_id"]].append(r["frame_idx"])
    for idxs in frames.values():
        assert sorted(idxs) == list(range(0, 3 * len(idxs), 3))


def test_ivf_neighbors_come_from_probed_cells_only(spark, sf_dir):
    rows = _q(spark, sf_dir, "llm_ann_ivf").collect()
    assert rows, "IVF returned nothing"
    per_probe = {}
    for r in rows:
        per_probe.setdefault(r["probe_id"], set()).add(r["cell"])
    for cells in per_probe.values():
        assert len(cells) <= 2  # nprobe = 2


def test_simhash_fingerprint_fits_declared_bits(spark, sf_dir):
    from covid_19_data_analysis_bigdata_spark.operators.textprep import (
        SIMHASH_BITS,
    )

    for r in _q(spark, sf_dir, "llm_dedup_simhash").collect():
        assert 0 <= r["simhash"] < (1 << SIMHASH_BITS)
        assert r["n_cands_multi"] >= 0


def test_lang_id_confusion_covers_all_docs(spark, sf_dir):
    total = load_table(spark, sf_dir, "documents").count()
    assert sum(r["cnt"] for r in _q(spark, sf_dir, "llm_lang_id").collect()) == total


def test_approx_distinct_within_sketch_error(spark, sf_dir):
    # HLL++ has no exact oracle; bound it against the exact distinct.
    approx = {
        r["o_orderstatus"]: r["approx_customers"]
        for r in _q(spark, sf_dir, "agg_approx_distinct").collect()
    }
    exact = {
        r["o_orderstatus"]: r["cnt"]
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("cnt"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, a in approx.items():
        assert abs(a - exact[k]) <= max(3, 0.15 * exact[k]), (k, a, exact[k])


def test_approx_percentile_brackets_exact(spark, sf_dir):
    rows = _q(spark, sf_dir, "agg_approx_percentile").collect()
    li = load_table(spark, sf_dir, "lineitem")
    lo, hi = li.agg(F.min("l_extendedprice"), F.max("l_extendedprice")).first()
    assert rows, "approx_percentile returned no groups"
    for r in rows:
        assert lo <= r["p50"] <= r["p90"] <= hi, r


def test_sample_rows_fraction_plausible(spark, sf_dir):
    n = _q(spark, sf_dir, "sample_rows").count()
    total = load_table(spark, sf_dir, "orders").count()
    # seeded 10% sample: loose binomial envelope, deterministic per seed
    assert 0.02 * total <= n <= 0.25 * total, (n, total)


def test_pack_sequences_conserves_tokens(spark, sf_dir):
    packed = _q(spark, sf_dir, "llm_pack_sequences")
    total_packed = packed.agg(F.sum("n_tokens")).first()[0]
    d = load_table(spark, sf_dir, "documents")
    total_tokens = d.select(
        F.sum(F.size(F.split(F.lower("text"), " "))).alias("s")
    ).first()["s"]
    assert total_packed == total_tokens


def test_decontaminate_never_flags_eval_docs(spark, sf_dir):
    rows = _q(spark, sf_dir, "llm_decontaminate").collect()
    assert all(r["doc_id"] >= 5 for r in rows)
    flagged = sum(1 for r in rows if r["contaminated"])
    assert 0 <= flagged < len(rows)


def test_clean_corpus_kept_docs_satisfy_every_filter(spark, sf_dir):
    rows = _q(spark, sf_dir, "llm_clean_corpus").collect()
    d_total = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == d_total  # one audit row per document
    for r in rows:
        if r["kept"]:
            assert r["n_words"] >= 20
            assert r["pred_lang"] == "en"
            assert not r["is_dup"]
            assert r["doc_id"] >= 5
            assert r["n_eval_hits"] < 2


def test_stream_stream_join_matches_respect_window(spark, sf_dir):
    rows = _q(spark, sf_dir, "stream_stream_join").collect()
    assert rows, "no click->purchase matches in the corpus"
    for r in rows:
        delta = r["purchase_ms"] - r["click_ms"]
        assert 0 <= delta <= 30 * 60 * 1000, r


def test_stratified_sample_respects_strata(spark, sf_dir):
    rows = _q(spark, sf_dir, "sample_stratified").collect()
    by = {}
    for r in rows:
        by.setdefault(r["o_orderstatus"], 0)
        by[r["o_orderstatus"]] += 1
    assert set(by) <= {"F", "O"}  # 0% strata truly excluded
    totals = {
        r["o_orderstatus"]: r["cnt"]
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    # ~20% of F, ~5% of O under a loose binomial envelope
    assert 0.05 * totals["F"] <= by.get("F", 0) <= 0.40 * totals["F"]
    assert 0.005 * totals["O"] <= by.get("O", 0) <= 0.15 * totals["O"]


def test_observe_metrics_match_direct_aggregates(spark, sf_dir):
    from pyspark.sql import Observation

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O"
    )
    obs = Observation("open_orders_check")
    df = o.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.round(F.sum("o_totalprice"), 4).alias("price_seen"),
    )
    df.count()  # one full pass; metrics ride it for free
    got = obs.get
    assert got["rows_seen"] == o.count()
    assert got["price_seen"] == o.agg(
        F.round(F.sum("o_totalprice"), 4)
    ).first()[0]


def test_sketch_rollup_matches_exact_within_error(spark, sf_dir):
    # Daily HLL sketches merged to event_type grain must estimate the
    # exact distinct-user count within DataSketches' default error
    # (rsd ≈ 2.1% at lgK=12; allow 5% slack).
    approx = {
        r["event_type"]: r["approx_users"]
        for r in _q(spark, sf_dir, "agg_sketch_rollup").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["cnt"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("cnt"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, est in approx.items():
        assert abs(est - exact[k]) <= max(2, 0.05 * exact[k]), (
            k, est, exact[k],
        )


def test_sketch_rollup_within_merge_error(spark, sf_dir):
    # The merged-daily-HLL estimate has no cross-engine oracle; bound it
    # against the exact distinct instead.  lgConfigK=12 DataSketches HLL
    # has rsd ~1.6% — a 10% envelope is loose enough for any sf while
    # still catching a unit-scale bug (e.g. merging counts not sketches).
    merged = {
        r["event_type"]: r["approx_users"]
        for r in _q(spark, sf_dir, "agg_sketch_rollup").collect()
    }
    exact = {
        r["event_type"]: r["cnt"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("cnt"))
        .collect()
    }
    assert set(merged) == set(exact)
    for et, est in merged.items():
        assert 0.90 * exact[et] <= est <= 1.10 * exact[et], (et, est, exact[et])


def test_mmr_diversify_matches_independent_recompute(spark, sf_dir):
    # Recompute the full selection independently in pure Python from
    # the raw parquet and demand identical picks in identical order
    # (third engine alongside Spark and the DuckDB oracle; uses the
    # same exact-integer recurrence over 6dp-rounded similarities).
    import os
    import math
    import pyarrow.parquet as pq
    from covid_19_data_analysis_bigdata_spark.operators.curation import (
        MMR_K,
        MMR_LAMBDA,
        MMR_POOL,
    )

    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in tbl.to_pylist()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    expected = {}
    for pid in [v for v in vecs if v < 10]:
        pool = sorted(
            (
                (round(cos(vecs[pid], vecs[c]), 6), c)
                for c in vecs
                if c != pid
            ),
            key=lambda t: (-t[0], t[1]),
        )[:MMR_POOL]
        unit = {
            c: [x / math.sqrt(sum(y * y for y in vecs[c])) for x in vecs[c]]
            for _, c in pool
        }
        assert MMR_LAMBDA == 0.5
        chosen = []
        remaining = list(pool)
        while remaining and len(chosen) < MMR_K:
            best, best_key = None, None
            # strict > keeps the FIRST max in (−sim, cand_id) pool
            # order — exactly np.argmax's tie behavior in the impl;
            # exact-integer recurrence over 6dp-rounded sims, same as
            # the operator and its DuckDB oracle
            for s, c in remaining:
                red = max(
                    (
                        round(
                            round(
                                sum(
                                    x * y
                                    for x, y in zip(unit[c], unit[sc])
                                ),
                                6,
                            )
                            * 1e6
                        )
                        for sc in chosen
                    ),
                    default=0,
                )
                score = round(s * 1e6) - red
                if best_key is None or score > best_key:
                    best, best_key = (s, c), score
            chosen.append(best[1])
            remaining.remove(best)
        expected[pid] = chosen

    got = {}
    for r in _q(spark, sf_dir, "llm_mmr_diversify").collect():
        got.setdefault(r["probe_id"], []).append((r["rank"], r["vec_id"]))
    assert set(got) == set(expected)
    for pid, picks in got.items():
        ordered = [v for _, v in sorted(picks)]
        assert ordered == expected[pid], (pid, ordered, expected[pid])


def test_ann_pq_recall_floor(spark, sf_dir):
    # Codebook means are float averages (summation-order-dependent), so
    # no value oracle; the contract is retrieval quality: ADC shortlist
    # + exact rerank must recover most of the true top-10.
    import os
    import pyarrow.parquet as pq_

    tbl = pq_.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pylist()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in tbl}

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    exact = {}
    for pid in [v for v in vecs if v < 10]:
        nn = sorted(((d2(vecs[pid], vecs[c]), c) for c in vecs if c != pid))[:10]
        exact[pid] = {c for _, c in nn}

    got = {}
    for r in _q(spark, sf_dir, "llm_ann_pq").collect():
        got.setdefault(r["probe_id"], set()).add(r["vec_id"])

    assert set(got) == set(exact)
    recalls = [len(got[p] & exact[p]) / 10 for p in exact]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.6, f"avg recall@10 {avg} below floor (per-probe {recalls})"
    assert min(recalls) >= 0.4, f"min recall@10 {min(recalls)} below floor"


def test_polyhash_agrees_with_duckdb_on_random_strings(spark):
    # The portable polynomial hash underpins fingerprinting, split
    # assignment, and MinHash bucketing; prove Spark and DuckDB agree
    # bit-for-bit on a seeded random corpus (printable ASCII, length
    # 0-64), not just on the fixture data.
    import random
    import string

    import duckdb

    from covid_19_data_analysis_bigdata_spark.operators.textprep import (
        _POLY_SQL,
        _polyhash,
    )

    rng = random.Random(20260813)
    alphabet = string.ascii_letters + string.digits + " .,!?-_@#"
    samples = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 64)))
        for _ in range(500)
    ]

    sdf = spark.createDataFrame([(s,) for s in samples], ["s"])
    spark_hashes = [
        r["h"] for r in sdf.select(_polyhash(F.col("s")).alias("h")).collect()
    ]

    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INTEGER, s VARCHAR)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)", list(enumerate(samples))
    )
    duck_hashes = [
        r[0]
        for r in con.sql(
            "SELECT " + _POLY_SQL.format(col="s") + " FROM t ORDER BY i"
        ).fetchall()
    ]
    assert spark_hashes == duck_hashes


def test_winnowing_matches_pure_python_recompute(spark, sf_dir):
    # Exact recompute of the full winnowing pipeline (word trigrams ->
    # portable polyhash -> per-window minima -> distinct fingerprints ->
    # cross-doc share counts) in pure Python over the same parquet.
    import os

    import pyarrow.parquet as pq_

    from covid_19_data_analysis_bigdata_spark.operators.retrieval import (
        WIN_K,
        WIN_W,
    )
    from covid_19_data_analysis_bigdata_spark.operators.textprep import MOD

    tbl = pq_.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pylist()

    def polyhash(s):
        acc = 7
        for ch in s:
            acc = (acc * 31 + ord(ch)) % MOD
        return acc

    fps = {}
    n_grams = {}
    for r in tbl:
        ws = r["text"].lower().split(" ")
        grams = [
            " ".join(ws[i : i + WIN_K]) for i in range(len(ws) - WIN_K + 1)
        ]
        if not grams:
            continue
        hs = [polyhash(g) for g in grams]
        n_grams[r["doc_id"]] = len(hs)
        if len(hs) >= WIN_W:
            sel = {
                min(hs[i : i + WIN_W]) for i in range(len(hs) - WIN_W + 1)
            }
        else:
            sel = {min(hs)}
        fps[r["doc_id"]] = sel

    from collections import Counter

    owners = Counter()
    for s in fps.values():
        owners.update(s)
    shared = {f for f, c in owners.items() if c >= 2}

    got = {r["doc_id"]: r for r in _q(spark, sf_dir, "llm_winnowing").collect()}
    assert set(got) == set(fps)
    for did, sel in fps.items():
        r = got[did]
        assert r["n_grams"] == n_grams[did], did
        assert r["n_fp"] == len(sel), did
        assert r["n_shared_fp"] == len(sel & shared), did


def test_attribution_partitions_all_purchases(spark, sf_dir):
    # Every purchase lands in exactly one channel; revenue cents equal
    # the exact integer total over all purchases.
    import os

    import pyarrow.parquet as pq_

    ev = pq_.read_table(os.path.join(sf_dir, "events.parquet")).to_pylist()
    purchases = [r for r in ev if r["event_type"] == "purchase"]
    total_cents = sum(round(r["value"] * 100) for r in purchases)

    rows = _q(spark, sf_dir, "report_last_touch_attribution").collect()
    assert sum(r["n_purchases"] for r in rows) == len(purchases)
    assert sum(r["revenue_cents"] for r in rows) == total_cents
    assert len({r["channel"] for r in rows}) == len(rows)


def test_gopher_keep_is_conjunction_of_flags(spark, sf_dir):
    rows = _q(spark, sf_dir, "llm_gopher_rules").collect()
    assert rows
    for r in rows:
        assert r["keep"] == (
            r["r_word_count"]
            and r["r_mean_word_len"]
            and r["r_alpha_frac"]
            and r["r_stopwords"]
            and r["r_repetition"]
        )


def test_hybrid_rrf_score_is_rank_formula(spark, sf_dir):
    from covid_19_data_analysis_bigdata_spark.operators.retrieval import (
        RRF_K,
        RRF_TOPK,
    )

    rows = _q(spark, sf_dir, "llm_hybrid_rrf").collect()
    assert rows
    per_probe = {}
    for r in rows:
        expect = 0.0
        if r["dense_rank"] is not None:
            expect += 1.0 / (RRF_K + r["dense_rank"])
        if r["lex_rank"] is not None:
            expect += 1.0 / (RRF_K + r["lex_rank"])
        assert abs(r["rrf"] - round(expect, 6)) < 1e-9, r
        per_probe.setdefault(r["probe_id"], []).append(r["rank"])
    for pid, ranks in per_probe.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), pid
        assert len(ranks) <= RRF_TOPK


def test_pca_power_matches_numpy_fixed_point_recompute(spark, sf_dir):
    # Third, engine-independent check (the DuckDB oracle is the second):
    # replay the EXACT fixed-point recurrence in numpy/python ints and
    # demand equality of the reported vector and eigenvalue estimate.
    # (Convergence-to-eigenvector is NOT asserted: the synthetic
    # embeddings are near-isotropic — spectral gap ~1.07 — so four
    # iterations amplify but cannot isolate the top direction; the
    # Rayleigh estimate must still exceed the spectrum mean.)
    import os

    import numpy as np
    import pyarrow.parquet as pq_

    from covid_19_data_analysis_bigdata_spark.operators.iterative import (
        PCA_ITERS,
        PCA_VS,
        PCA_XS,
    )

    tbl = pq_.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["embedding"]
    )
    X = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    Xi = np.round(X * PCA_XS).astype(np.int64)
    n = len(Xi)

    v = np.full(64, PCA_VS, dtype=np.int64)
    for _ in range(PCA_ITERS):
        dot = Xi @ v
        ds = np.round(dot / 1000.0).astype(np.int64)
        w = Xi.T @ ds
        ss = 0.0
        for q in w:
            ss += float(q) * float(q)
        v = np.round(w / np.sqrt(ss) * PCA_VS).astype(np.int64)

    rows = sorted(
        _q(spark, sf_dir, "ml_pca_power").collect(), key=lambda r: r["k"]
    )
    assert len(rows) == 64
    got_v = [r["v_k"] for r in rows]
    for k in range(64):
        assert abs(got_v[k] - round(v[k] / PCA_VS, 6)) < 1e-9, k
    lam = rows[0]["eigenvalue"]
    assert abs(lam - round(np.sqrt(ss) / 1e8 / n, 6)) < 1e-9
    # power iteration must amplify: estimate above the spectrum mean
    trace_mean = float(np.trace(X.T @ X / n)) / 64
    assert lam > trace_mean


def test_embedding_covariance_agrees_with_numpy(spark, sf_dir):
    import os

    import numpy as np
    import pyarrow.parquet as pq_

    from covid_19_data_analysis_bigdata_spark.operators.curation import (
        COV_DIMS,
    )

    tbl = pq_.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["embedding"]
    )
    X = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)[
        :, :COV_DIMS
    ]
    # population covariance of the quantized components, matching the op
    Xq = np.round(X * 1000)
    n = len(Xq)
    for r in _q(spark, sf_dir, "llm_embedding_covariance").collect():
        i, j = r["i"], r["j"]
        expect = (
            n * float(Xq[:, i] @ Xq[:, j])
            - Xq[:, i].sum() * Xq[:, j].sum()
        ) / (n * n * 1e6)
        assert abs(r["cov"] - expect) < 1e-4, (i, j, r["cov"], expect)


def test_ols_normal_eq_agrees_with_numpy_lstsq(spark, sf_dir):
    # Independent solver: numpy least squares over the same quantized
    # features must give the same betas and R^2 (to the 6dp rounding).
    import os

    import numpy as np
    import pyarrow.parquet as pq_

    o = pq_.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderkey", "o_totalprice"],
    ).to_pylist()
    li = pq_.read_table(
        os.path.join(sf_dir, "lineitem.parquet"),
        columns=["l_orderkey", "l_quantity"],
    ).to_pylist()
    from collections import defaultdict

    cnt = defaultdict(int)
    qty = defaultdict(int)
    for r in li:
        cnt[r["l_orderkey"]] += 1
        qty[r["l_orderkey"]] += round(r["l_quantity"])
    rows_in = [
        (round(r["o_totalprice"]), cnt[r["o_orderkey"]], qty[r["o_orderkey"]])
        for r in o
        if r["o_orderkey"] in cnt
    ]
    y = np.array([r[0] for r in rows_in], dtype=np.float64)
    X = np.column_stack(
        [
            np.ones(len(rows_in)),
            [r[1] for r in rows_in],
            [r[2] for r in rows_in],
        ]
    ).astype(np.float64)
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    pred = X @ beta
    r2 = 1 - ((y - pred) ** 2).sum() / ((y - y.mean()) ** 2).sum()

    row = _q(spark, sf_dir, "ml_ols_normal_eq").collect()[0]
    assert row["n_orders"] == len(rows_in)
    # normal-equations-via-Cramer and QR lstsq agree to solver
    # conditioning, not to ulps — compare at 1e-6 relative
    for got, ref in [
        (row["beta0"], beta[0]),
        (row["beta1"], beta[1]),
        (row["beta2"], beta[2]),
    ]:
        assert abs(got - ref) <= 1e-6 * max(1.0, abs(ref)), (got, ref)
    assert abs(row["r2"] - r2) < 1e-4


def test_perplexity_bigram_matches_python_recompute(spark, sf_dir):
    # Exact recompute of the add-one bigram LM in pure Python.
    import math
    import os
    from collections import Counter

    import pyarrow.parquet as pq_

    docs = pq_.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pylist()
    c1, c2 = Counter(), Counter()
    streams = {}
    for r in docs:
        ws = r["text"].lower().split(" ")
        c1.update(ws)
        bgs = list(zip(ws, ws[1:]))
        if bgs:
            streams[r["doc_id"]] = bgs
            c2.update(bgs)
    V = len(c1)

    got = {
        r["doc_id"]: r
        for r in _q(spark, sf_dir, "llm_perplexity_bigram").collect()
    }
    assert set(got) == set(streams)
    for did, bgs in streams.items():
        nll = sum(
            -math.log((c2[(a, b)] + 1.0) / (c1[a] + V)) for a, b in bgs
        )
        assert got[did]["n_bigrams"] == len(bgs)
        assert abs(got[did]["cross_entropy"] - round(nll / len(bgs), 4)) < 1e-9


def test_outlier_iqr_matches_numpy_fences(spark, sf_dir):
    import os

    import numpy as np
    import pyarrow.parquet as pq_

    ev = pq_.read_table(
        os.path.join(sf_dir, "events.parquet"),
        columns=["event_type", "value"],
    ).to_pylist()
    from collections import defaultdict

    vals = defaultdict(list)
    for r in ev:
        vals[r["event_type"]].append(r["value"])

    for r in _q(spark, sf_dir, "dq_outlier_iqr").collect():
        v = np.array(vals[r["event_type"]])
        q1, q3 = np.percentile(v, [25, 75])  # linear interpolation
        lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
        assert abs(r["lo_fence"] - round(lo, 6)) < 1e-4
        assert abs(r["hi_fence"] - round(hi, 6)) < 1e-4
        assert r["n_outliers"] == int(((v < lo) | (v > hi)).sum())
        assert r["n_events"] == len(v)


def test_ann_ivfpq_recall_tracks_cell_permitted_bound(spark, sf_dir):
    # The synthetic embeddings are near-isotropic, so label cells are
    # weak geometric clusters and cell pruning ITSELF caps recall (the
    # upper bound is ~0.4 at sf0.001).  The honest invariant for the
    # composed pipeline: ADC + rerank recover nearly everything the
    # probed cells permit — achieved recall >= 80% of the in-test
    # upper bound, plus an absolute sanity floor.
    import os

    import numpy as np
    import pyarrow.parquet as pq_

    from covid_19_data_analysis_bigdata_spark.operators.textprep import (
        IVFPQ_NPROBE,
    )

    tbl = pq_.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pylist()
    V = {r["vec_id"]: np.array(r["embedding"], dtype=float) for r in tbl}
    lab = {r["vec_id"]: r["label"] for r in tbl}
    cents = {
        l: np.mean([V[i] for i in V if lab[i] == l], axis=0)
        for l in set(lab.values())
    }

    got = {}
    for r in _q(spark, sf_dir, "llm_ann_ivfpq").collect():
        got.setdefault(r["probe_id"], set()).add(r["vec_id"])

    achieved, bound = [], []
    for p in range(10):
        d = {l: float(np.sum((V[p] - c) ** 2)) for l, c in cents.items()}
        probed = sorted(d, key=lambda l: (d[l], l))[:IVFPQ_NPROBE]
        nn = sorted(
            ((float(np.sum((V[p] - V[c]) ** 2)), c) for c in V if c != p)
        )[:10]
        exact = {c for _, c in nn}
        bound.append(sum(1 for c in exact if lab[c] in probed) / 10)
        achieved.append(len(got.get(p, set()) & exact) / 10)

    avg_a, avg_b = sum(achieved) / 10, sum(bound) / 10
    assert avg_a >= 0.8 * avg_b, (avg_a, avg_b, achieved, bound)
    assert avg_a >= 0.3, (avg_a, achieved)


class TestLshBucketCapGuard:
    """Round-5 scale guard: the LSH candidate self-join must not go
    quadratic inside one bucket.  A boilerplate-heavy corpus can put
    millions of near-identical docs into the same (band, sig) bucket;
    the banded join bounds that bucket's pair count at s*cap while
    staying EXACTLY equal to the uncapped join for buckets <= cap+1
    members (test corpora never exceed that, so oracles are unaffected)."""

    def _bands(self, spark, n_docs, n_buckets):
        rows = [(i, 0, i % n_buckets) for i in range(n_docs)]
        return spark.createDataFrame(rows, "doc_id long, band int, sig long")

    def test_mega_bucket_pairs_bounded_linear(self, spark):
        from covid_19_data_analysis_bigdata_spark.operators.llm import (
            LSH_BUCKET_CAP,
            _lsh_candidate_pairs,
        )

        s = 500  # one bucket, 500 members: uncapped join would emit 124,750
        bands = self._bands(spark, s, 1)
        got = _lsh_candidate_pairs(bands).count()
        expect = s * LSH_BUCKET_CAP - LSH_BUCKET_CAP * (LSH_BUCKET_CAP + 1) // 2
        assert got == expect  # s*cap-ish, NOT s*(s-1)/2
        assert got < s * LSH_BUCKET_CAP

    def test_mega_bucket_stays_connected(self, spark):
        """Every member must remain reachable so cluster-level dedup
        decisions see one component, not a shattered bucket."""
        from covid_19_data_analysis_bigdata_spark.operators.llm import (
            _lsh_candidate_pairs,
        )

        s = 200
        pairs = _lsh_candidate_pairs(self._bands(spark, s, 1)).collect()
        parent = list(range(s))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in pairs:
            parent[find(int(r["a_id"]))] = find(int(r["b_id"]))
        assert len({find(i) for i in range(s)}) == 1

    def test_small_buckets_identical_to_uncapped(self, spark):
        from pyspark.sql import functions as F

        from covid_19_data_analysis_bigdata_spark.operators.llm import (
            _lsh_candidate_pairs,
        )

        bands = self._bands(spark, 120, 4)  # buckets of 30 <= cap+1
        capped = {
            (r["a_id"], r["b_id"]) for r in _lsh_candidate_pairs(bands).collect()
        }
        a, b = bands.alias("a"), bands.alias("b")
        uncapped = {
            (r["a_id"], r["b_id"])
            for r in a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
            .collect()
        }
        assert capped == uncapped


class TestSketchSeedStability:
    """The three weak-by-design sketch queries have no exact oracle, so
    their only cross-round anchor is determinism: identical output on
    every run within an engine version, and a pinned value-fingerprint
    that a silent Spark-upgrade change to HLL/KLL internals would break
    loudly instead of drifting the recorded evidence."""

    # agg_kll_quantile_rollup is deliberately absent: KLL compaction
    # draws random bits per execution, so its point estimates are not
    # run-stable even under a fixed engine+data key (its contract is
    # the rank envelope, pinned by agg_kll_band's strong oracle).
    NAMES = [
        "agg_approx_distinct",
        "agg_approx_percentile",
        "agg_sketch_rollup",
        "agg_theta_set_ops",
    ]

    @staticmethod
    def _fingerprint(spark, sf_dir, name):
        import hashlib

        df = _q(spark, sf_dir, name)
        cols = sorted(df.columns)
        rows = sorted(
            "|".join(repr(r[c]) for c in cols) for r in df.collect()
        )
        # hashlib, not hash(): the builtin is salted per process, which
        # would make every pytest run disagree with the pinned value.
        return hashlib.md5("\n".join(rows).encode()).hexdigest()

    def test_repeated_runs_identical(self, spark, sf_dir):
        for name in self.NAMES:
            a = self._fingerprint(spark, sf_dir, name)
            b = self._fingerprint(spark, sf_dir, name)
            assert a == b, f"{name} is not run-stable"

    def test_pinned_fingerprints_current_engine(self, spark, sf_dir):
        """Pin the concrete sketch outputs under the current
        (spark-version, data-fingerprint) key.  If a Spark upgrade
        changes sketch internals, this fails and the pins (plus any
        committed sweep artifacts) must be regenerated TOGETHER —
        silent drift is the failure mode this blocks.  The data key is
        content-addressed (``_source_fingerprint`` hashes the parquet
        bytes), so re-materializing identical testdata keeps it; an
        unknown key fails instead of being recorded, and pins are only
        written when ``SKETCH_PINS_UPDATE=1`` is set."""
        import json
        import os
        import pathlib

        from covid_19_data_analysis_bigdata_spark.sources.io import (
            _source_fingerprint,
        )

        pin_file = pathlib.Path(__file__).parent / "sketch_pins.json"
        key = f"spark{spark.version}_data{_source_fingerprint(sf_dir)}"
        got = {n: self._fingerprint(spark, sf_dir, n) for n in self.NAMES}
        pins = json.loads(pin_file.read_text()) if pin_file.exists() else {}
        if os.environ.get("SKETCH_PINS_UPDATE") == "1":
            pins[key] = got
            pin_file.write_text(json.dumps(pins, indent=2) + "\n")
            return
        assert key in pins, (
            f"no sketch pins for {key} (engine or testdata bytes changed): "
            "check the sketch outputs, then rerun with SKETCH_PINS_UPDATE=1 "
            "and regenerate the committed sweep artifacts together"
        )
        assert pins[key] == got, (
            "sketch outputs changed under an unchanged engine+data key — "
            "nondeterminism or a packaging change; investigate before "
            "regenerating pins"
        )


class TestFuzzyJoinBandCoverage:
    """Round-6 scale guard: the (brand, length-band) blocking of
    ``join_fuzzy_levenshtein`` must have EXACT recall over its banded
    candidate set — every same-brand pair with |len(a)-len(b)| <=
    FUZZY_MAXDIST counted exactly once (bands of width maxdist+1 probed
    at offsets {-1,0,+1} cover every qualifying pair, and a pair's two
    bands differ by at most 1 so it is found exactly once)."""

    def test_band_arithmetic_exhaustive(self):
        from covid_19_data_analysis_bigdata_spark.operators.joins import (
            FUZZY_MAXDIST,
        )

        band = FUZZY_MAXDIST + 1
        for la in range(1, 200):
            for lb in range(max(1, la - FUZZY_MAXDIST), la + FUZZY_MAXDIST + 1):
                assert abs(lb // band - la // band) <= 1

    def test_candidate_counts_match_plain_predicate(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from covid_19_data_analysis_bigdata_spark.sources.io import load_table

        got = {
            r["p_brand"]: r["n_pairs"]
            for r in _q(spark, sf_dir, "join_fuzzy_levenshtein").collect()
        }
        p = load_table(spark, sf_dir, "part")
        a = p.select(
            "p_brand",
            F.col("p_partkey").alias("a_key"),
            F.length("p_name").alias("a_len"),
        )
        b = p.select(
            F.col("p_brand").alias("b_brand"),
            F.col("p_partkey").alias("b_key"),
            F.length("p_name").alias("b_len"),
        )
        plain = (
            a.join(b, F.col("b_brand") == F.col("p_brand"))
            .filter(
                (F.col("b_key") > F.col("a_key"))
                & (F.abs(F.col("a_len") - F.col("b_len")) <= 3)
            )
            .groupBy("p_brand")
            .count()
        )
        want = {r["p_brand"]: r["count"] for r in plain.collect()}
        assert got == want


# --------------------------------------------------------------------------
# Round-7 batches 56-68: algebraic invariants
# --------------------------------------------------------------------------

def test_kaplan_meier_curve_invariants(spark, sf_dir):
    """S(t) must be non-increasing in (0, 1]; risk sets must be
    positive, non-increasing, and never smaller than that time's
    events."""
    rows = sorted(
        _q(spark, sf_dir, "ml_kaplan_meier").collect(),
        key=lambda r: r["dur_day"],
    )
    assert rows, "empty KM curve"
    prev_s, prev_risk = 1.0 + 1e-9, None
    for r in rows:
        # S hits exactly 0 when the last at-risk subject events (this
        # corpus has no censoring on the error endpoint).
        assert 0.0 <= r["survival"] <= prev_s
        assert r["n_event"] >= 1 and r["n_risk"] >= r["n_event"]
        if prev_risk is not None:
            assert r["n_risk"] < prev_risk
        prev_s, prev_risk = r["survival"], r["n_risk"]


def test_nelson_aalen_vs_km_consistency(spark, sf_dir):
    """Cumulative hazard must be non-decreasing, and at every event
    time H(t) >= -ln(S(t)) (the classical inequality: sums dominate
    the log-product when hazards are positive... the weaker direction
    that is numerically robust is H >= 1 - S)."""
    na = {
        r["dur_day"]: r["cum_hazard"]
        for r in _q(spark, sf_dir, "ml_nelson_aalen").collect()
    }
    km = {
        r["dur_day"]: r["survival"]
        for r in _q(spark, sf_dir, "ml_kaplan_meier").collect()
    }
    assert set(na) == set(km)
    prev = 0.0
    for d in sorted(na):
        assert na[d] >= prev
        prev = na[d]
        assert na[d] >= (1.0 - km[d]) - 1e-9


def test_competing_risks_cifs_bounded_by_total(spark, sf_dir):
    """Each CIF is non-decreasing and the two CIFs together never
    exceed 1 (they partition the event space with survival)."""
    rows = sorted(
        _q(spark, sf_dir, "ml_competing_risks").collect(),
        key=lambda r: r["dur_day"],
    )
    pe = pp = 0.0
    for r in rows:
        assert r["cif_error"] >= pe - 1e-9
        assert r["cif_purchase"] >= pp - 1e-9
        pe, pp = r["cif_error"], r["cif_purchase"]
        assert pe + pp <= 1.0 + 1e-9


def test_rmst_bounded_by_tau(spark, sf_dir):
    row = _q(spark, sf_dir, "ml_rmst").collect()[0]
    assert 0.0 < row["rmst"] <= row["tau"] + 1e-9


def test_logrank_groups_partition_events(spark, sf_dir):
    row = _q(spark, sf_dir, "ml_logrank_test").collect()[0]
    assert 0 <= row["o_a"] <= row["d_tot"]
    assert row["chi2_logrank"] >= 0.0


def test_permutation_p_value_range(spark, sf_dir):
    row = _q(spark, sf_dir, "ml_permutation_test").collect()[0]
    lo = 1.0 / (1.0 + 200)
    assert lo - 1e-12 <= row["p_value"] <= 1.0
    assert row["n_a"] + row["n_b"] == 150 or row["n_a"] + row["n_b"] > 0


def test_bootstrap_ci_brackets_estimate_order(spark, sf_dir):
    row = _q(spark, sf_dir, "ml_bootstrap_ci").collect()[0]
    assert row["ci_lo"] <= row["ci_hi"]
    assert row["n_boot"] == 200


def test_peak_concurrency_bounds(spark, sf_dir):
    """Each day's peak is at least 1 and never exceeds the total
    session count."""
    rows = _q(spark, sf_dir, "events_peak_concurrency").collect()
    assert rows
    sessions = _q(spark, sf_dir, "win_sessionize_batch").count()
    for r in rows:
        assert 1 <= r["peak_concurrency"] <= sessions


def test_merge_intervals_union_not_longer_than_sum(spark, sf_dir):
    """Merged covered days never exceed the sum of raw interval
    lengths, and busy periods never exceed interval count."""
    for r in _q(spark, sf_dir, "win_merge_intervals").collect():
        assert r["n_busy_periods"] <= r["n_intervals"]
        assert r["covered_days"] >= 1


def test_wilson_interval_brackets_p_hat(spark, sf_dir):
    row = _q(spark, sf_dir, "ml_wilson_ci").collect()[0]
    assert 0.0 <= row["wilson_lo"] <= row["p_hat"] <= row["wilson_hi"] <= 1.0


def test_ratio_ci_brackets_ratio(spark, sf_dir):
    row = _q(spark, sf_dir, "ml_ratio_metric_ci").collect()[0]
    assert row["ci_lo"] <= row["ratio_cents_per_event"] <= row["ci_hi"]
    assert row["se"] > 0.0


def test_brier_skill_consistency(spark, sf_dir):
    row = _q(spark, sf_dir, "ml_brier_score").collect()[0]
    assert 0.0 <= row["brier"] <= 1.0
    assert row["brier_skill"] <= 1.0


def test_did_equals_cell_means(spark, sf_dir):
    row = _q(spark, sf_dir, "ml_diff_in_diff").collect()[0]
    did = (row["mean_treat_post"] - row["mean_treat_pre"]) - (
        row["mean_ctrl_post"] - row["mean_ctrl_pre"]
    )
    assert abs(did - row["did_usd"]) < 0.01


def test_hits_scores_max_normalized(spark, sf_dir):
    rows = _q(spark, sf_dir, "graph_hits_scores").collect()
    assert max(r["hub_score"] for r in rows) == 1_000_000
    assert max(r["authority_score"] for r in rows) == 1_000_000
    assert all(
        0 <= r["hub_score"] <= 1_000_000
        and 0 <= r["authority_score"] <= 1_000_000
        for r in rows
    )


def test_closeness_within_bounds(spark, sf_dir):
    rows = _q(spark, sf_dir, "graph_closeness_centrality").collect()
    n = len(rows)
    for r in rows:
        assert 1 <= r["n_reachable"] <= n
        assert 0.0 <= r["closeness"] <= 1.0 + 1e-9
        assert r["eccentricity"] <= 3  # hop bound


def test_rbo_in_unit_interval(spark, sf_dir):
    row = _q(spark, sf_dir, "ml_rank_biased_overlap").collect()[0]
    assert 0.0 <= row["rbo"] <= 1.0
    assert 0 <= row["n_common"] <= row["depth"]


def test_katz_floor_is_scale(spark, sf_dir):
    rows = _q(spark, sf_dir, "graph_katz_centrality").collect()
    assert all(r["katz_score"] >= 1_000_000 for r in rows)


def test_filter_funnel_monotone(spark, sf_dir):
    rows = sorted(
        _q(spark, sf_dir, "llm_filter_funnel").collect(),
        key=lambda r: r["stage"],
    )
    prev_out = None
    for r in rows:
        assert r["n_out"] <= r["n_in"]
        if prev_out is not None:
            assert r["n_in"] == prev_out
        prev_out = r["n_out"]


def test_matryoshka_retained_monotone_in_k(spark, sf_dir):
    rows = {
        r["k"]: r["mean_retained"]
        for r in _q(spark, sf_dir, "llm_matryoshka_eval").collect()
    }
    assert rows[8] <= rows[16] <= rows[32] <= 1.0


def test_knn_grid_at_most_k_per_point(spark, sf_dir):
    from collections import Counter

    rows = _q(spark, sf_dir, "join_knn_grid").collect()
    per = Counter(r["user_id"] for r in rows)
    assert per and max(per.values()) <= 3
    assert all(r["cheb"] <= 32 for r in rows)


def test_npv_below_undiscounted_total(spark, sf_dir):
    """Discounting at a positive rate must yield less than the raw
    revenue total, and more than zero."""
    row = _q(spark, sf_dir, "ts_npv_discounted").collect()[0]
    od = load_table(spark, sf_dir, "orders")
    total = od.select(
        F.sum(F.round("o_totalprice").cast("long")).alias("t")
    ).collect()[0]["t"]
    assert 0.0 < row["npv_usd"] < float(total)


def test_sharpe_consistent_with_parts(spark, sf_dir):
    row = _q(spark, sf_dir, "ts_sharpe_ratio").collect()[0]
    assert row["vol"] > 0.0
    assert abs(row["sharpe"] - row["mean_ret"] / row["vol"]) < 1e-4


def test_beta_corr_sign_agreement(spark, sf_dir):
    """Beta and correlation share the covariance numerator, so their
    signs must agree; |corr| <= 1."""
    row = _q(spark, sf_dir, "ts_beta_to_market").collect()[0]
    assert abs(row["corr"]) <= 1.0 + 1e-9
    assert (row["beta"] >= 0) == (row["corr"] >= 0)


def test_doubling_time_positive_and_cum_monotone(spark, sf_dir):
    rows = sorted(
        _q(spark, sf_dir, "ts_doubling_time").collect(),
        key=lambda r: r["day_idx"],
    )
    assert rows
    prev_c = 0
    for r in rows:
        assert r["doubling_days"] >= 1
        assert r["cum_cases"] >= prev_c
        prev_c = r["cum_cases"]


def test_active_outstanding_identity(spark, sf_dir):
    for r in _q(spark, sf_dir, "ts_active_outstanding").collect():
        assert r["active"] == r["cum_opened"] - r["cum_resolved"]


def test_growth_ratio_parts_positive(spark, sf_dir):
    for r in _q(spark, sf_dir, "ts_growth_ratio_rt").collect():
        assert r["n_recent"] >= 0 and r["n_prior"] > 0
        assert r["growth_ratio"] >= 0.0


def test_mase_is_ratio_of_maes(spark, sf_dir):
    row = _q(spark, sf_dir, "ts_mase_backtest").collect()[0]
    assert row["mae_naive_usd"] > 0
    assert (
        abs(
            row["mase"]
            - row["mae_model_usd"] / row["mae_naive_usd"]
        )
        < 1e-4
    )


def test_interval_coverage_in_unit_range(spark, sf_dir):
    row = _q(spark, sf_dir, "ts_interval_coverage").collect()[0]
    assert 0 <= row["n_covered"] <= row["n_days"]
    assert abs(row["coverage"] - row["n_covered"] / row["n_days"]) < 1e-4


def test_theil_u2_is_rmse_ratio(spark, sf_dir):
    import math

    row = _q(spark, sf_dir, "ts_theil_u2").collect()[0]
    assert row["sse_naive"] > 0
    assert (
        abs(
            row["theil_u2"]
            - math.sqrt(row["sse_model"] / row["sse_naive"])
        )
        < 1e-4
    )


def test_pinball_loss_nonnegative(spark, sf_dir):
    row = _q(spark, sf_dir, "ts_pinball_loss").collect()[0]
    assert row["pinball_tenths"] >= 0
    assert row["mean_pinball_usd"] >= 0.0


def test_srm_counts_cover_population(spark, sf_dir):
    row = _q(spark, sf_dir, "report_ab_srm_check").collect()[0]
    cu = load_table(spark, sf_dir, "customer").count()
    assert row["n_a"] + row["n_b"] == cu
    assert row["chi2_srm"] >= 0.0


def test_sprt_llr_matches_counts(spark, sf_dir):
    """Spot-check the LLR identity on the final day."""
    rows = sorted(
        _q(spark, sf_dir, "ml_sprt_monitor").collect(),
        key=lambda r: r["day_idx"],
    )
    last = rows[-1]
    expect = last["k"] * 0.20067069546215124 + (
        last["n"] - last["k"]
    ) * -0.05001042057466142
    assert abs(last["llr"] - expect) < 1e-4
    assert last["decision"] in {"accept_h1", "accept_h0", "continue"}


def test_span_corruption_rate_near_target(spark, sf_dir):
    """Planned corrupt rate should sit near (and never wildly above)
    the 15% target; checksum must be positive."""
    for r in _q(spark, sf_dir, "llm_span_corruption_plan").collect():
        assert 0.0 < r["corrupt_rate"] < 0.30
        assert r["span_start_checksum"] > 0


def test_aspect_buckets_partition_corpus(spark, sf_dir):
    rows = _q(spark, sf_dir, "multimodal_aspect_bucket").collect()
    d = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_items"] for r in rows) == d
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-3
