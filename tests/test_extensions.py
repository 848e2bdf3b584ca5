"""Unit tests for the training-data extension operators (beyond the
oracle parity checks in tools/check_oracle.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sales_azure_data_engineer_project_spark.operators import dedup as D
from sales_azure_data_engineer_project_spark.operators import multimodal as M
from sales_azure_data_engineer_project_spark.operators import similarity as S


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    return spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact dup of 1
            (3, base + " extra trailing words here"),  # near dup of 1
            (4, "completely different content about spark engines and data"),
            (5, "xy"),  # shorter than one shingle
        ],
        ["doc_id", "text"],
    )


def test_exact_dedup_groups(spark, docs):
    out = D.exact_dedup_groups(docs, "doc_id", "text").collect()
    by_keeper = {r["keeper_id"]: r["n_copies"] for r in out}
    assert by_keeper[1] == 2  # docs 1+2 collapse
    assert by_keeper[3] == 1 and by_keeper[4] == 1 and by_keeper[5] == 1


def test_minhash_lsh_candidates(spark, docs):
    bands = D.minhash_bands(docs, "doc_id", "text")
    cands = {(r["id_a"], r["id_b"]) for r in D.lsh_candidate_pairs(bands, "doc_id").collect()}
    assert (1, 2) in cands  # identical docs always collide in every band
    assert all((4 not in p) for p in cands)


def test_pq_codes_and_adc_retrieval(spark):
    """PQ on two well-separated clusters: identical vectors share codes,
    and ADC ranks same-cluster vectors above the other cluster."""
    a = [10.0, 10.0, 0.0, 0.0]
    b = [0.0, 0.0, 10.0, 10.0]
    rows = [(i, [x + (i % 3) * 0.01 for x in a]) for i in range(6)]
    rows += [(100 + i, [x + (i % 3) * 0.01 for x in b]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    codes, books = S.pq_fit_codes(emb, m=2, k=2, max_iter=4)
    got = {r["vec_id"]: (r["c0"], r["c1"]) for r in codes.collect()}
    assert got[0] == got[3]  # identical vectors → identical codes
    assert got[0] != got[100]  # opposite clusters → different codes
    assert len(books) == 2 and all(len(cb) == 2 for cb in books)
    out = S.pq_adc_topk(codes, books, emb.filter("vec_id = 0"), k_neighbors=8).collect()
    top5 = [r["neighbor_id"] for r in out[:5]]
    assert set(top5) == {1, 2, 3, 4, 5}  # own cluster first


def test_simhash_hamming_pairs(spark, docs):
    """Exact duplicates are Hamming-0 pairs; unrelated content verifies
    far above the threshold and is excluded even if a block collides."""
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_hamming_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0
    assert all(4 not in p for p in pairs)


def test_simhash_hamming_differential_brute(spark):
    """The 4-block pigeonhole is EXHAUSTIVE for Hamming <= 3 (any such
    pair agrees exactly on >= 1 block), so the operator's output must
    EQUAL brute-force all-pairs Hamming — same pairs, same distances."""
    from itertools import combinations

    base = "spark shuffles data between stages when a wide dependency appears"
    rows = [(i, base + f" variant {i % 4}") for i in range(24)]
    rows += [(100 + i, f"totally unrelated corpus line number {i} with words") for i in range(8)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    sig = {
        r["doc_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
        for r in D._simhash64_blocks(df, "doc_id", "text").collect()
    }
    brute = {
        (a, b): sum(bin(sig[a][i] ^ sig[b][i]).count("1") for i in range(4))
        for a, b in combinations(sorted(sig), 2)
        if sum(bin(sig[a][i] ^ sig[b][i]).count("1") for i in range(4)) <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_hamming_pairs(df, "doc_id", "text", max_hamming=3).collect()
    }
    assert got == brute
    assert brute  # the planted variants must actually produce low-hamming pairs


def test_cosine_topk_self_excluded_and_ranked(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    rows.append((9, [1.0, 0.001, 0.0, 0.0]))  # near-parallel to vec 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.cosine_topk(emb, emb.filter("vec_id = 0"), k=2).collect()
    assert [r["neighbor_id"] for r in out] == [9, 1]
    assert out[0]["cos_sim"] > 0.999
    assert all(r["neighbor_id"] != 0 for r in out)


def test_sign_bucket(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, -2.0, 3.0, -4.0]), (2, [0.5, -1.0, 9.9, -0.1]), (3, [-1.0, 1.0, 1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: r["b"] for r in emb.select("vec_id", S.sign_bucket("embedding", 4).alias("b")).collect()}
    assert got[1] == got[2] == "1010" and got[3] == "0111"


def test_multimodal_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x00\x01")


def test_multimodal_extract_features(spark):
    df = spark.createDataFrame([(7, "hello world")], ["doc_id", "text"])
    out = M.extract_features(M.attach_binary_payload(df)).first()
    assert out["n_bytes"] == 11
    assert out["width"] == 11 % 640 and out["height"] == (7 * 11) % 480


def test_arrow_assignment_matches_sql_fold(spark, sf_smoke):
    """Differential: the Arrow/numpy cluster assignment must agree with
    the interpreted SQL-fold assignment everywhere the argmin is
    unambiguous (summation order can only flip exact distance ties)."""
    from pyspark.sql import functions as F

    from sales_azure_data_engineer_project_spark.operators import similarity as S
    from sales_azure_data_engineer_project_spark.operators.kmeans import (
        assign_clusters,
        assign_clusters_arrow,
    )

    emb = S.with_norm(spark.read.parquet(sf_smoke + "/embeddings.parquet"))
    base = emb.select("vec_id", F.col("_v").alias("v"))
    cents = [list(r["v"]) for r in base.orderBy("vec_id").limit(4).collect()]
    sql_rows = {
        r["vec_id"]: r["cluster"] for r in assign_clusters(base, cents, "v").collect()
    }
    arrow_rows = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters_arrow(base, cents, "v").collect()
    }
    assert sql_rows == arrow_rows


def test_pack_sequences_invariants(spark, sf_smoke):
    """Packing arithmetic: sequences = ceil(tokens/512) per shard, fill
    can never exceed 1000 permille, and straddling docs are bounded by
    doc count."""
    import __spark_entry__ as entry_mod

    rows = entry_mod.queries()["pipeline_pack_sequences"](spark, sf_smoke).collect()
    assert rows, "expected shards"
    for r in rows:
        assert r["n_sequences"] == -(-r["n_tokens"] // 512)
        assert 0 < r["fill_permille"] <= 1000
        assert 0 <= r["n_straddling"] <= r["n_docs"]


def test_semdedup_drop_list_vs_brute(spark, sf_smoke):
    """SemDeDup differential at sf0.001: the registered drop list must
    equal the brute-force rule 'drop b iff some a<b in b's k-means cell
    has cosine(a,b) >= 0.45, rep = lowest such a' computed directly
    from the cell assignment — i.e. the pair join, threshold, and
    keep-lowest-id window lose nothing."""
    import itertools

    import numpy as np

    import __spark_entry__ as entry_mod
    from sales_azure_data_engineer_project_spark.queries_extensions import (
        _sq8_kmeans_cells,
    )

    out = {
        r["vec_id"]: (r["cluster"], r["rep_id"])
        for r in entry_mod.queries()["dedup_semantic_semdedup"](spark, sf_smoke).collect()
    }
    cells = _sq8_kmeans_cells(spark, sf_smoke).select("vec_id", "cluster", "v").collect()
    by_cluster: dict[int, list] = {}
    for r in cells:
        by_cluster.setdefault(r["cluster"], []).append((r["vec_id"], np.asarray(r["v"])))
    expect = {}
    for cl, members in by_cluster.items():
        members.sort()
        for (ia, va), (ib, vb) in itertools.combinations(members, 2):
            cos = float(va @ vb) / (np.linalg.norm(va) * np.linalg.norm(vb))
            if cos >= 0.45 and ib not in expect:
                expect[ib] = (cl, ia)
    assert out == expect
    assert out, "expected a non-empty drop list on the smoke corpus"


def test_dsir_importance_prefers_target_profile(spark, sf_smoke):
    """Docs from the designated target sources must score at least as
    high on average as the rest of the corpus — the defining property
    of an importance weight (their own bigram profile IS the target
    distribution)."""
    from sales_azure_data_engineer_project_spark.queries_extensions import (
        text_dsir_importance,
    )

    out = text_dsir_importance(spark, sf_smoke).collect()
    tgt = [r["score_milli"] for r in out if r["source"] in ("src0", "src1")]
    rest = [r["score_milli"] for r in out if r["source"] not in ("src0", "src1")]
    assert sum(tgt) / len(tgt) >= sum(rest) / len(rest)
    # every doc with >=1 bigram is scored
    assert all(r["n_feats"] >= 1 for r in out)


def test_hashed_classifier_matches_python_reference(spark):
    """Inference must equal a per-token Python reimplementation of the
    same hashed-weight model (md5-prefix bucket, (37j+11)%41−20)."""
    import hashlib

    from sales_azure_data_engineer_project_spark.queries_extensions import (
        text_quality_classifier_hashed,
    )

    texts = {1: "alpha beta gamma delta", 2: "one two three four five six"}

    def score(text):
        toks = [t for t in text.lower().split() if t]
        ws = []
        for t in toks:
            j = int(hashlib.md5(f"qc:{t}".encode()).hexdigest()[:2], 16)
            ws.append((j * 37 + 11) % 41 - 20)
        return len(toks), sum(ws)

    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(k, v, "en", "srcT", len(v)) for k, v in texts.items()],
            ["doc_id", "text", "lang", "source", "n_chars"],
        ).write.parquet(os.path.join(d, "documents.parquet"))
        out = {
            r["doc_id"]: r
            for r in text_quality_classifier_hashed(spark, d).collect()
        }
    for k, v in texts.items():
        n, s = score(v)
        assert out[k]["n_toks"] == n and out[k]["wsum"] == s
        assert out[k]["avg_w_milli"] == int(1000 * s / n) if s >= 0 else -(
            1000 * (-s) // n
        )


def test_pca_power_iteration_matches_numpy(spark, sf_smoke):
    """Three quantized power iterations must agree with numpy's exact
    eigendecomposition of the same SQ8 second-moment matrix: loading
    direction cosine > 0.999 and eigenvalue within 2%."""
    import numpy as np

    from sales_azure_data_engineer_project_spark.io import load_testdata
    from sales_azure_data_engineer_project_spark.queries_extensions import (
        embedding_pca_power_iteration,
    )

    out = embedding_pca_power_iteration(spark, sf_smoke).collect()
    got = np.array([r["loading_micro"] for r in sorted(out, key=lambda r: r["dim"])])
    lam = out[0]["lambda_floor"]

    emb = load_testdata(spark, sf_smoke, "embeddings").collect()
    vs = np.array([r["embedding"] for r in emb], dtype=np.float64)
    mn, mx = vs.min(), vs.max()
    codes = np.clip(np.floor((vs - mn) * 256.0 / max(mx - mn, 1e-12)), 0, 255)
    s_mat = codes.T @ codes
    w_eig, v_eig = np.linalg.eigh(s_mat)
    top_val, top_vec = w_eig[-1], v_eig[:, -1]
    if top_vec.sum() < 0:
        top_vec = -top_vec  # power iteration from all-ones → positive orientation

    cos = float(got @ top_vec) / (np.linalg.norm(got) * np.linalg.norm(top_vec))
    assert cos > 0.999, cos
    assert abs(lam - top_val) / top_val < 0.02, (lam, top_val)


def test_bottomk_sketch_is_mergeable(spark, sf_smoke):
    """The defining sketch property: bottom-k(A ∪ B) ==
    bottom-k(bottom-k(A) ∪ bottom-k(B)) — partial sketches combine
    associatively, so per-shard/day sketches roll up without re-reading
    data.  Checked in pure Python on the real keyed rows."""
    import hashlib

    from sales_azure_data_engineer_project_spark.io import load_testdata

    k = 256
    li = load_testdata(spark, sf_smoke, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    rows = [
        (
            hashlib.md5(f"{r['l_orderkey']}_{r['l_linenumber']}".encode()).hexdigest(),
            r["l_extendedprice"],
        )
        for r in li.collect()
    ]
    assert len(rows) > 2 * k  # the property is vacuous otherwise
    mid = len(rows) // 2
    a, b = rows[:mid], rows[mid:]

    def bottomk(rs):
        return sorted(rs)[:k]

    merged_of_sketches = bottomk(bottomk(a) + bottomk(b))
    direct = bottomk(a + b)
    assert merged_of_sketches == direct


def test_bottomk_estimates_are_sane(spark, sf_smoke):
    """Monotone quantile estimates drawn from the group's own values,
    sample size min(k, n_rows)."""
    import __spark_entry__ as entry_mod
    from sales_azure_data_engineer_project_spark.io import load_testdata
    from pyspark.sql import functions as F

    out = entry_mod.queries()["quantile_sketch_bottomk"](spark, sf_smoke).collect()
    li = load_testdata(spark, sf_smoke, "lineitem")
    cents_by_flag = {
        r["l_returnflag"]: set(r["cs"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.collect_set(
                F.floor(F.col("l_extendedprice") * 100).cast("bigint")
            ).alias("cs")
        )
        .collect()
    }
    n_by_flag = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for r in out:
        flag = r["l_returnflag"]
        assert r["n_rows"] == n_by_flag[flag]
        assert r["n_sample"] == min(256, r["n_rows"])
        assert r["est_p50_cents"] <= r["est_p90_cents"] <= r["est_p99_cents"]
        for c in ("est_p50_cents", "est_p90_cents", "est_p99_cents"):
            assert r[c] in cents_by_flag[flag], (flag, c, r[c])


def test_unimax_waterfill_invariants(spark, sf_smoke):
    """UniMax allocation: every language's allocation respects its cap,
    capped languages take exactly the cap, uncapped languages share one
    uniform quota, and the budget is conserved up to integer-division
    remainder (< m tokens left on the table)."""
    import __spark_entry__ as entry_mod

    rows = entry_mod.queries()["pipeline_unimax_language_budget"](
        spark, sf_smoke
    ).collect()
    total = sum(r["tokens_available"] for r in rows)
    budget = (3 * total) // 2
    m = len(rows)
    for r in rows:
        assert r["allocated_tokens"] <= r["cap_tokens"]
        assert r["cap_tokens"] == 2 * r["tokens_available"]
        if r["capped"]:
            assert r["allocated_tokens"] == r["cap_tokens"]
    uncapped = {r["allocated_tokens"] for r in rows if not r["capped"]}
    assert len(uncapped) <= 1  # uniform share
    allocated = sum(r["allocated_tokens"] for r in rows)
    if uncapped:
        assert 0 <= budget - allocated < m
    else:
        assert allocated <= budget


def test_cross_source_matrix_covers_all_lsh_pairs(spark, sf_smoke):
    """The matrix's total pair mass equals the LSH candidate-pair count
    (every pair lands in exactly one unordered source cell) and
    source_a <= source_b everywhere."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    n_pairs = qs["dedup_minhash_lsh"](spark, sf_smoke).count()
    rows = qs["dedup_cross_source_matrix"](spark, sf_smoke).collect()
    assert sum(r["n_pairs"] for r in rows) == n_pairs
    for r in rows:
        assert r["source_a"] <= r["source_b"]
        assert r["cross_source"] == (r["source_a"] != r["source_b"])
        assert 0 <= r["n_strong"] <= r["n_pairs"]


def test_unimax_closed_form_equals_sequential_waterfill(spark, sf_smoke):
    """Differential test of the closed form: simulate UniMax's
    SEQUENTIAL water-filling (the paper's algorithm — repeatedly give
    every remaining language the uniform share; any language whose cap
    is smaller takes the cap and exits) in plain Python on the real
    per-language inventories and require the Spark/closed-form
    allocation to match exactly."""
    import __spark_entry__ as entry_mod

    rows = entry_mod.queries()["pipeline_unimax_language_budget"](
        spark, sf_smoke
    ).collect()
    avail = {r["lang"]: r["tokens_available"] for r in rows}
    got = {r["lang"]: r["allocated_tokens"] for r in rows}
    budget = (3 * sum(avail.values())) // 2

    remaining = dict(avail)
    alloc: dict = {}
    b = budget
    # sequential water-filling with integer shares, languages whose cap
    # (2*avail) is under the current uniform share exit each round
    while remaining:
        share = b // len(remaining)
        capped = {l for l, a in remaining.items() if 2 * a <= share}
        if not capped:
            # everyone takes the uniform share and we're done
            for l in remaining:
                alloc[l] = share
            break
        for l in capped:
            alloc[l] = 2 * remaining[l]
            b -= alloc[l]
            del remaining[l]
    assert got == alloc


def test_sequence_packing_python_differential(spark, sf_smoke):
    """Full Python replay of ``pipeline_pack_sequences`` on the same
    corpus: shard by doc_id mod 8, concat in doc_id order, chop at 512
    — every reported number must match exactly."""
    import re

    from sales_azure_data_engineer_project_spark.io import load_testdata
    from sales_azure_data_engineer_project_spark.queries_extensions import (
        pipeline_pack_sequences,
    )

    docs = load_testdata(spark, sf_smoke, "documents").select("doc_id", "text").collect()
    per_shard: dict = {}
    for r in docs:
        n_tok = len(re.split(r"\s+", r["text"]))
        per_shard.setdefault(r["doc_id"] % 8, []).append((r["doc_id"], n_tok))
    expect = {}
    for shard, items in per_shard.items():
        items.sort()
        cum = 0
        straddling = 0
        for _, n in items:
            start, end = cum, cum + n
            if n > 0 and start // 512 != (end - 1) // 512:
                straddling += 1
            cum = end
        n_seqs = (cum + 511) // 512
        expect[shard] = (
            len(items), cum, n_seqs, straddling, 1000 * cum // (512 * n_seqs)
        )
    got = {
        r["shard"]: (
            r["n_docs"], r["n_tokens"], r["n_sequences"], r["n_straddling"],
            r["fill_permille"],
        )
        for r in pipeline_pack_sequences(spark, sf_smoke).collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# Round-5 session-4 additions
# ---------------------------------------------------------------------------


def test_bm25_planted_relevant_doc_ranks_first(spark):
    """A doc stuffed with the query's rare terms must outrank docs that
    share only a corpus-universal term (df == N ⇒ idf 0 ⇒ the
    stopword contributes nothing)."""
    import os
    import tempfile

    from sales_azure_data_engineer_project_spark.queries_extensions import (
        text_bm25_topk,
    )

    docs = [(0, "zebra yak the quartz")]
    for i in range(1, 8):
        docs.append((i, f"the filler{i} filler{i} common common"))
    docs.append((9, "zebra yak the zebra quartz"))
    docs.append((10, "the common common"))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in docs],
            ["doc_id", "text", "lang", "source", "n_chars"],
        ).write.parquet(os.path.join(d, "documents.parquet"))
        out = text_bm25_topk(spark, d).collect()
    q0 = sorted([r for r in out if r["query_id"] == 0], key=lambda r: r["rk"])
    assert q0 and q0[0]["doc_id"] == 9
    # docs sharing only the universal 'the' never score above zero-idf
    for r in q0:
        if r["doc_id"] == 10:
            assert r["score_milli"] == 0


def test_hybrid_rrf_fuses_both_tiers(spark, sf_smoke):
    """RRF output must reproduce div(1e6, 60+rk) per tier exactly, rank
    by fused score, and agree with the standalone BM25 tier on lexical
    ranks (the helper refactor must not change the chain)."""
    from sales_azure_data_engineer_project_spark import queries_core as Q
    from sales_azure_data_engineer_project_spark import queries_extensions  # noqa: F401 (registers)

    rows = Q.QUERIES["text_hybrid_rrf_topk"](spark, sf_smoke).collect()
    assert rows, "hybrid retrieval returned nothing"
    per_q = {}
    for r in rows:
        lex = 1000000 // (60 + r["lex_rk"]) if r["lex_rk"] > 0 else 0
        vec = 1000000 // (60 + r["vec_rk"]) if r["vec_rk"] > 0 else 0
        assert r["rrf_micro"] == lex + vec
        per_q.setdefault(r["query_id"], []).append((r["rk"], r["rrf_micro"]))
    for qid, lst in per_q.items():
        lst.sort()
        assert len(lst) == 5
        scores = [s for _, s in lst]
        assert scores == sorted(scores, reverse=True), f"rank order broken for {qid}"
    lex5 = {
        (r["query_id"], r["doc_id"]): r["rk"]
        for r in Q.QUERIES["text_bm25_topk"](spark, sf_smoke).collect()
    }
    hyb = {(r["query_id"], r["doc_id"]): r["lex_rk"] for r in rows}
    for key, rk in lex5.items():
        if key in hyb and hyb[key] > 0:
            assert hyb[key] == rk, f"lexical rank drifted for {key}"


def test_bucketed_cumsum_matches_global_window(spark):
    """The two-level scan must equal the naive global-window cumsum
    exactly, across groups, bucket boundaries, and zero-count rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from sales_azure_data_engineer_project_spark.operators.prefixsum import bucketed_cumsum

    rows = [
        (g, v, (v * 7 + ord(g) * 3) % 5)
        for g in ("a", "b")
        for v in list(range(0, 25)) + [99, 100, 101, 250]
    ]
    df = spark.createDataFrame(rows, "grp string, v long, x long")
    got = {
        (r["grp"], r["v"]): r["cum_x"]
        for r in bucketed_cumsum(df, ["grp"], "v", ["x"], bucket_width=10).collect()
    }
    w = Window.partitionBy("grp").orderBy("v")
    want = {
        (r["grp"], r["v"]): r["ref"]
        for r in df.withColumn("ref", F.sum("x").over(w)).collect()
    }
    assert got == want


def test_priority_sample_matches_python_reference(spark, sf_smoke):
    """Sample membership, τ, and the Σ max(w, τ) estimator recomputed
    exactly in Python from the raw rows; plus the 3σ error band."""
    import hashlib
    import os

    import pyarrow.parquet as pq
    from sales_azure_data_engineer_project_spark import queries_core as Q
    from sales_azure_data_engineer_project_spark import queries_extensions  # noqa: F401 (registers)

    got = {
        r["l_returnflag"]: r
        for r in Q.QUERIES["sample_priority_topk"](spark, sf_smoke).collect()
    }
    t = pq.read_table(
        os.path.join(sf_smoke, "lineitem.parquet"),
        columns=["l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"],
    ).to_pandas()
    by_grp = {}
    for flag, ok, ln, px in t.itertuples(index=False):
        w = int(round(px * 100))
        u32 = int(hashlib.md5(f"{ok}#{ln}".encode()).hexdigest()[:8], 16) + 1
        q = (w * 4294967296) // u32
        by_grp.setdefault(flag, []).append((q, ok, ln, w))
    for flag, rows in by_grp.items():
        rows.sort(key=lambda x: (-x[0], x[1], x[2]))
        tau = rows[128][0] if len(rows) > 128 else 0
        est = sum(max(w, tau) for _, _, _, w in rows[:128])
        exact = sum(w for _, _, _, w in rows)
        r = got[flag]
        assert r["n_items"] == len(rows)
        assert r["sample_k"] == min(len(rows), 128)
        assert r["tau_centi"] == tau
        assert r["exact_total_centi"] == exact
        assert r["est_total_centi"] == est
        assert r["err_permille"] <= 350, f"{flag}: est {est} vs exact {exact}"


def test_priority_sample_plan_has_partial_window_group_limit(spark, sf_smoke):
    """The per-group top-129 rank must push a Partial WindowGroupLimit
    below the shuffle (map tasks emit ≤129 rows per group)."""
    from sales_azure_data_engineer_project_spark import queries_core as Q
    from sales_azure_data_engineer_project_spark import queries_extensions  # noqa: F401 (registers)

    plan = (
        Q.QUERIES["sample_priority_topk"](spark, sf_smoke)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_mutual_knn_reciprocity_invariants(spark, sf_smoke):
    """Every pair must be reciprocal within rank 3, symmetric-unique,
    within-cluster, and cosine-consistent with a direct recompute."""
    from sales_azure_data_engineer_project_spark import queries_core as Q
    from sales_azure_data_engineer_project_spark import queries_extensions  # noqa: F401 (registers)

    rows = Q.QUERIES["similarity_mutual_knn_pairs"](spark, sf_smoke).collect()
    assert rows, "no mutual pairs found"
    seen = set()
    for r in rows:
        assert r["vec_a"] < r["vec_b"]
        assert (r["vec_a"], r["vec_b"]) not in seen
        seen.add((r["vec_a"], r["vec_b"]))
        assert 1 <= r["rk_ab"] <= 3 and 1 <= r["rk_ba"] <= 3
        assert -1.0 <= r["cos_sim"] <= 1.0 + 1e-9
    # spot-check cosine against a raw numpy recompute for 5 pairs
    import os

    import numpy as np
    import pyarrow.parquet as pq

    emb = pq.read_table(os.path.join(sf_smoke, "embeddings.parquet")).to_pandas()
    vecs = {int(i): np.asarray(v, dtype=np.float64) for i, v in zip(emb["vec_id"], emb["embedding"])}
    for r in rows[:5]:
        a, b = vecs[r["vec_a"]], vecs[r["vec_b"]]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(cos - r["cos_sim"]) < 1e-5


def test_apportionment_sums_to_budget(spark, sf_smoke):
    """Hamilton allocations must sum EXACTLY to the budget, respect
    floor quotas, and match a Python recompute."""
    import os
    import re
    from collections import defaultdict

    import pyarrow.parquet as pq
    from sales_azure_data_engineer_project_spark import queries_core as Q
    from sales_azure_data_engineer_project_spark import queries_extensions as QE
    from sales_azure_data_engineer_project_spark.operators.text import TOKEN_RE

    rows = Q.QUERIES["pipeline_token_budget_apportion"](spark, sf_smoke).collect()
    B = QE._APPORTION_BUDGET
    assert sum(r["allocation"] for r in rows) == B
    t = pq.read_table(
        os.path.join(sf_smoke, "documents.parquet"), columns=["source", "text"]
    ).to_pandas()
    mass: dict = defaultdict(int)
    for src, text in zip(t["source"], t["text"]):
        mass[src] += len(re.split(TOKEN_RE, text))
    total = sum(mass.values())
    quotas = {s: (B * m) // total for s, m in mass.items()}
    rems = sorted(mass, key=lambda s: (-((B * mass[s]) % total), s))
    k = B - sum(quotas.values())
    extra = set(rems[:k])
    for r in rows:
        assert r["n_tokens"] == mass[r["source"]]
        assert r["floor_quota"] == quotas[r["source"]]
        assert r["got_extra"] == (1 if r["source"] in extra else 0)
        assert r["allocation"] == quotas[r["source"]] + r["got_extra"]


def test_touch_attribution_differential(spark):
    """events_touch_attribution vs a plain-Python session walk on a
    hand-built frame covering: purchase opening a session ('direct'),
    first != last touch, multiple purchases in one session, and a
    session split by the 30-minute gap."""
    import datetime as dt

    import __spark_entry__ as m

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1, session 1: view -> click -> purchase(10) -> purchase(5)
        (1, base, 1, "view", 0.0),
        (2, base + dt.timedelta(minutes=5), 1, "click", 0.0),
        (3, base + dt.timedelta(minutes=10), 1, "purchase", 10.0),
        (4, base + dt.timedelta(minutes=15), 1, "purchase", 5.0),
        # user 1, session 2 (gap > 30 min): purchase opens it -> direct
        (5, base + dt.timedelta(minutes=60), 1, "purchase", 7.0),
        # user 2: error -> purchase (single-touch: first == last)
        (6, base, 2, "error", 0.0),
        (7, base + dt.timedelta(minutes=1), 2, "purchase", 3.0),
    ]
    df = spark.createDataFrame(
        [(i, ts, u, ty, v, "{}") for i, ts, u, ty, v in rows],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    import os, tempfile
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "events.parquet"))
        got = {r["channel"]: tuple(r)[1:] for r in m.queries()["events_touch_attribution"](spark, td).collect()}
    # purchases: p3 first=view last=click; p4 first=view last=click
    # (the purchase between doesn't count as a touch); p5 direct;
    # p7 first=last=error
    assert got == {
        "click": (0, 0, 2, 15000),
        "direct": (1, 7000, 1, 7000),
        "error": (1, 3000, 1, 3000),
        "view": (2, 15000, 0, 0),
    }


def test_kcore_peeling_differential(spark):
    """dedup_graph_kcore vs a plain-Python 3-round degree-2 peel over
    the SAME candidate edge list (extracted via the same minhash/LSH
    operators at sf0.001): distributed peeling must match the
    sequential reference exactly, including residual degrees and the
    (degree desc, doc_id) top-50 order."""
    import __spark_entry__ as m
    from sales_azure_data_engineer_project_spark.operators import dedup as D
    from sales_azure_data_engineer_project_spark.queries_extensions import (
        _dedup_corpus,
    )

    sf = "/root/testdata/sf0.001"
    corpus = _dedup_corpus(spark, sf)
    bands = D.minhash_bands(corpus, "doc_id", "text", n_hashes=8, band_size=4)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(bands, "doc_id")
        .select("id_a", "id_b")
        .distinct()
        .collect()
    }
    adj: dict = {}
    for u, v in pairs:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    active = set(adj)
    for _ in range(3):
        active = {n for n in active if len(adj[n] & active) >= 2}
        # restrict adjacency to the surviving set for the next round
        adj = {n: adj[n] & active for n in active}
    expect = sorted(
        ((n, len(adj[n])) for n in active), key=lambda t: (-t[1], t[0])
    )[:50]
    got = [
        (r["doc_id"], r["core_degree"])
        for r in m.queries()["dedup_graph_kcore"](spark, sf).collect()
    ]
    assert got == expect


def test_ship_latency_quantiles_differential(spark):
    """orders_ship_latency_quantiles vs plain-Python percentile_disc
    per priority on the real sf0.001 join."""
    import duckdb

    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    rows = duckdb.sql(
        f"""SELECT o.o_orderpriority,
                   datediff('day', o.o_orderdate, l.l_shipdate)
            FROM '{sf}/lineitem.parquet' l
            JOIN '{sf}/orders.parquet' o ON l.l_orderkey = o.o_orderkey"""
    ).fetchall()
    per: dict = {}
    for pr, d in rows:
        per.setdefault(pr, []).append(int(d))
    got = {
        r["priority"]: r
        for r in m.queries()["orders_ship_latency_quantiles"](spark, sf).collect()
    }
    assert set(got) == set(per)
    for pr, ds in per.items():
        ds.sort()
        n = len(ds)
        r = got[pr]
        assert r["n_items"] == n
        for p in (25, 50, 75, 95):
            assert r[f"p{p}_days"] == ds[(p * n + 99) // 100 - 1]


def test_removal_bias_audit_differential(spark):
    """dedup_removal_bias_audit vs Python: flagged set from the shared
    LSH operators, quartiles from the sorted length list, exact cell
    counts — plus the planted-corpus expectation that flagged docs
    exist in more than one quartile (copies span the length range)."""
    import __spark_entry__ as m
    from sales_azure_data_engineer_project_spark.operators import dedup as D
    from sales_azure_data_engineer_project_spark.queries_extensions import (
        _dedup_corpus,
    )

    sf = "/root/testdata/sf0.001"
    corpus = {
        r["doc_id"]: r["text"] for r in _dedup_corpus(spark, sf).collect()
    }
    bands = D.minhash_bands(
        _dedup_corpus(spark, sf), "doc_id", "text", n_hashes=8, band_size=4
    )
    pairs = D.lsh_candidate_pairs(bands, "doc_id").select("id_a", "id_b").collect()
    flagged = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    lens = sorted(len(t) for t in corpus.values())
    n = len(lens)
    q1, q2, q3 = (lens[(p * n + 99) // 100 - 1] for p in (25, 50, 75))

    def quart(ln):
        return 0 if ln <= q1 else (1 if ln <= q2 else (2 if ln <= q3 else 3))

    cells = {qi: [0, 0] for qi in range(4)}
    for did, text in corpus.items():
        qi = quart(len(text))
        cells[qi][0] += 1
        cells[qi][1] += 1 if did in flagged else 0
    got = {
        r["length_quartile"]: r
        for r in m.queries()["dedup_removal_bias_audit"](spark, sf).collect()
    }
    assert set(got) == {k for k, v in cells.items() if v[0] > 0}
    for qi, (nd, nf) in cells.items():
        if nd == 0:
            continue
        r = got[qi]
        assert (r["n_docs"], r["n_flagged"]) == (nd, nf)
        assert r["flagged_permille"] == (1000 * nf) // nd
    assert sum(1 for r in got.values() if r["n_flagged"] > 0) >= 2


def test_token_savings_differential(spark):
    """dedup_token_savings_report vs a Python union-find with min-id
    representatives over the SAME verified pair set, plus the planted
    expectation that dedup saves a nonzero token mass."""
    import re

    import __spark_entry__ as m
    from sales_azure_data_engineer_project_spark.operators import dedup as D
    from sales_azure_data_engineer_project_spark.queries_extensions import (
        _dedup_corpus,
    )

    sf = "/root/testdata/sf0.001"
    corpus = {r["doc_id"]: r["text"] for r in _dedup_corpus(spark, sf).collect()}
    pairs = D.minhash_verified_pairs(
        _dedup_corpus(spark, sf), "doc_id", "text",
        n_hashes=8, band_size=4, min_permille=300,
    ).select("id_a", "id_b").collect()
    parent = {d: d for d in corpus}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        a, b = find(r["id_a"]), find(r["id_b"])
        if a != b:
            # union by min id so the root IS the representative
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    comp = {d: find(d) for d in corpus}
    toks = {d: len(re.split(r"\s+", t)) for d, t in corpus.items()}
    removed = [d for d in corpus if comp[d] != d]
    [r] = m.queries()["dedup_token_savings_report"](spark, sf).collect()
    assert r["n_docs"] == len(corpus)
    assert r["n_clusters"] == len(set(comp.values()))
    assert r["n_removed_docs"] == len(removed)
    assert r["tokens_total"] == sum(toks.values())
    assert r["tokens_removed"] == sum(toks[d] for d in removed)
    assert r["tokens_removed_permille"] == (
        1000 * sum(toks[d] for d in removed)
    ) // sum(toks.values())
    assert r["tokens_removed"] > 0, "planted copies must yield savings"


def test_soft_dedup_weights_differential(spark):
    """sample_soft_dedup_weights vs the same union-find in Python:
    per-size weights, doc counts, raw and effective token mass — plus
    the conservation law Σ effective ≤ 1000·Σ raw with equality iff
    every cluster is a singleton."""
    import re
    from collections import Counter

    import __spark_entry__ as m
    from sales_azure_data_engineer_project_spark.operators import dedup as D
    from sales_azure_data_engineer_project_spark.queries_extensions import (
        _dedup_corpus,
    )

    sf = "/root/testdata/sf0.001"
    corpus = {r["doc_id"]: r["text"] for r in _dedup_corpus(spark, sf).collect()}
    pairs = D.minhash_verified_pairs(
        _dedup_corpus(spark, sf), "doc_id", "text",
        n_hashes=8, band_size=4, min_permille=300,
    ).select("id_a", "id_b").collect()
    parent = {d: d for d in corpus}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        a, b = find(r["id_a"]), find(r["id_b"])
        if a != b:
            parent[max(a, b)] = min(a, b)
    comp = {d: find(d) for d in corpus}
    sizes = Counter(comp.values())
    toks = {d: len(re.split(r"\s+", t)) for d, t in corpus.items()}
    agg: dict = {}
    for d in corpus:
        s = sizes[comp[d]]
        row = agg.setdefault(s, [0, 0, 0])
        row[0] += 1
        row[1] += toks[d]
        row[2] += (1000 * toks[d]) // s
    got = {
        r["cluster_size"]: r
        for r in m.queries()["sample_soft_dedup_weights"](spark, sf).collect()
    }
    assert set(got) == set(agg)
    for s, (nd, tr, te) in agg.items():
        r = got[s]
        assert r["weight_permille"] == 1000 // s
        assert (r["n_docs"], r["tokens_raw"], r["tokens_effective_milli"]) == (
            nd, tr, te,
        )
    total_eff = sum(r["tokens_effective_milli"] for r in got.values())
    total_raw = sum(r["tokens_raw"] for r in got.values())
    assert total_eff <= 1000 * total_raw
    assert any(s > 1 for s in got), "planted clusters must exist"


def test_lsh_precision_differential(spark):
    """dedup_lsh_precision_report vs Python verification of the same
    candidate set, plus the S-curve monotonicity: 2-band agreers
    verify at a rate ≥ 1-band candidates."""
    import re

    import __spark_entry__ as m
    from sales_azure_data_engineer_project_spark.operators import dedup as D
    from sales_azure_data_engineer_project_spark.queries_extensions import (
        _dedup_corpus,
    )

    sf = "/root/testdata/sf0.001"
    corpus = {r["doc_id"]: r["text"] for r in _dedup_corpus(spark, sf).collect()}

    def shingles(text):
        toks = re.split(r"\s+", text)
        return {
            " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 0))
        } or {text}  # fall back like the operator for short docs

    sh = {d: shingles(t) for d, t in corpus.items()}
    bands = D.minhash_bands(
        _dedup_corpus(spark, sf), "doc_id", "text", n_hashes=8, band_size=4
    )
    cand = [
        (r["id_a"], r["id_b"], r["shared_bands"])
        for r in D.lsh_candidate_pairs(bands, "doc_id").collect()
    ]
    per = {}
    for a, b, sb_ in cand:
        inter = len(sh[a] & sh[b])
        union = len(sh[a]) + len(sh[b]) - inter
        ok = (1000 * inter) // union >= 300
        row = per.setdefault(sb_, [0, 0])
        row[0] += 1
        row[1] += 1 if ok else 0
    got = {
        r["shared_bands"]: r
        for r in m.queries()["dedup_lsh_precision_report"](spark, sf).collect()
    }
    assert set(got) == set(per)
    for sb_, (nc, nv) in per.items():
        r = got[sb_]
        assert (r["n_candidates"], r["n_verified"]) == (nc, nv)
        assert r["precision_permille"] == (1000 * nv) // nc
    if 1 in got and 2 in got:
        assert got[2]["precision_permille"] >= got[1]["precision_permille"]


def test_ivf_cadence_engine_parity(spark):
    """The sqrt(N) centroid cadence must compute identically in the
    Spark plan (_ivf_cadence) and the oracle SQL (GREATEST(61,
    ceil(sqrt(N)))) for any corpus size — including the perfect-square
    boundary (61^2) and the oracle-SF floor region."""
    import duckdb

    from sales_azure_data_engineer_project_spark.queries_extensions import (
        _ivf_cadence,
    )

    sizes = [1, 60, 61, 150, 1500, 3720, 3721, 3722, 15000, 15360,
             150000, 460800, 460801, 10**9]
    got = {
        r["n"]: r["c"]
        for r in spark.createDataFrame([(n,) for n in sizes], "n bigint")
        .select("n", _ivf_cadence(F.col("n")).alias("c"))
        .collect()
    }
    for n in sizes:
        sql = duckdb.sql(
            f"SELECT GREATEST(61, CAST(ceil(sqrt({n})) AS BIGINT))"
        ).fetchone()[0]
        assert got[n] == sql, n
