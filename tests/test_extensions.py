"""Unit tests for the training-data extension operators (beyond the
oracle parity checks in tools/check_oracle.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sales_azure_data_engineer_project_spark.operators import dedup as D
from sales_azure_data_engineer_project_spark.operators import multimodal as M
from sales_azure_data_engineer_project_spark.operators import similarity as S
from sales_azure_data_engineer_project_spark.operators import text as X


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


def test_sq8_codes_and_topk(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    rows.append((9, [1.0, 0.001, 0.0, 0.0]))  # near-parallel to vec 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    codes = S.sq8_codes(emb)
    got = {r["vec_id"]: r["codes"] for r in codes.collect()}
    assert all(0 <= c <= 255 for cs in got.values() for c in cs)
    assert got[0] == [255, 0, 0, 0]  # max value clamps to 255
    out = S.sq8_topk(codes, codes.filter("vec_id = 0"), k=2).collect()
    assert [r["neighbor_id"] for r in out] == [9, 1]
    assert out[0]["approx_dot"] == 255 * 255


def test_simhash_identical_docs_equal(spark, docs):
    fp = {r["doc_id"]: r["simhash16"] for r in D.simhash16(docs, "doc_id", "text").collect()}
    assert fp[1] == fp[2]
    assert len(fp[1]) == 16 and set(fp[1]) <= {"0", "1"}
    assert fp[1] != fp[4]


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


def test_quality_columns_integer_exact(spark):
    df = spark.createDataFrame([(1, "aa bb aa")], ["doc_id", "text"])
    row = df.select(*X.quality_columns("text")).first()
    assert row["n_chars"] == 8
    assert row["n_tokens"] == 3
    assert row["n_types"] == 2
    assert row["avg_tok_len_milli"] == 2000
    assert row["ttr_permille"] == 666


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


def test_token_count_invariants(spark, sf_smoke):
    """BPE-ish pre-tokenization splits at least as fine as whitespace:
    bpe_tokens >= ws_tokens for every doc, and the density ratio is
    consistent with the counts it was derived from."""
    import __spark_entry__ as entry_mod

    rows = entry_mod.queries()["text_token_counts"](spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r["bpe_tokens"] >= r["ws_tokens"] > 0
        assert r["chars_per_bpe_milli"] == 1000 * r["n_chars"] // r["bpe_tokens"]


def test_decontaminate_flags_planted_eval_clones(spark, sf_smoke):
    """Every planted near-dup clone of an eval doc (doc_id%10==0 →
    clone at +100000) must be flagged as contaminated — the clone
    drops only the last 3 tokens, so nearly all of its 8-token spans
    exist verbatim in its eval original.  No eval doc may appear in
    the output (decontamination reports TRAINING docs only), and exact
    dup copies (+200000) of eval docs must be flagged too."""
    import __spark_entry__ as entry_mod
    from sales_azure_data_engineer_project_spark.queries_extensions import (
        _dedup_corpus,
    )

    out = entry_mod.queries()["pipeline_decontaminate"](spark, sf_smoke)
    flagged = {r["doc_id"] for r in out.collect()}
    assert flagged, "expected contaminated docs at smoke scale"
    # output contains no eval docs
    assert not any(d % 10 == 0 and d < 100000 for d in flagged)
    corpus_ids = {
        r["doc_id"] for r in _dedup_corpus(spark, sf_smoke).select("doc_id").collect()
    }
    # every near-dup clone of an eval doc whose original has >= 8+3
    # tokens shares spans; spot-check: all planted exact copies of eval
    # docs (ids ending the %170 residue chain) are flagged
    exact_eval_copies = {
        d for d in corpus_ids if d >= 200000 and (d - 200000) % 10 == 0
    }
    assert exact_eval_copies <= flagged


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


def test_boilerplate_chunks_flags_planted_dups(spark, sf_smoke):
    """Docs with a planted exact copy must have every chunk shared
    (boiler_permille == 1000 on both the original and the copy); the
    corpus-wide shared mass must be nonzero and bounded by n_chunks."""
    from sales_azure_data_engineer_project_spark.queries_extensions import (
        text_boilerplate_chunks,
    )

    out = {r["doc_id"]: r for r in text_boilerplate_chunks(spark, sf_smoke).collect()}
    exact_originals = [d for d in out if d < 100000 and d % 17 == 0]
    assert exact_originals
    for d in exact_originals:
        assert out[d]["boiler_permille"] == 1000, d
        assert out[d + 200000]["boiler_permille"] == 1000, d
    for r in out.values():
        assert 0 <= r["n_shared"] <= r["n_chunks"]


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


def test_embedding_outliers_consistent_with_cluster_radius(spark, sf_smoke):
    """The rank-1 outlier's scaled distance² per cluster must equal the
    radius embedding_cluster_quality reports for that cluster (the two
    queries share the distance chain verbatim), and ranks must be
    consecutive with non-increasing distances."""
    from sales_azure_data_engineer_project_spark.queries_extensions import (
        embedding_cluster_quality,
        embedding_outliers_topk,
    )

    radius = {
        r["cluster"]: r["radius_scaled"]
        for r in embedding_cluster_quality(spark, sf_smoke).collect()
    }
    by_c: dict = {}
    for r in embedding_outliers_topk(spark, sf_smoke).collect():
        by_c.setdefault(r["cluster"], []).append(r)
    assert set(by_c) == set(radius)
    for c, rows in by_c.items():
        rows.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
        ds = [r["d2s_scaled"] for r in rows]
        assert ds == sorted(ds, reverse=True)
        assert ds[0] == radius[c]


def test_metadata_consistency_flags_planted_drift(spark):
    """A doc whose stored n_chars disagrees with its payload by 7 must
    be the only mismatch, with the drift magnitude reported."""
    import os
    import tempfile

    from sales_azure_data_engineer_project_spark.queries_extensions import (
        quality_metadata_consistency,
    )

    rows = [
        (1, "hello world", "en", "sA", 11),
        (2, "goodbye", "en", "sA", 14),   # planted: off by 7
        (3, "ok then", "en", "sB", 7),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, ["doc_id", "text", "lang", "source", "n_chars"]
        ).write.parquet(os.path.join(d, "documents.parquet"))
        out = {r["source"]: r for r in quality_metadata_consistency(spark, d).collect()}
    assert out["sA"]["n_mismatch"] == 1 and out["sA"]["max_abs_drift"] == 7
    assert out["sA"]["mismatch_permille"] == 500
    assert out["sB"]["n_mismatch"] == 0 and out["sB"]["max_abs_drift"] == 0


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


def test_chi2_independence_differential(spark, sf_smoke):
    """Cell counts, milli-exact expecteds, and the double-fold
    contribution recomputed from the raw rows."""
    import math
    import os

    import pyarrow.parquet as pq
    from sales_azure_data_engineer_project_spark import queries_core as Q
    from sales_azure_data_engineer_project_spark import queries_extensions  # noqa: F401 (registers)

    got = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in Q.QUERIES["stats_chi2_independence"](spark, sf_smoke).collect()
    }
    t = pq.read_table(
        os.path.join(sf_smoke, "lineitem.parquet"),
        columns=["l_returnflag", "l_linestatus"],
    ).to_pandas()
    obs = t.groupby(["l_returnflag", "l_linestatus"]).size()
    rr = t.groupby("l_returnflag").size()
    cc = t.groupby("l_linestatus").size()
    n = len(t)
    assert len(got) == len(obs)
    for (f, s), o in obs.items():
        r = got[(f, s)]
        assert r["observed"] == o
        assert r["expected_milli"] == (1000 * rr[f] * cc[s]) // n
        diff = float(o * n - rr[f] * cc[s])
        want = math.floor(
            (1000000.0 * diff * diff)
            / (float(rr[f]) * float(cc[s]) * float(n) * float(n))
        )
        assert r["contrib_micro"] == want


def test_benford_deviation_differential(spark, sf_smoke):
    import os
    from collections import Counter

    import pyarrow.parquet as pq
    from sales_azure_data_engineer_project_spark import queries_core as Q
    from sales_azure_data_engineer_project_spark import queries_extensions as QE

    got = {
        r["first_digit"]: r
        for r in Q.QUERIES["orders_benford_deviation"](spark, sf_smoke).collect()
    }
    t = pq.read_table(
        os.path.join(sf_smoke, "orders.parquet"), columns=["o_totalprice"]
    ).to_pandas()
    digits = Counter(int(str(int(round(p * 100)))[0]) for p in t["o_totalprice"])
    n = len(t)
    assert set(got) == set(digits)
    for d, c in digits.items():
        r = got[d]
        assert r["n_obs"] == c
        assert r["obs_share_milli"] == (1000 * c) // n
        assert r["benford_share_milli"] == QE._BENFORD_MILLI[d]
        assert r["dev_milli"] == (1000 * c) // n - QE._BENFORD_MILLI[d]


def test_cube_margins_consistent(spark, sf_smoke):
    """All four grouping sets must be internally consistent: cell rows
    sum to each margin and to the grand total."""
    from sales_azure_data_engineer_project_spark import queries_core as Q
    from sales_azure_data_engineer_project_spark import queries_extensions  # noqa: F401 (registers)

    rows = Q.QUERIES["cube_revenue_by_flag_status"](spark, sf_smoke).collect()
    cells = [r for r in rows if r["grouping_id"] == 0]
    by_flag = {r["l_returnflag"]: r for r in rows if r["grouping_id"] == 1}
    by_stat = {r["l_linestatus"]: r for r in rows if r["grouping_id"] == 2}
    grand = [r for r in rows if r["grouping_id"] == 3]
    assert len(grand) == 1
    for margin, key in ((by_flag, "l_returnflag"), (by_stat, "l_linestatus")):
        for val, m in margin.items():
            sub = [c for c in cells if c[key] == val]
            assert m["n_items"] == sum(c["n_items"] for c in sub)
            assert m["revenue_centi"] == sum(c["revenue_centi"] for c in sub)
    assert grand[0]["n_items"] == sum(c["n_items"] for c in cells)
    assert grand[0]["revenue_centi"] == sum(c["revenue_centi"] for c in cells)


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


def test_registered_capped_lsh_star_shape(spark):
    """The registered hot-bucket query (dedup_lsh_hot_bucket_capped)
    actually exercises star emission: the planted boilerplate (all even
    doc_ids) collapses into one bucket per band, so the hub (min even
    id) pairs with every other even doc across BOTH bands, and no
    even-even pair bypasses the hub."""
    import __spark_entry__ as m

    rows = m.queries()["dedup_lsh_hot_bucket_capped"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    import duckdb

    n_even, hub = duckdb.sql(
        "SELECT count(*), min(doc_id) FROM "
        "'/root/testdata/sf0.001/documents.parquet' WHERE doc_id % 2 = 0"
    ).fetchone()
    star = [r for r in rows if r["id_a"] == hub]
    assert len(star) == n_even - 1
    assert all(r["shared_bands"] == 2 for r in star)  # identical docs: both bands
    assert {r["id_b"] % 2 for r in star} == {0}
    # star, not clique: every even-even pair goes through the hub
    assert not [
        r for r in rows
        if r["id_a"] % 2 == 0 and r["id_b"] % 2 == 0 and r["id_a"] != hub
    ]
    # cold (odd-id) docs still deduplicate via exact all-pairs
    assert all(r["id_a"] < r["id_b"] for r in rows)


def test_simpson_diversity_differential(spark):
    """quality_simpson_diversity vs collections.Counter on sf0.001."""
    import collections
    import re as _re

    import duckdb

    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    got = {r["source"]: r for r in m.queries()["quality_simpson_diversity"](spark, sf).collect()}
    rows = duckdb.sql(f"SELECT source, text FROM '{sf}/documents.parquet'").fetchall()
    per: dict = {}
    for source, text in rows:
        per.setdefault(source, collections.Counter()).update(_re.split(r"\s+", text))
    assert set(got) == set(per)
    for source, cnt in per.items():
        n = sum(cnt.values())
        coll2 = sum(c * (c - 1) for c in cnt.values())
        r = got[source]
        assert r["n_tokens"] == n and r["n_types"] == len(cnt)
        assert r["simpson_micro"] == (1000000 * coll2) // (n * (n - 1))
        assert r["diversity_micro"] == 1000000 - r["simpson_micro"]


def test_skew_report_differential(spark):
    """pipeline_skew_report vs a plain-Python pass over the real key
    distribution (p50/p99 from the count-of-counts grid, ceiling-rank
    semantics: smallest cnt whose cumulative key share reaches q)."""
    import collections

    import duckdb

    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    r = m.queries()["pipeline_skew_report"](spark, sf).collect()[0]
    keys = [
        k for (k,) in duckdb.sql(
            f"SELECT l_partkey FROM '{sf}/lineitem.parquet'"
        ).fetchall()
    ]
    cnt = collections.Counter(keys)
    grid = collections.Counter(cnt.values())
    n_keys, n_rows, mx = len(cnt), len(keys), max(cnt.values())

    def q_at(q_num, q_den):
        ck = 0
        for c in sorted(grid):
            ck += grid[c]
            if q_den * ck >= q_num * n_keys:
                return c

    assert (r["n_keys"], r["n_rows"], r["max_cnt"]) == (n_keys, n_rows, mx)
    assert r["p50_cnt"] == q_at(1, 2)
    assert r["p99_cnt"] == q_at(99, 100)
    assert r["top_share_micro"] == (1000000 * mx) // n_rows
    assert r["skew_ratio_milli"] == (1000 * mx) // r["p50_cnt"]


def test_oov_rate_differential(spark):
    """vocab_oov_rate_by_source vs Counter-based top-256 vocab."""
    import collections
    import re as _re

    import duckdb

    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    got = {r["source"]: r for r in m.queries()["vocab_oov_rate_by_source"](spark, sf).collect()}
    rows = duckdb.sql(f"SELECT source, text FROM '{sf}/documents.parquet'").fetchall()
    glob: collections.Counter = collections.Counter()
    per: dict = {}
    for source, text in rows:
        toks = _re.split(r"\s+", text)
        glob.update(toks)
        per.setdefault(source, collections.Counter()).update(toks)
    vocab = {t for t, _ in sorted(glob.items(), key=lambda kv: (-kv[1], kv[0]))[:256]}
    for source, cnt in per.items():
        n = sum(cnt.values())
        oov = sum(c for t, c in cnt.items() if t not in vocab)
        r = got[source]
        assert (r["n_tokens"], r["n_oov"]) == (n, oov)
        assert r["oov_permille"] == (1000 * oov) // n


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


def test_heaps_growth_differential(spark):
    """vocab_heaps_growth vs a sequential Python scan: walk documents
    in doc_id order accumulating a seen-token set; the cumulative
    vocab at each decile boundary must equal the first-occurrence
    histogram formulation exactly."""
    import re

    import duckdb

    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    mx = max(r[0] for r in rows)
    seen: set = set()
    docs_cum = [0] * 10
    vocab_at = [0] * 10
    for doc_id, text in rows:
        dec = min((doc_id * 10) // (mx + 1), 9)
        docs_cum[dec] += 1
        for t in re.split(r"\s+", text):
            seen.add(t)
        vocab_at[dec] = len(seen)
    # forward-fill vocab (a decile inherits the running set) and
    # accumulate docs
    for i in range(1, 10):
        if vocab_at[i] == 0:
            vocab_at[i] = vocab_at[i - 1]
        docs_cum[i] += docs_cum[i - 1]
    got = m.queries()["vocab_heaps_growth"](spark, sf).collect()
    assert [r["decile"] for r in got] == list(range(10))
    assert [r["docs_cum"] for r in got] == docs_cum
    assert [r["vocab_cum"] for r in got] == vocab_at
    # Heaps sanity: cumulative vocab is monotone and positive (the
    # sf0.001 generator vocab saturates in decile 0 — 31 tokens — so
    # strict growth only appears at larger SFs)
    assert vocab_at[9] >= vocab_at[0] > 0


def test_journey_trigrams_differential(spark):
    """events_journey_trigrams vs a plain-Python per-user sequence
    walk with (ts, event_id) ordering on the real sf0.001 events."""
    from collections import Counter

    import duckdb

    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    rows = duckdb.sql(
        f"SELECT user_id, ts, event_id, event_type FROM '{sf}/events.parquet'"
    ).fetchall()
    per: dict = {}
    for u, ts, eid, ty in rows:
        per.setdefault(u, []).append((ts, eid, ty))
    cnt: Counter = Counter()
    for seq in per.values():
        seq.sort()
        types = [t[2] for t in seq]
        for i in range(len(types) - 2):
            cnt[">".join(types[i : i + 3])] += 1
    expect = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r["journey"], r["n"])
        for r in m.queries()["events_journey_trigrams"](spark, sf).collect()
    ]
    assert got == expect


def test_balanced_downsample_differential(spark):
    """sample_balanced_class_downsample vs plain-Python md5-ordered
    selection: identical kept SET per label (checksummed), minority
    size everywhere, and determinism — the kept set of a label never
    depends on other labels' rows."""
    import hashlib

    import duckdb

    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    rows = duckdb.sql(
        f"SELECT vec_id, label FROM '{sf}/embeddings.parquet'"
    ).fetchall()
    per: dict = {}
    for vid, lab in rows:
        per.setdefault(lab, []).append(int(vid))
    mn = min(len(v) for v in per.values())
    got = {
        r["label"]: r
        for r in m.queries()["sample_balanced_class_downsample"](spark, sf).collect()
    }
    assert set(got) == set(per)
    for lab, ids in per.items():
        ranked = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        kept = ranked[:mn]
        r = got[lab]
        assert r["n_orig"] == len(ids)
        assert r["n_kept"] == mn
        assert r["kept_id_sum"] == sum(kept)


def test_dau_wau_differential(spark):
    """events_dau_wau_stickiness vs plain-Python day sets: WAU(d) must
    equal |union of active sets over [d-6, d]| exactly."""
    import duckdb

    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    rows = duckdb.sql(
        f"""SELECT DISTINCT user_id,
                   datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
            FROM '{sf}/events.parquet'"""
    ).fetchall()
    per_day: dict = {}
    for u, x in rows:
        per_day.setdefault(int(x), set()).add(u)
    got = {
        r["day_idx"]: r
        for r in m.queries()["events_dau_wau_stickiness"](spark, sf).collect()
    }
    assert set(got) == set(per_day)
    for d, users in per_day.items():
        wau_set = set()
        for k in range(7):
            wau_set |= per_day.get(d - k, set())
        r = got[d]
        assert r["dau"] == len(users)
        assert r["wau"] == len(wau_set)
        assert r["stickiness_permille"] == (1000 * len(users)) // len(wau_set)


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


def test_user_lifetime_differential(spark):
    """events_user_lifetime_stats vs plain-Python per-user min/max."""
    import duckdb

    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    rows = duckdb.sql(
        f"""SELECT user_id,
                   datediff('day', DATE '2024-01-01', CAST(ts AS DATE)),
                   COUNT(*)
            FROM '{sf}/events.parquet' GROUP BY 1, 2"""
    ).fetchall()
    per: dict = {}
    for u, x, c in rows:
        lo, hi, n = per.get(u, (10**9, -(10**9), 0))
        per[u] = (min(lo, x), max(hi, x), n + c)
    from collections import defaultdict

    agg = defaultdict(lambda: [0, 0])
    for lo, hi, n in per.values():
        wk = (hi - lo) // 7
        agg[wk][0] += 1
        agg[wk][1] += n
    got = {
        r["lifetime_weeks"]: r
        for r in m.queries()["events_user_lifetime_stats"](spark, sf).collect()
    }
    assert set(got) == set(agg)
    for wk, (nu, te) in agg.items():
        r = got[wk]
        assert r["n_users"] == nu
        assert r["total_events"] == te
        assert r["events_per_user"] == te // nu


def test_crossmodal_coverage_differential(spark):
    """crossmodal_coverage_report vs plain-Python id-set coverage."""
    import duckdb

    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    docs = duckdb.sql(
        f"SELECT doc_id, source FROM '{sf}/documents.parquet'"
    ).fetchall()
    vecs = {
        r[0]
        for r in duckdb.sql(
            f"SELECT vec_id FROM '{sf}/embeddings.parquet'"
        ).fetchall()
    }
    per: dict = {}
    for did, src in docs:
        n, w = per.get(src, (0, 0))
        per[src] = (n + 1, w + (1 if did in vecs else 0))
    got = {
        r["source"]: r
        for r in m.queries()["crossmodal_coverage_report"](spark, sf).collect()
    }
    assert set(got) == set(per)
    for src, (n, wv) in per.items():
        r = got[src]
        assert (r["n_docs"], r["n_with_embedding"]) == (n, wv)
        assert r["coverage_permille"] == (1000 * wv) // n


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


def test_repeat_purchase_intervals_differential(spark):
    """orders_repeat_purchase_intervals vs plain-Python per-customer
    gap walk + percentile_disc per segment."""
    import duckdb

    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    orders = duckdb.sql(
        f"""SELECT o_custkey,
                   datediff('day', DATE '1992-01-01', o_orderdate),
                   o_orderkey
            FROM '{sf}/orders.parquet'"""
    ).fetchall()
    seg = dict(
        duckdb.sql(
            f"SELECT c_custkey, c_mktsegment FROM '{sf}/customer.parquet'"
        ).fetchall()
    )
    per: dict = {}
    for ck, x, ok in orders:
        per.setdefault(ck, []).append((int(x), int(ok)))
    gaps: dict = {}
    for ck, seq in per.items():
        seq.sort()
        for i in range(1, len(seq)):
            gaps.setdefault(seg[ck], []).append(seq[i][0] - seq[i - 1][0])
    got = {
        r["segment"]: r
        for r in m.queries()["orders_repeat_purchase_intervals"](spark, sf).collect()
    }
    assert set(got) == set(gaps)
    for s, gs in gaps.items():
        gs.sort()
        n = len(gs)
        r = got[s]
        assert r["n_gaps"] == n
        assert r["p50_days"] == gs[(50 * n + 99) // 100 - 1]
        assert r["p90_days"] == gs[(90 * n + 99) // 100 - 1]


def test_good_turing_differential(spark):
    """vocab_good_turing_unseen_mass vs plain-Python token counting."""
    import re
    from collections import Counter

    import duckdb

    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    cnt: Counter = Counter()
    for (text,) in duckdb.sql(
        f"SELECT text FROM '{sf}/documents.parquet'"
    ).fetchall():
        cnt.update(re.split(r"\s+", text))
    n = sum(cnt.values())
    v = len(cnt)
    n1 = sum(1 for c in cnt.values() if c == 1)
    n2 = sum(1 for c in cnt.values() if c == 2)
    [r] = m.queries()["vocab_good_turing_unseen_mass"](spark, sf).collect()
    assert (r["n_tokens"], r["vocab_size"]) == (n, v)
    assert (r["n_hapax"], r["n_dis_legomena"]) == (n1, n2)
    assert r["unseen_mass_permille"] == (1000 * n1) // n
    assert r["hapax_vocab_permille"] == (1000 * n1) // v


def test_type_mix_drift_differential(spark):
    """events_type_mix_drift_weekly vs plain-Python weekly TVD."""
    from collections import Counter

    import duckdb

    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    rows = duckdb.sql(
        f"""SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7,
                   event_type, COUNT(*)
            FROM '{sf}/events.parquet' GROUP BY 1, 2"""
    ).fetchall()
    wt: dict = {}
    ot: Counter = Counter()
    for wk, ty, c in rows:
        wt.setdefault(int(wk), Counter())[ty] = int(c)
        ot[ty] += int(c)
    n = sum(ot.values())
    got = {
        r["week"]: r
        for r in m.queries()["events_type_mix_drift_weekly"](spark, sf).collect()
    }
    assert set(got) == set(wt)
    for wk, cc in wt.items():
        nw = sum(cc.values())
        sdev = sum(
            abs((1000000 * cc.get(ty, 0)) // nw - (1000000 * ot[ty]) // n)
            for ty in ot  # FULL type set: zero cells contribute |0 - p_all|
        )
        r = got[wk]
        assert r["n_events"] == nw
        assert r["tvd_permille"] == sdev // 2000


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


def test_new_vs_returning_differential(spark):
    """events_new_vs_returning_daily vs plain-Python first-day sets,
    including the identity new + returning = active."""
    import duckdb

    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    rows = duckdb.sql(
        f"""SELECT DISTINCT user_id,
                   datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
            FROM '{sf}/events.parquet'"""
    ).fetchall()
    per_day: dict = {}
    first: dict = {}
    for u, x in rows:
        per_day.setdefault(int(x), set()).add(u)
        first[u] = min(first.get(u, int(x)), int(x))
    got = {
        r["day_idx"]: r
        for r in m.queries()["events_new_vs_returning_daily"](spark, sf).collect()
    }
    assert set(got) == set(per_day)
    for d, users in per_day.items():
        new = sum(1 for u in users if first[u] == d)
        r = got[d]
        assert r["active_users"] == len(users)
        assert r["new_users"] == new
        assert r["returning_users"] == len(users) - new
        assert r["new_users"] + r["returning_users"] == r["active_users"]
        assert r["new_share_permille"] == (1000 * new) // len(users)


def test_hour_weekday_heatmap_differential(spark):
    """events_hour_weekday_heatmap vs plain-Python epoch bucketing."""
    from collections import Counter

    import duckdb

    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    rows = duckdb.sql(
        f"""SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7,
                   (epoch_ms(ts) // 3600000) % 24
            FROM '{sf}/events.parquet'"""
    ).fetchall()
    cells = Counter((int(w), int(h)) for w, h in rows)
    wt = Counter()
    for (w, _), n in cells.items():
        wt[w] += n
    got = {
        (r["weekday"], r["hour_utc"]): r
        for r in m.queries()["events_hour_weekday_heatmap"](spark, sf).collect()
    }
    assert set(got) == set(cells)
    for (w, h), r in got.items():
        assert r["n_events"] == cells[(w, h)]
        assert r["weekday_share_permille"] == (1000 * cells[(w, h)]) // wt[w]


def test_revenue_ma7_differential(spark):
    """orders_daily_revenue_7d_ma vs plain-Python trailing average
    over present days, including partial head windows."""
    import duckdb

    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    rows = duckdb.sql(
        f"""SELECT datediff('day', DATE '1992-01-01', o_orderdate),
                   SUM(CAST(round(o_totalprice * 100) AS BIGINT))
            FROM '{sf}/orders.parquet' GROUP BY 1"""
    ).fetchall()
    daily = {int(x): int(r) for x, r in rows}
    got = {
        r["day_idx"]: r
        for r in m.queries()["orders_daily_revenue_7d_ma"](spark, sf).collect()
    }
    assert set(got) == set(daily)
    for x, rev in daily.items():
        window = [daily[d] for d in range(x - 6, x + 1) if d in daily]
        r = got[x]
        assert r["revenue_cents"] == rev
        assert r["window_days"] == len(window)
        assert r["ma7_cents"] == sum(window) // len(window)


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


