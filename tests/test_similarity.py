"""ANN / similarity search: brute-force exactness vs numpy, LSH/IVF recall."""

from __future__ import annotations

import numpy as np
import pytest

from logstash_integration_jdbc_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    lsh_topk,
)


@pytest.fixture(scope="module")
def emb(spark, testdata):
    return spark.read.parquet(testdata("sf0.001/embeddings.parquet")).cache()


@pytest.fixture(scope="module")
def queries(emb):
    return (emb.limit(5)
            .selectExpr("vec_id as query_id", "embedding"))


def numpy_topk(emb_rows, q_rows, k):
    M = np.array([r.embedding for r in emb_rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in emb_rows])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    out = {}
    for q in q_rows:
        qv = np.array(q.embedding, dtype=np.float64)
        qv = qv / np.linalg.norm(qv)
        sims = Mn @ qv
        mask = ids != q.query_id
        order = sorted(zip(-sims[mask], ids[mask]))
        out[q.query_id] = [int(i) for _, i in order[:k]]
    return out


def test_brute_force_matches_numpy(spark, emb, queries):
    got_rows = cosine_topk(emb, queries, k=5).collect()
    got = {}
    for r in sorted(got_rows, key=lambda r: (r.query_id, r.rank)):
        got.setdefault(r.query_id, []).append(r.vec_id)
    exp = numpy_topk(emb.collect(), queries.collect(), 5)
    assert got == exp


def test_lsh_recall_reasonable(emb, queries):
    exact = numpy_topk(emb.collect(), queries.collect(), 10)
    approx_rows = lsh_topk(emb, queries, k=10).collect()
    approx = {}
    for r in approx_rows:
        approx.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(approx.get(q, set()) & set(exact[q])) / 10 for q in exact]
    assert sum(recalls) / len(recalls) >= 0.3  # sketchy by design; sanity bound


def test_ivf_probe_prunes_but_finds(emb, queries):
    exact = numpy_topk(emb.collect(), queries.collect(), 10)
    rows = ivf_topk(emb, queries, k=10, n_centroids=8, n_probe=4).collect()
    got = {}
    for r in rows:
        got.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(got.get(q, set()) & set(exact[q])) / 10 for q in exact]
    assert sum(recalls) / len(recalls) >= 0.4
    # probing fewer buckets must score fewer candidates than brute force
    assert all(len(v) <= 10 for v in got.values())


def test_topk_rank_is_dense_and_ordered(emb, queries):
    rows = cosine_topk(emb, queries, k=3).collect()
    by_q = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        assert [r.rank for r in rs] == [1, 2, 3]
        assert rs[0].cosine >= rs[1].cosine >= rs[2].cosine


def test_sketch_udf_matches_expression_form(spark, testdata):
    """The numpy-matmul sketch UDF must equal the expression-form sketch
    bit-for-bit (same deterministic hyperplanes) at 16 bits."""
    from pyspark.sql import functions as F

    from logstash_integration_jdbc_spark.operators.similarity import (
        hyperplane_sketch,
        hyperplane_sketch_udf,
    )

    emb = spark.read.parquet(testdata("sf0.001/embeddings.parquet")).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).limit(64)
    rows = emb.select(
        hyperplane_sketch(F.col("embedding"), 16).alias("expr_sk"),
        hyperplane_sketch_udf(16)(F.col("embedding")).alias("udf_sk"),
    ).collect()
    assert len(rows) == 64
    for r in rows:
        assert r.expr_sk == r.udf_sk


class TestLloydRefinement:
    @staticmethod
    def _clustered(spark):
        import numpy as np

        rng = np.random.RandomState(9)
        centers = np.array([[10, 0, 0, 0], [0, 10, 0, 0], [0, 0, 10, 0]],
                           dtype=float)
        rows = []
        vid = 0
        for c in range(3):
            for _ in range(40):
                v = centers[c] + rng.randn(4) * 0.5
                rows.append((vid, [float(x) for x in v]))
                vid += 1
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_refinement_improves_mean_assignment_cosine(self, spark):
        import numpy as np

        from logstash_integration_jdbc_spark.operators.similarity import (
            _collect_centroids,
            _lloyd_refine,
            _seq_norm,
        )

        df = self._clustered(spark)
        # smallest-id seeds all come from cluster 0 — worst case for the
        # no-refinement default on this fixture
        seeds = _collect_centroids(df, 3, "vec_id", "embedding")
        refined = _lloyd_refine(df, seeds, "vec_id", "embedding", iters=3)

        data = {r.vec_id: np.array(r.embedding) for r in df.collect()}

        def mean_best_cos(cents):
            tot = 0.0
            for v in data.values():
                tot += max(
                    float(v @ np.array(c)) / (np.linalg.norm(v) * _seq_norm(c))
                    for _, c in cents
                )
            return tot / len(data)

        assert mean_best_cos(refined) > mean_best_cos(seeds) + 0.05

    def test_refined_assignment_still_map_only(self, spark):
        from logstash_integration_jdbc_spark.operators.similarity import ivf_index

        df = self._clustered(spark)
        assigned, _ = ivf_index(df, n_centroids=3, kmeans_iters=2)
        plan = assigned._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Join" not in plan
        assert "EvalPython" not in plan

    def test_refinement_deterministic(self, spark):
        from logstash_integration_jdbc_spark.operators.similarity import (
            _collect_centroids,
            _lloyd_refine,
        )

        df = self._clustered(spark)
        seeds = _collect_centroids(df, 3, "vec_id", "embedding")
        a = _lloyd_refine(df, seeds, "vec_id", "embedding", 2)
        b = _lloyd_refine(df, seeds, "vec_id", "embedding", 2)
        assert a == b

    def test_ivf_topk_with_refinement_matches_brute_force(self, spark):
        from logstash_integration_jdbc_spark.operators.similarity import (
            cosine_topk,
            ivf_topk,
        )

        from pyspark.sql import functions as F

        df = self._clustered(spark)
        queries = df.filter(F.col("vec_id").isin(0, 45, 85)).selectExpr(
            "vec_id as query_id", "embedding")
        want = {(r.query_id, r.vec_id) for r in
                cosine_topk(df, queries, k=5).collect()}
        got = {(r.query_id, r.vec_id) for r in
               ivf_topk(df, queries, k=5, n_centroids=3, n_probe=1,
                        kmeans_iters=3).collect()}
        # refined centroids align with the true clusters, so 1-probe IVF
        # recovers the exact top-5 on this separable fixture
        assert got == want


def test_quantize_embeddings_roundtrip(spark):
    import numpy as np

    from logstash_integration_jdbc_spark.operators.similarity import (
        quantize_embeddings,
    )

    vecs = [(0, [0.5, -1.0, 0.25, 0.0]), (1, [0.0, 0.0, 0.0, 0.0]),
            (2, [127.0, -127.0, 63.5, 1.0])]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    rows = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    # row 0: scale = 1/127; q = round(v*127)
    assert rows[0]["q_vec"] == [64, -127, 32, 0]
    assert abs(rows[0]["q_scale"] - 1.0 / 127) < 1e-12
    # all-zero vector: scale 1.0, zeros (no divide-by-zero)
    assert rows[1]["q_scale"] == 1.0 and rows[1]["q_vec"] == [0, 0, 0, 0]
    # values at the int8 boundary stay within ±127
    assert max(map(abs, rows[2]["q_vec"])) <= 127


def test_quantized_cosine_close_and_recall(spark):
    import numpy as np

    from logstash_integration_jdbc_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_quantized,
        quantize_embeddings,
    )

    rng = np.random.RandomState(7)
    corpus = [(i, rng.randn(16).tolist()) for i in range(120)]
    df = spark.createDataFrame(corpus, "vec_id int, embedding array<double>")
    queries = df.limit(5).selectExpr("vec_id as query_id", "embedding")
    exact = cosine_topk(df, queries, k=10).collect()
    dq = quantize_embeddings(df)
    qq = quantize_embeddings(
        queries.withColumnRenamed("query_id", "vec_id")
    ).withColumnRenamed("vec_id", "query_id")
    quant = cosine_topk_quantized(dq, qq, k=10).collect()
    # per-pair cosine within quantization noise
    em = {(r["query_id"], r["vec_id"]): r["cosine"] for r in exact}
    qm = {(r["query_id"], r["vec_id"]): r["cosine"] for r in quant}
    shared = set(em) & set(qm)
    assert all(abs(em[kk] - qm[kk]) < 0.03 for kk in shared)
    # recall@10 of the quantized index vs exact
    by_q_exact: dict[int, set] = {}
    by_q_quant: dict[int, set] = {}
    for r in exact:
        by_q_exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in quant:
        by_q_quant.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(by_q_exact[q] & by_q_quant[q]) / 10
               for q in by_q_exact]
    assert sum(recalls) / len(recalls) >= 0.9


def test_hard_negatives_excludes_positives_and_matches_numpy(spark, emb):
    from pyspark.sql import functions as F

    from logstash_integration_jdbc_spark.operators.similarity import (
        hard_negatives,
    )

    e = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    qs = e.filter(F.col("vec_id") < 3).selectExpr(
        "vec_id as query_id", "embedding", "label")
    out = hard_negatives(e, qs, k=5).collect()

    rows = e.select("vec_id", "embedding", "label").collect()
    vecs = {r.vec_id: np.array(r.embedding) for r in rows}
    labels = {r.vec_id: r.label for r in rows}
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, hits in by_q.items():
        # no self, no same-label row survives
        assert all(h.vec_id != qid for h in hits)
        assert all(labels[h.vec_id] != labels[qid] for h in hits)
        # numpy replay: top-5 cosine among different-label rows
        qv = vecs[qid]
        cand = [(float(np.dot(v, qv) / (np.linalg.norm(v) * np.linalg.norm(qv))), i)
                for i, v in vecs.items()
                if i != qid and labels[i] != labels[qid]]
        cand.sort(key=lambda t: (-t[0], t[1]))
        expect = [i for _, i in cand[:5]]
        got = [h.vec_id for h in sorted(hits, key=lambda h: h.rank)]
        assert got == expect


class TestProductQuantization:
    """PQ/ADC: the ANN memory path — 64-dim float64 → 8 one-byte codes."""

    @pytest.fixture(scope="class")
    def emb_d(self, spark, testdata):
        from pyspark.sql import functions as F

        return (spark.read.parquet(testdata("sf0.001/embeddings.parquet"))
                .withColumn("embedding", F.col("embedding").cast("array<double>"))
                .cache())

    @pytest.fixture(scope="class")
    def q5(self, emb_d):
        from pyspark.sql import functions as F

        return emb_d.filter(F.col("vec_id") < 5).selectExpr(
            "vec_id as query_id", "embedding")

    def numpy_books(self, emb_rows, m, K, iters):
        """Independent twin of pq_codebooks: init from the K smallest-id
        vectors' subspace slices, Lloyd via argmin-L2 (ties → smallest)."""
        rows = sorted(emb_rows, key=lambda r: r.vec_id)
        V = np.array([r.embedding for r in rows], dtype=np.float64)
        dsub = V.shape[1] // m
        Vs = V.reshape(len(V), m, dsub)
        B = Vs[:K].transpose(1, 0, 2).copy()
        for _ in range(iters):
            S = (np.einsum("nmd,mkd->nmk", Vs, B)
                 - 0.5 * np.einsum("mkd,mkd->mk", B, B)[None])
            A = np.argmax(S, axis=2)
            for mm in range(m):
                for c in range(K):
                    mask = A[:, mm] == c
                    if mask.any():
                        B[mm, c] = Vs[mask, mm].mean(axis=0)
        return B

    def test_codebooks_match_numpy_twin(self, emb_d):
        from logstash_integration_jdbc_spark.operators.similarity import (
            pq_codebooks,
        )

        books = pq_codebooks(emb_d, n_subspaces=4, n_codes=8, train_iters=2)
        B = self.numpy_books(emb_d.collect(), 4, 8, 2)
        got = np.array([[w for _, w in sorted(bm, key=lambda cw: cw[0])]
                        for bm in books])
        assert np.allclose(got, B, atol=1e-9)

    def test_encode_expr_matches_udf_and_numpy(self, emb_d):
        from logstash_integration_jdbc_spark.operators.similarity import (
            pq_codebooks,
            pq_encode,
            pq_encode_udf,
        )

        books = pq_codebooks(emb_d, n_subspaces=8, n_codes=16, train_iters=1)
        a = {r.vec_id: list(r.pq_codes)
             for r in pq_encode(emb_d, books).select("vec_id", "pq_codes").collect()}
        b = {r.vec_id: list(r.pq_codes)
             for r in pq_encode_udf(emb_d, books).select("vec_id", "pq_codes").collect()}
        assert a == b
        # numpy argmin-L2 twin with smallest-code tie-break
        W = np.array([[w for _, w in sorted(bm, key=lambda cw: cw[0])]
                      for bm in books])
        rows = emb_d.collect()
        V = np.array([r.embedding for r in rows], dtype=np.float64)
        Vs = V.reshape(len(V), 8, 8)
        S = (np.einsum("nmd,mkd->nmk", Vs, W)
             - 0.5 * np.einsum("mkd,mkd->mk", W, W)[None])
        codes = np.argmax(S, axis=2)
        exp = {r.vec_id: list(map(int, codes[i]))
               for i, r in enumerate(rows)}
        assert a == exp

    def test_adc_lut_path_matches_expression_path(self, emb_d, q5):
        from logstash_integration_jdbc_spark.operators.similarity import (
            _adc_score_lut,
            _topk_per_query,
            pq_adc_topk,
            pq_codebooks,
            pq_encode,
        )

        books = pq_codebooks(emb_d, n_subspaces=8, n_codes=16, train_iters=1)
        expr = pq_adc_topk(emb_d, q5, k=10, books=books,
                           use_udf_encode=False).collect()
        encoded = pq_encode(emb_d, books).select("vec_id", "pq_codes")
        scored = _adc_score_lut(encoded, q5, books, "vec_id", "query_id",
                                "embedding")
        lut = _topk_per_query(scored, "query_id", "vec_id", 10).collect()
        key = lambda r: (r.query_id, r.rank)
        ea, la = sorted(expr, key=key), sorted(lut, key=key)
        assert [(r.query_id, r.vec_id) for r in ea] == \
               [(r.query_id, r.vec_id) for r in la]
        assert np.allclose([r.cosine for r in ea], [r.cosine for r in la],
                           atol=1e-9)

    def test_large_codebook_udf_route_runs(self, emb_d, q5):
        """n_codes > 32 flips both encode and scoring to the Arrow route."""
        from logstash_integration_jdbc_spark.operators.similarity import (
            pq_adc_topk,
        )

        rows = pq_adc_topk(emb_d, q5, k=5, n_codes=48, train_iters=0).collect()
        by_q = {}
        for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
            by_q.setdefault(r.query_id, []).append(r)
        assert set(by_q) == {0, 1, 2, 3, 4}
        for q, rs in by_q.items():
            assert [r.rank for r in rs] == [1, 2, 3, 4, 5]
            assert all(r.vec_id != q for r in rs)
            assert all(rs[i].cosine >= rs[i + 1].cosine
                       for i in range(len(rs) - 1))

    def test_adc_recall_and_rerank_repair(self, emb_d, q5):
        """ADC recall is decent; rerank re-scores the shortlist with
        EXACT cosine (values must equal the numpy exact scores) and
        recall does not drop."""
        from logstash_integration_jdbc_spark.operators.similarity import (
            pq_adc_topk,
        )

        exact = numpy_topk(emb_d.collect(), q5.collect(), 10)
        adc = pq_adc_topk(emb_d, q5, k=10, train_iters=1).collect()
        got = {}
        for r in adc:
            got.setdefault(r.query_id, set()).add(r.vec_id)
        adc_recall = sum(len(got[q] & set(exact[q])) / 10 for q in exact) / len(exact)
        assert adc_recall >= 0.3

        rer = pq_adc_topk(emb_d, q5, k=10, train_iters=1,
                          rerank_factor=4).collect()
        vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
                for r in emb_d.collect()}
        got_r = {}
        for r in rer:
            got_r.setdefault(r.query_id, set()).add(r.vec_id)
            qv, cv = vecs[r.query_id], vecs[r.vec_id]
            expect = float(np.dot(qv, cv)
                           / (np.linalg.norm(qv) * np.linalg.norm(cv)))
            assert abs(r.cosine - expect) < 1e-9
        rer_recall = sum(len(got_r[q] & set(exact[q])) / 10
                         for q in exact) / len(exact)
        assert rer_recall >= adc_recall - 1e-9

    def test_indivisible_dim_raises(self, emb_d):
        from logstash_integration_jdbc_spark.operators.similarity import (
            pq_codebooks,
        )

        with pytest.raises(ValueError, match="not divisible"):
            pq_codebooks(emb_d, n_subspaces=7, n_codes=8)


class TestIvfPq:
    """IVF-PQ composition: probe pruning × residual PQ × ADC × rerank."""

    @pytest.fixture(scope="class")
    def emb_d(self, spark, testdata):
        from pyspark.sql import functions as F

        return (spark.read.parquet(testdata("sf0.001/embeddings.parquet"))
                .withColumn("embedding", F.col("embedding").cast("array<double>"))
                .cache())

    @pytest.fixture(scope="class")
    def q5(self, emb_d):
        from pyspark.sql import functions as F

        return emb_d.filter(F.col("vec_id") < 5).selectExpr(
            "vec_id as query_id", "embedding")

    def numpy_ivf_pq(self, emb_rows, q_rows, k, n_cent, n_probe, m, K,
                     train_iters):
        """Full independent twin of the kmeans_iters=0 path: assign →
        residual codebooks (seeds skip centroid rows) → probe → ADC
        cosine against the reconstruction c + r̂."""
        rows = sorted(emb_rows, key=lambda r: r.vec_id)
        ids = np.array([r.vec_id for r in rows])
        V = np.array([r.embedding for r in rows], dtype=np.float64)
        dsub = V.shape[1] // m
        C = V[:n_cent].copy()
        cnorm = np.linalg.norm(C, axis=1)
        sims = (V @ C.T) / (np.linalg.norm(V, axis=1, keepdims=True) * cnorm)
        A = np.argmax(sims, axis=1)
        R = V - C[A]
        max_cid = ids[:n_cent].max()
        Rt = R[ids > max_cid]
        Rs = Rt.reshape(len(Rt), m, dsub)
        B = Rs[:K].transpose(1, 0, 2).copy()
        for _ in range(train_iters):
            S = (np.einsum("nmd,mkd->nmk", Rs, B)
                 - 0.5 * np.einsum("mkd,mkd->mk", B, B)[None])
            Ac = np.argmax(S, axis=2)
            for mm in range(m):
                for c in range(K):
                    sel = Ac[:, mm] == c
                    if sel.any():
                        B[mm, c] = Rs[sel, mm].mean(axis=0)
        Vs = R.reshape(len(V), m, dsub)
        S = (np.einsum("nmd,mkd->nmk", Vs, B)
             - 0.5 * np.einsum("mkd,mkd->mk", B, B)[None])
        codes = np.argmax(S, axis=2)                    # (n, m)
        recon = C[A] + np.stack(
            [np.concatenate([B[mm, codes[i, mm]] for mm in range(m)])
             for i in range(len(V))])
        out = {}
        for q in q_rows:
            qv = np.array(q.embedding, dtype=np.float64)
            probe = np.argsort(-(qv @ C.T) / (np.linalg.norm(qv) * cnorm),
                               kind="stable")[:n_probe]
            cand = [i for i in range(len(V))
                    if A[i] in probe and ids[i] != q.query_id]
            scored = sorted(
                ((float(qv @ recon[i]
                        / (np.linalg.norm(qv) * np.linalg.norm(recon[i]))),
                  int(ids[i])) for i in cand),
                key=lambda t: (-t[0], t[1]))
            out[q.query_id] = scored[:k]
        return out

    def test_adc_scores_match_reconstruction_twin(self, emb_d, q5):
        """The expression-chain ADC cosine IS the exact cosine of the
        query against c + r̂ — checked against a from-scratch numpy
        reconstruction, pair-for-pair and value-for-value."""
        from logstash_integration_jdbc_spark.operators.similarity import (
            ivf_pq_topk,
        )

        got = ivf_pq_topk(emb_d, q5, k=10, n_centroids=8, n_probe=4,
                          n_subspaces=8, n_codes=16, train_iters=1).collect()
        exp = self.numpy_ivf_pq(emb_d.collect(), q5.collect(), 10,
                                n_cent=8, n_probe=4, m=8, K=16, train_iters=1)
        by_q = {}
        for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
            by_q.setdefault(r.query_id, []).append(r)
        assert set(by_q) == set(exp)
        for qid, rs in by_q.items():
            assert [r.vec_id for r in rs] == [i for _, i in exp[qid]]
            assert np.allclose([r.cosine for r in rs],
                               [c for c, _ in exp[qid]], atol=1e-9)

    def test_rerank_returns_exact_cosines_and_lifts_recall(self, emb_d, q5):
        from logstash_integration_jdbc_spark.operators.similarity import (
            ivf_pq_topk,
        )

        exact = numpy_topk(emb_d.collect(), q5.collect(), 10)
        adc = ivf_pq_topk(emb_d, q5, k=10, n_centroids=8, n_probe=4,
                          kmeans_iters=2, train_iters=1).collect()
        rer = ivf_pq_topk(emb_d, q5, k=10, n_centroids=8, n_probe=4,
                          kmeans_iters=2, train_iters=1,
                          rerank_factor=5).collect()
        vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
                for r in emb_d.collect()}

        def recall(rows):
            got = {}
            for r in rows:
                got.setdefault(r.query_id, set()).add(r.vec_id)
            return sum(len(got[q] & set(exact[q])) / 10
                       for q in exact) / len(exact)

        for r in rer:
            qv, cv = vecs[r.query_id], vecs[r.vec_id]
            expect = float(np.dot(qv, cv)
                           / (np.linalg.norm(qv) * np.linalg.norm(cv)))
            assert abs(r.cosine - expect) < 1e-9
        assert recall(rer) >= recall(adc) - 1e-9
        assert recall(rer) >= 0.5

    def test_code_bound_raises(self, emb_d, q5):
        from logstash_integration_jdbc_spark.operators.similarity import (
            ivf_pq_topk,
        )

        with pytest.raises(NotImplementedError, match="32 codes"):
            ivf_pq_topk(emb_d, q5, n_codes=48)

    def test_indivisible_dim_raises(self, emb_d, q5):
        from logstash_integration_jdbc_spark.operators.similarity import (
            ivf_pq_topk,
        )

        with pytest.raises(ValueError, match="not divisible"):
            ivf_pq_topk(emb_d, q5, n_subspaces=7)
