"""Training-data pipeline operators: dedup, similarity, text, uniqueness."""

import math

import pytest
from pyspark.sql import functions as F

from dataverifyr_spark.operators.dedup import (
    exact_dup_groups,
    drop_exact_dupes,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard,
    simhash,
)
from dataverifyr_spark.operators.similarity import (
    brute_force_topk,
    hyperplane_lsh_buckets,
    lsh_topk,
)
from dataverifyr_spark.operators.text import language_scores, quality_metrics, token_stats
from dataverifyr_spark.operators.uniqueness import distinct_count_salted, uniqueness_check


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("today", "tomorrow")),  # near dup
        (4, "completely different words about spark dataframes and shuffles here now"),
        (5, "der hund und die katze sind ein gutes team mit den anderen"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string").cache()


class TestExactDedup:
    def test_groups(self, spark, docs):
        groups = {r["n_copies"] for r in exact_dup_groups(docs).collect()}
        assert groups == {1, 2}
        dup = [r for r in exact_dup_groups(docs).collect() if r["n_copies"] == 2][0]
        assert dup["keep_id"] == 1

    def test_drop(self, spark, docs):
        kept = drop_exact_dupes(docs)
        assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3, 4, 5]
        assert kept.columns == docs.columns

    def test_normalization(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello  World"), (2, "hello world "), (3, "other")],
            "doc_id bigint, text string",
        )
        dup = [r for r in exact_dup_groups(df).collect() if r["n_copies"] == 2]
        assert len(dup) == 1


class TestMinHashLSH:
    def test_identical_docs_identical_signatures(self, spark, docs):
        sigs = {r["doc_id"]: r["signature"] for r in minhash_signatures(docs, num_hashes=16).collect()}
        assert sigs[1] == sigs[2]
        assert sigs[1] != sigs[4]

    def test_near_dups_share_most_minhashes(self, spark, docs):
        sigs = {r["doc_id"]: r["signature"] for r in minhash_signatures(docs, num_hashes=32).collect()}
        agree = sum(a == b for a, b in zip(sigs[1], sigs[3]))
        disagree = sum(a == b for a, b in zip(sigs[1], sigs[4]))
        assert agree > disagree

    def test_lsh_pairs_find_dups(self, spark, docs):
        sigs = minhash_signatures(docs, num_hashes=32)
        pairs = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs, num_bands=16).collect()}
        assert (1, 2) in pairs
        assert (4, 5) not in pairs

    def test_jaccard_verify(self, spark, docs):
        pairs = docs.alias("a").crossJoin(docs.alias("b")).filter(
            F.col("a.doc_id") < F.col("b.doc_id")
        ).select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.text").alias("text_a"),
            F.col("b.text").alias("text_b"),
        )
        jac = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard(pairs, "text_a", "text_b").collect()
        }
        assert jac[(1, 2)] == 1.0
        assert 0.5 < jac[(1, 3)] < 1.0
        assert jac[(1, 4)] == 0.0


class TestSimHash:
    def test_simhash_properties(self, spark, docs):
        out = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=16).collect()}
        assert out[1] == out[2]  # identical docs

        def hamming(a, b):
            return bin((a ^ b) & 0xFFFF).count("1")

        assert hamming(out[1], out[3]) < hamming(out[1], out[5])

    def test_simhash_matches_python_reference(self, spark):
        # the single-pass vote-array fold must equal a direct per-bit
        # implementation; md5_hash32 makes the token hash reproducible here
        import hashlib

        from dataverifyr_spark.operators.dedup import md5_hash32

        texts = ["the quick brown fox", "pack my box with five dozen jugs", "a"]

        def py_simhash(text, bits=32):
            toks = " ".join(text.lower().strip().split()).split(" ")
            votes = [0] * bits
            for t in toks:
                h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
                for b in range(bits):
                    votes[b] += 1 if h & (1 << b) else -1
            return sum((1 << b) for b in range(bits) if votes[b] > 0)

        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id int, text string")
        got = {
            r["doc_id"]: r["simhash"]
            for r in simhash(df, bits=32, token_hash=md5_hash32).collect()
        }
        assert got == {i: py_simhash(t) for i, t in enumerate(texts)}


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rows = []
        for i in range(50):
            vec = [math.sin(i * 0.7 + d) for d in range(8)]
            rows.append((i, vec))
        return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>").cache()

    def test_brute_force_self_is_top1(self, spark, emb):
        q = [math.sin(7 * 0.7 + d) for d in range(8)]
        top = brute_force_topk(emb, q, k=3).collect()
        assert top[0]["vec_id"] == 7
        assert top[0]["cosine_sim"] == pytest.approx(1.0)

    def test_lsh_bucket_determinism_and_recall(self, spark, emb):
        b1 = {r["vec_id"]: r["bucket"] for r in hyperplane_lsh_buckets(emb, dim=8, bits=4).collect()}
        b2 = {r["vec_id"]: r["bucket"] for r in hyperplane_lsh_buckets(emb, dim=8, bits=4).collect()}
        assert b1 == b2
        q = [math.sin(7 * 0.7 + d) for d in range(8)]
        approx_top = lsh_topk(emb, q, k=3, bits=4).collect()
        assert approx_top[0]["vec_id"] == 7  # query's own bucket contains itself


class TestText:
    def test_token_stats(self, spark, docs):
        r = {x["doc_id"]: x for x in token_stats(docs).collect()}
        assert r[1]["n_tokens"] == 14
        assert r[1]["n_chars"] == len("the quick brown fox jumps over the lazy dog and runs far away today")

    def test_quality_metrics(self, spark, docs):
        r = {x["doc_id"]: x for x in quality_metrics(docs).collect()}
        assert 0.0 < r[1]["alpha_ratio"] < 1.0
        assert r[1]["distinct_token_ratio"] < 1.0  # 'the' repeats

    def test_language_scores(self, spark, docs):
        r = {x["doc_id"]: x for x in language_scores(docs).collect()}
        assert r[1]["lang_guess"] == "en"
        assert r[5]["lang_guess"] == "de"


class TestUniqueness:
    def test_salted_distinct_matches_exact(self, spark):
        df = spark.createDataFrame([(i % 100, i % 7) for i in range(10000)], "a int, b int")
        assert distinct_count_salted(df, ["a", "b"]) == df.select("a", "b").distinct().count()

    def test_uniqueness_check(self, spark):
        df = spark.createDataFrame([(1,), (2,), (2,)], "k int")
        row = uniqueness_check(df, "k").collect()[0]
        assert (row["total_rows"], row["distinct_keys"], row["duplicate_rows"]) == (3, 2, 1)
        assert row["is_unique"] is False

    # jobs of one uniqueness_check call, collect included; the two-scan
    # version (df.count() then a salted distinct count) ran 6 exact, 5 approx
    UNIQUENESS_CHECK_JOBS = {False: 4, True: 3}

    @pytest.mark.parametrize("approx", [False, True])
    def test_uniqueness_check_job_budget(self, spark, job_ids, approx):
        """Total rows and distinct keys come from one aggregation."""
        df = spark.createDataFrame([(1, "a"), (2, "a"), (2, "a"), (None, "b")], "k int, s string")
        counts = [
            len(job_ids(lambda: uniqueness_check(df, ["k", "s"], approx=approx).collect()))
            for _ in range(2)
        ]
        assert counts == [self.UNIQUENESS_CHECK_JOBS[approx]] * 2


class TestLSHBucketCap:
    def test_hot_buckets_dropped(self, spark):
        # 30 identical docs = one hot bucket of 30 -> 435 pairs without the cap
        rows = [(i, "same words repeated here for everyone in this cluster") for i in range(30)]
        rows += [(100, "another unique doc entirely different content here now")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        sigs = minhash_signatures(df, num_hashes=16)
        uncapped = lsh_candidate_pairs(sigs, num_bands=4, max_bucket_size=None)
        capped = lsh_candidate_pairs(sigs, num_bands=4, max_bucket_size=10)
        assert uncapped.count() == 30 * 29 // 2
        assert capped.count() == 0  # the hot cluster is excluded from pair-gen

    def test_dropped_bucket_accounting_exact(self, spark):
        """r6 (VERDICT #4) — no silent caps: the stats out-param must report
        EXACTLY which volume the cap sacrificed.  30 identical docs × 4 bands
        → 4 over-cap buckets of 30 membership rows each; the unique doc's
        buckets are all singletons and drop nothing."""
        rows = [(i, "same words repeated here for everyone in this cluster") for i in range(30)]
        rows += [(100, "another unique doc entirely different content here now")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        sigs = minhash_signatures(df, num_hashes=16)

        stats: dict = {}
        capped = lsh_candidate_pairs(sigs, num_bands=4, max_bucket_size=10, stats=stats)
        assert capped.count() == 0
        assert stats == {"n_buckets_dropped": 4, "n_rows_dropped": 120}

        # a true duplicate pair (0, 1) lives ONLY in dropped buckets — the
        # stats are the recall-cost signal a 100 TB run reads
        assert capped.filter((F.col("id_a") == 0) & (F.col("id_b") == 1)).count() == 0

        # cap above every bucket: zero drops reported
        stats2: dict = {}
        full = lsh_candidate_pairs(sigs, num_bands=4, max_bucket_size=50, stats=stats2)
        assert stats2 == {"n_buckets_dropped": 0, "n_rows_dropped": 0}
        assert full.filter((F.col("id_a") == 0) & (F.col("id_b") == 1)).count() == 1

        # cap disabled: stats still well-defined (all zero)
        stats3: dict = {}
        lsh_candidate_pairs(sigs, num_bands=4, max_bucket_size=None, stats=stats3)
        assert stats3 == {"n_buckets_dropped": 0, "n_rows_dropped": 0}

    def test_incremental_dropped_bucket_accounting(self, spark):
        """Per-side accounting for the cross-corpus path: the hot NEW bucket
        reports its drops independently of the (smaller) corpus side."""
        from dataverifyr_spark.operators.dedup import lsh_pairs_against

        text = "identical boilerplate text repeated across every single document here"
        corpus = spark.createDataFrame(
            [(i, text) for i in range(5)], "doc_id bigint, text string"
        )
        new = spark.createDataFrame(
            [(1000 + i, text) for i in range(50)], "doc_id bigint, text string"
        )
        c_sigs = minhash_signatures(corpus, num_hashes=32)
        n_sigs = minhash_signatures(new, num_hashes=32)

        stats: dict = {}
        out = lsh_pairs_against(n_sigs, c_sigs, max_bucket_size=10, stats=stats)
        assert out.count() == 0
        # identical docs: 8 bands (32 hashes / 4 per band default=16 bands →
        # here num_bands default 16) — all NEW buckets over cap, corpus under
        assert stats["new"] == {"n_buckets_dropped": 16, "n_rows_dropped": 16 * 50}
        assert stats["corpus"] == {"n_buckets_dropped": 0, "n_rows_dropped": 0}


class TestConnectedComponents:
    def test_components(self, spark):
        from dataverifyr_spark.operators.components import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6), (8, 9), (9, 1)], "id_a bigint, id_b bigint"
        )
        comps = {r["node"]: r["component"] for r in connected_components(edges).collect()}
        # {1,2,3,8,9} one component (min id 1), {5,6} another
        assert comps[1] == comps[2] == comps[3] == comps[8] == comps[9] == 1
        assert comps[5] == comps[6] == 5

    def test_long_chain_converges(self, spark):
        # regression: a diameter-15 chain needs 15 rounds; without per-round
        # lineage truncation (localCheckpoint) the self-referencing plan
        # doubles per round and OOMs the driver even on 16 edges
        from dataverifyr_spark.operators.components import connected_components

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(15)], "id_a bigint, id_b bigint"
        )
        comps = {r["node"]: r["component"] for r in connected_components(edges).collect()}
        assert all(comps[i] == 0 for i in range(16))

    def test_embedding_dedup_groups(self, spark):
        # three exact clusters of near-identical vectors + singletons: min-id
        # survivor per cluster, everything else flagged duplicate
        import math as m

        from dataverifyr_spark.operators.components import embedding_dedup_groups

        def vec(seed, eps=0.0):
            return [m.sin(seed * 0.7 + d) + eps for d in range(8)]

        rows = []
        for cluster, base in ((0, 1.0), (1, 2.0), (2, 3.0)):
            for j in range(3):
                rows.append((cluster * 10 + j, vec(base, eps=j * 1e-4)))
        rows += [(100, vec(40.0)), (101, vec(55.0))]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        out = {r["vec_id"]: r for r in embedding_dedup_groups(
            df, dim=8, threshold=0.999, bits=8, bands=4
        ).collect()}
        assert len(out) == 11
        for cluster in (0, 1, 2):
            ids = [cluster * 10 + j for j in range(3)]
            comps = {out[i]["component"] for i in ids}
            assert comps == {cluster * 10}, comps
            assert [out[i]["is_kept"] for i in ids] == [True, False, False]
        assert out[100]["is_kept"] and out[101]["is_kept"]
        assert out[100]["component"] == 100

    def test_warns_when_max_iter_exhausted(self, spark):
        import warnings as _w

        from dataverifyr_spark.operators.components import connected_components

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(6)], "id_a bigint, id_b bigint"
        )
        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            connected_components(edges, max_iter=2).collect()
        assert any("did not converge" in str(w.message) for w in caught)

    def test_near_dup_groups_end_to_end(self, spark, docs):
        from dataverifyr_spark.operators.components import near_dup_groups

        out = {r["doc_id"]: r for r in near_dup_groups(
            docs, num_hashes=32, num_bands=16, jaccard_threshold=0.5
        ).collect()}
        # docs 1, 2 (exact dup) and 3 (near dup) share a component; 1 kept
        assert out[1]["component"] == out[2]["component"] == out[3]["component"]
        assert out[1]["is_kept"] is True
        assert out[2]["is_kept"] is False and out[3]["is_kept"] is False
        assert out[4]["is_kept"] is True and out[5]["is_kept"] is True


class TestEmbeddingNearDup:
    def test_near_identical_vectors_found(self, spark):
        from dataverifyr_spark.operators.similarity import embedding_near_dup_pairs

        import math
        rows = []
        for i in range(40):
            vec = [math.sin(i * 0.9 + d) for d in range(8)]
            rows.append((i, vec))
        # vec 100 = tiny perturbation of vec 3 -> cosine ~1
        rows.append((100, [math.sin(3 * 0.9 + d) + 1e-4 for d in range(8)]))
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        pairs = {(r["id_a"], r["id_b"]): r["cosine_sim"]
                 for r in embedding_near_dup_pairs(df, dim=8, threshold=0.999, bits=4).collect()}
        assert (3, 100) in pairs
        assert pairs[(3, 100)] > 0.999


class TestLshPairJobBudget:
    """Jobs the shared capped-bucket pair builder issues INSIDE each call and
    when its result is CONSUMED (one count), with the hot-bucket cap on.
    The split pins the lazy-checkpoint sequencing rule: with stats, the
    drop-count collect is the first action and materializes the lazy
    checkpoints inside the call; without stats the banded checkpoint is
    eager, because the join's concurrent map stages would each compute a
    lazy one.  Counted by job-id delta with runtime broadcast off."""

    @pytest.fixture(scope="class")
    def sigs(self, spark):
        # every 4th doc is the same boilerplate: its buckets exceed cap 5
        rows = [
            (i, "same boilerplate text here now" if i % 4 == 0
             else f"w{i} w{i + 1} w{i + 2} w{i + 3} w{i + 4}")
            for i in range(60)
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        return {
            name: minhash_signatures(docs.filter(cond), num_hashes=16)
            for name, cond in (
                ("all", "true"), ("new", "doc_id % 2 = 1"), ("corpus", "doc_id % 2 = 0")
            )
        }

    @staticmethod
    def _budget(job_ids, build) -> tuple[int, int]:
        out = []
        in_call = job_ids(lambda: out.append(build()))
        on_consume = job_ids(lambda: out[0].count())
        return len(in_call), len(on_consume)

    @pytest.mark.parametrize(
        "with_stats,expected", [(False, (2, 6)), (True, (4, 5))], ids=["no_stats", "stats"]
    )
    def test_lsh_candidate_pairs(self, sigs, job_ids, no_runtime_broadcast, with_stats, expected):
        stats = {} if with_stats else None
        got = self._budget(
            job_ids,
            lambda: lsh_candidate_pairs(sigs["all"], num_bands=8, max_bucket_size=5, stats=stats),
        )
        assert got == expected
        if with_stats:
            assert stats == {"n_buckets_dropped": 8, "n_rows_dropped": 120}

    @pytest.mark.parametrize(
        "with_stats,expected", [(False, (4, 9)), (True, (8, 7))], ids=["no_stats", "stats"]
    )
    def test_lsh_pairs_against(self, sigs, job_ids, no_runtime_broadcast, with_stats, expected):
        from dataverifyr_spark.operators.dedup import lsh_pairs_against

        stats = {} if with_stats else None
        got = self._budget(
            job_ids,
            lambda: lsh_pairs_against(
                sigs["new"], sigs["corpus"], num_bands=8, max_bucket_size=5, stats=stats
            ),
        )
        assert got == expected
        if with_stats:
            assert stats["corpus"] == {"n_buckets_dropped": 8, "n_rows_dropped": 120}
            assert stats["new"] == {"n_buckets_dropped": 0, "n_rows_dropped": 0}

    @pytest.mark.parametrize("with_stats", [False, True], ids=["no_stats", "stats"])
    @pytest.mark.parametrize("udf_codes", [False, True], ids=["expr_codes", "udf_codes"])
    def test_embedding_pairs_plan_reads_checkpointed_codes(
        self, spark, monkeypatch, udf_codes, with_stats
    ):
        """embedding_near_dup_pairs self-joins the checkpointed (id, band,
        bucket) codes: its returned plan computes no band code — no
        posexplode, and on the broadcast-numpy arm no ArrowEvalPython."""
        from dataverifyr_spark.operators import similarity as sim

        if udf_codes:
            monkeypatch.setattr(sim, "_EXPR_LSH_MAX", 0)
        rows = [(i, [math.sin(i * 0.7 + d) for d in range(8)]) for i in range(25)]
        rows += [(i + 100, [v + 1e-5 for v in vec]) for i, vec in rows]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        pairs = sim.embedding_near_dup_pairs(
            df, dim=8, threshold=0.999, bits=8, bands=4, stats={} if with_stats else None
        )
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "posexplode" not in plan
        assert "ArrowEvalPython" not in plan
        assert {(i, i + 100) for i in range(25)} <= {
            (r["id_a"], r["id_b"]) for r in pairs.collect()
        }


class TestBpeProxy:
    def test_bpe_pieces(self, spark):
        df = spark.createDataFrame(
            [(1, "hello world"), (2, "internationalization!"), (3, "a b 12345")],
            "doc_id bigint, text string",
        )
        r = {x["doc_id"]: x["n_bpe_pieces"] for x in token_stats(df, bpe=True).collect()}
        assert r[1] == 4   # hell|o wor|ld -> 2+2 chunks
        assert r[2] == 6   # 20 letters -> 5 chunks + '!'
        assert r[3] == 4   # a | b | 1234 | 5


class TestMultiprobeAndIVF:
    @pytest.fixture(scope="class")
    def emb2(self, spark):
        import math as m
        rows = [(i, [m.sin(i * 0.37 + d * 1.3) for d in range(8)]) for i in range(200)]
        return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>").cache()

    def test_multiprobe_recall_at_least_single_probe(self, spark, emb2):
        import math as m
        from dataverifyr_spark.operators.similarity import (
            brute_force_topk,
            lsh_topk,
            lsh_topk_multiprobe,
        )

        q = [m.sin(42 * 0.37 + d * 1.3 + 0.01) for d in range(8)]
        truth = {r["vec_id"] for r in brute_force_topk(emb2, q, k=5).collect()}
        single = {r["vec_id"] for r in lsh_topk(emb2, q, k=5, bits=6).collect()}
        multi = {r["vec_id"] for r in lsh_topk_multiprobe(emb2, q, k=5, bits=6, probes=1).collect()}
        assert len(multi & truth) >= len(single & truth)
        assert len(multi & truth) >= 3  # decent recall with 1-bit probes

    def test_ivf_end_to_end(self, spark, emb2):
        import math as m
        from dataverifyr_spark.operators.ivf import ivf_index, ivf_topk, kmeans_fit
        from dataverifyr_spark.operators.similarity import brute_force_topk

        cents = kmeans_fit(emb2, k=8, dim=8, iters=3)
        assert len(cents) == 8 and all(len(c) == 8 for c in cents)
        indexed = ivf_index(emb2, cents).cache()
        # every row got a cluster; clusters are non-degenerate
        n_clusters = indexed.select("cluster").distinct().count()
        assert n_clusters >= 4
        q = [m.sin(17 * 0.37 + d * 1.3 + 0.01) for d in range(8)]
        truth = {r["vec_id"] for r in brute_force_topk(emb2, q, k=5).collect()}
        approx = {r["vec_id"] for r in ivf_topk(indexed, cents, q, k=5, nprobe=3).collect()}
        assert len(approx & truth) >= 3

    def test_kmeans_deterministic(self, spark, emb2):
        from dataverifyr_spark.operators.ivf import kmeans_fit

        a = kmeans_fit(emb2, k=4, dim=8, iters=2)
        b = kmeans_fit(emb2, k=4, dim=8, iters=2)
        assert a == b

    def test_assign_expr_and_pandas_paths_agree(self, spark, emb2):
        # above _EXPR_ASSIGN_MAX the argmin runs as a broadcast pandas UDF;
        # both strategies must yield the same cluster per row
        import dataverifyr_spark.operators.ivf as ivf_mod
        from dataverifyr_spark.operators.ivf import assign_clusters, kmeans_fit

        cents = kmeans_fit(emb2, k=8, dim=8, iters=2)
        expr_path = assign_clusters(emb2, cents)
        orig = ivf_mod._EXPR_ASSIGN_MAX
        ivf_mod._EXPR_ASSIGN_MAX = 0  # force the pandas-UDF path
        try:
            udf_path = assign_clusters(emb2, cents)
        finally:
            ivf_mod._EXPR_ASSIGN_MAX = orig
        a = {r["vec_id"]: r["cluster"] for r in expr_path.collect()}
        b = {r["vec_id"]: r["cluster"] for r in udf_path.collect()}
        assert a == b

    def test_ivf_index_written_by_cluster_prunes_partitions(self, spark, emb2, tmp_path):
        """The IVF scale story: write the index partitioned by cluster, and a
        probe of nprobe clusters becomes PartitionFilters pruning — the scan
        touches nprobe/k of the files, which is the whole point at 10^12
        rows."""
        import contextlib
        import io

        from dataverifyr_spark.operators.ivf import ivf_index, kmeans_fit

        cents = kmeans_fit(emb2, k=8, dim=8, iters=2)
        p = str(tmp_path / "ivf_index")
        ivf_index(emb2, cents).write.partitionBy("cluster").parquet(p)
        probe = spark.read.parquet(p).filter(F.col("cluster").isin([0, 3]))
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            probe.explain("formatted")
        plan = buf.getvalue()
        assert "PartitionFilters: [cluster" in plan, plan
        got = {r["cluster"] for r in probe.select("cluster").distinct().collect()}
        assert got <= {0, 3}

    def test_assign_large_k_is_fast(self, spark):
        # regression: k=512 x dim=64 (32k literal elements) took ~minute of
        # Catalyst ANALYSIS in the expression path; the pandas path must keep
        # end-to-end under a sane bound
        import math as m
        import time

        from dataverifyr_spark.operators.ivf import assign_clusters

        k, dim = 512, 64
        cents = [[m.sin(i * 0.7 + d) for d in range(dim)] for i in range(k)]
        rows = [(i, [m.cos(i * 0.3 + d) for d in range(dim)]) for i in range(500)]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        t0 = time.time()
        n = assign_clusters(df, cents).select("cluster").distinct().count()
        assert n >= 2
        assert time.time() - t0 < 30, "large-k assignment should not hit plan explosion"


class TestTopkJoin:
    def test_batch_topk_matches_per_query(self, spark):
        import math as m
        from dataverifyr_spark.operators.similarity import brute_force_topk, topk_join

        corpus = spark.createDataFrame(
            [(i, [m.sin(i * 0.53 + d) for d in range(6)]) for i in range(80)],
            "vec_id bigint, embedding array<double>",
        ).cache()
        queries = spark.createDataFrame(
            [(j, [m.sin(j * 0.53 + d) + 0.001 for d in range(6)]) for j in (5, 33)],
            "query_id bigint, embedding array<double>",
        )
        batch = topk_join(corpus, queries, k=3)
        got = {}
        for r in batch.collect():
            got.setdefault(r["query_id"], []).append(r["vec_id"])
        for qid in (5, 33):
            qvec = [m.sin(qid * 0.53 + d) + 0.001 for d in range(6)]
            expect = [r["vec_id"] for r in brute_force_topk(corpus, qvec, k=3).collect()]
            assert got[qid] == expect

    def test_bucketed_batch_includes_self(self, spark):
        import math as m
        from dataverifyr_spark.operators.similarity import topk_join

        corpus = spark.createDataFrame(
            [(i, [m.sin(i * 0.53 + d) for d in range(6)]) for i in range(80)],
            "vec_id bigint, embedding array<double>",
        )
        queries = spark.createDataFrame(
            [(7, [m.sin(7 * 0.53 + d) for d in range(6)])],
            "query_id bigint, embedding array<double>",
        )
        out = topk_join(corpus, queries, k=3, dim=6, bits=4)
        assert [r["vec_id"] for r in out.collect()][0] == 7


class TestIncrementalDedup:
    def test_new_batch_vs_corpus_pairs(self, spark):
        """Incremental ingest: a new batch's near-dups against an EXISTING
        corpus must equal the cross-corpus slice of the full self-join."""
        from dataverifyr_spark.operators.dedup import (
            lsh_candidate_pairs,
            lsh_pairs_against,
            minhash_signatures,
        )

        corpus = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog tonight"),
                (2, "completely different content about spark execution plans"),
                (3, "yet another unrelated document regarding audio codecs"),
            ],
            "doc_id bigint, text string",
        )
        new = spark.createDataFrame(
            [
                (101, "the quick brown fox jumps over the lazy dog tonight"),  # dup of 1
                (102, "fresh unseen material with no duplicate in the corpus"),
            ],
            "doc_id bigint, text string",
        )
        c_sigs = minhash_signatures(corpus, num_hashes=32)
        n_sigs = minhash_signatures(new, num_hashes=32)
        got = {
            (r["id_new"], r["id_corpus"])
            for r in lsh_pairs_against(n_sigs, c_sigs, num_bands=16).collect()
        }
        assert got == {(101, 1)}

        # cross slice of the full self-join agrees
        full = lsh_candidate_pairs(
            minhash_signatures(corpus.unionByName(new), num_hashes=32), num_bands=16
        )
        cross = {
            (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"]))
            for r in full.collect()
            if (r["id_a"] > 100) != (r["id_b"] > 100)
        }
        assert got == cross


class TestLshCodes:
    """The adaptive sign-bit code computation (similarity._lsh_codes): one
    plane-tensor literal + fold below _EXPR_LSH_MAX, broadcast-numpy Arrow UDF
    above it — the same plan-growth guard as ivf._EXPR_ASSIGN_MAX, applied to
    the hyperplane-LSH family."""

    def _df(self, spark, dim, n=40):
        rows = [(i, [math.sin(i * 0.7 + d) for d in range(dim)]) for i in range(n)]
        return spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    def test_udf_path_matches_expr_path(self, spark):
        from dataverifyr_spark.operators import similarity as sim

        df = self._df(spark, dim=8)
        seeds = [42, 42 + 7919]

        def codes():
            return {
                r["vec_id"]: list(r["codes"])
                for r in df.select(
                    "vec_id", sim._lsh_codes("embedding", df, 8, 6, seeds).alias("codes")
                ).collect()
            }

        expr_codes = codes()
        old = sim._EXPR_LSH_MAX
        sim._EXPR_LSH_MAX = 0  # force the UDF path on the same tiny tensor
        try:
            udf_codes = codes()
        finally:
            sim._EXPR_LSH_MAX = old
        assert expr_codes == udf_codes

    def test_production_dims_use_udf_and_bound_analysis_time(self, spark):
        # dim=768, bits=32, bands=4 → 98,304 tensor elements: the literal path
        # would cost tens of seconds of pure Catalyst ANALYSIS (measured for
        # the same regime in ivf.py); the UDF path must keep end-to-end small
        import contextlib
        import io
        import time

        from dataverifyr_spark.operators import similarity as sim

        dim, bits, bands = 768, 32, 4
        df = self._df(spark, dim=dim, n=60)
        seeds = [42 + 7919 * b for b in range(bands)]
        t0 = time.perf_counter()
        out = df.select("vec_id", sim._lsh_codes("embedding", df, dim, bits, seeds).alias("codes"))
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain(True)
        phys = buf.getvalue().split("== Physical Plan ==")[-1]
        assert "ArrowEvalPython" in phys, phys  # UDF path engaged
        rows = out.collect()
        assert time.perf_counter() - t0 < 30.0
        assert all(len(r["codes"]) == bands for r in rows)
        # deterministic across invocations (broadcast planes are seeded)
        again = out.collect()
        assert {r["vec_id"]: list(r["codes"]) for r in rows} == {
            r["vec_id"]: list(r["codes"]) for r in again
        }

    def test_near_dup_pairs_still_exact_with_forced_udf(self, spark):
        # the near-dup pipeline end-to-end must find the same pairs whichever
        # code path computes the band codes
        from dataverifyr_spark.operators import similarity as sim

        base = self._df(spark, dim=8, n=25)
        dups = base.select(
            (F.col("vec_id") + 100).alias("vec_id"),
            F.transform("embedding", lambda v: v + F.lit(1e-5)).alias("embedding"),
        )
        allv = base.unionByName(dups)

        def pairs():
            return {
                (r["id_a"], r["id_b"])
                for r in sim.embedding_near_dup_pairs(
                    allv, dim=8, threshold=0.999, bits=8, bands=4, id_col="vec_id"
                ).collect()
            }

        expr_pairs = pairs()
        old = sim._EXPR_LSH_MAX
        sim._EXPR_LSH_MAX = 0
        try:
            udf_pairs = pairs()
        finally:
            sim._EXPR_LSH_MAX = old
        assert expr_pairs == udf_pairs
        assert {(i, i + 100) for i in range(25)} <= expr_pairs


class TestIncrementalDedupCap:
    def test_new_side_hot_bucket_is_capped(self, spark):
        """A degenerate NEW batch (many near-identical docs in one band
        bucket) must not fan out against the corpus: the per-(band,bucket)
        cap applies to BOTH sides, so pair output per bucket is bounded by
        cap² instead of |new_bucket| × cap."""
        from dataverifyr_spark.operators.dedup import lsh_pairs_against, minhash_signatures

        text = "identical boilerplate text repeated across every single document here"
        corpus = spark.createDataFrame(
            [(i, text) for i in range(5)], "doc_id bigint, text string"
        )
        new = spark.createDataFrame(
            [(1000 + i, text) for i in range(50)], "doc_id bigint, text string"
        )
        c_sigs = minhash_signatures(corpus, num_hashes=32)
        n_sigs = minhash_signatures(new, num_hashes=32)
        # uncapped: every identical doc shares every band bucket → 50×5 pairs
        assert lsh_pairs_against(n_sigs, c_sigs, max_bucket_size=None).count() == 250
        # cap below the new batch's bucket size: the hot NEW bucket drops too
        assert lsh_pairs_against(n_sigs, c_sigs, max_bucket_size=10).count() == 0
        # cap above both sides' bucket sizes: nothing dropped
        assert lsh_pairs_against(n_sigs, c_sigs, max_bucket_size=100).count() == 250


class TestLshNullSafety:
    def test_null_embeddings_same_bucket_both_paths(self, spark):
        """NULL (or wrong-length) vectors must not kill the UDF path — they
        land in the all-zero code, matching the expression path (NULL dot →
        bit unset per plane)."""
        from dataverifyr_spark.operators import similarity as sim

        df = spark.createDataFrame(
            [(1, [0.5] * 8), (2, None), (3, [0.1] * 3)],
            "vec_id int, embedding array<double>",
        )

        def codes():
            return {
                r["vec_id"]: list(r["c"])
                for r in df.select(
                    "vec_id", sim._lsh_codes("embedding", df, 8, 4, [42]).alias("c")
                ).collect()
            }

        expr_c = codes()
        old = sim._EXPR_LSH_MAX
        sim._EXPR_LSH_MAX = 0
        try:
            udf_c = codes()
        finally:
            sim._EXPR_LSH_MAX = old
        assert expr_c == udf_c
        assert expr_c[2] == [0]

    def test_null_embeddings_assign_minus_one_both_paths(self, spark):
        from dataverifyr_spark.operators import ivf

        df = spark.createDataFrame(
            [(1, [0.5] * 4), (2, None)], "vec_id int, embedding array<double>"
        )
        cents = [[0.0] * 4, [1.0] * 4]

        def assign():
            return {
                r["vec_id"]: r["cluster"]
                for r in ivf.assign_clusters(df, cents).collect()
            }

        expr_a = assign()
        old = ivf._EXPR_ASSIGN_MAX
        ivf._EXPR_ASSIGN_MAX = 0
        try:
            udf_a = assign()
        finally:
            ivf._EXPR_ASSIGN_MAX = old
        assert expr_a == udf_a
        assert expr_a[2] == -1


class TestTopkJoinShuffleMode:
    def test_non_broadcast_bucketed_join_matches_broadcast(self, spark):
        import math as m

        from dataverifyr_spark.operators.similarity import topk_join

        corpus = spark.createDataFrame(
            [(i, [m.sin(i * 0.7 + d) for d in range(6)]) for i in range(40)],
            "vec_id int, embedding array<double>",
        )
        queries = spark.createDataFrame(
            [(100 + i, [m.sin(i * 0.7 + d) for d in range(6)]) for i in range(4)],
            "query_id int, embedding array<double>",
        )
        bc = {
            (r["query_id"], r["vec_id"])
            for r in topk_join(corpus, queries, k=3, dim=6, bits=4).collect()
        }
        sh = {
            (r["query_id"], r["vec_id"])
            for r in topk_join(
                corpus, queries, k=3, dim=6, bits=4, broadcast_queries=False
            ).collect()
        }
        assert bc == sh and len(bc) > 0
        with pytest.raises(ValueError, match="bucketed"):
            topk_join(corpus, queries, k=3, broadcast_queries=False)


class TestLshPartitionPruning:
    def test_bucket_partitioned_write_prunes_scan(self, spark, tmp_path):
        """hyperplane_lsh_buckets → write partitioned by bucket → a bucket
        filter becomes PartitionFilters (the lsh_topk pruning claim)."""
        import contextlib
        import io
        import math as m

        from dataverifyr_spark.operators.similarity import hyperplane_lsh_buckets

        emb = spark.createDataFrame(
            [(i, [m.sin(i * 0.9 + d) for d in range(8)]) for i in range(200)],
            "vec_id int, embedding array<double>",
        )
        p = str(tmp_path / "lsh_buckets")
        hyperplane_lsh_buckets(emb, dim=8, bits=4).write.partitionBy("bucket").parquet(p)
        probe = spark.read.parquet(p).filter(F.col("bucket") == 3)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            probe.explain("formatted")
        plan = buf.getvalue()
        assert "PartitionFilters: [" in plan and "bucket" in plan.split("PartitionFilters")[1][:80], plan


class TestProductQuantization:
    """PQ (operators/pq.py): train/encode/ADC — geometry, adaptive paths,
    NULL safety, and ranking behavior on structured (jittered-twin) data."""

    @pytest.fixture(scope="class")
    def vec_df(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        base = rng.uniform(-1, 1, (40, 16))
        rows = [(i, [float(v) for v in base[i]]) for i in range(40)]
        # jittered twin of row 5 at id 100 — must PQ-encode identically
        rows.append((100, [float(v + 1e-6) for v in base[5]]))
        return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>").cache()

    def test_train_encode_geometry(self, spark, vec_df):
        from dataverifyr_spark.operators.pq import pq_encode, pq_train

        books = pq_train(vec_df, dim=16, m=4, k=8, iters=2)
        assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == 4
        enc = pq_encode(vec_df, books)
        codes = {r["vec_id"]: r["pq_code"] for r in enc.collect()}
        assert all(len(c) == 4 for c in codes.values())
        assert all(0 <= v < 8 for c in codes.values() for v in c)
        # the jittered twin lands in the same cells
        assert codes[100] == codes[5]

    def test_adc_ranks_twin_first(self, spark, vec_df):
        from dataverifyr_spark.operators.pq import pq_adc_topk, pq_train, pq_encode

        books = pq_train(vec_df, dim=16, m=4, k=8, iters=2)
        enc = pq_encode(vec_df, books)
        q = [float(v) for v in vec_df.filter("vec_id = 100").head()["embedding"]]
        top = pq_adc_topk(enc.filter("vec_id < 100"), books, q, k=3).collect()
        assert top[0]["vec_id"] == 5  # its own cell -> minimal ADC distance

    def test_expr_and_udf_paths_agree(self, spark, vec_df):
        import dataverifyr_spark.operators.ivf as ivf_mod
        from dataverifyr_spark.operators.pq import pq_encode, pq_train

        books = pq_train(vec_df, dim=16, m=4, k=8, iters=2)
        expr = {r["vec_id"]: r["pq_code"] for r in pq_encode(vec_df, books).collect()}
        old = ivf_mod._EXPR_ASSIGN_MAX
        try:
            # force the broadcast-numpy arm through pq's imported reference
            import dataverifyr_spark.operators.pq as pq_mod

            pq_mod._EXPR_ASSIGN_MAX = 0
            udf = {r["vec_id"]: r["pq_code"] for r in pq_encode(vec_df, books).collect()}
        finally:
            pq_mod._EXPR_ASSIGN_MAX = old
        assert expr == udf

    def test_null_and_wrong_length_vectors(self, spark):
        from dataverifyr_spark.operators.pq import pq_encode

        books = [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 0.0], [2.0, 2.0]]]
        df = spark.createDataFrame(
            [(1, [0.1, 0.1, 1.9, 2.1]), (2, None), (3, [1.0])],
            "vec_id bigint, embedding array<double>",
        )
        import dataverifyr_spark.operators.pq as pq_mod

        old = pq_mod._EXPR_ASSIGN_MAX
        try:
            pq_mod._EXPR_ASSIGN_MAX = 0  # UDF arm handles NULL explicitly
            codes = {r["vec_id"]: r["pq_code"] for r in pq_encode(df, books).collect()}
        finally:
            pq_mod._EXPR_ASSIGN_MAX = old
        assert codes[1] == [0, 1]
        assert codes[2] == [-1, -1] and codes[3] == [-1, -1]

    def test_bad_geometry_rejected(self, spark, vec_df):
        from dataverifyr_spark.operators.pq import adc_lut, pq_train

        with pytest.raises(ValueError, match="split evenly"):
            pq_train(vec_df, dim=16, m=5)
        with pytest.raises(ValueError, match="query dim"):
            adc_lut([[[0.0, 0.0]]], [1.0, 2.0, 3.0])
        # ADVICE r5: empty / ragged codebooks get a contextual ValueError,
        # not a bare IndexError from codebooks[0][0]
        with pytest.raises(ValueError, match="non-empty"):
            adc_lut([], [1.0])
        with pytest.raises(ValueError, match="non-empty"):
            adc_lut([[]], [1.0])
        with pytest.raises(ValueError, match="ragged"):
            adc_lut([[[0.0, 0.0]], [[1.0]]], [1.0, 2.0, 3.0])

    def test_ivf_pq_composition(self, spark, vec_df):
        """The IVF-PQ layout: coarse-quantize into inverted lists, PQ-score
        ONLY inside the probed lists — the twin must still surface."""
        from dataverifyr_spark.operators.ivf import ivf_index, kmeans_fit
        from dataverifyr_spark.operators.pq import pq_adc_topk, pq_encode, pq_train

        corpus = vec_df.filter("vec_id < 100")
        coarse = kmeans_fit(corpus, k=4, dim=16, iters=2)
        books = pq_train(corpus, dim=16, m=4, k=8, iters=2)
        indexed = pq_encode(ivf_index(corpus, coarse), books)
        q = [float(v) for v in vec_df.filter("vec_id = 100").head()["embedding"]]
        # probe the 2 nearest coarse cells, ADC-score their lists only
        dists = [
            (i, sum((a - b) ** 2 for a, b in zip(q, c))) for i, c in enumerate(coarse)
        ]
        probe = [i for i, _ in sorted(dists, key=lambda t: t[1])[:2]]
        from pyspark.sql import functions as F

        top = pq_adc_topk(indexed.filter(F.col("cluster").isin(probe)), books, q, k=3)
        rows = top.collect()
        assert rows[0]["vec_id"] == 5  # jitter source of the query
        # scan pruned: the scored frame needs only (id, cluster, code)
        assert set(top.columns) == {"vec_id", "adc_dist"}

    def test_adc_invalid_codes_rank_last_not_crash(self, spark):
        """r4 review: -1 sentinel codes must score +inf (sort last), not
        throw INVALID_INDEX_OF_ZERO inside element_at."""
        from dataverifyr_spark.operators.pq import pq_adc_topk, pq_encode

        books = [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 0.0], [2.0, 2.0]]]
        df = spark.createDataFrame(
            [(1, [0.1, 0.1, 0.1, 0.1]), (2, None), (3, [9.9])],
            "vec_id bigint, embedding array<double>",
        )
        top = pq_adc_topk(pq_encode(df, books), books, [0.0, 0.0, 0.0, 0.0], k=3).collect()
        assert [r["vec_id"] for r in top] == [1, 2, 3]
        assert top[0]["adc_dist"] < float("inf")
        assert top[1]["adc_dist"] == float("inf")

    def test_expr_path_wrong_length_all_minus_one(self, spark):
        """r4 review: the EXPRESSION encode arm must emit all -1 for a
        wrong-length vector (not valid codes for complete leading
        subspaces), matching the UDF arm."""
        from dataverifyr_spark.operators.pq import pq_encode

        books = [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 0.0], [2.0, 2.0]]]
        df = spark.createDataFrame(
            [(1, [1.0, 1.0, 1.0]), (2, None), (3, [0.1, 0.1, 1.9, 2.1])],
            "vec_id bigint, embedding array<double>",
        )
        codes = {r["vec_id"]: r["pq_code"] for r in pq_encode(df, books).collect()}
        assert codes[1] == [-1, -1]  # length 3 != 4, leading subspace complete
        assert codes[2] == [-1, -1]
        assert codes[3] == [0, 1]

    def test_kmeans_ignores_invalid_cluster_rows(self, spark):
        """r4 review: rows assigned -1 (wrong-length) must not corrupt
        centroid k-1 through Python negative indexing in the update loop."""
        from dataverifyr_spark.operators.ivf import kmeans_fit

        rows = [(i, [float(i % 2) * 10, float(i % 2) * 10]) for i in range(20)]
        rows.append((99, [7.0]))  # wrong length -> cluster -1
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        cents = kmeans_fit(df, k=2, dim=2, iters=3)
        # both centroids must sit on the two true cluster centers (0 or 10)
        for c in cents:
            assert all(abs(v) < 1e-6 or abs(v - 10) < 1e-6 for v in c), cents


class TestAnnRecall:
    """operators/recall.py — batch ANN searchers + recall@k observability
    (r5, VERDICT ask #3)."""

    @pytest.fixture(scope="class")
    def emb(self, spark):
        import numpy as np

        rng = np.random.RandomState(11)
        base = rng.uniform(-1, 1, (80, 8))
        rows = [(i, [float(v) for v in base[i]]) for i in range(80)]
        return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>").cache()

    def test_lsh_batch_matches_per_query(self, spark, emb):
        from pyspark.sql import functions as F

        from dataverifyr_spark.operators.recall import lsh_topk_join_multiprobe
        from dataverifyr_spark.operators.similarity import lsh_topk_multiprobe

        queries = emb.filter("vec_id < 3").withColumnRenamed("vec_id", "query_id")
        corpus = emb.filter("vec_id >= 3")
        batch = lsh_topk_join_multiprobe(
            corpus, queries, k=5, dim=8, bits=3, probes=1
        ).collect()
        for qid in range(3):
            qv = [float(v) for v in emb.filter(F.col("vec_id") == qid).head()["embedding"]]
            per = {r["vec_id"] for r in lsh_topk_multiprobe(
                corpus, qv, k=5, bits=3, probes=1).collect()}
            bat = {r["vec_id"] for r in batch if r["query_id"] == qid}
            assert per == bat, (qid, per ^ bat)
        # candidate counts are per-query and positive
        assert all(r["n_candidates"] > 0 for r in batch)

    def test_ivf_batch_matches_per_query(self, spark, emb):
        from pyspark.sql import functions as F

        from dataverifyr_spark.operators.ivf import ivf_index, ivf_topk
        from dataverifyr_spark.operators.recall import ivf_topk_join

        cents = [list(r["embedding"])
                 for r in emb.filter(F.col("vec_id").between(3, 8)).orderBy("vec_id").collect()]
        queries = emb.filter("vec_id < 3").withColumnRenamed("vec_id", "query_id")
        indexed = ivf_index(emb.filter("vec_id >= 3"), cents)
        batch = ivf_topk_join(indexed, cents, queries, k=5, nprobe=2).collect()
        for qid in range(3):
            qv = [float(v) for v in emb.filter(F.col("vec_id") == qid).head()["embedding"]]
            per = {r["vec_id"] for r in ivf_topk(indexed, cents, qv, k=5, nprobe=2).collect()}
            bat = {r["vec_id"] for r in batch if r["query_id"] == qid}
            assert per == bat, (qid, per ^ bat)

    def test_recall_report_math_and_empty_bucket(self, spark):
        """recall is |truth ∩ approx|/k; a query with NO approx rows gets a
        recall-0 row (truth drives the row set), never a missing row."""
        from dataverifyr_spark.operators.recall import recall_report, recall_summary

        truth = spark.createDataFrame(
            [("q1", i) for i in range(1, 6)] + [("q2", i) for i in range(10, 15)],
            "query_id string, vec_id bigint",
        )
        approx = spark.createDataFrame(
            [("q1", 1, 7), ("q1", 2, 7), ("q1", 99, 7)],  # q2 absent entirely
            "query_id string, vec_id bigint, n_candidates int",
        )
        rep = {r["query_id"]: r for r in recall_report(truth, approx).collect()}
        assert rep["q1"]["n_hit"] == 2 and rep["q1"]["recall"] == 0.4
        assert rep["q1"]["n_candidates"] == 7
        assert rep["q2"]["n_hit"] == 0 and rep["q2"]["recall"] == 0.0
        assert rep["q2"]["n_candidates"] == 0
        summ = recall_summary(recall_report(truth, approx), corpus_size=100).collect()[0]
        assert summ["n_queries"] == 2 and summ["mean_recall"] == 0.2
        assert summ["candidate_frac"] == pytest.approx(0.035)

    def test_probes_raise_recall(self, spark, emb):
        """The observability loop's whole point: multiprobe recall >= plain
        bucket recall on the same sample (and candidate cost rises)."""
        from dataverifyr_spark.operators.recall import (
            lsh_topk_join_multiprobe,
            recall_report,
            recall_summary,
        )
        from dataverifyr_spark.operators.similarity import topk_join

        queries = emb.filter("vec_id < 8").withColumnRenamed("vec_id", "query_id")
        corpus = emb.filter("vec_id >= 8")
        truth = topk_join(corpus, queries, k=5)
        s0 = recall_summary(recall_report(truth, lsh_topk_join_multiprobe(
            corpus, queries, k=5, dim=8, bits=3, probes=0))).collect()[0]
        s1 = recall_summary(recall_report(truth, lsh_topk_join_multiprobe(
            corpus, queries, k=5, dim=8, bits=3, probes=1))).collect()[0]
        assert s1["mean_recall"] >= s0["mean_recall"]
        assert s1["mean_candidates"] > s0["mean_candidates"]

    def test_bad_args(self, spark, emb):
        from dataverifyr_spark.operators.recall import (
            ivf_topk_join,
            lsh_topk_join_multiprobe,
        )

        q = emb.limit(1).withColumnRenamed("vec_id", "query_id")
        with pytest.raises(ValueError, match="dim is required"):
            lsh_topk_join_multiprobe(emb, q, k=5)
        with pytest.raises(ValueError, match="non-empty"):
            ivf_topk_join(emb, [], q)
        with pytest.raises(ValueError, match="ragged"):
            ivf_topk_join(emb, [[0.0] * 8, [0.0] * 7], q)
        with pytest.raises(ValueError, match="nprobe"):
            ivf_topk_join(emb, [[0.0] * 8], q, nprobe=0)


class TestBpe:
    """r5 (VERDICT ask #9): real BPE merge-table training + pure-Catalyst
    chained-replace encoding."""

    def test_train_classic_example(self, spark):
        """Sennrich's canonical toy: low/lower/newest/widest with counts —
        frequency-weighted training must merge ('e','s') then ('es','t')
        first (newest 6 + widest 3 dominate)."""
        from dataverifyr_spark.operators.text import bpe_train

        rows = [(0, " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3))]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        merges = bpe_train(df, num_merges=4)
        assert merges[0] == ("e", "s") and merges[1] == ("es", "t")
        assert ("l", "o") in merges[2:]  # low-family merge follows

    def test_encode_matches_python_reference(self, spark):
        from pyspark.sql import functions as F

        from dataverifyr_spark.operators.text import bpe_token_count, bpe_train

        texts = [
            "the quick brown fox jumps over lazy dogs",
            "lower lowest newest west nest",
            "a ab abc abcd",
            "  spaced   out  ",
        ]
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id int, text string")
        merges = bpe_train(df, num_merges=10)

        def py_bpe(text):
            total = 0
            for w in text.lower().split():
                s = " ".join(w)
                for a, b in merges:
                    s = s.replace(f"{a} {b}", a + b)
                total += len(s.split(" "))
            return total

        got = {
            r["doc_id"]: r["n"]
            for r in df.select("doc_id", bpe_token_count(F.col("text"), merges).alias("n")).collect()
        }
        for i, t in enumerate(texts):
            assert got[i] == py_bpe(t), (i, got[i], py_bpe(t))

    def test_uniform_mode_ignores_frequencies(self, spark):
        """uniform=True trains on the distinct vocabulary — replicating a
        word must not change the merges (the SF-invariance property the
        driver gate relies on)."""
        from dataverifyr_spark.operators.text import bpe_train

        base = spark.createDataFrame([(0, "alpha beta gamma")], "doc_id int, text string")
        skew = spark.createDataFrame(
            [(0, " ".join(["alpha"] * 50) + " beta gamma")], "doc_id int, text string"
        )
        assert bpe_train(base, num_merges=5, uniform=True) == bpe_train(
            skew, num_merges=5, uniform=True
        )
        # frequency-weighted mode DOES see the skew
        assert bpe_train(base, num_merges=5) != bpe_train(skew, num_merges=5)

    def test_merge_replace_is_leftmost_nonoverlapping(self, spark):
        """'aaa' under merge (a,a): leftmost pairing gives [aa, a] — 2 tokens,
        the semantics Python replace, Spark replace and SQL REPLACE share."""
        from pyspark.sql import functions as F

        from dataverifyr_spark.operators.text import bpe_token_count

        df = spark.createDataFrame([(0, "aaa aaaa")], "doc_id int, text string")
        n = df.select(bpe_token_count(F.col("text"), [("a", "a")]).alias("n")).head()["n"]
        assert n == 2 + 2  # aaa -> [aa, a]; aaaa -> [aa, aa]

    def test_whole_stage_codegen_no_python(self, spark):
        """The encoder must plan as pure Catalyst expressions — no
        ArrowEvalPython / BatchEvalPython node."""
        import contextlib
        import io

        from pyspark.sql import functions as F

        from dataverifyr_spark.operators.text import bpe_token_count

        df = spark.createDataFrame([(0, "some text here")], "doc_id int, text string")
        plan_df = df.select(bpe_token_count(F.col("text"), [("e", "r"), ("i", "n")]).alias("n"))
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            plan_df.explain(True)
        phys = buf.getvalue().split("== Physical Plan ==")[-1]
        assert "Python" not in phys, phys

    def test_udf_arm_path_equality(self, spark):
        """r6 (VERDICT #3): the broadcast Arrow-UDF arm must produce the
        EXACT token counts of the Catalyst arm on the same merge table —
        forced by max_catalyst_merges=0."""
        from pyspark.sql import functions as F

        from dataverifyr_spark.operators.text import bpe_token_count, bpe_train

        texts = [
            "the quick brown fox jumps over lazy dogs",
            "lower lowest newest west nest",
            "a ab abc abcd aaa aaaa",
            "  spaced   out  ",
            "MIXED Case WORDS too",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)] + [(99, None)],
            "doc_id int, text string",
        )
        merges = bpe_train(df, num_merges=30)
        cat = {
            r["doc_id"]: r["n"]
            for r in df.select(
                "doc_id", bpe_token_count(F.col("text"), merges).alias("n")
            ).collect()
        }
        udf = {
            r["doc_id"]: r["n"]
            for r in df.select(
                "doc_id",
                bpe_token_count(F.col("text"), merges, max_catalyst_merges=0).alias("n"),
            ).collect()
        }
        assert cat == udf
        assert cat[99] is None  # NULL text stays NULL on both arms

    def test_udf_arm_unicode_whitespace_parity(self, spark):
        """Java \\s is ASCII-only; the UDF arm must match (re.ASCII), so a
        non-breaking space (common in scraped HTML) stays INSIDE a word on
        both arms instead of splitting it on the Python side only."""
        from pyspark.sql import functions as F

        from dataverifyr_spark.operators.text import bpe_token_count

        df = spark.createDataFrame(
            [(0, "foo bar baz"), (1, "a b")], "doc_id int, text string"
        )
        merges = [("f", "o"), ("b", "a")]
        cat = {r["doc_id"]: r["n"] for r in df.select(
            "doc_id", bpe_token_count(F.col("text"), merges).alias("n")).collect()}
        udf = {r["doc_id"]: r["n"] for r in df.select(
            "doc_id", bpe_token_count(F.col("text"), merges, max_catalyst_merges=0).alias("n")).collect()}
        assert cat == udf, (cat, udf)

    def test_udf_arm_plan_is_single_arrow_node(self, spark):
        """The large-merge arm must plan as ONE ArrowEvalPython (broadcast
        merge table, no per-merge plan nodes)."""
        import contextlib
        import io

        from pyspark.sql import functions as F

        from dataverifyr_spark.operators.text import bpe_token_count

        merges = [("a", chr(98 + i % 20)) for i in range(200)]
        df = spark.createDataFrame([(0, "some text here")], "doc_id int, text string")
        plan_df = df.select(bpe_token_count(F.col("text"), merges).alias("n"))
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            plan_df.explain(True)
        phys = buf.getvalue().split("== Physical Plan ==")[-1]
        assert phys.count("ArrowEvalPython") == 1, phys

    def test_udf_arm_production_scale_merges(self, spark):
        """Functional at a production-shaped table: ≥1k merges trained on a
        wide synthetic vocabulary, applied through the UDF arm, checked
        against the driver-side sequential-replace reference (the identical
        semantics both arms implement)."""
        from pyspark.sql import functions as F

        from dataverifyr_spark.operators.text import bpe_token_count, bpe_train

        # 2000 distinct pseudo-random words over 26 letters — enough distinct
        # adjacent-pair diversity that >1k merges are learnable (shared-prefix
        # vocabularies exhaust their distinct pairs after a few hundred)
        import random

        rng = random.Random(42)
        words = sorted(
            {
                "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(6, 12)))
                for _ in range(2200)
            }
        )[:2000]
        rows = [
            (i, " ".join(words[(i * 13 + j) % len(words)] for j in range(40)))
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        merges = bpe_train(df, num_merges=1200, uniform=True)
        assert len(merges) >= 1000, len(merges)

        got = {
            r["doc_id"]: r["n"]
            for r in df.select(
                "doc_id", bpe_token_count(F.col("text"), merges).alias("n")
            ).collect()
        }

        def py_bpe(text):
            total = 0
            for w in text.lower().split():
                s = " ".join(w)
                for a, b in merges:
                    s = s.replace(f"{a} {b}", a + b)
                total += len(s.split(" "))
            return total

        for i, t in rows[:10]:  # spot-check 10 docs against the reference
            assert got[i] == py_bpe(t), (i, got[i], py_bpe(t))
        # merged tokens must compress well below the character count
        chars = {i: len(t.replace(" ", "")) for i, t in rows}
        assert all(got[i] < chars[i] / 2 for i, _ in rows[:10])

    def test_incremental_trainer_equals_reference(self):
        """r6: the delta-maintained merge loop must emit the EXACT merge
        sequence of the from-scratch reference loop — including the
        flat-string replace's cross-symbol-boundary matches and the
        (max count, lexicographically-smallest) tie-break — on adversarial
        corpora: repeated chars, shared prefixes/suffixes, skewed
        frequencies."""
        import random

        from dataverifyr_spark.operators.text import (
            _bpe_merge_loop,
            _bpe_merge_loop_reference,
        )

        def vocab_of(words, freqs=None):
            return {
                " ".join(w): (freqs[i] if freqs else 1)
                for i, w in enumerate(words)
            }

        corpora = [
            vocab_of(["aaa", "aaaa", "aab", "baa"]),           # overlap traps
            vocab_of(["lower", "lowest", "newest", "widest"], [5, 2, 6, 3]),
            vocab_of(["xab", "a", "b", "ab"]),                  # boundary match
        ]
        rng = random.Random(7)
        for _ in range(4):
            words = {
                "".join(rng.choice("abcde") for _ in range(rng.randint(1, 9)))
                for _ in range(60)
            }
            corpora.append(vocab_of(sorted(words), None))
        for vocab in corpora:
            ref = _bpe_merge_loop_reference(dict(vocab), 40)
            fast = _bpe_merge_loop(dict(vocab), 40)
            assert fast == ref, (vocab, fast[:5], ref[:5])


class TestConnectedComponentsStress:
    """r5 (VERDICT ask #7): adversarial chain/star topologies — round count
    pinned to graph diameter, logical plan bounded by localCheckpoint
    (lineage must NOT grow with rounds), wall time linear-ish in rounds."""

    def _plan_size(self, df):
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(True)
        return len(buf.getvalue())

    def test_chain_rounds_equal_diameter_plus_confirm(self, spark):
        from dataverifyr_spark.operators.components import connected_components

        def chain(n):
            return spark.createDataFrame(
                [(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint"
            )

        stats = {}
        comps = connected_components(chain(25), max_iter=60, stats=stats)
        rows = {r["node"]: r["component"] for r in comps.collect()}
        assert set(rows.values()) == {0} and len(rows) == 25
        # min label walks one hop per round: 24 changing rounds + 1 confirm
        assert stats == {"rounds": 25, "converged": True}
        # lineage bound: the returned plan must not encode 25 rounds of
        # history — compare against a 5-node chain's plan size
        small = connected_components(chain(5), max_iter=10)
        big_sz, small_sz = self._plan_size(comps), self._plan_size(small)
        assert big_sz < small_sz * 2, (big_sz, small_sz)

    def test_star_converges_in_two_rounds_at_10x(self, spark):
        """Star = the giant-component shape dedup actually produces (one hub,
        many leaves): rounds stay 2 regardless of leaf count — 10x the data
        must NOT mean more rounds."""
        from dataverifyr_spark.operators.components import connected_components

        for leaves in (2_000, 20_000):
            edges = spark.range(1, leaves + 1).select(
                F.lit(0).alias("id_a"), F.col("id").alias("id_b")
            )
            stats = {}
            comps = connected_components(edges, max_iter=10, stats=stats)
            assert stats == {"rounds": 2, "converged": True}, (leaves, stats)
            agg = comps.groupBy("component").count().collect()
            assert len(agg) == 1 and agg[0]["count"] == leaves + 1

    def test_chain_wall_time_scales_with_rounds_not_explodes(self, spark):
        """2x the chain length = 2x the rounds; wall time must grow roughly
        linearly (a lineage leak grows super-linearly and OOMs the driver
        around diameter ~10 — memory: cache() alone does not truncate).
        Bound is deliberately loose (steal-noise on this box reaches 8x)."""
        import time

        from dataverifyr_spark.operators.components import connected_components

        def run(n):
            edges = spark.createDataFrame(
                [(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint"
            )
            t0 = time.perf_counter()
            connected_components(edges, max_iter=2 * n).count()
            return time.perf_counter() - t0

        t20, t40 = run(20), run(40)
        assert t40 < t20 * 10, (t20, t40)


class TestColumnQuantiles:
    """r5: multi-quantile profiles (north_star "approx-quantiles") — one agg
    job, sketch vs exact parity, no Expand."""

    def test_exact_matches_numpy_interpolation(self, spark):
        import numpy as np

        from dataverifyr_spark.operators.quantiles import column_quantiles

        vals = [float(v) for v in range(101)]  # 0..100: quantile_cont(p) = 100p
        df = spark.createDataFrame([(v,) for v in vals] + [(None,)], "x double")
        got = {
            r["prob"]: r["value"]
            for r in column_quantiles(df, ["x"], approx=False).collect()
        }
        for p, v in got.items():
            assert v == pytest.approx(float(np.percentile(vals, p * 100))), (p, v)

    def test_approx_within_rank_tolerance(self, spark):
        from dataverifyr_spark.operators.quantiles import column_quantiles

        df = spark.range(0, 20000).selectExpr("CAST(id AS DOUBLE) AS x")
        exact = {
            r["prob"]: r["value"]
            for r in column_quantiles(df, ["x"], approx=False).collect()
        }
        approx = {
            r["prob"]: r["value"]
            for r in column_quantiles(df, ["x"], approx=True, accuracy=1000).collect()
        }
        for p in exact:
            # 1/accuracy relative rank error => ±20 ranks of 20k here
            assert abs(approx[p] - exact[p]) <= 40, (p, approx[p], exact[p])

    def test_kll_null_guard_and_gk_fallback(self, spark):
        """r6: the KLL arm must yield NULLs (not raise) for an all-NULL
        column."""
        from dataverifyr_spark.operators.quantiles import column_quantiles

        df = spark.createDataFrame(
            [(float(i), None) for i in range(100)], "x double, y double"
        )
        rows = column_quantiles(df, ["x", "y"], probs=(0.5,), approx=True).collect()
        vals = {r["var"]: r["value"] for r in rows}
        assert vals["y"] is None
        assert abs(vals["x"] - 49.5) <= 2

    def test_defaults_all_numeric_and_validation(self, spark):
        from dataverifyr_spark.operators.quantiles import column_quantiles

        df = spark.createDataFrame([(1.0, 2, "s"), (3.0, 4, "t")], "a double, b int, s string")
        out = column_quantiles(df)
        assert {r["var"] for r in out.collect()} == {"a", "b"}  # strings skipped
        assert out.count() == 2 * 5
        with pytest.raises(ValueError, match="probs"):
            column_quantiles(df, ["a"], probs=(1.5,))
        with pytest.raises(ValueError, match="not in DataFrame"):
            column_quantiles(df, ["nope"])
        with pytest.raises(ValueError, match="no numeric"):
            column_quantiles(df.select("s"))
        # all-NULL column yields NULL values, never a crash
        nul = spark.createDataFrame([(None,), (None,)], "x double")
        assert all(r["value"] is None for r in column_quantiles(nul, ["x"]).collect())

    def test_approx_plan_one_agg_no_expand(self, spark, collected_plans):
        from dataverifyr_spark.operators.quantiles import column_quantiles

        df = spark.range(0, 100).selectExpr(
            "CAST(id AS DOUBLE) AS a", "CAST(id % 7 AS DOUBLE) AS b"
        )
        column_quantiles(df, approx=True)
        assert len(collected_plans) == 1
        phys = collected_plans[0]
        assert "Expand" not in phys and phys.count("Exchange") <= 1, phys

    def test_column_quantiles_all_nan(self, spark):
        from dataverifyr_spark.operators.quantiles import (
            column_quantiles,
            column_quantiles_by,
        )

        df = spark.createDataFrame(
            [("a", 1.0, float("nan")), ("a", 2.0, float("nan")), ("b", float("nan"), float("nan"))],
            "g string, x double, y double",
        )
        rows = column_quantiles(df, ["x", "y"], probs=(0.5,)).collect()
        vals = {r["var"]: r["value"] for r in rows}
        assert vals["y"] is None and vals["x"] is not None
        grows = column_quantiles_by(df, by="g", cols=["x"], probs=(0.5,)).collect()
        gvals = {r["g"]: r["value"] for r in grows}
        assert gvals["b"] is None and gvals["a"] is not None


class TestColumnQuantilesBy:
    def test_per_group_matches_global_per_slice(self, spark):
        from dataverifyr_spark.operators.quantiles import (
            column_quantiles,
            column_quantiles_by,
        )

        rows = [("a", float(i)) for i in range(50)] + [("b", float(i * 3)) for i in range(20)]
        df = spark.createDataFrame(rows, "g string, x double")
        got = {
            (r["g"], r["prob"]): r["value"]
            for r in column_quantiles_by(df, by="g", cols=["x"], approx=False).collect()
        }
        for g in ("a", "b"):
            exp = {
                r["prob"]: r["value"]
                for r in column_quantiles(
                    df.filter(f"g='{g}'"), ["x"], approx=False
                ).collect()
            }
            for p, v in exp.items():
                assert got[(g, p)] == pytest.approx(v), (g, p)
        # by column excluded from auto-selection; validation paths
        auto = column_quantiles_by(df, by="g", approx=False)
        assert {r["var"] for r in auto.collect()} == {"x"}
        with pytest.raises(ValueError, match="not in DataFrame"):
            column_quantiles_by(df, by="nope")

    def test_plan_one_grouped_agg_no_driver_loop(self, spark):
        import contextlib
        import io

        from dataverifyr_spark.operators.quantiles import column_quantiles_by

        df = spark.createDataFrame(
            [("a", 1.0, 2.0), ("b", 3.0, 4.0)], "g string, x double, y double"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            column_quantiles_by(df, by="g").explain(True)
        phys = buf.getvalue().split("== Physical Plan ==")[-1]
        assert "Expand" not in phys and phys.count("Exchange") <= 1, phys
        assert "Generate" in phys  # the in-plan explode unpivot


class TestVectorDialect:
    """r5: embedding-column dialect fns (operators/vectors.py) — pure
    Catalyst folds through the standard rule machinery."""

    @pytest.fixture(scope="class")
    def vecs(self, spark):
        return spark.createDataFrame(
            [
                (1, [1.0, 2.0, 2.0]),          # norm 3, clean
                (2, [0.0, 0.0, 0.0]),          # zero norm
                (3, [1.0, float("nan"), 2.0]),  # NaN element
                (4, None),                      # NULL vector
                (5, [1.0, None, 2.0]),          # NULL element
                (6, [1.0, 2.0]),                # wrong dim
                (7, [100.0, 0.0, 0.0]),         # out of bounds
            ],
            "vec_id int, embedding array<double>",
        ).cache()

    def test_rule_counts_exact(self, spark, vecs):
        import dataverifyr_spark as dv

        rs = dv.ruleset(
            dv.rule("vec_dim(embedding) == 3", name="dim3"),
            dv.rule("vec_has_nan(embedding)", name="no_nan", negate=True),
            dv.rule("vec_has_null(embedding)", name="no_null_elem", negate=True),
            dv.rule("vec_norm(embedding) > 0.1", name="nonzero"),
            dv.rule("vec_max_abs(embedding) <= 10", name="bounded"),
        )
        got = {r["name"]: (r["pass"], r["fail"]) for r in dv.check_data(vecs, rs).collect()}
        assert got["dim3"] == (5, 2)          # NULL vec + dim-2 fail
        assert got["no_nan"] == (5, 2)        # NaN row + NULL vec fail
        assert got["no_null_elem"] == (5, 2)  # NULL-elem row + NULL vec fail
        assert got["nonzero"] == (4, 3)       # zero vec, NULL vec, NULL-elem fail
        assert got["bounded"] == (4, 3)       # 100.0 row, NULL vec, NULL-elem fail

    def test_filter_fails_and_violations_flow(self, spark, vecs):
        import dataverifyr_spark as dv

        bad = dv.filter_fails(
            dv.ruleset(dv.rule("vec_dim(embedding) == 3", name="dim3")), vecs, tag=True
        )
        ids = sorted(r["vec_id"] for r in bad.collect())
        assert ids == [4, 6]

    def test_plan_is_python_free(self, spark, vecs):
        import contextlib
        import io

        import dataverifyr_spark as dv
        from dataverifyr_spark.check import compile_rule_predicate

        pred = compile_rule_predicate(dv.rule("vec_norm(embedding) > 0.1")).column
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            vecs.select(pred.alias("p")).explain(True)
        assert "Python" not in buf.getvalue().split("== Physical Plan ==")[-1]

    def test_arity_error(self, spark):
        import dataverifyr_spark as dv
        from dataverifyr_spark.expr import ExprError

        with pytest.raises(ExprError, match="expects 1 arg"):
            dv.compile_expr("vec_dim(a, b)")


class TestChunkDocuments:
    """r5: passage-level chunking (operators/chunks.py) — pure Catalyst
    token windows feeding the dedup stack."""

    def _py_chunks(self, text, ct, ov):
        toks = [t for t in text.split() if t]
        n, stride = len(toks), ct - ov
        if n == 0:
            return [(0, "", 0)]
        out = []
        for i in range(max(1, 1 + (n - ov - 1) // stride)):
            sl = toks[i * stride : i * stride + ct]
            out.append((i, " ".join(sl), len(sl)))
        return out

    def test_matches_python_reference(self, spark):
        from dataverifyr_spark.operators.chunks import chunk_documents

        texts = ["a b c d e f g h i j", "one two three", "", "   ", "x " * 50]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
        )
        for ct, ov in ((4, 0), (4, 2), (8, 3), (1, 0)):
            got = {}
            for r in chunk_documents(df, chunk_tokens=ct, overlap=ov).collect():
                got.setdefault(r["doc_id"], []).append(
                    (r["chunk_idx"], r["chunk_text"], r["n_chunk_tokens"])
                )
            for i, t in enumerate(texts):
                assert sorted(got[i]) == self._py_chunks(t, ct, ov), (ct, ov, i)

    def test_empty_doc_one_row_and_validation(self, spark):
        import pytest as _pytest

        from dataverifyr_spark.operators.chunks import chunk_documents

        df = spark.createDataFrame([(1, ""), (2, None)], "doc_id int, text string")
        rows = chunk_documents(df).collect()
        # NULL text behaves like empty: ONE empty-chunk row each, never a
        # silently dropped document (r5 self-review fix)
        assert len(rows) == 2
        assert all(r["n_chunk_tokens"] == 0 for r in rows)
        assert {r["doc_id"] for r in rows} == {1, 2}
        with _pytest.raises(ValueError, match="chunk_tokens"):
            chunk_documents(df, chunk_tokens=0)
        with _pytest.raises(ValueError, match="overlap"):
            chunk_documents(df, chunk_tokens=4, overlap=4)

    def test_feeds_exact_dedup_at_passage_level(self, spark):
        """Two docs sharing a boilerplate passage: whole-doc dedup finds
        nothing, chunk-level dedup finds the shared window."""
        from dataverifyr_spark.operators.chunks import chunk_documents
        from dataverifyr_spark.operators.dedup import exact_dup_groups

        boiler = "terms of service apply to all users of this site"
        df = spark.createDataFrame(
            [(1, "unique alpha text " + boiler), (2, boiler + " other beta ending")],
            "doc_id int, text string",
        )
        assert not [
            r for r in exact_dup_groups(df).collect() if r["n_copies"] > 1
        ]
        chunks = chunk_documents(df, chunk_tokens=5, overlap=4).select(
            F.col("doc_id").alias("doc_id"),
            F.col("chunk_text").alias("text"),
        ).withColumn("doc_id", F.monotonically_increasing_id())
        dups = [r for r in exact_dup_groups(chunks).collect() if r["n_copies"] > 1]
        assert dups  # shared 5-gram windows surface

    def test_plan_no_shuffle_no_python(self, spark):
        import contextlib
        import io

        from dataverifyr_spark.operators.chunks import chunk_documents

        df = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            chunk_documents(df).explain(True)
        phys = buf.getvalue().split("== Physical Plan ==")[-1]
        assert "Exchange" not in phys and "Python" not in phys, phys


class TestChunkIncrementalDedup:
    def test_new_batch_passages_vs_corpus(self, spark):
        """Composition: chunk_documents feeds lsh_pairs_against — passages of
        a NEW batch are screened against the persisted corpus signatures, the
        cross-corpus shape a daily training-data ingest runs."""
        from dataverifyr_spark.operators.chunks import chunk_documents
        from dataverifyr_spark.operators.dedup import (
            lsh_pairs_against,
            minhash_signatures,
        )

        boiler = "subscribe to our newsletter for updates and exclusive offers today"
        corpus = spark.createDataFrame(
            [(i, f"corpus document number {i} body text then {boiler}") for i in range(20)],
            "doc_id bigint, text string",
        )
        batch = spark.createDataFrame(
            [(100, "fresh article unrelated content entirely new words here"),
             (101, f"another fresh piece but ends with {boiler}")],
            "doc_id bigint, text string",
        )

        def passages(df, base):
            ch = chunk_documents(df, chunk_tokens=10, overlap=5)
            return ch.select(
                (F.col("doc_id") * 1000 + F.col("chunk_idx") + base).alias("doc_id"),
                F.col("chunk_text").alias("text"),
            )

        corp_sigs = minhash_signatures(passages(corpus, 0), num_hashes=32, shingle_k=3)
        new_sigs = minhash_signatures(passages(batch, 0), num_hashes=32, shingle_k=3)
        pairs = lsh_pairs_against(new_sigs, corp_sigs, num_bands=16).collect()
        hit_docs = {r["id_new"] // 1000 for r in pairs}
        assert 101 in hit_docs  # the boilerplate-ending doc is flagged
        assert 100 not in hit_docs  # the genuinely fresh doc is not


class TestWinnowing:
    """Rolling-hash document fingerprinting (winnowing, SIGMOD 2003) — the
    copied-passage detector whole-doc hashing misses."""

    DOCS = [
        ("d1", "alpha beta gamma delta THE STOLEN PASSAGE RUNS EXACTLY EIGHT WORDS LONG epsilon zeta"),
        ("d2", "one two three four five THE STOLEN PASSAGE RUNS EXACTLY EIGHT WORDS LONG six seven"),
        ("d3", "completely different text with no overlap at all in any of its words here"),
        ("d4", "another unrelated document whose vocabulary shares nothing with the first pair of texts"),
    ]

    def test_shared_run_guarantees_shared_fingerprint(self, spark):
        from dataverifyr_spark.operators.text import winnow_fingerprints

        df = spark.createDataFrame(self.DOCS, "doc_id string, text string")
        # k=5, window=4: any shared run of >= k+window-1 = 8 words MUST
        # yield a shared selected fingerprint (the winnowing guarantee)
        fps = winnow_fingerprints(df, k=5, window=4)
        by_doc = {}
        for r in fps.collect():
            by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
        assert by_doc["d1"] & by_doc["d2"]
        assert not (by_doc["d1"] & by_doc["d3"])
        assert not (by_doc["d3"] & by_doc["d4"])

    def test_shared_passage_pairs_and_cap_stats(self, spark):
        from pyspark.sql import functions as F

        from dataverifyr_spark.operators.text import shared_passage_pairs

        df = spark.createDataFrame(self.DOCS, "doc_id string, text string")
        pairs = {(r["id_a"], r["id_b"]) for r in shared_passage_pairs(df, min_shared=1).collect()}
        assert pairs == {("d1", "d2")}
        # hot-print cap: a boilerplate passage in EVERY doc gets dropped
        boiler = df.withColumn("text", F.concat(F.col("text"), F.lit(
            " COMMON FOOTER LINE REPEATED IN EVERY SINGLE DOCUMENT OF THE CORPUS")))
        stats = {}
        capped = shared_passage_pairs(boiler, min_shared=1, max_fp_freq=3, stats=stats)
        got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
        assert got == {("d1", "d2")}  # footer prints (freq 4 > 3) dropped
        assert stats["n_fps_dropped"] > 0 and stats["n_fp_rows_dropped"] >= 4 * stats["n_fps_dropped"]

    def test_duckdb_differential(self, spark):
        """Engine-portable by construction: the identical norm → k-gram →
        md5-prefix → windowed string-min pipeline in DuckDB selects the
        SAME fingerprint sets."""
        import duckdb

        from dataverifyr_spark.operators.text import winnow_fingerprints

        df = spark.createDataFrame(self.DOCS, "doc_id string, text string")
        mine = {(r["doc_id"], r["fp"]) for r in winnow_fingerprints(df, k=5, window=4).collect()}
        con = duckdb.connect()
        con.execute("CREATE TABLE docs(doc_id VARCHAR, text VARCHAR)")
        con.executemany("INSERT INTO docs VALUES (?, ?)", self.DOCS)
        theirs = set(con.execute("""
            WITH t AS (
              SELECT doc_id,
                     string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
              FROM docs
            ), g AS (
              SELECT doc_id,
                     list_transform(generate_series(0, len(toks) - 5),
                       i -> substr(md5(array_to_string(toks[i+1:i+5], ' ')), 1, 16)) AS grams
              FROM t WHERE len(toks) >= 5
            ), w AS (
              SELECT doc_id,
                     list_distinct(list_transform(generate_series(0, len(grams) - 4),
                       j -> list_min(grams[j+1:j+4]))) AS fps
              FROM g WHERE len(grams) >= 4
            )
            SELECT doc_id, unnest(fps) FROM w
        """).fetchall())
        assert mine == theirs

    def test_short_doc_edges_and_python_free_plan(self, spark):
        import contextlib
        import io

        from dataverifyr_spark.operators.text import winnow_fingerprints

        short = spark.createDataFrame(
            [("s1", "two words"), ("s2", ""), ("s3", "exactly five words right here")],
            "doc_id string, text string",
        )
        rows = winnow_fingerprints(short, k=5, window=4).collect()
        # every doc yields exactly one fingerprint on the short-path
        assert sorted(r["doc_id"] for r in rows) == ["s1", "s2", "s3"]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            winnow_fingerprints(short).explain(True)
        phys = buf.getvalue().split("== Physical Plan ==")[-1]
        assert "EvalPython" not in phys, phys


class TestPipelineStatsThreading:
    def test_near_dup_groups_stats(self, spark):
        """r6: end-to-end pipelines surface LSH drop accounting + CC rounds
        through one stats dict."""
        from dataverifyr_spark.operators.components import near_dup_groups

        docs = spark.createDataFrame(
            [(i, f"document number {i} about various topics entirely") for i in range(6)]
            + [(100 + i, "identical boilerplate text repeated in every copy") for i in range(12)],
            "doc_id bigint, text string",
        )
        stats: dict = {}
        out = near_dup_groups(docs, num_hashes=16, num_bands=4, max_bucket_size=8, stats=stats)
        assert out.count() == 18
        assert stats["n_buckets_dropped"] >= 1  # the 12-copy cluster is over cap
        assert stats["n_rows_dropped"] >= 12
        assert stats["rounds"] >= 1 and stats["converged"] is True

    def test_embedding_dedup_groups_stats(self, spark):
        from dataverifyr_spark.operators.components import embedding_dedup_groups

        rows = [(i, [float(i)] * 8) for i in range(5)] + [
            (100 + i, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]) for i in range(4)
        ]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        stats: dict = {}
        out = embedding_dedup_groups(df, dim=8, bits=4, bands=2, max_bucket_size=100, stats=stats)
        assert out.count() == 9
        assert stats["n_buckets_dropped"] == 0 and stats["n_rows_dropped"] == 0
        assert stats["converged"] is True


class TestLshMaterialization:
    def test_pairs_plan_reads_checkpointed_bands(self, spark):
        """lsh_candidate_pairs materializes the banded proxy once: the pair
        plan must reference a checkpoint scan (ExistingRDD) and must NOT
        re-plan the text scan per consumer (the r6 plan carried the full
        signature pipeline 4x — zero exchange reuse under lambda HOFs)."""
        from dataverifyr_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
        )

        docs = spark.createDataFrame(
            [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}") for i in range(40)],
            "doc_id bigint, text string",
        )
        pairs = lsh_candidate_pairs(minhash_signatures(docs, num_hashes=16), num_bands=8)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan
        # the raw text column must not appear in the pair plan at all — only
        # the checkpointed (id, band, bucket) rows do
        assert "split(regexp_replace" not in plan

    def test_shared_passage_pairs_single_text_scan(self, spark):
        """Same contract for the winnowing pair join (r6 VERDICT #4): the
        text scan happens once (checkpoint), not once per join side."""
        from dataverifyr_spark.operators.text import shared_passage_pairs

        docs = spark.createDataFrame(
            [
                (1, "a b c d e f g h i j"),
                (2, "a b c d e f g h i j"),
                (3, "z y x w v u t s r q"),
            ],
            "doc_id bigint, text string",
        )
        pairs = shared_passage_pairs(docs, k=3, window=2, min_shared=1)
        rows = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert (1, 2) in rows and (1, 3) not in rows
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan
        assert "split(regexp_replace" not in plan


class TestConnectedComponentsR7:
    def test_empty_edges_rounds_semantics(self, spark):
        """Fused init must keep the r6 empty-input contract: one round,
        converged, empty labeling."""
        from dataverifyr_spark.operators.components import connected_components

        edges = spark.createDataFrame([], "id_a bigint, id_b bigint")
        stats = {}
        out = connected_components(edges, stats=stats)
        assert out.count() == 0
        assert stats == {"rounds": 1, "converged": True}

    def test_single_edge_two_rounds(self, spark):
        from dataverifyr_spark.operators.components import connected_components

        edges = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
        stats = {}
        comps = {
            r["node"]: r["component"]
            for r in connected_components(edges, stats=stats).collect()
        }
        assert comps == {1: 1, 2: 1}
        assert stats == {"rounds": 2, "converged": True}

    def test_broadcast_threshold_zero_matches_broadcast_path(self, spark):
        """broadcast_labels_max=0 (forced shuffle join) must produce the
        identical labeling — the hint is a physical choice only."""
        from dataverifyr_spark.operators.components import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (12, 12)], "id_a bigint, id_b bigint"
        )
        a = {
            r["node"]: r["component"]
            for r in connected_components(edges).collect()
        }
        b = {
            r["node"]: r["component"]
            for r in connected_components(edges, broadcast_labels_max=0).collect()
        }
        assert a == b == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 12}
