"""Tests for the user-facing operator API (operators/)."""

from pyspark.sql import functions as F

from bend_archiver_spark.operators import (
    bfs_hops,
    cosine_pairs,
    cosine_pairs_lsh,
    cosine_topk,
    exact_dedup,
    ivf_search,
    jaccard_pairs,
    label_propagation,
    minhash_lsh_dedup,
    quality_scores,
    salted_join,
    shingle,
    simhash_fingerprints,
    simhash_pairs,
    triangle_counts,
    token_stats,
)
from bend_archiver_spark.tables import load_table


class TestDedupOps:
    def test_minhash_recall_vs_exact(self, spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        exact = {
            (r.doc_a, r.doc_b)
            for r in jaccard_pairs(
                shingle(docs, "doc_id", "text"), 0.7
            ).collect()
        }
        mh = {
            (r.doc_a, r.doc_b)
            for r in minhash_lsh_dedup(docs, "doc_id", "text", 0.7).collect()
        }
        # verification stage guarantees zero false positives; recall on
        # the planted near-dups is complete at this banding config
        assert mh <= exact
        assert len(mh) == len(exact)

    def test_exact_dedup_keeper_is_min_id(self, spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        out = exact_dedup(docs, "doc_id", "text")
        assert out.count() == docs.count()  # corpus has no exact dups
        assert out.agg(F.sum("n_copies")).first()[0] == docs.count()

    def test_simhash_close_for_near_dups(self, spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        sims = simhash_fingerprints(docs, "doc_id", "text")
        assert sims.count() == docs.count()
        near = simhash_pairs(sims, 10)
        exact = jaccard_pairs(shingle(docs, "doc_id", "text"), 0.7)
        near_set = {(r.doc_a, r.doc_b) for r in near.collect()}
        exact_set = {(r.doc_a, r.doc_b) for r in exact.collect()}
        assert exact_set <= near_set  # every true near-dup is hamming-close

    def test_custom_params(self, spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents").limit(50)
        out = minhash_lsh_dedup(
            docs, "doc_id", "text", threshold=0.5, ngram=2, n_bands=8
        )
        assert set(out.columns) == {"doc_a", "doc_b", "jaccard"}


class TestSimilarityOps:
    def test_topk_shape_and_rank(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        out = cosine_topk(
            emb, "vec_id", "embedding", F.col("vec_id") < 3, k=4
        ).collect()
        assert len(out) == 12
        by_q = {}
        for r in out:
            by_q.setdefault(r.query_id, []).append(r)
        for q, rows in by_q.items():
            ranks = sorted(r.rank for r in rows)
            assert ranks == [1, 2, 3, 4]
            rows.sort(key=lambda r: r.rank)
            cosines = [r.cosine for r in rows]
            assert cosines == sorted(cosines, reverse=True)
            assert all(r.neighbor_id != q for r in rows)

    def test_ivf_probing_every_cell_is_brute_force(self, spark, sf_dir):
        """With n_probe == n_cells every vector is a candidate, so IVF
        returns exactly the brute-force top-k, trained or not."""
        emb = load_table(spark, sf_dir, "embeddings")
        queries = F.col("vec_id") < 3
        brute = sorted(
            cosine_topk(emb, "vec_id", "embedding", queries, k=4).collect()
        )
        for lloyd_iters in (0, 2):
            ivf = ivf_search(
                emb, "embedding", queries,
                n_cells=4, n_probe=4, k=4, lloyd_iters=lloyd_iters,
            )
            assert sorted(ivf.collect()) == brute
            spark.catalog.clearCache()


class TestCosineLshRecall:
    """Recall contract for the LSH-gated cosine dedup: every planted
    near-dup pair (cosine ~0.95) must survive the bucket gate. The
    sandbox embeddings are uniform-random (max cosine ~0.51), so
    recall has to be proven on a planted fixture, not that corpus."""

    def _fixture(self, spark, n_base=120, n_planted=15, dim=64):
        import random

        rng = random.Random(7)
        rows = []
        planted = []
        for i in range(n_base):
            rows.append((i, [rng.gauss(0, 1) for _ in range(dim)]))
        next_id = n_base
        for j in range(n_planted):
            base = rows[j][1]
            # small perturbation -> cosine ~0.95+ with the base vector
            dup = [x + rng.gauss(0, 0.12) for x in base]
            rows.append((next_id, dup))
            planted.append((rows[j][0], next_id))
            next_id += 1
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        return df, planted

    def test_planted_pairs_survive_lsh_gate(self, spark):
        df, planted = self._fixture(spark)
        out = cosine_pairs_lsh(
            df, "vec_id", "embedding", 0.85, n_tables=8, n_planes=6
        )
        got = {(r.vec_a, r.vec_b) for r in out.collect()}
        missed = [p for p in planted if p not in got]
        assert missed == [], f"LSH gate dropped planted pairs: {missed}"

    def test_adaptive_gate_keeps_planted_pairs_above_the_floor(self, spark):
        """n_planes=None sizes the gate from the corpus; above the
        6-plane floor (n > 4096 -> 7+ planes) the narrower buckets
        must still pass actual near-dups (cosine ~0.95: per-table
        collision 0.899^p, 8 tables). Planted pairs at that
        similarity are the usefulness contract the hash-vs-oracle
        check alone cannot see."""
        from bend_archiver_spark.operators.similarity import adaptive_planes

        df, planted = self._fixture(spark, n_base=4300, n_planted=12)
        assert adaptive_planes(4312) == 7  # above the floor
        out = cosine_pairs_lsh(
            df, "vec_id", "embedding", 0.85, n_tables=8, n_planes=None
        )
        got = {(r.vec_a, r.vec_b) for r in out.collect()}
        missed = [p for p in planted if p not in got]
        assert missed == [], f"adaptive gate dropped planted pairs: {missed}"

    def test_recall_pinned_at_the_100x_rung(self, spark):
        """Measured recall AT the scale regime's parameters (12
        planes, the 100x rung), not just the 6–7-plane floor the
        other pins exercise. With tables amplified in lockstep
        (adaptive_tables(12) = 26) the per-pair miss probability at
        cosine ~0.95 is (1 - 0.899^12)^26 ~ 2e-4, so every planted
        pair surviving is the EXPECTED outcome and a measured-recall
        floor of 0.9 regression-guards it; at the old fixed 8 tables
        the same gate missed ~7% of pairs per table-set — the recall
        collapse the ladder exists to prevent. Signs are md5-derived,
        so the measurement is deterministic for this fixture."""
        from bend_archiver_spark.operators.similarity import adaptive_tables

        df, planted = self._fixture(spark, n_base=150, n_planted=20)
        out = cosine_pairs_lsh(
            df, "vec_id", "embedding", 0.85, n_tables=None, n_planes=12
        )
        got = {(r.vec_a, r.vec_b) for r in out.collect()}
        hits = sum(1 for p in planted if p in got)
        recall = hits / len(planted)
        assert adaptive_tables(12) == 26
        assert recall >= 0.9, f"12-plane recall {recall} below pinned floor"

    def test_lsh_pairs_subset_of_bruteforce(self, spark):
        df, _ = self._fixture(spark, n_base=60, n_planted=8)
        brute = {
            (r.vec_a, r.vec_b, round(r.cosine, 9))
            for r in cosine_pairs(df, "vec_id", "embedding", 0.85).collect()
        }
        lsh = {
            (r.vec_a, r.vec_b, round(r.cosine, 9))
            for r in cosine_pairs_lsh(
                df, "vec_id", "embedding", 0.85, n_tables=8, n_planes=6
            ).collect()
        }
        assert lsh <= brute
        # at cosine >= 0.85 the 8x6 family's recall is ~0.998 —
        # on this fixture it should find everything brute force finds
        assert lsh == brute


class TestSkew:
    def test_salted_join_matches_plain_join(self, spark, sf_dir):
        orders = load_table(spark, sf_dir, "orders")
        cust = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        )
        plain = (
            orders.join(cust, "o_custkey")
            .groupBy("c_mktsegment")
            .count()
            .collect()
        )
        salted = (
            salted_join(orders, cust, "o_custkey", salt_buckets=8)
            .groupBy("c_mktsegment")
            .count()
            .collect()
        )
        assert sorted((r.c_mktsegment, r["count"]) for r in plain) == sorted(
            (r.c_mktsegment, r["count"]) for r in salted
        )

    def test_salted_join_drops_salt_column(self, spark, sf_dir):
        orders = load_table(spark, sf_dir, "orders").limit(10)
        cust = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_name"
        )
        out = salted_join(orders, cust, "o_custkey", salt_buckets=4)
        assert "__salt" not in out.columns


class TestTextOps:
    def test_token_stats(self, spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        out = token_stats(docs, "doc_id", "text")
        row = out.first()
        assert row.bpe_tokens >= row.ws_tokens  # BPE splits at least as fine
        assert out.count() == docs.count()

    def test_quality_gate_thresholds(self, spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        strict = quality_scores(docs, "doc_id", "text", min_words=100)
        loose = quality_scores(docs, "doc_id", "text", min_words=1)
        n_strict = strict.filter("passes_quality").count()
        n_loose = loose.filter("passes_quality").count()
        assert n_strict < n_loose

    def test_quality_flag_matches_quality_scores(self, spark, sf_dir):
        """The inline gate and the scored table must agree doc-by-doc
        — quality_scores builds passes_quality FROM quality_flag, and
        this pins the contract at non-default thresholds so a future
        reintroduction of a second rule copy fails here."""
        from bend_archiver_spark.operators.textops import quality_flag

        docs = load_table(spark, sf_dir, "documents")
        kwargs = dict(min_words=15, max_words=500, min_stopword_ratio=0.02)
        via_flag = sorted(
            r.doc_id
            for r in docs.filter(quality_flag("text", **kwargs))
            .select("doc_id")
            .collect()
        )
        via_scores = sorted(
            r.doc_id
            for r in quality_scores(docs, "doc_id", "text", **kwargs)
            .filter("passes_quality")
            .select("doc_id")
            .collect()
        )
        assert via_flag == via_scores
        assert via_flag  # non-vacuous: some docs pass at these settings


class TestSimhashBanded:
    def test_banded_equals_direct(self, spark, sf_dir):
        from bend_archiver_spark.operators import (
            simhash_fingerprints,
            simhash_pairs,
            simhash_pairs_banded,
        )
        docs = load_table(spark, sf_dir, "documents")
        sims = simhash_fingerprints(docs, "doc_id", "text")
        direct = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_pairs(sims, 10).collect()
        }
        banded = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_pairs_banded(sims, 10).collect()
        }
        # pigeonhole guarantees completeness; exact filter guarantees
        # no false positives -> identical result sets
        assert banded == direct
        assert len(direct) > 0

    def test_both_branches_equal_direct(self, spark, sf_dir):
        """hamming_max 3 keeps bands >= 12 bits wide (classic
        equality-band branch); 10 forces the two-level ball branch;
        8 exercises two-level at n_blocks = 3. All must equal the
        direct self-join exactly."""
        from bend_archiver_spark.operators import (
            simhash_fingerprints,
            simhash_pairs,
            simhash_pairs_banded,
        )
        docs = load_table(spark, sf_dir, "documents")
        sims = simhash_fingerprints(docs, "doc_id", "text").persist()
        for h in (3, 8, 10):
            direct = {
                (r.doc_a, r.doc_b, r.hamming)
                for r in simhash_pairs(sims, h).collect()
            }
            banded = {
                (r.doc_a, r.doc_b, r.hamming)
                for r in simhash_pairs_banded(sims, h).collect()
            }
            assert banded == direct, f"hamming_max {h}"
        sims.unpersist()

    def test_two_level_nondividing_widths_equal_direct(
        self, spark, sf_dir
    ):
        """bits that n_blocks does NOT evenly divide: 58 bits over 4
        blocks -> balanced widths 15/15/14/14 (the clamped path — the
        old uniform-stride code flipped padding bits past the
        fingerprint in the last block), 7 bits over 2 blocks ->
        widths 4/3, and the degenerate 5 bits over 3 blocks ->
        widths 2/2/1 whose 1-bit block exercises the bw>=2 CASE
        guard around the double-flip term. All must equal the
        direct self-join exactly."""
        from bend_archiver_spark.operators import (
            simhash_fingerprints,
            simhash_pairs,
            simhash_pairs_banded,
        )
        docs = load_table(spark, sf_dir, "documents")
        for bits, h in ((58, 10), (7, 4), (5, 6)):
            sims = simhash_fingerprints(
                docs, "doc_id", "text", bits=bits
            ).persist()
            direct = {
                (r.doc_a, r.doc_b, r.hamming)
                for r in simhash_pairs(sims, h).collect()
            }
            banded = {
                (r.doc_a, r.doc_b, r.hamming)
                for r in simhash_pairs_banded(sims, h, bits=bits).collect()
            }
            assert banded == direct, f"bits {bits} hamming_max {h}"
            sims.unpersist()


class TestUdxfSurface:
    def test_udtf_null_and_empty_text(self, spark):
        """UDTF emits nothing for NULL text and skips empty tokens
        (double spaces)."""
        from bend_archiver_spark.functions import register_udtfs

        register_udtfs(spark)
        spark.createDataFrame(
            [(1, "a  b c"), (2, None), (3, "")], "doc_id long, text string"
        ).createOrReplaceTempView("udtf_edge")
        rows = spark.sql(
            """
            SELECT d.doc_id, tk.token, tk.pos
            FROM udtf_edge d, LATERAL tokenize_udtf(d.text) tk
            """
        ).collect()
        assert {(r.doc_id, r.token, r.pos) for r in rows} == {
            (1, "a", 0),
            (1, "b", 1),
            (1, "c", 2),
        }

    def test_udaf_zero_weight_group(self, spark):
        from pyspark.sql import functions as F

        from bend_archiver_spark.functions import weighted_avg_quantized

        df = spark.createDataFrame(
            [("g1", 2, 10), ("g1", 3, 20), ("g2", 0, 99)],
            "grp string, w long, x long",
        )
        out = {
            r.grp: r.wavg
            for r in df.groupBy("grp")
            .agg(weighted_avg_quantized(F.col("w"), F.col("x")).alias("wavg"))
            .collect()
        }
        assert out["g1"] == (2 * 10 + 3 * 20) / 5
        assert out["g2"] is None


class TestConnectedComponents:
    def test_path_graph_converges_over_diameter(self, spark):
        """A 10-node path needs several propagation rounds (diameter 9
        with doubling via min-propagation) — exercises the iterative
        loop, not just single-hop cliques."""
        from bend_archiver_spark.operators.graph import connected_components

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(10, 19)], ["doc_a", "doc_b"]
        )
        nodes = spark.createDataFrame(
            [(i,) for i in range(10, 20)] + [(99,)], ["doc_id"]
        )
        out = connected_components(edges, nodes).collect()
        labels = {r["doc_id"]: r["component_id"] for r in out}
        assert all(labels[i] == 10 for i in range(10, 20))
        assert labels[99] == 99  # isolated node = singleton component

    def test_two_components_and_determinism(self, spark):
        from bend_archiver_spark.operators.graph import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 8)], ["doc_a", "doc_b"]
        )
        nodes = spark.createDataFrame(
            [(i,) for i in (1, 2, 3, 7, 8)], ["doc_id"]
        )
        for _ in range(2):
            out = {
                r["doc_id"]: r["component_id"]
                for r in connected_components(edges, nodes).collect()
            }
            assert out == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}

    def test_long_chain_converges_by_pointer_jumping(self, spark):
        """A 300-node path with max_iter=12: pure edge propagation
        moves the min one hop per round and would stop 288 hops short;
        the pointer-jumping hop doubles reach per round (2^12 >> 300),
        so the whole chain must collapse to one component. Regression
        guard for the 100x failure where a 340k-edge near-dup graph's
        chains exceeded 25 hops and max_iter silently returned
        unmerged components."""
        from bend_archiver_spark.operators.graph import connected_components

        n = 300
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
        )
        nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
        out = connected_components(edges, nodes, max_iter=12).collect()
        assert {r["component_id"] for r in out} == {0}

    def test_superseded_checkpoints_are_freed(self, spark):
        """The propagation loop eagerly localCheckpoints twice per
        round; without cleanup every round's blocks stay pinned in
        executor storage for the rest of the session (O(iterations)
        node-sized snapshots — on a 300-node path that is ~9 rounds of
        live blocks, at cluster scale terabytes). Superseded rounds
        and the edge cache must be unpersisted: at most the final
        labels snapshot may remain."""
        from bend_archiver_spark.operators.graph import connected_components

        n = 300
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
        )
        nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
        jsc = spark.sparkContext._jsc.sc()
        before = {i.id() for i in jsc.getRDDStorageInfo()}
        out = connected_components(edges, nodes, max_iter=12)
        assert out.count() == n  # materialized; loop fully executed
        leaked = {i.id() for i in jsc.getRDDStorageInfo()} - before
        # final labels checkpoint only (the result depends on it);
        # the edge cache and the ~9 superseded label rounds are gone
        assert len(leaked) <= 1, f"loop leaked {len(leaked)} block sets"

    def test_reliable_checkpoint_mode(self, spark, tmp_path):
        """reliable_checkpoint=True truncates iteration lineage through
        the fault-tolerant checkpoint store (survives executor loss on
        a real cluster, unlike localCheckpoint whose blocks die with
        their executor): same fixpoint, and checkpoint files actually
        land in the configured dir."""
        import os

        from bend_archiver_spark.operators.graph import connected_components

        ckpt = str(tmp_path / "ckpt")
        spark.sparkContext.setCheckpointDir(ckpt)
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(10, 19)], ["doc_a", "doc_b"]
        )
        nodes = spark.createDataFrame(
            [(i,) for i in range(10, 20)], ["doc_id"]
        )
        out = {
            r["doc_id"]: r["component_id"]
            for r in connected_components(
                edges, nodes, reliable_checkpoint=True
            ).collect()
        }
        assert all(out[i] == 10 for i in range(10, 20))
        written = [
            f
            for root, _dirs, files in os.walk(ckpt)
            for f in files
        ]
        assert written, "no checkpoint files written to the reliable store"

    def test_matches_union_find_ground_truth(self, spark):
        """The distributed closure's (component_id, size) multiset must
        equal an exact sequential union-find on the same edge list —
        the independent recomputation that adjudicated the round-12
        100x truncation bug (tools/cc_ground_truth.py commits that
        probe; this pins its contract at test scale on a graph mixing
        the hard shapes: long chains, a star hub, cliques, singletons)."""
        import random

        from pyspark.sql import functions as F

        from bend_archiver_spark.operators.graph import connected_components
        from tools.cc_ground_truth import union_find_components

        rng = random.Random(1337)
        nodes = list(range(2000))
        edges = [(i, i + 1) for i in range(100)]  # 101-node chain
        edges += [(500, 500 + i) for i in range(1, 60)]  # star hub
        edges += [
            (a, b)
            for a in range(700, 710)
            for b in range(a + 1, 710)  # 10-clique
        ]
        edges += [
            (rng.randrange(2000), rng.randrange(2000)) for _ in range(800)
        ]
        truth = union_find_components(nodes, edges)
        edf = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        ndf = spark.createDataFrame([(n,) for n in nodes], ["doc_id"])
        got = {
            r["component_id"]: r["sz"]
            for r in connected_components(edf, ndf)
            .groupBy("component_id")
            .agg(F.count(F.lit(1)).alias("sz"))
            .collect()
        }
        assert got == truth


class TestPrefixSum:
    def test_matches_single_partition_cumsum(self, spark):
        """Distributed two-phase scan == the naive global cumsum, on
        data spread over many input partitions with shuffled order."""
        import random

        from pyspark.sql import functions as F

        from bend_archiver_spark.operators.prefix import prefix_sum

        rng = random.Random(7)
        rows = [(i, rng.randint(0, 100)) for i in range(500)]
        rng.shuffle(rows)
        df = spark.createDataFrame(rows, ["k", "v"]).repartition(13)
        out = {
            r["k"]: r["c"]
            for r in prefix_sum(df, ["k"], "v").select(
                "k", F.col("c").cast("bigint").alias("c")
            ).collect()
        }
        expect, run = {}, 0
        for k, v in sorted(rows):
            run += v
            expect[k] = run
        assert out == expect

    def test_keeps_other_columns_and_row_count(self, spark):
        from bend_archiver_spark.operators.prefix import prefix_sum

        df = spark.createDataFrame(
            [(2, 10, "b"), (1, 5, "a"), (3, 1, "c")], ["k", "v", "tag"]
        )
        got = sorted(
            (r["k"], int(r["c"]), r["tag"])
            for r in prefix_sum(df, ["k"], "v").collect()
        )
        assert got == [(1, 5, "a"), (2, 15, "b"), (3, 16, "c")]


class TestNtileDistributed:
    def test_matches_window_ntile_all_k_and_sizes(self, spark):
        """ntile_distributed == F.ntile over the same total order for
        every bucket-count/row-count shape that exercises the formula:
        n % k == 0, n % k != 0, n < k (each row its own bucket), and
        n == 1 — on shuffled multi-partition input."""
        import random

        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from bend_archiver_spark.operators.prefix import ntile_distributed

        rng = random.Random(11)
        for n, k in [(12, 4), (17, 4), (3, 5), (1, 3), (100, 7)]:
            rows = [(i, rng.randint(0, 9)) for i in range(n)]
            rng.shuffle(rows)
            df = spark.createDataFrame(rows, ["k_id", "x"]).repartition(5)
            got = {
                r["k_id"]: r["tile"]
                for r in ntile_distributed(df, ["k_id"], k).collect()
            }
            w = Window.orderBy("k_id")
            want = {
                r["k_id"]: r["t"]
                for r in df.select(
                    "k_id", F.ntile(k).over(w).alias("t")
                ).collect()
            }
            assert got == want, (n, k)


class TestFanout:
    def test_under_partitioned_input_fans_out(self, spark, sf_dir):
        from bend_archiver_spark.queries.base import fanout
        from bend_archiver_spark.tables import load_table

        d = load_table(spark, sf_dir, "documents")  # single small file
        assert d.rdd.getNumPartitions() < 8
        assert (
            fanout(d).rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )

    def test_non_file_input_passes_through(self, spark):
        from bend_archiver_spark.queries.base import fanout

        d = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
        # local relations have no input files; fanout must not touch
        # them (and must not probe df.rdd, which would run a job)
        assert fanout(d) is d

    def test_split_estimate_matches_spark_split_planning(self):
        from bend_archiver_spark.queries.base import _estimate_scan_splits

        mb = 1 << 20
        max_part, open_cost = 128 * mb, 4 * mb
        # Small single-row-group corpus (sf0.1 lineitem): open-cost
        # floor regime -> under-split -> fanout fires.
        assert _estimate_scan_splits([13 * mb], 32, max_part, open_cost) < 32
        # 10x corpus (140 MB lineitem): Spark's bytesPerCore term
        # already yields ~parallelism splits -> fanout must NOT add an
        # exchange (the pre-fix maxPartitionBytes-only estimate said 2).
        assert _estimate_scan_splits([140 * mb], 32, max_part, open_cost) >= 32
        assert _estimate_scan_splits([140 * mb], 8, max_part, open_cost) >= 8
        # Cap regime: huge file splits by maxPartitionBytes alone.
        assert (
            _estimate_scan_splits([100 * 1024 * mb], 32, max_part, open_cost)
            >= 32
        )

    def test_repartitioned_input_collapses_to_one_exchange(
        self, spark, sf_dir
    ):
        from bend_archiver_spark.queries.base import fanout
        from bend_archiver_spark.tables import load_table

        d = load_table(spark, sf_dir, "documents").repartition(16)
        plan = fanout(d)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        # CollapseRepartition merges fanout's repartition with the
        # caller's: one exchange, never two stacked
        assert plan.count("Exchange") <= 1


class TestCountMinSketch:
    def _frame(self, spark):
        # one heavy key (40 rows), two light keys (3 and 1 rows)
        rows = [("heavy", i, i * 7 % 40) for i in range(40)]
        rows += [("light_a", 100 + i, i) for i in range(3)]
        rows += [("light_b", 200, 5)]
        return spark.createDataFrame(rows, "k string, id long, v long")

    def test_estimates_never_undercount(self, spark):
        from bend_archiver_spark.operators.sketch import (
            count_min,
            estimate_counts,
        )

        df = self._frame(spark)
        sk = count_min(df, "k")
        est = {
            r["k"]: r["est"]
            for r in estimate_counts(
                df.select("k").distinct(), sk, "k"
            ).collect()
        }
        true = {"heavy": 40, "light_a": 3, "light_b": 1}
        for k, n in true.items():
            assert est[k] >= n, (k, est[k], n)

    def test_gated_topk_matches_exact_window_on_both_routes(self, spark):
        from pyspark.sql import Window

        from bend_archiver_spark.operators.sketch import (
            count_min,
            estimate_counts,
            sketch_gated_topk,
        )
        from pyspark.sql import functions as F

        df = self._frame(spark)
        k = 5
        # with a 4096-wide sketch and 3 keys, estimates are collision-
        # free: the light keys (<= k rows) take the plain-window route,
        # the heavy key the salted route — both routes really execute
        sk = count_min(df, "k")
        est = {
            r["k"]: r["est"]
            for r in estimate_counts(
                df.select("k").distinct(), sk, "k"
            ).collect()
        }
        assert est["heavy"] > k and est["light_a"] <= k

        got = sketch_gated_topk(
            df,
            "k",
            [F.desc("v"), F.asc("id")],
            k,
            salt_expr=F.xxhash64(F.col("id")),
            rank_alias="rank",
        )
        w = Window.partitionBy("k").orderBy(F.desc("v"), F.asc("id"))
        want = (
            df.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= k)
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )


class TestPrefixFilterCandidates:
    """The no-candidates branch of jaccard_pairs generates candidates
    by prefix filtering (rarest-first token prefixes) instead of the
    raw token-equality self-join. The filter is EXACT — a theorem,
    not a recall model — so the contract is bit-identical output to
    the brute join at every threshold, including corpora built to
    stress it (a token shared by every document)."""

    @staticmethod
    def _brute(toks, threshold):
        sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        ta = toks.select(F.col("doc_id").alias("doc_a"), "tok")
        tb = toks.select(F.col("doc_id").alias("doc_b"), "tok")
        inter = (
            ta.join(tb, "tok")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        sa = sizes.select(
            F.col("doc_id").alias("doc_a"), F.col("n").alias("na")
        )
        sb = sizes.select(
            F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
        )
        jac = F.col("n_inter").cast("double") / (
            F.col("na") + F.col("nb") - F.col("n_inter")
        )
        return (
            inter.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )

    def test_identical_to_brute_on_corpus(self, spark, sf_dir):
        from bend_archiver_spark.operators.dedup import (
            jaccard_pairs,
            shingle,
        )
        from bend_archiver_spark.tables import load_table

        toks = shingle(
            load_table(spark, sf_dir, "documents"), "doc_id", "text"
        )
        for t in (0.5, 0.7, 0.9):
            want = {tuple(r) for r in self._brute(toks, t).collect()}
            got = {tuple(r) for r in jaccard_pairs(toks, t).collect()}
            spark.catalog.clearCache()
            assert got == want, f"threshold {t}"

    def test_hot_token_and_unit_threshold(self, spark):
        """Every document shares one ubiquitous token (the shape
        whose posting self-join is quadratic); clone pairs must
        surface with jaccard exactly 1.0, non-pairs must not, and
        t=1.0 (prefix length 1: the single rarest token) stays
        exact."""
        from bend_archiver_spark.operators.dedup import jaccard_pairs

        rows = []
        for i in range(40):
            rows += [(i, "HOT")] + [
                (i, f"tok_{i}_{j}") for j in range(9)
            ]
        for g in range(5):
            base = [f"g{g}_{j}" for j in range(9)] + ["HOT"]
            rows += [(100 + g * 2, tk) for tk in base]
            rows += [(101 + g * 2, tk) for tk in base]
        toks = spark.createDataFrame(rows, ["doc_id", "tok"])
        for t in (0.7, 1.0):
            want = {tuple(r) for r in self._brute(toks, t).collect()}
            got = {tuple(r) for r in jaccard_pairs(toks, t).collect()}
            spark.catalog.clearCache()
            assert got == want and len(got) == 5, f"threshold {t}"

    def test_candidates_are_exact_superset(self, spark):
        """Candidate pairs must contain EVERY qualifying pair (the
        exactness direction) while excluding pairs sharing no prefix
        token (the pruning direction — the 40 hot-only pairs)."""
        from bend_archiver_spark.operators.dedup import (
            prefix_filter_candidates,
        )

        rows = []
        for i in range(10):
            rows += [(i, "HOT")] + [
                (i, f"tok_{i}_{j}") for j in range(9)
            ]
        rows += [(100, tk) for tk in ("HOT", "x1", "x2", "x3")]
        rows += [(101, tk) for tk in ("HOT", "x1", "x2", "x4")]
        toks = spark.createDataFrame(rows, ["doc_id", "tok"])
        cand = {
            tuple(r)
            for r in prefix_filter_candidates(toks, 0.5).collect()
        }
        assert (100, 101) in cand  # J = 3/5 >= 0.5 must be reachable
        # docs 0..9 share ONLY the ubiquitous token, which a 10-token
        # doc's 0.5-prefix (10 - 5 + 1 = 6 rarest) never includes
        assert not any(a < 10 and b < 10 for a, b in cand)

    def test_length_bound_prunes_size_mismatch(self, spark):
        """Size-mismatch pruning: a 4-token doc sharing ALL its
        tokens with a 40-token doc (J = 0.1) collides on prefix
        tokens in both docs, but t*max <= min fails at t = 0.5 (the
        length bound; at a rank-1 collision the positional bound
        reduces to exactly it), so the pair must be pruned before
        the distinct — while a same-sized clone pair survives. The
        big doc's fillers get df = 3 via two filler docs so the
        shared s_* tokens rank FIRST in its prefix (df-order would
        otherwise hide them and the plain prefix filter would prune
        for the wrong reason)."""
        from bend_archiver_spark.operators.dedup import (
            prefix_filter_candidates,
        )

        rows = [(1, f"s_{j}") for j in range(4)]
        rows += [(2, f"s_{j}") for j in range(4)] + [
            (2, f"big_{j}") for j in range(36)
        ]
        rows += [(3, f"big_{j}") for j in range(36)]
        rows += [(4, f"big_{j}") for j in range(36)]
        # true pair at the same size: J = 4/4 = 1.0
        rows += [(10, f"p_{j}") for j in range(4)]
        rows += [(11, f"p_{j}") for j in range(4)]
        toks = spark.createDataFrame(rows, ["doc_id", "tok"])
        cand = {
            tuple(r)
            for r in prefix_filter_candidates(toks, 0.5).collect()
        }
        assert (10, 11) in cand
        assert (1, 2) not in cand

    def test_positional_filter_prunes_late_collisions(self, spark):
        """PPJoin positional bound at t = 0.5 on 8-token docs: the
        overlap requirement is ceil(0.5/1.5 * 16) = 6, so a pair
        whose ONLY shared token sits at rank 5 of both prefixes
        (prefix length 8 - 4 + 1 = 5) caps overlap at
        1 + min(8-5, 8-5) = 4 < 6 and the collision row must be
        pruned — while the plain prefix filter alone would admit it
        (the token IS in both prefixes). A rank-1 collision
        (ubound = 8) must survive. Global order is (df, tok): the
        df=1 uniques rank first, then the df=2 group sorts by token
        name — fixture names pin the ranks."""
        from bend_archiver_spark.operators.dedup import (
            prefix_filter_candidates,
        )

        rows = []
        # docs 1/2: 4 df=1 uniques (ranks 1-4), shared 'zz' (df=2,
        # rank 5 — last prefix slot), then 3 df=2 'zza*' tokens
        # (> 'zz' lexicographically, ranks 6-8; df=2 via fillers
        # 3/4 so they cannot slip before 'zz')
        for d, pre, late in ((1, "a", "zza_a"), (2, "b", "zza_b")):
            rows += [(d, f"{pre}_{j}") for j in range(4)]
            rows += [(d, "zz")]
            rows += [(d, f"{late}{j}") for j in range(3)]
        rows += [(3, f"zza_a{j}") for j in range(3)]
        rows += [(4, f"zza_b{j}") for j in range(3)]
        # docs 10/11: all 8 tokens df=2; shared 'c_0' sorts FIRST
        # (rank 1, ubound 1 + 7 = 8 >= 6: not pruned — the exact
        # verify stage is what rejects this J = 1/15 pair)
        rows += [(10, "c_0")] + [(10, f"d10_{j}") for j in range(7)]
        rows += [(11, "c_0")] + [(11, f"d11_{j}") for j in range(7)]
        rows += [(12, f"d10_{j}") for j in range(7)]
        rows += [(13, f"d11_{j}") for j in range(7)]
        toks = spark.createDataFrame(rows, ["doc_id", "tok"])
        cand = {
            tuple(r)
            for r in prefix_filter_candidates(toks, 0.5).collect()
        }
        assert (1, 2) not in cand
        assert (10, 11) in cand


class TestHashedShingleParity:
    def test_jaccard_identical_on_hashed_and_string_shingles(
        self, spark, sf_dir
    ):
        """The scale path verifies on 60-bit hashed shingles
        (int64 keys, ~3x less shuffle); absent collisions the pair
        set and every jaccard value must match the string form
        bit-for-bit — pinned on the corpus."""
        from bend_archiver_spark.operators.dedup import (
            hashed_shingle,
            jaccard_pairs,
            shingle,
        )
        from bend_archiver_spark.tables import load_table

        d = load_table(spark, sf_dir, "documents")
        via_str = {
            tuple(r)
            for r in jaccard_pairs(
                shingle(d, "doc_id", "text").persist(), 0.7
            ).collect()
        }
        spark.catalog.clearCache()
        via_hash = {
            tuple(r)
            for r in jaccard_pairs(
                hashed_shingle(d, "doc_id", "text").persist(), 0.7
            ).collect()
        }
        spark.catalog.clearCache()
        assert via_hash == via_str and via_str

    def test_hashed_shingle_schema(self, spark):
        from bend_archiver_spark.operators.dedup import hashed_shingle

        d = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
        )
        out = hashed_shingle(d, "doc_id", "text")
        assert dict(out.dtypes) == {"doc_id": "bigint", "tok": "bigint"}
        # 2 distinct 3-gram shingles per 4-word doc
        assert out.count() == 4


class TestPrefixFilterDirected:
    """Directed containment candidates (contained side prefix-reduced,
    container side full): exact superset of every C(A->B) >= t pair,
    proven bit-identical to the raw posting self-join."""

    @staticmethod
    def _brute(toks, threshold):
        sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        ta = toks.select(F.col("doc_id").alias("doc_a"), "tok")
        tb = toks.select(F.col("doc_id").alias("doc_b"), "tok")
        inter = (
            ta.join(tb, "tok")
            .filter(F.col("doc_a") != F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        sa = sizes.select(
            F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")
        )
        cont = F.col("n_inter").cast("double") / F.col("n_a")
        return (
            inter.join(sa, "doc_a")
            .select("doc_a", "doc_b", cont.alias("containment"))
            .filter(F.col("containment") >= threshold)
        )

    @staticmethod
    def _via_candidates(toks, threshold):
        from bend_archiver_spark.operators.dedup import (
            prefix_filter_candidates_directed,
        )

        cand = prefix_filter_candidates_directed(toks, threshold)
        sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        ta = toks.select(F.col("doc_id").alias("doc_a"), "tok")
        tb = toks.select(F.col("doc_id").alias("doc_b"), "tok")
        inter = (
            cand.join(ta, "doc_a")
            .join(tb, ["doc_b", "tok"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        sa = sizes.select(
            F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")
        )
        cont = F.col("n_inter").cast("double") / F.col("n_a")
        return (
            inter.join(sa, "doc_a")
            .select("doc_a", "doc_b", cont.alias("containment"))
            .filter(F.col("containment") >= threshold)
        )

    def test_identical_to_brute_on_corpus(self, spark, sf_dir):
        from bend_archiver_spark.operators.dedup import shingle
        from bend_archiver_spark.tables import load_table

        toks = shingle(
            load_table(spark, sf_dir, "documents"), "doc_id", "text"
        ).persist()
        for t in (0.5, 0.6, 0.9, 1.0):
            want = {tuple(r) for r in self._brute(toks, t).collect()}
            got = {
                tuple(r) for r in self._via_candidates(toks, t).collect()
            }
            assert got == want, f"threshold {t}"
        spark.catalog.clearCache()

    def test_asymmetric_excerpt_found_despite_hot_token(self, spark):
        """A 4-token excerpt fully contained in a 40-token doc must
        surface A->B (containment 1.0) but not B->A; docs sharing
        only the ubiquitous token must generate no candidate pair
        in the contained-side direction."""
        rows = []
        for i in range(30):
            rows += [(i, "HOT")] + [(i, f"t_{i}_{j}") for j in range(9)]
        rows += [(100, tk) for tk in ("HOT", "e1", "e2", "e3")]
        rows += [(200, "HOT")] + [(200, f"big_{j}") for j in range(30)]
        rows += [(200, tk) for tk in ("e1", "e2", "e3")]
        toks = spark.createDataFrame(rows, ["doc_id", "tok"])
        got = {
            (r["doc_a"], r["doc_b"]): r["containment"]
            for r in self._via_candidates(toks, 0.6).collect()
        }
        want = {
            (r["doc_a"], r["doc_b"]): r["containment"]
            for r in self._brute(toks, 0.6).collect()
        }
        assert got == want
        assert got[(100, 200)] == 1.0 and (200, 100) not in got


class TestDedupInvariants:
    def _docs(self, spark):
        rows = [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "a completely different document about spark shuffles"),
            (4, "the quick brown fox jumps over the lazy cat today"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_exact_duplicate_found_with_unit_jaccard(self, spark):
        from bend_archiver_spark.operators.dedup import minhash_lsh_dedup

        pairs = minhash_lsh_dedup(
            self._docs(spark), "doc_id", "text", threshold=0.5
        ).collect()
        by_pair = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
        assert by_pair[(1, 2)] == 1.0  # identical docs always collide
        assert (1, 3) not in by_pair and (2, 3) not in by_pair

    def test_minhash_deterministic_across_runs(self, spark):
        from bend_archiver_spark.operators.dedup import minhash_lsh_dedup

        runs = [
            sorted(
                (r["doc_a"], r["doc_b"], r["jaccard"])
                for r in minhash_lsh_dedup(
                    self._docs(spark), "doc_id", "text", threshold=0.3
                ).collect()
            )
            for _ in range(2)
        ]
        assert runs[0] == runs[1] and runs[0]

    def test_exact_dedup_copy_counts_partition_rows(self, spark):
        from bend_archiver_spark.operators.dedup import exact_dedup

        d = self._docs(spark)
        out = exact_dedup(d, "doc_id", "text").collect()
        assert sum(r["n_copies"] for r in out) == d.count()
        assert {r["keeper_doc"] for r in out} == {1, 3, 4}  # min id kept


class TestMinhashCross:
    """minhash_lsh_cross: cross-corpus decontamination on constructed
    corpora — an exact duplicate across the boundary, a near-dup, and
    an unrelated document."""

    def _corpus(self, spark):
        rows = [
            (100, "the quick brown fox jumps over the lazy dog today"),
            (101, "the quick brown fox jumps over the lazy cat today"),
            (102, "a completely different document about spark shuffles"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def _bench(self, spark):
        rows = [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "unrelated benchmark question about database joins"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_cross_duplicate_found_unrelated_not(self, spark):
        from bend_archiver_spark.operators.dedup import minhash_lsh_cross

        pairs = minhash_lsh_cross(
            self._corpus(spark), self._bench(spark), "doc_id", "text",
            threshold=0.5,
        ).collect()
        by_pair = {(r["doc_id"], r["bench_id"]): r["jaccard"] for r in pairs}
        assert by_pair[(100, 1)] == 1.0  # verbatim leak across corpora
        # the unrelated bench doc matches nothing
        assert not any(b == 2 for (_, b) in by_pair)
        # pair direction is (corpus, bench) — never bench-side ids first
        assert all(c >= 100 and b < 100 for (c, b) in by_pair)

    def test_cross_deterministic_and_symmetric_frontend(self, spark):
        from bend_archiver_spark.operators.dedup import (
            minhash_lsh_cross,
            minhash_lsh_dedup,
        )

        # the cross jaccard for (corpus_doc, bench_doc) must equal the
        # within-corpus jaccard of the same two texts: one shared
        # signature front end, no side-dependent normalization
        cross = minhash_lsh_cross(
            self._corpus(spark), self._bench(spark), "doc_id", "text",
            threshold=0.3,
        ).collect()
        union = self._corpus(spark).unionByName(self._bench(spark))
        within = minhash_lsh_dedup(
            union, "doc_id", "text", threshold=0.3
        ).collect()
        w = {
            frozenset((r["doc_a"], r["doc_b"])): r["jaccard"]
            for r in within
        }
        for r in cross:
            key = frozenset((r["doc_id"], r["bench_id"]))
            assert key in w and w[key] == r["jaccard"]


class TestGraphOps:
    """Parameterized graph-operator API (operators/graph.py) — the
    registry queries fix the co-occurrence graph; these drive the
    library surface directly with custom column names and depths."""

    def _edges(self, spark):
        # barbell: triangles {1,2,3} and {4,5,6} bridged by (3,4)
        rows = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
        return spark.createDataFrame(rows, ["left_id", "right_id"])

    def test_triangle_counts_custom_columns(self, spark):
        out = {
            tuple(r)
            for r in triangle_counts(
                self._edges(spark), src="left_id", dst="right_id"
            ).collect()
        }
        assert out == {
            (1, 2, 1, 1.0), (2, 2, 1, 1.0), (3, 3, 1, 2 / 6),
            (4, 3, 1, 2 / 6), (5, 2, 1, 1.0), (6, 2, 1, 1.0),
        }

    def test_label_propagation_rounds_param(self, spark):
        one = label_propagation(
            self._edges(spark), rounds=1, src="left_id", dst="right_id"
        )
        # after ONE synchronous round every node has adopted its
        # neighbors' min-tie-break label — node 1's neighbors {2,3}
        # have labels {2,3}, tie -> 2
        got = {tuple(r) for r in one.collect()}
        assert (1, 2) in got and len(got) == 6

    def test_bfs_custom_source_and_depth(self, spark):
        src = spark.createDataFrame([(6,)], ["node"])
        out = {
            tuple(r)
            for r in bfs_hops(
                self._edges(spark),
                hops=2,
                src="left_id",
                dst="right_id",
                source=src,
            ).collect()
        }
        # from node 6, two hops reach {6:0, 4:1, 5:1, 3:2}
        assert out == {(6, 0), (4, 1), (5, 1), (3, 2)}


class TestPrefixMax:
    def test_matches_window_running_max(self, spark):
        """prefix_max == the SinglePartition window's running max,
        inclusive and exclusive frames, across partition counts."""
        from pyspark.sql import Window

        from bend_archiver_spark.operators.prefix import prefix_max

        rows = [(i, (7 * i * i + 3 * i) % 41) for i in range(1, 201)]
        df = spark.createDataFrame(rows, "k int, v int").repartition(13)
        w_inc = Window.orderBy("k").rowsBetween(
            Window.unboundedPreceding, 0
        )
        w_exc = Window.orderBy("k").rowsBetween(
            Window.unboundedPreceding, -1
        )
        expect = {
            (r["k"]): (r["inc"], r["exc"])
            for r in df.select(
                "k",
                F.max("v").over(w_inc).alias("inc"),
                F.max("v").over(w_exc).alias("exc"),
            ).collect()
        }
        got_inc = {
            r["k"]: r["run_max"]
            for r in prefix_max(df, ["k"], "v").collect()
        }
        got_exc = {
            r["k"]: r["run_max"]
            for r in prefix_max(df, ["k"], "v", exclusive=True).collect()
        }
        for k, (inc, exc) in expect.items():
            assert got_inc[k] == inc, k
            assert got_exc[k] == exc, k
        # the global first row's exclusive frame is empty -> NULL
        assert got_exc[1] is None

    def test_single_row_partitions(self, spark):
        """Exclusive max must come entirely from prior partitions when
        every partition holds one row."""
        from bend_archiver_spark.operators.prefix import prefix_max

        df = spark.createDataFrame(
            [(1, 5), (2, 9), (3, 2), (4, 11)], "k int, v int"
        ).repartitionByRange(4, "k")
        got = {
            r["k"]: r["run_max"]
            for r in prefix_max(df, ["k"], "v", exclusive=True).collect()
        }
        assert got == {1: None, 2: 5, 3: 9, 4: 9}
