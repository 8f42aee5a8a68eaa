"""Tests for the round-4 training-pipeline additions: benchmark
decontamination, SemDeDup semantic dedup, sequence packing."""

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from gdal_spark.functions.decontam import (
    decontaminate,
    decontaminated_ids,
    eval_gram_set,
    word_ngrams,
)
from gdal_spark.functions.pack import bin_stats, pack_sequences
from gdal_spark.functions.dedup import semantic_dedup, semantic_dedup_pairs


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------


class TestDecontaminate:
    def _docs(self, spark, rows):
        return spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in rows], "doc_id long, text string"
        )

    def test_word_ngrams_basic(self, spark):
        df = self._docs(spark, [(0, "a b c d"), (1, "a b"), (2, "x"), (3, None)])
        out = {
            r.doc_id: sorted(r.g)
            for r in df.select(
                "doc_id", word_ngrams(F.col("text"), 3).alias("g")
            ).collect()
        }
        assert out[0] == ["a b c", "b c d"]
        assert out[1] == []  # fewer than n tokens
        assert out[2] == []
        assert out[3] == []  # NULL text -> no grams

    def test_ngrams_normalized_and_distinct(self, spark):
        df = self._docs(spark, [(0, "  The   CAT  sat the cat sat ")])
        (row,) = df.select(word_ngrams(F.col("text"), 2).alias("g")).collect()
        # normalized (lowercase, collapsed ws) and distinct
        assert sorted(row.g) == ["cat sat", "sat the", "the cat"]

    def test_contamination_brute_force(self, spark):
        rng = np.random.default_rng(7)
        vocab = [f"w{i}" for i in range(30)]
        docs = [
            (i, " ".join(rng.choice(vocab, size=rng.integers(3, 25)).tolist()))
            for i in range(40)
        ]
        train = self._docs(spark, docs[:30])
        evald = self._docs(spark, docs[30:])
        rep = {
            r.doc_id: r
            for r in decontaminate(train, evald, n=3).collect()
        }

        def grams(t, n=3):
            toks = " ".join(t.lower().split()).split(" ")
            return {
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            } if len(toks) >= n else set()

        eval_grams = set().union(*[grams(t) for _, t in docs[30:]])
        hit_any = False
        for i, t in docs[:30]:
            g = grams(t)
            exp_hit = len(g & eval_grams)
            assert rep[i].n_grams == len(g)
            assert rep[i].n_hit == exp_hit
            assert rep[i].contaminated == (exp_hit > 0)
            hit_any = hit_any or exp_hit > 0
        assert hit_any, "fixture produced no contamination at all"

    def test_hash_grams_same_verdicts(self, spark):
        df = self._docs(
            spark,
            [(0, "alpha beta gamma delta"), (1, "beta gamma delta eps"), (2, "x y z q")],
        )
        evald = self._docs(spark, [(9, "beta gamma delta")])
        plain = {r.doc_id: r.contaminated for r in decontaminate(df, evald, n=3).collect()}
        hashed = {
            r.doc_id: r.contaminated
            for r in decontaminate(df, evald, n=3, hash_grams=True).collect()
        }
        assert plain == hashed == {0: True, 1: True, 2: False}

    def test_keep_set(self, spark):
        df = self._docs(spark, [(0, "a b c d"), (1, "p q r s")])
        evald = self._docs(spark, [(9, "b c d")])
        keep = [r.doc_id for r in decontaminated_ids(df, evald, n=3).collect()]
        assert keep == [1]

    def test_eval_gram_set_distinct(self, spark):
        evald = self._docs(spark, [(0, "a b c"), (1, "a b c")])
        assert eval_gram_set(evald, n=3).count() == 1


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup)
# ---------------------------------------------------------------------------


class TestSemanticDedup:
    def _emb(self, spark, vecs):
        return spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )

    def test_within_cluster_pairs_match_brute_force(self, spark):
        rng = np.random.default_rng(3)
        # two well-separated blobs with planted near-dups inside each
        base_a = rng.normal(size=8) + 10
        base_b = rng.normal(size=8) - 10
        vecs = []
        for k in range(6):
            vecs.append(base_a + rng.normal(scale=0.01, size=8))
        for k in range(6):
            vecs.append(base_b + rng.normal(scale=0.01, size=8))
        df = self._emb(spark, vecs)
        from gdal_spark.functions.simsearch import train_ivf_centroids

        C = train_ivf_centroids(df, "embedding", 2, seed=1)
        pairs = semantic_dedup_pairs(
            df, threshold=0.999, n_clusters=2, centroids=C
        ).collect()

        # brute force with the same assignment
        M = np.stack(vecs)
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        cid = np.argmax(Mn @ C.T, axis=1)
        exp = set()
        for i in range(len(vecs)):
            for j in range(i + 1, len(vecs)):
                if cid[i] == cid[j] and Mn[i] @ Mn[j] >= 0.999:
                    exp.add((i, j))
        got = {(r.id_a, r.id_b) for r in pairs}
        assert got == exp and len(exp) > 0
        for r in pairs:
            assert cid[r.id_a] == r.cluster == cid[r.id_b]

    def test_keep_lowest_id(self, spark):
        v = [1.0, 0.0, 0.0, 0.0]
        df = self._emb(spark, [v, v, v, [0.0, 1.0, 0.0, 0.0]])
        kept = sorted(
            r.vec_id
            for r in semantic_dedup(df, threshold=0.999, n_clusters=2).collect()
        )
        # ids 1,2 are duplicates of 0; the orthogonal vector survives
        assert kept == [0, 3]

    def test_cross_cluster_pair_documented_miss(self, spark):
        # identical vectors FORCED into different clusters are not paired —
        # the documented SemDeDup approximation
        v = np.array([1.0, 0.0])
        C = np.array([[1.0, 0.0], [0.99998, 0.0063245]])
        C = C / np.linalg.norm(C, axis=1, keepdims=True)
        df = self._emb(spark, [v, v * 2.0])
        pairs = semantic_dedup_pairs(
            df, threshold=0.9, n_clusters=2, centroids=C
        ).collect()
        # both land in cluster 0 here (same direction) -> they ARE paired;
        # now separate directions across the boundary
        df2 = self._emb(spark, [[1.0, 0.001], [1.0, 0.012]])
        pairs2 = semantic_dedup_pairs(
            df2, threshold=0.9, n_clusters=2, centroids=C
        ).collect()
        assert len(pairs) == 1
        assert pairs2 == []  # cosine ~1 but different clusters: missed


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------


class TestPackSequences:
    def _docs(self, spark, tokens, n_shards=1):
        rows = [
            Row(doc_id=i, text=" ".join(["tok"] * t) if t is not None else None)
            for i, t in enumerate(tokens)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_greedy_first_fit(self, spark):
        # capacity 10, one shard: [4, 5, 3, 10, 2, 9] ->
        # bin0: 4+5 (3 doesn't fit? 4+5=9, +3=12 >10 -> bin1)
        df = self._docs(spark, [4, 5, 3, 10, 2, 9])
        out = {
            r.doc_id: r
            for r in pack_sequences(df, capacity=10, n_shards=1).collect()
        }
        assert (out[0].bin_id, out[0].bin_offset) == (0, 0)
        assert (out[1].bin_id, out[1].bin_offset) == (0, 4)
        assert (out[2].bin_id, out[2].bin_offset) == (1, 0)
        assert (out[3].bin_id, out[3].bin_offset) == (2, 0)  # 3+10>10 -> new bin
        assert (out[4].bin_id, out[4].bin_offset) == (3, 0)
        assert (out[5].bin_id, out[5].bin_offset) == (4, 0)  # 2+9 > 10
        assert not any(r.overflow for r in out.values())

    def test_oversize_doc_own_bin_overflow(self, spark):
        df = self._docs(spark, [3, 25, 3])
        out = {r.doc_id: r for r in pack_sequences(df, capacity=10, n_shards=1).collect()}
        assert out[1].bin_id == 1 and out[1].overflow and out[1].bin_offset == 0
        assert out[2].bin_id == 2  # oversize doc seals its bin on next arrival
        assert not out[0].overflow and not out[2].overflow

    def test_sharding_independent(self, spark):
        df = self._docs(spark, list(range(1, 17)))
        out = pack_sequences(df, capacity=12, n_shards=4).collect()
        # shard = doc_id % 4; check shards pack independently in id order
        for shard in range(4):
            rows = sorted(
                (r for r in out if r.shard == shard), key=lambda r: r.doc_id
            )
            fill, bin_id = 0, 0
            for r in rows:
                t = r.n_tokens
                if fill > 0 and fill + t > 12:
                    bin_id += 1
                    fill = 0
                assert (r.bin_id, r.bin_offset) == (bin_id, fill)
                fill += t

    def test_null_text_excluded(self, spark):
        df = self._docs(spark, [3, None, 4])
        out = pack_sequences(df, capacity=10, n_shards=1).collect()
        assert sorted(r.doc_id for r in out) == [0, 2]

    def test_bin_stats(self, spark):
        df = self._docs(spark, [4, 5, 9])
        packed = pack_sequences(df, capacity=10, n_shards=1)
        st = {r.bin_id: r for r in bin_stats(packed, 10).collect()}
        assert st[0].n_docs == 2 and st[0].tokens_used == 9
        assert st[1].n_docs == 1 and abs(st[1].fill_frac - 0.9) < 1e-12

    def test_bad_capacity(self, spark):
        with pytest.raises(ValueError):
            pack_sequences(self._docs(spark, [1]), capacity=0)


class TestDedupCorpus:
    """The composed exact -> minhash -> semantic ladder."""

    def _corpus(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again"
        near = base.replace("lazy", "sleepy")
        rows = [
            (0, base),
            (1, base),                      # exact dup of 0
            (2, "  " + base.upper() + " "),  # normalized exact dup of 0
            (3, near),                      # near dup of 0 (high jaccard)
            (4, "completely different text about spark dataframes and shuffles"),
            (5, None),                      # NULL text passes through
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_ladder_without_embeddings(self, spark):
        from gdal_spark.functions.dedup import dedup_corpus

        kept, report = dedup_corpus(
            self._corpus(spark), jaccard_threshold=0.7
        )
        kept_ids = sorted(r.doc_id for r in kept.collect())
        rep = {r.id: r.stage for r in report.collect()}
        assert rep[1] == "exact" and rep[2] == "exact"
        assert rep[3] == "near"
        assert kept_ids == [0, 4, 5]

    def test_ladder_with_embeddings(self, spark):
        from gdal_spark.functions.dedup import dedup_corpus

        docs = spark.createDataFrame(
            [(i, f"unique document number {i} with its own words {i * 7}")
             for i in range(6)],
            "doc_id long, text string",
        )
        v = [1.0, 0.0, 0.0, 0.0]
        w = [0.0, 1.0, 0.0, 0.0]
        emb = spark.createDataFrame(
            [(0, v), (1, v), (2, w), (3, w), (4, [0.0, 0.0, 1.0, 0.0]),
             (5, [0.0, 0.0, 0.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        kept, report = dedup_corpus(
            docs, embeddings=emb, semantic_threshold=0.99, n_clusters=2
        )
        rep = {r.id: r.stage for r in report.collect()}
        kept_ids = sorted(r.doc_id for r in kept.collect())
        # no exact/near dups; semantic drops the higher id of each
        # identical-embedding pair that lands in one cluster
        assert all(s == "semantic" for s in rep.values())
        assert 1 in rep or 3 in rep  # at least one pair co-clusters
        assert 0 in kept_ids and 4 in kept_ids and 5 in kept_ids
        assert len(kept_ids) == 6 - len(rep)


class TestSemanticKeepRule:
    """SemDeDup paper keep rule: within a duplicate group keep the
    example LEAST similar to its cluster centroid."""

    def test_low_centroid_sim_keep(self, spark):
        import numpy as np
        from pyspark.sql import Row

        # one tight group of 3 near-identical vectors; vector 2 is
        # nudged AWAY from the centroid direction -> it is kept
        base = np.array([1.0, 0.0, 0.0, 0.0])
        v0 = base
        v1 = base + np.array([0.0, 1e-4, 0.0, 0.0])
        v2 = base + np.array([0.0, 0.05, 0.05, 0.0])  # least prototypical
        other = np.array([0.0, 0.0, 0.0, 1.0])
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(x) for x in v])
             for i, v in enumerate([v0, v1, v2, other])],
            "vec_id long, embedding array<double>",
        )
        from gdal_spark.functions.simsearch import train_ivf_centroids

        C = train_ivf_centroids(df, "embedding", 2, seed=1)
        from gdal_spark.functions.dedup import semantic_dedup

        kept_paper = sorted(
            r.vec_id for r in semantic_dedup(
                df, threshold=0.99, n_clusters=2, centroids=C,
                keep="low_centroid_sim",
            ).collect()
        )
        kept_id = sorted(
            r.vec_id for r in semantic_dedup(
                df, threshold=0.99, n_clusters=2, centroids=C,
            ).collect()
        )
        assert kept_id == [0, 3]      # lowest id rule
        assert kept_paper == [2, 3]   # least-prototypical rule

    def test_bad_keep_raises(self, spark):
        import pytest
        from pyspark.sql import Row

        df = spark.createDataFrame(
            [Row(vec_id=0, embedding=[1.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        from gdal_spark.functions.dedup import semantic_dedup

        with pytest.raises(ValueError):
            semantic_dedup(df, keep="first")


class TestPackSplitOverflow:
    def _docs(self, spark, tokens):
        rows = [
            Row(doc_id=i, text=" ".join(["tok"] * t))
            for i, t in enumerate(tokens)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_long_doc_chunked(self, spark):
        df = self._docs(spark, [25, 3])
        out = sorted(
            pack_sequences(df, capacity=10, n_shards=1, split_overflow=True).collect(),
            key=lambda r: (r.doc_id, r.chunk_idx),
        )
        d0 = [r for r in out if r.doc_id == 0]
        assert [(r.chunk_idx, r.n_tokens) for r in d0] == [(0, 10), (1, 10), (2, 5)]
        # full chunks fill whole bins; remainder continues greedily with doc 1
        assert [(r.bin_id, r.bin_offset) for r in d0] == [(0, 0), (1, 0), (2, 0)]
        d1 = [r for r in out if r.doc_id == 1][0]
        assert (d1.bin_id, d1.bin_offset) == (2, 5)  # packs after the remainder
        assert not any(r.overflow for r in out)

    def test_totals_preserved_and_capacity_respected(self, spark):
        import numpy as np

        rng = np.random.default_rng(4)
        toks = [int(t) for t in rng.integers(1, 40, size=30)]
        df = self._docs(spark, toks)
        packed = pack_sequences(df, capacity=12, n_shards=4, split_overflow=True)
        rows = packed.collect()
        assert sum(r.n_tokens for r in rows) == sum(toks)
        st = bin_stats(packed, 12).collect()
        assert all(r.tokens_used <= 12 for r in st)

    def test_default_unchanged(self, spark):
        df = self._docs(spark, [25, 3])
        out = {r.doc_id: r for r in pack_sequences(df, capacity=10, n_shards=1).collect()}
        assert out[0].overflow and out[0].chunk_idx == 0


def test_pyfiles_zip_builds_and_imports(tmp_path):
    """tools/make_pyfiles.py produces a --py-files archive from which the
    whole package imports (the spark-submit deployment contract)."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "make_pyfiles.py"), str(tmp_path)],
        capture_output=True, text=True, check=True,
    )
    zip_path = out.stdout.split(":")[0].strip()
    probe = subprocess.run(
        [sys.executable, "-c",
         "import gdal_spark, gdal_spark.operators.warp, "
         "gdal_spark.functions.bpe, gdal_spark.formats, gdal_spark._daemon; "
         "print('ok')"],
        capture_output=True, text=True,
        env={"PYTHONPATH": zip_path, "PATH": "/usr/bin:/bin"},
        cwd=str(tmp_path),
    )
    assert probe.returncode == 0 and probe.stdout.strip() == "ok", probe.stderr
