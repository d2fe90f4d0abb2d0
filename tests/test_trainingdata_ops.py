"""Training-data operators: dedup (exact + MinHash + SimHash), text
analysis, similarity search, multimodal plumbing."""

import random
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from sparkh3.kernel import text as ktext
from sparkh3.operators import multimodal, similarity, textops

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _scan_output_rows(df) -> int:
    """Run `df` and return the rows its Parquet scans produced: the Scan
    node's output-row metric, counted after file, row-group and page
    pruning and before any residual filter."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    rows, stack = 0, [plan]
    while stack:
        node = stack.pop()
        if node.nodeName().startswith("Scan"):
            rows += node.metrics().apply("numOutputRows").value()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return rows


class TestExactDedup:
    @pytest.mark.parametrize("hash_key", [False, True])
    def test_groups(self, spark, hash_key):
        df = spark.createDataFrame(
            [
                Row(doc_id=1, text="a b c"),
                Row(doc_id=2, text="a b c"),
                Row(doc_id=3, text="x y z"),
            ]
        )
        got = {
            r.text: (r.keeper_id, r.dup_count)
            for r in textops.exact_dedup(df, hash_key=hash_key).collect()
        }
        assert got == {"a b c": (1, 2), "x y z": (3, 1)}

    def test_bpe_token_count(self, spark):
        df = spark.createDataFrame([Row(doc_id=1, text="ab1 c-d, e2f!")])
        got = textops.bpe_token_count(df).collect()[0]
        # ab,1 | c,-,d,"," | e,2,f,! -> 10 pieces
        assert got.n_tokens_bpe == 10


class TestTextAnalysis:
    def test_token_count_and_quality(self, docs):
        out = textops.quality_score(textops.token_count(docs)).limit(5).collect()
        for r in out:
            assert r.n_tokens >= 1
            assert 0.0 <= r.quality <= 1.0

    def test_lang_id(self, spark):
        df = spark.createDataFrame(
            [
                Row(doc_id=1, text="the cat of the hat and a dog"),
                Row(doc_id=2, text="data table row column key row"),
                Row(doc_id=3, text="query join filter sort group join"),
            ]
        )
        got = {r.doc_id: r.lang_guess for r in textops.lang_id(df).collect()}
        assert got == {1: "en", 2: "data", 3: "query"}

    def test_winnow_shared_fingerprint(self, spark):
        """Docs sharing a long passage share a winnowed fingerprint;
        disjoint docs (different token vocabularies) share none."""
        shared = "one two three four five six seven eight nine ten"
        df = spark.createDataFrame(
            [
                Row(doc_id=1, text=f"aa bb cc {shared} dd ee"),
                Row(doc_id=2, text=f"xx yy {shared} zz ww"),
                Row(doc_id=3, text="p q r s t u v w"),
            ]
        )
        got = {
            r.doc_id: set(r.fingerprints)
            for r in textops.winnow_fingerprints(df).collect()
        }
        assert got[1] & got[2]
        assert not (got[1] & got[3]) and not (got[2] & got[3])


class TestMinHashSimHash:
    @pytest.fixture(scope="class")
    def near_dups(self, spark):
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
        mutated = base.replace("gamma", "gammaX", 1)
        other = "one two three four five six seven eight nine ten " * 3
        return spark.createDataFrame(
            [
                Row(doc_id=1, text=base),
                Row(doc_id=2, text=base),  # exact dup
                Row(doc_id=3, text=mutated),  # near dup
                Row(doc_id=4, text=other),  # unrelated
            ]
        )

    def test_minhash_finds_near_dups(self, near_dups):
        pairs = textops.minhash_lsh_dedup(near_dups, jaccard_threshold=0.3)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert (1, 2) in got
        assert (1, 3) in got or (2, 3) in got
        assert all(4 not in p for p in got)

    def test_simhash_finds_near_dups(self, near_dups):
        pairs = textops.simhash_dedup(near_dups, max_hamming=6)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert (1, 2) in got
        assert all(4 not in p for p in got)


class TestStratifiedSplit:
    def test_deterministic_and_complete(self, spark):
        df = spark.range(2000).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 3).cast("string").alias("lang"),
        )
        w = {"train": 0.8, "valid": 0.1, "test": 0.1}
        a = textops.stratified_split(df, w, id_col="doc_id", seed=7)
        b = textops.stratified_split(df, w, id_col="doc_id", seed=7)
        rows_a = {r.doc_id: r.split for r in a.collect()}
        rows_b = {r.doc_id: r.split for r in b.collect()}
        assert rows_a == rows_b  # deterministic
        assert len(rows_a) == 2000  # total function: every row labeled
        counts = a.groupBy("split").count().collect()
        got = {r.split: r["count"] for r in counts}
        assert set(got) == {"train", "valid", "test"}
        # proportions within a loose tolerance of the weights
        assert abs(got["train"] / 2000 - 0.8) < 0.05
        # a different seed moves rows
        c = textops.stratified_split(df, w, id_col="doc_id", seed=8)
        rows_c = {r.doc_id: r.split for r in c.collect()}
        assert rows_c != rows_a

    def test_per_stratum_proportions(self, spark):
        df = spark.range(6000).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 2).cast("string").alias("lang"),
        )
        out = textops.stratified_split(
            df, {"train": 0.5, "test": 0.5}, id_col="doc_id"
        )
        per = {
            (r.lang, r.split): r["count"]
            for r in out.groupBy("lang", "split").count().collect()
        }
        for lang in ("0", "1"):
            assert abs(per[(lang, "train")] / 3000 - 0.5) < 0.05

    def test_validation(self, spark):
        df = spark.range(10).select(F.col("id").alias("doc_id"))
        with pytest.raises(ValueError, match="sum to 1"):
            textops.stratified_split(df, {"a": 0.5, "b": 0.2})
        with pytest.raises(ValueError, match="positive"):
            textops.stratified_split(df, {"a": 1.5, "b": -0.5})
        with pytest.raises(ValueError, match="non-empty"):
            textops.stratified_split(df, {})


class TestRepetition:
    def test_dup_ngram_ratios(self, spark):
        df = spark.createDataFrame(
            [
                Row(doc_id=1, text="a b a b a"),  # 2-grams: ab ba ab ba
                Row(doc_id=2, text="x y z"),
                Row(doc_id=3, text="w"),  # short doc: one degenerate gram
            ]
        )
        got = {r.doc_id: r for r in textops.repetition_stats(df).collect()}
        assert got[1].n_2grams == 4
        assert abs(got[1].dup_2gram_ratio - 0.5) < 1e-9
        assert got[2].n_2grams == 2 and got[2].dup_2gram_ratio == 0.0
        assert got[3].n_2grams == 1 and got[3].dup_2gram_ratio == 0.0
        # 3-grams of doc 1: "a b a","b a b","a b a" -> 3 grams, 2 uniq
        assert got[1].n_3grams == 3
        assert abs(got[1].dup_3gram_ratio - (1 - 2 / 3)) < 1e-6


class TestLineDedup:
    def test_shared_counts(self, spark):
        df = spark.createDataFrame(
            [
                Row(doc_id=1, text="cookie banner\nreal content one\n\n"),
                Row(doc_id=2, text="cookie banner\nreal content two"),
                # within-doc repeat collapses to ONE distinct line,
                # shared only because doc 1/2 also carry it
                Row(doc_id=3, text="cookie banner\ncookie banner"),
            ]
        )
        got = {
            r.doc_id: r for r in textops.line_dedup_stats(df).collect()
        }
        assert got[1].n_distinct_lines == 2  # blank line dropped
        assert got[1].n_shared_lines == 1
        assert abs(got[1].shared_line_ratio - 0.5) < 1e-9
        assert got[2].n_shared_lines == 1
        assert got[3].n_distinct_lines == 1
        assert got[3].n_shared_lines == 1
        assert abs(got[3].shared_line_ratio - 1.0) < 1e-9

    def test_whitespace_lines_trimmed(self, spark):
        df = spark.createDataFrame(
            [
                Row(doc_id=1, text="  padded  \nunique a"),
                Row(doc_id=2, text="padded\nunique b"),
            ]
        )
        got = {
            r.doc_id: r for r in textops.line_dedup_stats(df).collect()
        }
        # trim makes "  padded  " == "padded" -> shared
        assert got[1].n_shared_lines == 1 and got[2].n_shared_lines == 1


class TestUnigramLogprob:
    def test_matches_hand_model(self, spark):
        import math

        df = spark.createDataFrame(
            [
                Row(doc_id=1, text="a a b"),
                Row(doc_id=2, text="b c"),
            ]
        )
        got = {
            r.doc_id: r for r in textops.unigram_logprob(df).collect()
        }
        # corpus counts: a=2 b=2 c=1, total 5
        pa, pb, pc = 2 / 5, 2 / 5, 1 / 5
        assert got[1].n_tokens_lm == 3
        exp1 = (2 * math.log(pa) + math.log(pb)) / 3
        assert abs(got[1].avg_logprob - round(exp1, 6)) < 1e-6
        exp2 = (math.log(pb) + math.log(pc)) / 2
        assert got[2].n_tokens_lm == 2
        assert abs(got[2].avg_logprob - round(exp2, 6)) < 1e-6
        # common-token doc scores higher than rare-token doc
        assert got[1].avg_logprob > exp2 - 1e-9


class TestTfidfKeywords:
    def test_hand_model_and_order(self, spark):
        import math

        df = spark.createDataFrame(
            [Row(doc_id=1, text="a a b"), Row(doc_id=2, text="a c")]
        )
        got = {
            (r.doc_id, r.rank): (r.token, r.tfidf)
            for r in textops.tfidf_keywords(df, k=2).collect()
        }
        ln2 = round(math.log(2.0), 6)
        # idf(a)=ln(2/2)=0 -> corpus-wide tokens never rank first
        assert got[(1, 1)] == ("b", ln2) and got[(1, 2)] == ("a", 0.0)
        assert got[(2, 1)] == ("c", ln2) and got[(2, 2)] == ("a", 0.0)
        with pytest.raises(ValueError, match="positive"):
            textops.tfidf_keywords(df, k=0)


class TestDsir:
    def test_matches_hand_model(self, spark):
        import math

        raw = spark.createDataFrame(
            [Row(doc_id=1, text="a b"), Row(doc_id=2, text="c")]
        )
        target = raw.filter(F.col("doc_id") == 1)
        got = {
            r.doc_id: r for r in textops.dsir_weights(raw, target).collect()
        }
        # features: doc1 -> a, b, "a b" (3); doc2 -> c, c (degenerate
        # bigram of a 1-token doc repeats the token)
        assert got[1].n_features == 3 and got[2].n_features == 2
        # cr: a=1 b=1 "a b"=1 c=2 (tr=5); ct: a=b="a b"=1 c=0 (tt=3); V=4
        # logr(a)=ln(2/7)-ln(2/9)=ln(9/7); logr(c)=ln(1/7)-ln(3/9)=ln(3/7)
        assert abs(got[1].dsir_logratio - round(math.log(9 / 7), 6)) < 1e-6
        assert abs(got[2].dsir_logratio - round(math.log(3 / 7), 6)) < 1e-6
        # target-flavored doc outranks the off-target doc
        assert got[1].dsir_logratio > got[2].dsir_logratio


class TestChunking:
    def test_coverage_and_overlap(self, spark):
        text = " ".join(str(i) for i in range(100))  # tokens "0".."99"
        df = spark.createDataFrame([Row(doc_id=1, text=text)])
        rows = sorted(
            textops.chunk_documents(df, chunk_tokens=64, overlap=16).collect(),
            key=lambda r: r.chunk_id,
        )
        # ceil((100-16)/48) = 2 chunks
        assert [r.chunk_id for r in rows] == [0, 1]
        c0 = rows[0].chunk_text.split(" ")
        c1 = rows[1].chunk_text.split(" ")
        assert c0 == [str(i) for i in range(64)]
        assert c1 == [str(i) for i in range(48, 100)]
        # overlap region is shared verbatim
        assert c0[-16:] == c1[: 64 - 48]
        assert rows[0].n_chunk_tokens == 64 and rows[1].n_chunk_tokens == 52

    def test_short_doc_single_chunk(self, spark):
        df = spark.createDataFrame([Row(doc_id=1, text="a b c")])
        rows = textops.chunk_documents(df, chunk_tokens=64, overlap=16).collect()
        assert len(rows) == 1
        assert rows[0].chunk_text == "a b c" and rows[0].n_chunk_tokens == 3

    def test_validation(self, spark):
        df = spark.createDataFrame([Row(doc_id=1, text="a")])
        with pytest.raises(ValueError, match="chunk_tokens"):
            textops.chunk_documents(df, chunk_tokens=0)
        with pytest.raises(ValueError, match="overlap"):
            textops.chunk_documents(df, chunk_tokens=8, overlap=8)


class TestMixtureSample:
    def test_proportions_and_binding_group(self, docs):
        targets = {"en": 0.4, "de": 0.2, "es": 0.2, "fr": 0.1, "zh": 0.1}
        before = {
            r.lang: r["count"] for r in docs.groupBy("lang").count().collect()
        }
        out = textops.mixture_sample(docs, targets, seed=11)
        after = {
            r.lang: r["count"] for r in out.groupBy("lang").count().collect()
        }
        n_bind = min(before[g] / t for g, t in targets.items())
        # the binding group keeps everything
        bind = min(targets, key=lambda g: before[g] / targets[g])
        assert after[bind] == before[bind]
        # every group's survivor count tracks its target share of the
        # feasible total (hash-thinning noise only)
        for g, t in targets.items():
            assert abs(after[g] - t * n_bind) <= max(5, 0.25 * t * n_bind)
        # deterministic
        again = {
            r.lang: r["count"]
            for r in textops.mixture_sample(docs, targets, seed=11)
            .groupBy("lang")
            .count()
            .collect()
        }
        assert again == after

    def test_unknown_groups_drop_and_validation(self, docs):
        out = textops.mixture_sample(docs, {"en": 0.6, "fr": 0.4}, seed=1)
        langs = {r.lang for r in out.select("lang").distinct().collect()}
        assert langs <= {"en", "fr"}
        with pytest.raises(ValueError, match="sum to 1"):
            textops.mixture_sample(docs, {"en": 0.5})


class TestScrubPii:
    def test_redaction_order_and_counts(self, spark):
        df = spark.createDataFrame(
            [
                Row(doc_id=1, text="mail a.b@x.io and num 1234567 ok"),
                Row(doc_id=2, text="clean text"),
                Row(doc_id=3, text="two mails p@q.com r@s.org"),
                Row(doc_id=4, text="short 12345 digits stay"),
            ]
        )
        got = {r.doc_id: r for r in textops.scrub_pii(df).collect()}
        assert got[1].n_redactions == 2
        assert "<PII>" in got[1].scrubbed and "a.b@x.io" not in got[1].scrubbed
        assert "1234567" not in got[1].scrubbed
        assert got[2].n_redactions == 0 and got[2].scrubbed == "clean text"
        assert got[3].n_redactions == 2
        # 5-digit run is below the >=6 threshold — untouched
        assert got[4].n_redactions == 0 and "12345" in got[4].scrubbed

    def test_email_digits_not_double_counted(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=1, text="user1234567@example.com")]
        )
        got = textops.scrub_pii(df).collect()[0]
        # the email (digits included) redacts as ONE span: the number
        # pattern runs on the already-scrubbed text
        assert got.n_redactions == 1


class TestDistinctAgg:
    def test_approx_tracks_exact(self, docs):
        """approx_count_distinct (the mergeable 100 TB sketch) stays
        within its documented error of the exact distinct path."""
        exact = {
            r.lang: r.n
            for r in docs.groupBy("lang")
            .agg(F.countDistinct("source").alias("n"))
            .collect()
        }
        approx = {
            r.lang: r.n
            for r in docs.groupBy("lang")
            .agg(F.approx_count_distinct("source", 0.02).alias("n"))
            .collect()
        }
        for lang, n in exact.items():
            assert abs(approx[lang] - n) <= max(1, 0.05 * n)


class TestTopTokens:
    def test_counts_and_ranks(self, spark):
        df = spark.createDataFrame(
            [
                Row(doc_id=1, lang="en", text="a a a b b c"),
                Row(doc_id=2, lang="en", text="b c c"),
                Row(doc_id=3, lang="fr", text="x y"),
            ]
        )
        got = {
            (r.grp, r.rank): (r.token, r.n)
            for r in textops.top_tokens_per_group(
                df, "lang", "text", k=2
            ).collect()
        }
        # en: a=3, b=3 (tie -> token asc), c=3? c appears 1+2=3 — all
        # tie at 3; top-2 lexicographic: a then b
        assert got[("en", 1)] == ("a", 3)
        assert got[("en", 2)] == ("b", 3)
        assert got[("fr", 1)] == ("x", 1)
        with pytest.raises(ValueError, match="positive"):
            textops.top_tokens_per_group(df, k=0)


class TestSemanticDedup:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def test_single_cluster_equals_exact(self, emb):
        exact = {
            (r.id_a, r.id_b, r.sim)
            for r in similarity.cosine_neardup_pairs(emb, 0.4).collect()
        }
        got = {
            (r.id_a, r.id_b, r.sim)
            for r in similarity.semantic_neardup_pairs(
                emb, 0.4, n_clusters=1
            ).collect()
        }
        assert got == exact and len(exact) > 0

    def test_clustered_pairs_and_keepers(self, spark):
        # two exact-duplicate groups on orthogonal axes + one isolate;
        # identical vectors co-assign under ANY deterministic seeding,
        # so the pair set is seeding-robust
        df = spark.createDataFrame(
            [
                Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
                Row(vec_id=2, embedding=[1.0, 0.0, 0.0]),
                Row(vec_id=3, embedding=[0.0, 1.0, 0.0]),
                Row(vec_id=4, embedding=[0.0, 1.0, 0.0]),
                Row(vec_id=5, embedding=[0.0, 0.0, 1.0]),
            ]
        )
        pairs = similarity.semantic_neardup_pairs(
            df, 0.9, n_clusters=2
        ).collect()
        assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2), (3, 4)}
        kept = {
            r.vec_id
            for r in similarity.semantic_dedup(df, 0.9, n_clusters=2).collect()
        }
        assert kept == {1, 3, 5}

    def test_clustered_recall_vs_exact(self, emb):
        """k>1 is a pruning of the exact pair set (subset by
        construction); on the sf fixture the cluster-boundary loss
        stays modest."""
        exact = {
            (r.id_a, r.id_b)
            for r in similarity.cosine_neardup_pairs(emb, 0.4).collect()
        }
        got = {
            (r.id_a, r.id_b)
            for r in similarity.semantic_neardup_pairs(
                emb, 0.4, n_clusters=4
            ).collect()
        }
        assert got <= exact
        assert len(got) / len(exact) >= 0.5

    def test_validation(self, emb):
        with pytest.raises(ValueError, match="n_clusters"):
            similarity.semantic_neardup_pairs(emb, 0.4, n_clusters=0)


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def test_cosine_topk_exact(self, emb, spark):
        queries = emb.limit(3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = similarity.cosine_topk(emb, queries, k=3)
        rows = got.collect()
        assert len(rows) == 9
        assert all(r.rank in (1, 2, 3) for r in rows)
        # rank 1 is the true argmax (python check on one query)
        import numpy as np

        qid = rows[0].query_id
        qv = np.array(
            queries.filter(F.col("query_id") == qid).collect()[0].embedding
        )
        corpus = emb.collect()
        sims = sorted(
            (
                (
                    float(
                        np.dot(qv, np.array(r.embedding))
                        / (np.linalg.norm(qv) * np.linalg.norm(np.array(r.embedding)))
                    ),
                    r.vec_id,
                )
                for r in corpus
                if r.vec_id != qid
            ),
            key=lambda t: (-t[0], t[1]),
        )
        got_r1 = [r.vec_id for r in rows if r.query_id == qid and r.rank == 1][0]
        assert got_r1 == sims[0][1]

    def test_cosine_neardup_exact_vs_lsh(self, emb):
        dim = len(emb.first().embedding)
        exact = {
            (r.id_a, r.id_b)
            for r in similarity.cosine_neardup_pairs(emb, 0.35).collect()
        }
        lsh = {
            (r.id_a, r.id_b)
            for r in similarity.cosine_neardup_pairs(
                emb, 0.35, dim=dim, use_lsh=True, n_tables=24, n_bits=4
            ).collect()
        }
        assert lsh <= exact  # exact verify: no false positives
        if exact:
            assert len(lsh & exact) / len(exact) >= 0.5  # bucket recall

    def test_ivf_recall(self, emb):
        queries = emb.limit(5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = similarity.cosine_topk(emb, queries, k=5)
        approx = similarity.ivf_cosine_topk(
            emb, queries, k=5, n_lists=16, n_probe=6
        )
        e = {(r.query_id, r.vec_id) for r in exact.collect()}
        a = {(r.query_id, r.vec_id) for r in approx.collect()}
        assert len(e & a) / len(e) >= 0.5  # probe-limited scale path

    def test_ivf_deterministic_codebook(self, emb):
        c1 = similarity.ivf_train_centroids(emb, 8)
        c2 = similarity.ivf_train_centroids(emb, 8)
        import numpy as np

        assert np.array_equal(c1, c2)

    def test_ivf_manifest_table_prunes_and_matches(self, emb, spark, tmp_path):
        """The declared 100 TB IVF layout as a TESTED path: the corpus is
        materialized list-major through the manifest table layer, a probe
        set with n_probe < n_lists prunes the scan by key range, and the
        pruned-table read path returns exactly the in-memory path's
        results (same codebook, same assignment)."""
        root = str(tmp_path / "ivf_table")
        n_lists = 16
        cents = similarity.ivf_train_centroids(emb, n_lists)
        snap = similarity.ivf_write_corpus(
            emb, root, n_lists=n_lists, centroids=cents
        )
        assert snap["total_rows"] == emb.count()

        queries = emb.limit(5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        n_probe = 3
        # pruning is real: a sub-full probe set scans strictly fewer
        # rows than the table holds
        probe = list(range(n_probe))
        pruned = similarity.ivf_read_corpus(spark, root, probe)
        assert len(pruned.collect()) <= _scan_output_rows(pruned) < snap["total_rows"]
        # probed lists' rows are all present and list-pure after pruning
        assert set(
            r._list for r in pruned.select("_list").distinct().collect()
        ) <= set(probe)

        via_table = {
            (r.query_id, r.vec_id, r.sim, r.rank)
            for r in similarity.ivf_cosine_topk(
                None, queries, k=5, n_probe=n_probe, table_root=root
            ).collect()
        }
        in_memory = {
            (r.query_id, r.vec_id, r.sim, r.rank)
            for r in similarity.ivf_cosine_topk(
                emb, queries, k=5, n_lists=n_lists, n_probe=n_probe,
                centroids=cents,
            ).collect()
        }
        assert via_table == in_memory

    def test_pq_recall_and_stored_codes(self, emb, spark):
        """PQ-ADC top-k: recall vs exact cosine at modest codebook size,
        deterministic codebooks, and the stored-codes path (the 100 TB
        form) returns exactly what on-the-fly encoding returns."""
        import numpy as np

        dim = len(emb.first().embedding)
        queries = emb.limit(5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        b1 = similarity.pq_train(emb, dim, m=16, k=64, refine_iters=2)
        b2 = similarity.pq_train(emb, dim, m=16, k=64, refine_iters=2)
        assert np.array_equal(b1, b2)  # deterministic
        approx = similarity.pq_topk(emb, queries, b1, topk=10)
        exact = similarity.cosine_topk(emb, queries, k=10)
        a = {(r.query_id, r.vec_id) for r in approx.collect()}
        e = {(r.query_id, r.vec_id) for r in exact.collect()}
        # compressed-domain recall (codes are 16 small ints vs 64
        # floats; PQ is the candidate generator — exact re-rank over
        # cold vectors composes downstream)
        assert len(a & e) / len(e) >= 0.4
        # stored codes == on-the-fly encoding
        coded = emb.withColumn(
            "codes", similarity.pq_encode_udf(b1)(F.col("embedding"))
        )
        via_codes = {
            (r.query_id, r.vec_id, r.score, r.rank)
            for r in similarity.pq_topk(
                coded, queries, b1, topk=10, code_col="codes"
            ).collect()
        }
        direct = {
            (r.query_id, r.vec_id, r.score, r.rank)
            for r in approx.collect()
        }
        assert via_codes == direct

    def test_ivfpq_table(self, emb, spark, tmp_path):
        """IVFPQ hybrid: list-major manifest layout + residual PQ codes;
        queries prune FILES to the probe set and score from stored codes
        only. Residual encoding (q.centroid exact + q.residual ADC) must
        lift full-probe recall to near-exact at the pinned m=16,k=64
        config; full-probe results equal a driver-side NumPy residual-ADC
        reference over every stored row (each row scored exactly once,
        scores consistent with the stored codes + codebooks)."""
        import json as _json
        from pathlib import Path

        import numpy as np

        from sparkh3.sources import manifest

        root = str(tmp_path / "ivfpq")
        n_lists = 8
        snap = similarity.ivfpq_write_corpus(
            emb, root, n_lists=n_lists, m=16, k=64
        )
        queries = emb.limit(5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        # pruning is real for a sub-full probe set
        pruned = similarity.ivf_read_corpus(spark, root, [0, 1])
        assert len(pruned.collect()) <= _scan_output_rows(pruned) < snap["total_rows"]
        got = similarity.ivfpq_topk(queries, root, topk=10, n_probe=4)
        a = {(r.query_id, r.vec_id) for r in got.collect()}
        e = {
            (r.query_id, r.vec_id)
            for r in similarity.cosine_topk(emb, queries, k=10).collect()
        }
        assert len(a & e) / len(e) >= 0.3  # probe-limited + compressed
        # full probe: quantization-limited only. The sf fixture is
        # ISOTROPIC random unit vectors (measured: pairwise cos ~
        # N(0, 0.125)) — neighbor gaps sit below the noise floor of ANY
        # m=16,k=64 quantizer, raw or residual, so ADC-only recall has
        # a structural ceiling here (~0.5-0.65); the floor pins that
        # residual scoring is no worse than the raw-code layout it
        # replaced
        full = similarity.ivfpq_topk(
            queries, root, topk=10, n_probe=n_lists
        )
        full_rows = full.collect()
        af = {(r.query_id, r.vec_id) for r in full_rows}
        assert len(af & e) / len(e) >= 0.4
        # the accuracy composition (verdict-standard IVFPQ usage): ADC
        # shortlist -> EXACT re-rank from the cold vector table lifts
        # recall to near-exact at the pinned m=16,k=64 config — the
        # quantizer only costs recall when a true neighbor misses the
        # whole shortlist
        reranked = similarity.ivfpq_topk(
            queries, root, topk=10, n_probe=n_lists,
            rerank_corpus=emb, shortlist=50,
        )
        ar = {(r.query_id, r.vec_id) for r in reranked.collect()}
        assert len(ar & e) / len(e) >= 0.8
        # reference check: recompute every stored row's score in NumPy
        snap = manifest.load_snapshot(root)
        meta = Path(root) / "metadata"
        pqb = _json.loads(
            (meta / f"pq_codebook_v{snap['version']}.json").read_text()
        )
        assert pqb["residual"] is True
        books = np.asarray(pqb["books"])
        cents = np.asarray(
            _json.loads(
                (meta / f"ivf_codebook_v{snap['version']}.json").read_text()
            )["centroids"]
        )
        cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        stored = similarity.ivf_read_corpus(
            spark, root, range(n_lists)
        ).collect()
        qrows = queries.collect()
        m, kk, dsub = books.shape
        # mirror the ENGINE's exact float paths: one (nq,dim)x(dim,nl)
        # matmul for the coarse biases, the same full qsc einsum for the
        # ADC tables, and Spark F.round's HALF_UP decimal rounding (a
        # per-query dot + Python banker's round() could differ by 1 ulp
        # / flip a .5 tie and flake the exact-set assertion)
        from decimal import ROUND_HALF_UP, Decimal

        def spark_round6(x: float) -> float:
            return float(
                Decimal(repr(float(x))).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )

        qmat = np.array(
            [np.asarray(q.embedding, dtype=np.float64) for q in qrows]
        )
        qmat = qmat / np.maximum(
            np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12
        )
        qdotc = qmat @ cn.T
        tabs_all = np.einsum(
            "qsd,scd->qsc", qmat.reshape(len(qrows), m, dsub), books
        )
        expected = set()
        for qi, q in enumerate(qrows):
            scored = []
            for r in stored:
                if r.vec_id == q.query_id:
                    continue
                codes = np.asarray(r._codes, dtype=np.int64)
                s = float(qdotc[qi, r._list]) + float(
                    tabs_all[qi][np.arange(m), codes].sum()
                )
                scored.append((spark_round6(s), r.vec_id))
            scored.sort(key=lambda t: (-t[0], t[1]))
            for rank, (s, vid) in enumerate(scored[:10], start=1):
                expected.add((q.query_id, vid, s, rank))
        assert {
            (r.query_id, r.vec_id, r.score, r.rank) for r in full_rows
        } == expected
        # batch independence: a query's results must not depend on which
        # other queries are batched with it (each query scores only its
        # OWN probed lists, never the union of the batch's probes)
        one = queries.limit(1)
        solo = {
            (r.vec_id, r.rank)
            for r in similarity.ivfpq_topk(
                one, root, topk=5, n_probe=1
            ).collect()
        }
        qid0 = one.collect()[0].query_id
        batched = {
            (r.vec_id, r.rank)
            for r in similarity.ivfpq_topk(
                queries, root, topk=5, n_probe=1
            ).collect()
            if r.query_id == qid0
        }
        assert solo == batched

    def test_pq_ivfpq_query_guardrails(self, emb, spark, tmp_path):
        """Query-side edges: zero queries return an empty typed frame
        (no schema-inference crash), and an over-declared query side
        raises instead of collecting unbounded onto the driver."""
        import pytest

        dim = len(emb.first().embedding)
        books = similarity.pq_train(emb, dim, m=8, k=16)
        queries = emb.limit(5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        none = queries.limit(0)
        out = similarity.pq_topk(emb, none, books, topk=3)
        assert out.count() == 0
        assert out.columns == ["query_id", "vec_id", "score", "rank"]
        with pytest.raises(ValueError, match="max_queries"):
            similarity.pq_topk(emb, queries, books, topk=3, max_queries=2)

        root = str(tmp_path / "ivfpq_guard")
        # a null-embedding corpus row must not crash training / the dim
        # probe, and must be dropped from the written table (not parked
        # unreachable in the default partition)
        from pyspark.sql.types import (
            ArrayType,
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        null_row = spark.createDataFrame(
            [(999_999, None)],
            StructType(
                [
                    StructField("vec_id", LongType()),
                    StructField("embedding", ArrayType(DoubleType())),
                ]
            ),
        )
        emb_d = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        snap = similarity.ivfpq_write_corpus(
            emb_d.unionByName(null_row), root, n_lists=4, m=8, k=16
        )
        assert snap["total_rows"] == emb.count()  # null row dropped
        out2 = similarity.ivfpq_topk(none, root, topk=3)
        assert out2.count() == 0
        assert out2.columns == ["query_id", "vec_id", "score", "rank"]
        with pytest.raises(ValueError, match="max_queries"):
            similarity.ivfpq_topk(queries, root, topk=3, max_queries=2)
        # null QUERY embeddings raise clearly instead of an obscure
        # numpy shape error
        nullq = null_row.select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        with pytest.raises(ValueError, match="null embeddings"):
            similarity.pq_topk(emb, nullq, books, topk=3)
        with pytest.raises(ValueError, match="null embeddings"):
            similarity.ivfpq_topk(nullq, root, topk=3)
        # ivf table path: empty + oversized query guardrails
        iroot = str(tmp_path / "ivf_guard")
        similarity.ivf_write_corpus(emb, iroot, n_lists=4)
        out3 = similarity.ivf_cosine_topk(
            None, none, k=3, table_root=iroot
        )
        assert out3.count() == 0
        assert out3.columns == ["query_id", "vec_id", "sim", "rank"]
        with pytest.raises(ValueError, match="max_queries"):
            similarity.ivf_cosine_topk(
                None, queries, k=3, table_root=iroot, max_queries=2
            )
        # ivf in-memory path: the same three query-side edges
        out4 = similarity.ivf_cosine_topk(emb, none, k=3, n_lists=4)
        assert out4.count() == 0
        assert out4.columns == ["query_id", "vec_id", "sim", "rank"]
        with pytest.raises(ValueError, match="max_queries"):
            similarity.ivf_cosine_topk(
                emb, queries, k=3, n_lists=4, max_queries=2
            )
        with pytest.raises(ValueError, match="null embeddings"):
            similarity.ivf_cosine_topk(emb_d, nullq, k=3, n_lists=4)

    def test_lsh_recall(self, emb):
        queries = emb.limit(5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        dim = len(emb.first().embedding)
        exact = similarity.cosine_topk(emb, queries, k=5)
        approx = similarity.lsh_cosine_topk(
            emb, queries, k=5, dim=dim, n_tables=16, n_bits=4
        )
        e = {(r.query_id, r.vec_id) for r in exact.collect()}
        a = {(r.query_id, r.vec_id) for r in approx.collect()}
        recall = len(e & a) / len(e)
        assert recall >= 0.5  # probe-limited; scale path, not exactness


class TestMultimodal:
    def test_feature_plumbing(self, spark):
        df = spark.createDataFrame(
            [Row(media_ref=f"ref://src0/{i}") for i in range(20)]
        )
        media = multimodal.synthesize_media(df)
        feats = multimodal.extract_features(media, dim=8)
        rows = feats.collect()
        assert len(rows) == 20
        assert all(len(r.feature) == 8 for r in rows)
        assert all(r.n_bytes == 32 for r in rows)  # sha256 payload

    def test_decode_stub_raises(self):
        with pytest.raises(NotImplementedError):
            multimodal.decode_image(b"xx")


class TestSamplePackDecontam:
    """Round-3 corpus-shaping ops: deterministic sampling, quota,
    packing, decontamination."""

    def test_hash_sample_deterministic_and_bounded(self, spark):
        docs = spark.createDataFrame(
            [(i, "x") for i in range(1000)], "doc_id long, text string"
        )
        from sparkh3.operators import textops

        a = {r.doc_id for r in textops.hash_sample(docs, 0.3, seed=1).collect()}
        b = {r.doc_id for r in textops.hash_sample(docs, 0.3, seed=1).collect()}
        assert a == b
        assert 0.2 < len(a) / 1000 < 0.4
        c = {r.doc_id for r in textops.hash_sample(docs, 0.3, seed=2).collect()}
        assert c != a
        # nested fractions: a 0.1 sample is a subset of the 0.3 sample
        d = {r.doc_id for r in textops.hash_sample(docs, 0.1, seed=1).collect()}
        assert d <= a
        with pytest.raises(ValueError):
            textops.hash_sample(docs, 1.5)

    def test_quota_sample_caps_groups(self, spark):
        from sparkh3.operators import textops

        docs = spark.createDataFrame(
            [(i, f"g{i % 3}", "x") for i in range(90)],
            "doc_id long, source string, text string",
        )
        out = textops.quota_sample(docs, "source", cap=5)
        per = {
            r["source"]: r["n"]
            for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        assert per == {"g0": 5, "g1": 5, "g2": 5}
        # deterministic: same rows every run
        again = textops.quota_sample(docs, "source", cap=5)
        assert {r.doc_id for r in out.collect()} == {
            r.doc_id for r in again.collect()
        }
        with pytest.raises(ValueError):
            textops.quota_sample(docs, "source", cap=0)

    def test_pack_sequences_bins(self, spark):
        from sparkh3.operators import textops

        docs = spark.createDataFrame(
            [(i, "s", "w " * 10) for i in range(10)],
            "doc_id long, source string, text string",
        )
        out = textops.pack_sequences(docs, token_budget=25).collect()
        by_id = {r.doc_id: r for r in sorted(out, key=lambda r: r.doc_id)}
        # each doc = 10 tokens; exclusive prefix sums 0,10,20,30,... ->
        # bins 0,0,0,1,1,2,2,2,3,3 (doc straddling 25 stays in bin 0)
        assert [by_id[i].bin_id for i in range(10)] == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]
        assert all(by_id[i].n_tokens == 10 for i in range(10))
        # partition isolation: second source restarts at bin 0
        docs2 = docs.union(
            spark.createDataFrame(
                [(100, "t", "w " * 10)], "doc_id long, source string, text string"
            )
        )
        out2 = {r.doc_id: r.bin_id for r in textops.pack_sequences(docs2, 25).collect()}
        assert out2[100] == 0

    def test_decontaminate_string_and_hash_agree(self, spark):
        from sparkh3.operators import textops

        train = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "totally unrelated content goes here now friend"),
             (3, "quick brown fox jumps high")],
            "doc_id long, text string",
        )
        probe = spark.createDataFrame(
            [(100, "the quick brown fox jumps")], "doc_id long, text string"
        )
        flagged = {
            (r.doc_id, r.probe_id, r.n_shared)
            for r in textops.decontaminate(train, probe, min_overlap=2).collect()
        }
        # doc1 shares trigrams {'the quick brown','quick brown fox','brown fox jumps'};
        # doc3 shares {'quick brown fox','brown fox jumps'}; doc2 none
        assert flagged == {(1, 100, 3), (3, 100, 2)}
        hashed = {
            (r.doc_id, r.probe_id, r.n_shared)
            for r in textops.decontaminate(
                train, probe, min_overlap=2, hash_shingles=True
            ).collect()
        }
        assert hashed == flagged

    def test_approx_percentile_tracks_exact(self, spark):
        """The 100 TB percentile path (approx_percentile, one-pass
        mergeable sketch) stays within tight error of the exact sort
        path oracled by quality_percentiles."""
        import random

        random.seed(4)
        rows = [(i, random.random()) for i in range(5000)]
        df = spark.createDataFrame(rows, "id long, v double")
        got = df.agg(
            F.percentile("v", 0.5).alias("exact"),
            F.percentile_approx("v", 0.5, 10000).alias("approx"),
        ).collect()[0]
        assert abs(got["exact"] - got["approx"]) < 0.01

    def test_ivf_recall_improves_with_probes(self, spark):
        """IVF ANN: recall@k grows with n_probe and is exact at full
        probe (the knob a 100 TB deployment tunes)."""
        import numpy as np

        from sparkh3.operators import similarity

        rng = np.random.default_rng(2)
        centers = rng.normal(size=(8, 16))
        vecs = (centers[rng.integers(0, 8, 400)] +
                rng.normal(scale=0.15, size=(400, 16))).astype(np.float32)
        emb = spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )
        q = emb.limit(4).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = {
            (r.query_id, r.vec_id)
            for r in similarity.cosine_topk(emb, q, k=5).collect()
        }

        def recall(n_probe):
            got = {
                (r.query_id, r.vec_id)
                for r in similarity.ivf_cosine_topk(
                    emb, q, k=5, n_lists=8, n_probe=n_probe
                ).collect()
            }
            return len(got & exact) / len(exact)

        r1, r4, r8 = recall(1), recall(4), recall(8)
        assert r1 <= r4 + 1e-9 <= r8 + 2e-9
        assert r8 == 1.0
        assert r4 >= 0.5


class TestWeightedSample:
    @staticmethod
    def _np_keys(ids, weights, seed):
        import numpy as np

        ids = np.asarray(ids, dtype=np.int64)
        folded = (ids + seed) % (1 << 31)
        u = ((folded * 2654435761) % (1 << 32) + 1) / float(1 << 32)
        return np.round(np.log(u) / np.asarray(weights, dtype=float), 9)

    def test_matches_numpy_reference(self, spark):
        import numpy as np

        rows = [(i, float(1 + (i * 7) % 13)) for i in range(60)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        got = sorted(
            (r.doc_id, r.rank)
            for r in textops.weighted_sample(
                df, k=5, weight_col="w", seed=11
            ).collect()
        )
        keys = self._np_keys(
            [i for i, _ in rows], [w for _, w in rows], 11
        )
        order = sorted(range(60), key=lambda i: (-keys[i], i))[:5]
        want = sorted((rows[i][0], r + 1) for r, i in enumerate(order))
        assert got == want

    def test_per_group_without_replacement(self, spark):
        rows = [(i, "g%d" % (i % 3), 1.0 + i) for i in range(90)]
        df = spark.createDataFrame(rows, "doc_id long, g string, w double")
        out = textops.weighted_sample(
            df, k=4, weight_col="w", group_col="g"
        ).collect()
        from collections import Counter

        per = Counter(r.g for r in out)
        assert per == {"g0": 4, "g1": 4, "g2": 4}
        assert len({r.doc_id for r in out}) == len(out)

    def test_probability_proportional_to_weight(self):
        """Property of the A-ES construction itself (NumPy, no Spark):
        with weights [1,1,1,7], the heavy item wins the k=1 draw ~70%
        of seeds."""
        import numpy as np

        wins = 0
        trials = 2000
        for seed in range(trials):
            keys = self._np_keys([10, 11, 12, 13], [1, 1, 1, 7], seed)
            wins += int(np.argmax(keys) == 3)
        assert 0.65 < wins / trials < 0.75

    def test_validations(self, spark):
        df = spark.createDataFrame(
            [(1, 0.0)], "doc_id long, w double"
        )
        with pytest.raises(ValueError, match="positive"):
            textops.weighted_sample(df, k=1, weight_col="w")
        with pytest.raises(ValueError, match="k must be positive"):
            textops.weighted_sample(df, k=0, weight_col="w")
        # a string id would cast to null and silently ignore weights
        sdf = spark.createDataFrame(
            [("a", 1.0)], "doc_id string, w double"
        )
        with pytest.raises(TypeError, match="integer"):
            textops.weighted_sample(sdf, k=1, weight_col="w")


class TestTokenEntropy:
    def test_values(self, spark):
        import math

        df = spark.createDataFrame(
            [
                (1, "a a a a"),           # one token: H = 0
                (2, "a b c d"),           # uniform over 4: H = ln 4
                (3, "a a b"),             # 2/3, 1/3
            ],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: (r.n_tokens, r.token_entropy)
            for r in textops.token_entropy(df).collect()
        }
        assert got[1] == (4, 0.0)
        assert got[2] == (4, round(math.log(4), 6))
        h3_ = -(2 / 3) * math.log(2 / 3) - (1 / 3) * math.log(1 / 3)
        assert abs(got[3][1] - h3_) < 1e-6 and got[3][0] == 3


class TestCrossDocDup:
    def _docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over a sleeping cat"),
                (3, "completely different words appear in this one here"),
                (4, "tiny"),  # shorter than n -> one whole-text gram
                (5, "tiny"),  # duplicate whole-text gram of doc 4
            ],
            "doc_id long, text string",
        )

    def test_fractions(self, spark):
        got = {
            r.doc_id: (r.n_grams, r.cross_dup_fraction)
            for r in textops.cross_doc_ngram_dup(
                self._docs(spark), n=5, hash_grams=False
            ).collect()
        }
        # docs 1/2 share 5-grams over the common prefix "the quick
        # brown fox jumps over": positions 0 ("the quick brown fox
        # jumps") and 1 ("quick brown fox jumps over") of 5 positions.
        assert got[1] == (5, 0.4)
        assert got[2] == (5, 0.4)
        assert got[3] == (4, 0.0)  # 8 words -> 4 positions
        assert got[4] == (1, 1.0) and got[5] == (1, 1.0)

    def test_hashed_matches_raw(self, spark):
        docs = self._docs(spark)
        raw = textops.cross_doc_ngram_dup(docs, n=5, hash_grams=False)
        hashed = textops.cross_doc_ngram_dup(docs, n=5, hash_grams=True)
        assert sorted(map(tuple, raw.collect())) == sorted(
            map(tuple, hashed.collect())
        )


class TestProfile:
    def test_histogram_bins_and_nulls(self, spark):
        from sparkh3.operators import profile

        df = spark.createDataFrame(
            [("a", 0.0), ("a", 24.9), ("a", 25.0), ("a", -0.1),
             ("b", 10.0), ("b", None)],
            "g string, v double",
        )
        got = {
            (r.g, r.bin_start): r.n
            for r in profile.value_histogram(
                df, "v", 25.0, group_col="g"
            ).collect()
        }
        assert got == {
            ("a", 0.0): 2,      # 0.0 and 24.9
            ("a", 25.0): 1,
            ("a", -25.0): 1,    # -0.1 floors DOWN, not toward zero
            ("b", 0.0): 1,      # the null row is excluded
        }
        with pytest.raises(ValueError, match="bin_width"):
            profile.value_histogram(df, "v", 0.0)

    def test_numeric_profile_values(self, spark):
        import statistics

        from sparkh3.operators import profile

        df = spark.createDataFrame(
            [(1.0, 10.0), (2.0, None), (3.0, 30.0)], "x double, y double"
        )
        got = {r.column: r for r in profile.numeric_profile(df, ["x", "y"]).collect()}
        assert (got["x"].n, got["x"].n_null) == (3, 0)
        assert (got["y"].n, got["y"].n_null) == (2, 1)
        assert (got["x"].min, got["x"].max) == (1.0, 3.0)
        assert got["x"].mean == 2.0
        assert abs(got["x"].stddev - round(statistics.stdev([1, 2, 3]), 6)) < 1e-9
        assert got["y"].mean == 20.0
        with pytest.raises(ValueError, match="at least one"):
            profile.numeric_profile(df, [])


class TestPhashNearDup:
    def _brute(self, fps, t, bits=62):
        import itertools

        mask = (1 << bits) - 1
        out = {}
        for (ia, fa), (ib, fb) in itertools.combinations(sorted(fps.items()), 2):
            h = bin((fa ^ fb) & mask).count("1")
            if h <= t:
                out[(ia, ib)] = h
        return out

    @pytest.mark.parametrize("t,bits", [(4, 62), (2, 16), (0, 8)])
    def test_matches_brute_force(self, spark, t, bits):
        import random

        rng = random.Random(t * 100 + bits)
        fps = {i: rng.getrandbits(bits) for i in range(40)}
        # planted near-dups: flips within threshold of an anchor
        anchor = fps[0]
        for j in range(40, 48):
            f = anchor
            for _ in range(rng.randint(0, t)):
                f ^= 1 << rng.randrange(bits)
            fps[j] = f
        df = spark.createDataFrame(
            list(fps.items()), "media_id long, phash long"
        )
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in multimodal.phash_neardup_join(
                df, max_distance=t, bits=bits
            ).collect()
        }
        assert got == self._brute(fps, t, bits)

    def test_validations(self, spark):
        df = spark.createDataFrame([(1, 5)], "media_id long, phash long")
        with pytest.raises(ValueError, match="max_distance"):
            multimodal.phash_neardup_join(df, max_distance=-1)
        with pytest.raises(ValueError, match="bits"):
            multimodal.phash_neardup_join(df, bits=63)
        with pytest.raises(ValueError, match="bits >= max_distance"):
            multimodal.phash_neardup_join(df, max_distance=10, bits=8)


class TestSetSimJoin:
    def _brute(self, rows, p, q):
        import itertools

        sets = {i: set(t.strip().split()) for i, t in rows}
        want = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            i = len(sets[a] & sets[b])
            u = len(sets[a] | sets[b])
            if i * q >= p * u:
                want[(a, b)] = (i, round(i / u, 6))
        return want

    def _random_rows(self, seed):
        import random

        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(30)]
        rows = [
            (i, " ".join(rng.choices(vocab, k=rng.randint(1, 10))))
            for i in range(50)
        ]
        # near-dup cluster + exact dup + single-token docs
        rows += [
            (100, "a b c d e"),
            (101, "a b c d f"),
            (102, "a b c d e"),
            (103, "zzz"),
            (104, "zzz"),
        ]
        return rows

    @pytest.mark.parametrize("p,q", [(1, 2), (4, 5), (1, 1)])
    def test_matches_brute_force(self, spark, p, q):
        from sparkh3.operators.setsim import jaccard_similarity_join

        rows = self._random_rows(p * 10 + q)
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.id_a, r.id_b): (r.n_common, r.jaccard)
            for r in jaccard_similarity_join(df, p, q).collect()
        }
        assert got == self._brute(rows, p, q)

    def test_validations(self, spark):
        from sparkh3.operators.setsim import jaccard_similarity_join

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with pytest.raises(ValueError, match="threshold"):
            jaccard_similarity_join(df, 0, 2)
        with pytest.raises(ValueError, match="threshold"):
            jaccard_similarity_join(df, 3, 2)

    def test_fuzz_thresholds_never_lose_pairs(self, spark):
        """Prefix filtering is exact for ANY rational threshold: sweep
        p/q over awkward fractions on adversarial doc shapes (singleton
        sets, identical sets, nested sets)."""
        import random

        from sparkh3.operators.setsim import jaccard_similarity_join

        rng = random.Random(99)
        vocab = [f"t{i}" for i in range(12)]  # tiny vocab -> dense overlap
        rows = [
            (i, " ".join(rng.choices(vocab, k=rng.randint(1, 8))))
            for i in range(30)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        for p, q in [(1, 3), (2, 3), (3, 7), (5, 6), (7, 8)]:
            got = {
                (r.id_a, r.id_b): (r.n_common, r.jaccard)
                for r in jaccard_similarity_join(df, p, q).collect()
            }
            assert got == self._brute(rows, p, q), (p, q)


class TestBloom:
    M, K = 1024, 3

    def _py_bloom(self, keys):
        """Pure-Python reference of bloom_build's packed word table
        (the 2-universal ((a_r*x + b_r) mod 2^31-1) mod m family)."""
        p = (1 << 31) - 1
        words = {}
        for key in keys:
            for r in range(self.K):
                a = ((2 * r + 1) * 2654435761) % p
                b = ((2 * r + 2) * 2654435761) % p
                bit = ((key % (1 << 31)) * a + b) % p % self.M
                w = bit // 32
                words[w] = words.get(w, 0) | (1 << (bit % 32))
        return sorted(words.items())

    def test_word_table_pinned(self, spark):
        from sparkh3.operators import sketch

        keys = [3, 17, 999_999_999_999, 0]
        df = spark.createDataFrame([(k,) for k in keys], "k long")
        got = sorted(
            (r.word, r.mask)
            for r in sketch.bloom_build(df, "k", self.M, self.K).collect()
        )
        assert got == self._py_bloom(keys)

    def test_no_false_negatives_and_some_power(self, spark):
        from sparkh3.operators import sketch

        members = spark.range(0, 200).withColumnRenamed("id", "k")
        bloom = sketch.bloom_build(members, "k", self.M, self.K)
        probes = spark.range(0, 2000).withColumnRenamed("id", "k")
        verdicts = {
            r.k: r.maybe_member
            for r in sketch.bloom_probe(
                bloom, probes, "k", self.M, self.K
            ).collect()
        }
        assert all(verdicts[k] for k in range(200))  # never a false negative
        fp = sum(verdicts[k] for k in range(200, 2000))
        # 200*3 of 1024 bits set -> high but sub-1 FP rate; the filter
        # must still reject a sizable share of non-members
        assert fp < 1500

    def test_merge_equals_union_build(self, spark):
        from sparkh3.operators import sketch

        a = spark.range(0, 60).withColumnRenamed("id", "k")
        b = spark.range(40, 110).withColumnRenamed("id", "k")
        merged = sketch.bloom_merge(
            sketch.bloom_build(a, "k", self.M, self.K),
            sketch.bloom_build(b, "k", self.M, self.K),
        )
        union = sketch.bloom_build(
            a.unionByName(b), "k", self.M, self.K
        )
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, union.collect())
        )

    def test_char_fold_portable(self, spark):
        import duckdb

        from sparkh3.operators import sketch

        vals = ["hello world", "", "a", "the quick brown fox"]
        df = spark.createDataFrame([(s,) for s in vals], "s string")
        got = {
            r.s: r.h
            for r in df.select(
                "s", sketch.char_fold(F.col("s")).alias("h")
            ).collect()
        }
        con = duckdb.connect()
        for s in vals:
            want = con.sql(
                "SELECT list_reduce(list_prepend(CAST(0 AS BIGINT), "
                "list_transform(range(1, length(s)+1), "
                "i -> CAST(ascii(s[i:i]) AS BIGINT))), "
                f"(acc, c) -> (acc*31 + c) % 2147483648) FROM (SELECT '{s}' AS s)"
            ).fetchone()[0]
            assert got[s] == (want if want is not None else 0), s

    def test_validations(self, spark):
        from sparkh3.operators import sketch

        df = spark.createDataFrame([(1,)], "k long")
        with pytest.raises(ValueError, match="multiple"):
            sketch.bloom_build(df, "k", m_bits=100, k=3)
        with pytest.raises(ValueError, match="k must be positive"):
            sketch.bloom_build(df, "k", m_bits=1024, k=0)

    def test_bloom_decontaminate_no_false_negatives(self, spark):
        docs = spark.createDataFrame(
            [
                (97 * 2, "alpha beta gamma delta epsilon"),   # probe doc
                (1, "alpha beta gamma delta zeta"),           # 2 shared grams
                (2, "totally unrelated words in this text"),  # 0 true shared
            ],
            "doc_id long, text string",
        )
        probe = docs.filter(F.col("doc_id") % 97 == 0)
        train = docs.filter(F.col("doc_id") % 97 != 0)
        got = {
            r.doc_id: r
            for r in textops.bloom_decontaminate(
                train, probe, shingle_n=3, min_overlap=2
            ).collect()
        }
        # doc 1 truly shares 'alpha beta gamma' and 'beta gamma delta'
        assert got[1].flagged and got[1].n_maybe >= 2
        assert got[1].n_grams == 3 and got[2].n_grams == 4


class TestCountMin:
    def _events(self, spark):
        rows = [(i, int(i % 7)) for i in range(300)] + [(1000 + i, 3) for i in range(100)]
        return spark.createDataFrame(rows, "event_id long, user_id long")

    def test_estimate_never_underestimates(self, spark):
        from sparkh3.operators import sketch

        ev = self._events(spark)
        sk = sketch.countmin_sketch(ev, "user_id", width=64, depth=4)
        true = {
            r.user_id: r.n
            for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
        }
        keys = ev.select("user_id").distinct()
        est = {
            r.user_id: r.est
            for r in sketch.cms_estimate(sk, keys, "user_id", 64, 4).collect()
        }
        assert set(est) == set(true)
        for k, t in true.items():
            assert est[k] >= t
        # the heavy hitter (user 3: 43+100 hits) estimates within the
        # eps*N bound for w=64 (eps ~ e/64, N=400 -> slack ~17)
        assert est[3] - true[3] <= 17

    def test_merge_equals_whole(self, spark):
        from sparkh3.operators import sketch

        ev = self._events(spark)
        a = sketch.countmin_sketch(ev.filter("event_id % 2 = 0"), "user_id", 64, 4)
        b = sketch.countmin_sketch(ev.filter("event_id % 2 = 1"), "user_id", 64, 4)
        whole = sketch.countmin_sketch(ev, "user_id", 64, 4)
        merged = sketch.cms_merge(a, b)
        assert {
            (r.r, r.bucket, r.cnt) for r in merged.collect()
        } == {(r.r, r.bucket, r.cnt) for r in whole.collect()}

    def test_bounded_state(self, spark):
        from sparkh3.operators import sketch

        ev = self._events(spark)
        sk = sketch.countmin_sketch(ev, "user_id", width=16, depth=2)
        assert sk.count() <= 32

    def test_validations(self, spark):
        from sparkh3.operators import sketch

        ev = self._events(spark)
        with pytest.raises(ValueError, match="positive"):
            sketch.countmin_sketch(ev, "user_id", width=0)


class TestHyperLogLog:
    def _regs(self, spark, vals, p=8):
        from sparkh3.operators import sketch

        df = spark.createDataFrame([("g", v) for v in vals], ["g", "v"])
        return sketch.hll_registers(df, "g", "v", p=p)

    @staticmethod
    def _fmix31(x):
        h = (x % (1 << 31)) * 2654435761 % (1 << 31)
        h ^= h >> 16
        h = h * 0x85EBCA6B % (1 << 31)
        h ^= h >> 13
        h = h * 0xC2B2AE35 % (1 << 31)
        return h ^ (h >> 16)

    def _py_regs(self, vals, p=8):
        """Pure-Python reference of hll_registers (31-bit murmur-fmix
        avalanche; bucket from the high p bits, payload from the low)."""
        regs = {}
        for v in vals:
            h = self._fmix31(v)
            bucket, w = h >> (31 - p), h % (1 << (31 - p))
            rho = (31 - p) + 1 - w.bit_length()
            regs[bucket] = max(regs.get(bucket, 0), rho)
        return regs

    def test_registers_match_reference(self, spark):
        vals = [i * 7919 + 13 for i in range(500)] + [0, 1, (1 << 31) - 1]
        got = {
            r.bucket: r.rho for r in self._regs(spark, vals).collect()
        }
        assert got == self._py_regs(vals)

    def test_estimate_accuracy_and_exactness_bounds(self, spark):
        from sparkh3.operators import sketch

        n = 2000
        regs = self._regs(spark, [i * 104729 + 7 for i in range(n)])
        row = sketch.hll_estimate(regs, "g", p=8).collect()[0]
        # p=8 standard error ~1.04/sqrt(256) = 6.5%; allow 3 sigma
        assert abs(row.hll_estimate - n) / n < 0.20

    def test_linear_counting_branch_small_n(self, spark):
        from sparkh3.operators import sketch

        import math

        regs = self._regs(spark, list(range(40)))
        row = sketch.hll_estimate(regs, "g", p=8).collect()[0]
        present = len(self._py_regs(list(range(40))))
        v = 256 - present
        assert row.n_zero == v
        assert row.hll_estimate == round(256.0 * math.log(256.0 / v), 4)

    def test_p_validation(self, spark):
        from sparkh3.operators import sketch

        with pytest.raises(ValueError):
            sketch.hll_registers(None, "g", "v", p=3)
        with pytest.raises(ValueError):
            sketch.hll_estimate(None, "g", p=17)

    def test_nulls_ignored(self, spark):
        from sparkh3.operators import sketch

        df = spark.createDataFrame(
            [("g", 1), ("g", None), ("g", 2)], "g string, v long"
        )
        regs = sketch.hll_registers(df, "g", "v", p=8)
        assert regs.count() == len(self._py_regs([1, 2]))


class TestCollocations:
    def test_counts_and_pmi_hand_computed(self, spark):
        import math

        docs = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b c"), (3, "c a")],
            ["doc_id", "text"],
        )
        out = textops.collocations(docs, min_count=1, k=10).collect()
        got = {r.bigram: (r.rank, r.n_xy, r.pmi) for r in out}
        # unigrams: a=4, b=3, c=2, N_uni=9; bigrams: ab=3, ba=1, bc=1,
        # ca=1, N_bi=6
        def pmi(nxy, nx, ny):
            return round(math.log((nxy * 81) / (6 * nx * ny)), 6)

        assert got["a b"] == (1, 3, pmi(3, 4, 3))
        # ties at n_xy=1 rank alphabetically: "b a" < "b c" < "c a"
        assert got["b a"] == (2, 1, pmi(1, 3, 4))
        assert got["b c"] == (3, 1, pmi(1, 3, 2))
        assert got["c a"] == (4, 1, pmi(1, 2, 4))

    def test_min_count_filters_and_k_caps(self, spark):
        docs = spark.createDataFrame(
            [(1, "x y x y x y"), (2, "p q")], ["doc_id", "text"]
        )
        out = textops.collocations(docs, min_count=2, k=1).collect()
        assert len(out) == 1 and out[0].bigram == "x y"

    def test_single_token_docs_no_bigrams(self, spark):
        docs = spark.createDataFrame([(1, "solo"), (2, "x")], ["doc_id", "text"])
        assert textops.collocations(docs, min_count=1).count() == 0

    def test_validation(self, spark):
        with pytest.raises(ValueError):
            textops.collocations(None, min_count=0)


class TestCanonicalize:
    def test_canonical_form(self, spark):
        df = spark.createDataFrame(
            [(1, "  Hello,   WORLD!! 42 ")], ["doc_id", "text"]
        )
        assert (
            textops.canonicalize(df).collect()[0].canonical
            == "hello world 42"
        )

    def test_dedup_groups_collide_variants(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat sat"),
                (2, "The CAT... sat!"),
                (3, "THE-cat-SAT"),
                (4, "a different doc"),
                (5, "another different doc"),
            ],
            ["doc_id", "text"],
        )
        out = textops.canonical_dedup_groups(df).collect()
        assert len(out) == 1
        assert out[0].keeper_id == 1 and out[0].n_members == 3


class TestSimilarityGuardrails:
    def test_zero_norm_embedding_scores_zero(self, spark):
        """A zero-norm embedding must score 0.0 (clamped norm product),
        not raise DIVIDE_BY_ZERO under ANSI mode."""
        emb = spark.createDataFrame(
            [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.9, 0.1])],
            "vec_id long, embedding array<double>",
        )
        q = spark.createDataFrame(
            [(1, [1.0, 0.0])], "query_id long, embedding array<double>"
        )
        got = {
            r.vec_id: r.sim
            for r in similarity.cosine_topk(emb, q, 2).collect()
        }
        assert got[0] == 0.0  # zero-norm pair scored, not crashed
        assert got[2] > 0.99

    def test_ivf_dataframe_path_enforces_max_queries(self, spark):
        emb = spark.createDataFrame(
            [(i, [1.0 + i, 0.5 * i]) for i in range(8)],
            "vec_id long, embedding array<double>",
        )
        big_q = spark.range(50).select(
            F.col("id").alias("query_id"),
            F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
        )
        with pytest.raises(ValueError, match="max_queries"):
            similarity.ivf_cosine_topk(
                emb, big_q, 1, n_lists=2, max_queries=10
            )


class TestSketchHashIndependence:
    """Regression gates for the 2-universal row hashes: width-stride
    key sets broke the old affine-shift scheme (every row collided),
    voiding min-of-d / k-probe / register-spread guarantees."""

    def test_cms_stride_keys_do_not_all_collide(self, spark):
        from sparkh3.operators import sketch

        w = 64
        keys = [(i * w,) for i in range(100)]  # stride == width
        df = spark.createDataFrame(keys, "user_id long")
        sk = sketch.countmin_sketch(df, "user_id", width=w, depth=4)
        est = {
            r.user_id: r.est
            for r in sketch.cms_estimate(
                sk, df.distinct(), "user_id", w, 4
            ).collect()
        }
        # old scheme: every estimate was 100 (all keys in one counter
        # per row). 2-universal rows keep most estimates near true (1).
        assert max(est.values()) < 50
        assert sum(est.values()) < 500

    def test_bloom_stride_keys_not_guaranteed_fp(self, spark):
        from sparkh3.operators import sketch

        m = 1024
        member = spark.createDataFrame([(0,)], "k long")
        bloom = sketch.bloom_build(member, "k", m_bits=m, k=3)
        probes = spark.createDataFrame(
            [(m * i,) for i in range(1, 51)], "k long"
        )
        got = sketch.bloom_probe(bloom, probes, "k", m, 3)
        fp = got.filter("maybe_member").count()
        # old scheme: all 50 stride-m keys probed the member's exact
        # bits in every row -> 50 guaranteed false positives
        assert fp < 10

    def test_hll_stride_values_spread_registers(self, spark):
        from sparkh3.operators import sketch

        p, n = 8, 2000
        vals = [(1 << p) * i for i in range(n)]  # stride == 2^p
        df = spark.createDataFrame([("g", v) for v in vals], ["g", "v"])
        regs = sketch.hll_registers(df, "g", "v", p=p)
        # old scheme: low-bits index -> ONE register, estimate ~1
        assert regs.count() > 100
        row = sketch.hll_estimate(regs, "g", p=p).collect()[0]
        assert abs(row.hll_estimate - n) / n < 0.25


class TestBandValidation:
    def test_minhash_bands_must_divide(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="divide"):
            textops.minhash_lsh_dedup(df, n_hashes=16, bands=20)
        with pytest.raises(ValueError, match="divide"):
            textops.minhash_lsh_dedup(df, n_hashes=16, bands=5)

    def test_simhash_max_hamming_bounded(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="max_hamming"):
            textops.simhash_dedup(df, max_hamming=32)
        with pytest.raises(ValueError, match="max_hamming"):
            textops.simhash_dedup(df, max_hamming=-1)

    def test_simhash_pigeonhole_recall_large_threshold(self, spark):
        """Bands scale with max_hamming (pigeonhole), so recall stays
        exact even when the differing bits would straddle 4 bands."""
        rows = [
            (1, "alpha beta gamma delta epsilon zeta eta theta " * 3),
            (2, "alpha beta gamma delta epsilon zeta eta iota " * 3),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        all_pairs = textops.simhash_dedup(df, max_hamming=31).collect()
        assert len(all_pairs) == 1  # every pair within 31 bits found
        d = all_pairs[0].hamming
        found = textops.simhash_dedup(df, max_hamming=int(d)).collect()
        assert len(found) == 1 and found[0].hamming == d

    def test_samplers_reject_string_ids(self, spark):
        df = spark.createDataFrame(
            [("a", "en", 1.0)], "doc_id string, lang string, w double"
        )
        with pytest.raises(TypeError, match="integer"):
            textops.hash_sample(df, 0.5)
        with pytest.raises(TypeError, match="integer"):
            textops.quota_sample(df, "lang", 1)
        with pytest.raises(TypeError, match="integer"):
            textops.stratified_split(df, {"train": 0.8, "test": 0.2})
        with pytest.raises(TypeError, match="integer"):
            textops.mixture_sample(df, {"en": 1.0})


class TestNgramsRewrite:
    """The regex ngrams (one regexp_extract_all, no lambda) must be
    element-for-element identical to the sequence+slice form —
    shingle values feed MinHash banding and every shingling oracle
    lane."""

    def _old_ngrams(self, text, n):
        toks = textops.tokens(text)
        return F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )

    @pytest.mark.parametrize("n", [1, 2, 3, 5])
    def test_identical_to_sequence_slice_form(self, spark, n):
        edge = spark.createDataFrame(
            [
                (None,),
                ("",),
                (" ",),
                ("one",),
                ("one two",),
                ("one two three",),
                ("a  b   c",),
                ("  pad  ",),
                ("w " * 40,),
                ("a\tb c\nd e\t\nf",),
                ("\tlead trail\n",),
                # non-BMP char starting a token after another token
                ("𝔘𝔫𝔦 co de 𝔴𝔬𝔯𝔡 s",),
                ("   ",),
            ],
            "text string",
        )
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "text"
        )
        for d in (edge, docs):
            assert self._mismatches(d, n) == 0

    @pytest.mark.parametrize("n", [1, 2, 3, 5])
    def test_identical_on_seeded_fuzz(self, spark, n):
        rng = random.Random(4242)
        alphabet = ["a", "b", " ", "\t", "\n", "é", "𝔘"]
        rows = [
            ("".join(rng.choice(alphabet) for _ in range(rng.randint(0, 16))),)
            for _ in range(3000)
        ]
        d = spark.createDataFrame(rows, "text string")
        assert self._mismatches(d, n) == 0

    def test_no_lambda_in_plan(self, spark):
        d = spark.createDataFrame([("a b c d",)], "text string")
        plan = (
            d.select(textops.ngrams(F.col("text"), 3))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "lambda" not in plan and "arrays_zip" not in plan, plan

    def _mismatches(self, d, n):
        return (
            d.select(
                self._old_ngrams(F.col("text"), n).alias("o"),
                textops.ngrams(F.col("text"), n).alias("g"),
            )
            .filter(~F.col("o").eqNullSafe(F.col("g")))
            .count()
        )


ADVERSARIAL_TEXTS = [
    None,
    "",
    " ",
    "   ",
    "one",
    "one two",
    "one two three",
    "one two three four",
    "a  b   c    d",
    "  pad  both  ends  ",
    "a\tb c\nd e\t\nf",
    "\tlead trail\n",
    "𝔘𝔫𝔦 co de 𝔴𝔬𝔯𝔡 s",
    "é ü 😀 x😀y 中文 字",
    "x" * 33 + " " + "y" * 40 + " short " + "z" * 71,
    "w " * 40,
    " ".join(f"tok{i % 7}" for i in range(300)),
]


class TestMinHashBandKeys:
    """The Arrow UDF's NumPy shingle/hash/band pass must give exactly
    the longs of the JVM chain it replaced: ``transform(ngrams(text,
    n), xxhash64)`` -> ``minhash_signature_udf`` -> per band
    ``xxhash64(concat_ws(',', band, slot...))``."""

    N_HASHES = 16

    def _old_chain(self, d, n, bands):
        r = self.N_HASHES // bands
        sig = textops.minhash_signature_udf(self.N_HASHES)(
            F.transform(textops.ngrams(F.col("text"), n), lambda s: F.xxhash64(s))
        )
        return (
            d.withColumn("_sig", sig)
            .withColumn(
                "_band", F.explode(F.array(*[F.lit(b) for b in range(bands)]))
            )
            .withColumn(
                "_bucket",
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.col("_band"),
                        *[
                            F.element_at(F.col("_sig"), F.col("_band") * r + i + 1)
                            for i in range(r)
                        ],
                    )
                ),
            )
            .groupBy("i")
            .agg(
                F.first("_sig").alias("sig"),
                F.sort_array(F.collect_list(F.struct("_band", "_bucket"))).alias("k"),
            )
        )

    def _frames(self, spark):
        rng = random.Random(977)
        alphabet = ["a", "b", "cc", " ", "  ", "\t", "\n", "é", "𝔘", "x" * 35]
        fuzz = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24)))
            for _ in range(400)
        ]
        texts = ADVERSARIAL_TEXTS + fuzz
        edge = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            F.col("doc_id").alias("i"), "text"
        )
        return edge, docs

    @pytest.mark.parametrize("n", [2, 3])
    def test_signatures_and_keys_match_jvm_chain(self, spark, n):
        a, b = ktext.minhash_coeffs(self.N_HASHES)
        for d in self._frames(spark):
            for bands in (2, 4, 8):
                want = {r.i: r for r in self._old_chain(d, n, bands).collect()}
                keys = textops.minhash_band_keys_udf(self.N_HASHES, bands, n)
                got = {
                    r.i: r.k
                    for r in d.select("i", keys(F.col("text")).alias("k")).collect()
                }
                assert got.keys() == want.keys()
                for i, k in got.items():
                    assert k == [row._bucket for row in want[i].k], (i, bands)
            rows = d.orderBy("i").collect()
            blobs = [(r.text or "").encode() for r in rows]
            data = np.frombuffer(b"".join(blobs), dtype=np.uint8)
            offsets = np.cumsum([0] + [len(x) for x in blobs])
            sig = ktext.signatures(data, offsets, n, a, b).view(np.int64)
            assert [s.tolist() for s in sig] == [want[r.i].sig for r in rows]


HUB = " ".join(["hub1524280"] * 3)
"""A 3-gram whose permuted hash under ``minhash_coeffs(1)`` is below
that of every other 3-gram in ``TestMinHashVerifyPaths``: with one hash
in one band, the documents holding it share a bucket, so every pair of
them is a candidate whatever its Jaccard."""


class TestMinHashVerifyPaths:
    """The three placements return identical rows, Jaccard digits and
    schema included: the whole pass on the driver (a sized frame, here
    Arrow-built, of at most ``DRIVER_DEDUP_ROWS`` rows), the Spark
    banding with the driver verify (past the row bound, or a frame built
    from Python rows, which reports Long.MaxValue bytes), and the
    distributed verify (forced with a negative text-byte bound, which
    even an empty candidate set exceeds). Each runs at the row bound
    n - 1, n and n + 1 for a frame of n rows."""

    TIE_A = HUB + " " + " ".join(f"a{i}" for i in range(63))
    TIE_B = HUB + " " + " ".join(f"b{i}" for i in range(64))
    """64 and 65 distinct 3-grams sharing only HUB: 1/(129 - 1), which
    Spark rounds to 0.007813 (half up) and Python's ``round`` to
    0.007812."""

    TEXTS = [
        TIE_A,
        TIE_B,
        HUB,
        "  hub1524280   hub1524280 hub1524280 ",
        HUB + " a\tb c\nd e\t\nf",
        HUB + " \U0001d518\U0001d52b\U0001d526 co de x\U0001F600y",
        HUB + " r r r r r r r r",
        HUB + " " + " ".join(f"a{i}" for i in range(40)),
        None,
        "",
        "   ",
        "p q",
        "p   q",
        "a document with words of its own",
    ]

    ARROW_IDS = {"bigint": pa.int64(), "int": pa.int32(), "string": pa.string()}

    def _frame(self, spark, id_type, build="rows"):
        rows = list(enumerate(self.TEXTS, start=1))
        rows.append((3, HUB + " another row under id 3"))
        cast = str if id_type == "string" else int
        if build == "arrow":
            return spark.createDataFrame(pa.table({
                "doc_id": pa.array([cast(i) for i, _ in rows], self.ARROW_IDS[id_type]),
                "text": pa.array([t for _, t in rows], pa.string()),
            }))
        return spark.createDataFrame(
            [(cast(i), t) for i, t in rows], f"doc_id {id_type}, text string"
        )

    @staticmethod
    def _paths(df, threshold, sized):
        """{(row bound, byte bound): (path, rows with repr(jaccard),
        schema)} under the default and a negative text-byte bound, at
        the row bounds n - 1, n and n + 1 for a ``sized`` frame of n
        rows, and at n + 1 for an unsized one (it takes the same path at
        any). The path is the one that answered, and it must be the one
        the bounds choose: the whole driver pass for a sized frame
        within both, the driver verify within the byte bound only, else
        the distributed verify."""
        n = df.count()
        real = {
            name: getattr(textops, name)
            for name in ("_dedup_on_driver", "_verify_on_driver")
        }
        taken = []

        def spy(name):
            def run(*args):
                out = real[name](*args)
                if out is not None:
                    taken.append(name)
                return out
            return run

        out = {}
        cases = [
            (rows, bound)
            for rows in ((n - 1, n, n + 1) if sized else (n + 1,))
            for bound in (textops.DRIVER_VERIFY_BYTES, -1)
        ]
        with pytest.MonkeyPatch.context() as mp:
            for name in real:
                mp.setattr(textops, name, spy(name))
            for rows, bound in cases:
                mp.setattr(textops, "DRIVER_DEDUP_ROWS", rows)
                mp.setattr(textops, "DRIVER_VERIFY_BYTES", bound)
                taken.clear()
                mh = textops.minhash_lsh_dedup(
                    df, n_hashes=1, bands=1, jaccard_threshold=threshold
                )
                plan = mh._jdf.queryExecution().executedPlan().toString()
                # an empty input plans even the distributed verify local
                local = "LocalTableScan" in plan and "Exchange" not in plan
                assert local >= (bound >= 0), plan
                want = (
                    "distributed" if bound < 0
                    else "_dedup_on_driver" if sized and rows >= n
                    else "_verify_on_driver"
                )
                assert (taken or ["distributed"]) == [want], (rows, bound)
                got = sorted((a, b, repr(j)) for a, b, j in mh.collect())
                out[rows, bound] = (want, got, mh.schema)
        return out

    def test_hub_is_every_hub_documents_minimum(self):
        texts = [t for t in self.TEXTS if t and "hub" in t]
        blobs = [t.encode() for t in texts]
        data = np.frombuffer(b"".join(blobs), dtype=np.uint8)
        offsets = np.cumsum([0] + [len(x) for x in blobs])
        sig = ktext.signatures(data, offsets, 3, *ktext.minhash_coeffs(1))
        assert (sig == sig[texts.index(HUB)]).all()

    def _assert_identical(self, paths, id_type):
        """Every path's rows and schema equal, with the 1/128 tie rounded
        half up, the duplicated id paired once per row, and the empty
        texts equal to each other."""
        (_, first, schema), *rest = paths.values()
        for _, rows, sch in rest:
            assert rows == first
            assert [f.dataType for f in sch] == [f.dataType for f in schema]
        cast = str if id_type == "string" else int
        ids = {t: cast(i) for i, t in enumerate(self.TEXTS, start=1)}
        a, b = sorted([ids[self.TIE_A], ids[self.TIE_B]])
        assert (a, b, "0.007813") in first
        # the duplicated id pairs once per row it names
        dup = [r for r in first if cast(3) in r[:2] and cast(1) in r[:2]]
        assert len(dup) == 2
        # null, '' and all-space text are one empty shingle each
        empty = {ids[""], ids["   "], cast(9)}
        assert {(x, y) for x, y, j in first if j == "1.0"} >= {
            (x, y) for x in empty for y in empty if x < y
        }

    @pytest.mark.parametrize("threshold", [0.0078, 0.007813])
    @pytest.mark.parametrize("id_type", ["bigint", "int", "string"])
    def test_identical_rows(self, spark, id_type, threshold):
        """A frame built from Python rows never takes the whole driver
        pass, whatever the row bound."""
        df = self._frame(spark, id_type)
        paths = self._paths(df, threshold, sized=False)
        self._assert_identical(paths, id_type)

    @pytest.mark.parametrize("id_type", ["bigint", "int", "string"])
    def test_identical_rows_arrow_built(self, spark, id_type):
        """An Arrow-built frame takes all three paths, by its bounds."""
        df = self._frame(spark, id_type, "arrow")
        paths = self._paths(df, 0.007813, sized=True)
        assert {p for p, _, _ in paths.values()} == {
            "_dedup_on_driver", "_verify_on_driver", "distributed"
        }
        self._assert_identical(paths, id_type)

    @pytest.mark.parametrize(
        "texts", [[], ["alpha beta gamma delta", "one two three four"]]
    )
    def test_no_candidates_is_the_typed_empty_frame(self, spark, texts):
        """Both from Python rows and Arrow-built."""
        rows = spark.createDataFrame(
            list(enumerate(texts)), "doc_id bigint, text string"
        )
        arrow = spark.createDataFrame(pa.table({
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }))
        for df, sized in ((rows, False), (arrow, True)):
            paths = self._paths(df, 0.5, sized)
            assert {p for p, _, _ in paths.values()} >= {"_verify_on_driver", "distributed"}
            for _, got, schema in paths.values():
                assert got == []
                assert schema.names == ["id_a", "id_b", "jaccard"]
                assert [f.dataType for f in schema] == [
                    f.dataType for f in rows.schema
                ][:1] * 2 + [DoubleType()]

    def test_concurrent_callers(self, spark):
        """Four threads on one session each get the single-thread rows
        from an Arrow-built corpus."""
        df = self._frame(spark, "bigint", "arrow")

        def call(_):
            mh = textops.minhash_lsh_dedup(
                df, n_hashes=1, bands=1, jaccard_threshold=0.007813
            )
            return sorted((a, b, repr(j)) for a, b, j in mh.collect())

        want = call(None)
        assert want
        with ThreadPoolExecutor(4) as pool:
            got = list(pool.map(call, range(8)))
        assert all(g == want for g in got)
