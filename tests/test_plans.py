"""Physical-plan regression gates for the 100 TB design claims
(BENCH/BASELINE.md §4), as pytest assertions so a plan regression fails
CI instead of relying on a manual run.

Each test inspects the *executed* plan string:

1. parent rollup is pure JVM bit math (no Python eval nodes),
2. filters + column pruning reach the parquet scan through geo_to_h3,
3. broadcast pip_join never shuffles the point side and runs exactly
   one fused Python pass,
4. minhash banding exchanges carry zero text columns, and its
   distributed verify shingles each candidate once and intersects each
   pair's shingle sets once,
5. LSH-ANN computes all tables' signatures in one corpus pass
   (bounded parquet scan count).
"""

import re

from pyspark.sql import functions as F

import __spark_entry__ as E
from sparkh3 import dataframe as dfo
from sparkh3 import datagen
from sparkh3.operators import joins, similarity, textops

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parent_rollup_has_no_python_nodes(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    li.createOrReplaceTempView("_li_plan")
    cells = spark.sql(
        f"SELECT lower(hex({E._synth_cell_sql('l_orderkey')})) AS h3_09, "
        "l_quantity FROM _li_plan"
    )
    rolled = dfo.h3_to_parent_aggregate(
        cells, 5, operation={"l_quantity": "sum"}, h3_col="h3_09",
        return_geometry=False,
    )
    plan = _plan(rolled)
    assert "ArrowEval" not in plan and "BatchEval" not in plan
    assert "MapInPandas" not in plan and "PythonUDF" not in plan


def test_filter_and_pruning_push_through_geo_to_h3(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    g = dfo.geo_to_h3(
        ev.withColumn("lat", F.lit(1.0)).withColumn("lng", F.lit(2.0)), 7
    )
    q = g.filter(F.col("event_type") == "click").select("h3_07", "event_type")
    plan = _plan(q)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m is not None and "event_type" in m.group(1), plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    # only the filter column should be read from parquet — the unused
    # wide columns (event_id, user_id, value, ts...) must be pruned
    assert m is not None and "event_type" in m.group(1)
    assert "value" not in m.group(1) and "user_id" not in m.group(1), plan


def test_broadcast_pip_join_is_one_fused_pass_no_point_shuffle(spark, monkeypatch):
    # the distributed placement (a small point side probes on the driver)
    monkeypatch.setattr(joins, "DRIVER_POINT_ROWS", 0)
    pts = spark.createDataFrame([(1, 40.0, -74.0)], ["id", "lat", "lng"])
    pj = joins.pip_join(pts, datagen.rect_polygons(spark, E._RECTS), 4)
    plan = _plan(pj)
    assert "Exchange hashpartitioning" not in plan, plan
    assert plan.count("MapInArrow") == 1, plan


def test_nonbroadcast_pip_join_uses_shuffle_join(spark):
    pts = spark.createDataFrame([(1, 40.0, -74.0)], ["id", "lat", "lng"])
    pj = joins.pip_join(pts, datagen.rect_polygons(spark, E._RECTS), 4, broadcast=False)
    plan = _plan(pj)
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan  # AQE may downgrade at test scale
    )


def _nodes_run_by(spark, fn):
    """Call ``fn`` and return its result with the (name, description) of
    every plan node in the SQL executions it ran, read from the SQL
    status store: the plans that actually executed, including those
    that ran inside the call, which the returned frame's plan does not
    show."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty(30_000)
    first = store.executionsCount()
    out = fn()
    bus.waitUntilEmpty(30_000)
    execs = store.executionsList(first, store.executionsCount() - first)
    found = []
    for i in range(execs.size()):
        nodes = store.planGraph(execs.apply(i).executionId()).allNodes()
        found += [
            (nodes.apply(j).name(), nodes.apply(j).desc())
            for j in range(nodes.size())
        ]
    return out, found


def test_minhash_banding_shuffles_no_text(spark, monkeypatch):
    """The banding shuffles run inside the call, where the pair list's
    checkpoint is built: read the plans of those executions. The
    band-key exchange must be among them, and no hash exchange may be
    keyed on the text. A row bound of 0 keeps this small corpus off the
    whole driver pass."""
    monkeypatch.setattr(textops, "DRIVER_DEDUP_ROWS", 0)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    _, nodes = _nodes_run_by(
        spark, lambda: textops.minhash_lsh_dedup(docs, jaccard_threshold=0.4)
    )
    exchanges = [desc for name, desc in nodes if name == "Exchange"]
    hashed = [d for d in exchanges if "hashpartitioning(" in d]
    assert any("hashpartitioning(_bucket#" in d for d in hashed), exchanges
    assert not [d for d in hashed if "text#" in d], hashed


def test_minhash_verify_intersects_each_pair_once(spark, monkeypatch):
    """The exact-Jaccard verify computes a pair's array_intersect once:
    an inlined ``_i`` would appear in the projection and again in the
    filter pushed into the join condition (3 times in the final plan)."""
    monkeypatch.setattr(textops, "DRIVER_DEDUP_ROWS", 0)
    monkeypatch.setattr(textops, "DRIVER_VERIFY_BYTES", 0)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    mh = textops.minhash_lsh_dedup(docs, jaccard_threshold=0.4)
    mh.collect()
    final = mh._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert final.count("array_intersect(") == 1, final


def test_minhash_pair_list_is_built_in_the_call(spark, monkeypatch):
    """The candidate pair list is checkpointed before the call returns.
    A checkpoint left to the first action had its AQE stages compute the
    same checkpoint partition twice at once."""
    monkeypatch.setattr(textops, "DRIVER_DEDUP_ROWS", 0)
    monkeypatch.setattr(textops, "DRIVER_VERIFY_BYTES", 0)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    mh = textops.minhash_lsh_dedup(docs, jaccard_threshold=0.4)
    leaves = mh._jdf.queryExecution().analyzed().collectLeaves()
    ckpts = [
        leaves.apply(i) for i in range(leaves.size())
        if leaves.apply(i).nodeName() == "LogicalRDD"
    ]
    assert ckpts and all(c.rdd().isCheckpointed() for c in ckpts)


def test_minhash_verify_shingles_each_candidate_once(spark, monkeypatch):
    """Both verify joins read the candidates' shingle sets through one
    exchange that the second join reuses, so the shingling projection
    (one ``regexp_extract_all``) runs once, not once per join side."""
    monkeypatch.setattr(textops, "DRIVER_DEDUP_ROWS", 0)
    monkeypatch.setattr(textops, "DRIVER_VERIFY_BYTES", 0)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    mh = textops.minhash_lsh_dedup(docs, jaccard_threshold=0.4)
    mh.collect()
    final = mh._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert final.count("regexp_extract_all(") == 1, final


def test_minhash_driver_verify_jobs(spark, jobs_in):
    """At this scale the whole pass runs on the driver: the call takes
    one job (the bounded collect of the corpus) and starts no Python
    worker, and collecting the result, a local relation, takes none."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def run():
        mh, call_jobs = jobs_in(
            lambda: textops.minhash_lsh_dedup(docs, jaccard_threshold=0.4)
        )
        rows, collect_jobs = jobs_in(mh.collect)
        return rows, call_jobs, collect_jobs

    (rows, call_jobs, collect_jobs), nodes = _nodes_run_by(spark, run)
    assert rows
    assert call_jobs <= 1 and collect_jobs == 0, (call_jobs, collect_jobs)
    assert not [n for n, _ in nodes if "ArrowEvalPython" in n], nodes


def _text_exchanges(df):
    """Every Exchange node of ``df``'s physical plan that carries a
    string column, each with whether a left-semi join sits below it."""
    found = []

    def walk(p):
        if p.nodeName() == "AdaptiveSparkPlan":
            return walk(p.executedPlan())
        kids = p.children()
        below = [walk(kids.apply(i)) for i in range(kids.size())]
        semi = any(below) or (
            "Join" in p.nodeName() and p.joinType().toString() == "LeftSemi"
        )
        out = p.output()
        if "Exchange" in p.nodeName() and any(
            out.apply(i).dataType().typeName() == "string"
            for i in range(out.size())
        ):
            found.append(semi)
        return semi

    walk(df._jdf.queryExecution().executedPlan())
    return found


def test_minhash_verify_moves_text_only_when_spread(spark, monkeypatch):
    """The exact-Jaccard verify repartitions the candidates' text only
    when ``_spread`` widened a narrow scan, and then above the
    semi-join, so only candidate text moves. An input that is already
    wide keeps every text column out of every Exchange."""
    monkeypatch.setattr(textops, "DRIVER_DEDUP_ROWS", 0)
    monkeypatch.setattr(textops, "DRIVER_VERIFY_BYTES", 0)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    wide = spark.createDataFrame(docs.toArrow())
    assert textops._spread(wide) is wide
    assert textops._spread(docs) is not docs
    mh = textops.minhash_lsh_dedup(wide, jaccard_threshold=0.4)
    assert _text_exchanges(mh) == [], _plan(mh)
    mh = textops.minhash_lsh_dedup(docs, jaccard_threshold=0.4)
    above_semi = _text_exchanges(mh)
    assert above_semi and all(above_semi), _plan(mh)


def test_lsh_ann_single_signature_pass(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    dim = len(emb.first().embedding)
    ann = similarity.lsh_cosine_topk(emb, q, k=3, dim=dim)
    plan = _plan(ann)
    # one corpus signature pass + query derivation + the two candidate
    # re-attach scans: anything above 4 means a table-per-signature
    # regression (was 8+ before the one-pass matmul landed)
    assert plan.count("Scan parquet") <= 4, plan.count("Scan parquet")


def test_ivf_ann_one_python_node(spark):
    """In-memory IVF assigns queries to lists on the driver: the only
    Arrow UDF left in the plan is the corpus list assignment."""
    plan = _plan(E.q_ivf_ann(spark, SF_DIR))
    assert plan.count("ArrowEvalPython") == 1, plan


def test_stratified_split_is_narrow_map(spark):
    """The split assignment itself must be a zero-shuffle narrow map —
    the 100 TB claim in textops.stratified_split."""
    df = spark.range(100).select(F.col("id").alias("doc_id"))
    out = textops.stratified_split(df, {"a": 0.5, "b": 0.5})
    plan = _plan(out)
    assert "Exchange" not in plan, plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan


def test_top_tokens_aggregates_map_side(spark):
    """The token-count shuffle must carry partially-aggregated
    (group, token) rows, not the raw exploded token stream."""
    docs = spark.createDataFrame(
        [(i, "en", "a b c") for i in range(50)],
        "doc_id long, lang string, text string",
    )
    out = textops.top_tokens_per_group(docs, "lang", "text", k=3)
    plan = _plan(out)
    assert "partial_count" in plan, plan


def test_s2_pip_count_point_side_never_shuffles(spark):
    """The polygon-covering join broadcasts the covering; the only hash
    exchange in the whole query is the final tiny per-polygon count."""
    q = E.q_s2_pip_count(spark, SF_DIR)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bm25_single_tokenize_pass_via_exchange_reuse(spark):
    """BM25 derives doc lengths and corpus stats from the tf aggregate:
    under AQE the tf exchange is reused at runtime, so the corpus is
    tokenized once (the 100 TB claim in textops.bm25_topk)."""
    from sparkh3.operators import textops

    docs = spark.createDataFrame(
        [(i, "a b c d " * 5) for i in range(100)], "doc_id long, text string"
    )
    q = spark.createDataFrame([(0, "a"), (0, "b")], "query_id long, term string")
    out = textops.bm25_topk(docs, q)
    out.collect()
    plan = _plan(out)
    assert plan.count("ReusedExchange") >= 1, plan


def test_csv_ingest_join_broadcasts_dim_no_fact_shuffle(spark):
    """The CSV lane's 100 TB claim: the CSV dimension is the broadcast
    side, the parquet fact side reaches the join without a hash
    exchange (the only hash exchange is the final per-zone aggregate),
    and the declared schema means the scan is a CSV FileScan (no
    inference subplan)."""
    q = E.q_csv_ingest_join(spark, SF_DIR)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "csv" in plan.lower(), plan


def test_s2_pip_holed_point_side_never_shuffles(spark):
    """Holed-polygon covering join keeps the s2_pip_count shape: the
    ring-list covering broadcasts, points never hash-shuffle before the
    final tiny per-polygon count."""
    q = E.q_s2_pip_holed(spark, SF_DIR)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_ivfpq_rerank_shortlist_broadcasts(spark, tmp_path):
    """The IVFPQ re-rank composition: the ADC shortlist and the query
    vectors are BOTH broadcast into the cold vector table's scan — the
    corpus is never hash-shuffled to meet the shortlist."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    root = str(tmp_path / "ivfpq_plan")
    similarity.ivfpq_write_corpus(emb, root, n_lists=4, m=8, k=16)
    queries = emb.limit(2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivfpq_topk(
        queries, root, topk=5, n_probe=2, rerank_corpus=emb, shortlist=20
    )
    plan = _plan(out)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # the only hash exchanges are the two top-k windows (ADC shortlist
    # + re-rank), never a corpus-vs-shortlist join shuffle
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_line_dedup_native_and_hash_only_shuffle(spark):
    """Line dedup must stay whole-stage-native (no Python nodes) and
    shuffle 128-bit line hashes — the line TEXT never appears past the
    first projection, so no exchange can carry it."""
    docs = spark.createDataFrame(
        [(1, "x\ny"), (2, "x\nz")], "doc_id long, text string"
    )
    plan = _plan(textops.line_dedup_stats(docs))
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan
    assert "xxhash64" in plan, plan
    # every aggregate is two-phase (map-side partial combine)
    assert "partial_count" in plan, plan


def test_unigram_lm_native_two_phase(spark):
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c")], "doc_id long, text string"
    )
    plan = _plan(textops.unigram_logprob(docs))
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan
    assert "partial_count" in plan, plan
    # the grand total rides a broadcast, not a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_dsir_native_no_udf(spark):
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "c d")], "doc_id long, text string"
    )
    plan = _plan(textops.dsir_weights(docs, docs.limit(1)))
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan
    assert "partial_count" in plan, plan


def test_tfidf_single_tokenize_pass(spark):
    """Document frequency is a window over the tf aggregate, not a
    second aggregate branch — so the whole query holds exactly ONE
    Generate (explode) even in the static plan, with no reliance on
    AQE exchange reuse."""
    docs = spark.createDataFrame(
        [(i, "a b c d " * 3) for i in range(100)], "doc_id long, text string"
    )
    out = textops.tfidf_keywords(docs, k=2)
    plan = _plan(out)
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan
    assert plan.count("Generate") == 1, plan


def test_setsim_candidates_never_cartesian(spark):
    """The prefix-filtered similarity join's 100 TB claim: candidate
    pairs come from an equi-join on prefix tokens — no cartesian or
    nested-loop node anywhere, token df aggregated two-phase."""
    from sparkh3.operators.setsim import jaccard_similarity_join

    docs = spark.createDataFrame(
        [(i, "a b c d e") for i in range(20)], "doc_id long, text string"
    )
    plan = _plan(jaccard_similarity_join(docs, 4, 5))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan
    assert "partial_count" in plan, plan


def test_bloom_build_and_probe_native_broadcast(spark):
    """Bloom tables build with a two-phase bit_or aggregate and probe
    through a BROADCAST join of the word table — the probe side never
    hash-shuffles to meet the filter; everything stays JVM-native."""
    from sparkh3.operators import sketch

    keys = spark.range(100).withColumnRenamed("id", "k")
    bloom = sketch.bloom_build(keys, "k", m_bits=1024, k=3)
    bplan = _plan(bloom)
    assert "PythonUDF" not in bplan and "ArrowEval" not in bplan, bplan
    assert "partial_bit_or" in bplan, bplan
    probe = sketch.bloom_probe(
        bloom, spark.range(50).withColumnRenamed("id", "k"), "k", 1024, 3
    )
    pplan = _plan(probe)
    assert "BroadcastHashJoin" in pplan, pplan
    assert "PythonUDF" not in pplan and "ArrowEval" not in pplan, pplan


def test_cross_doc_dup_hashes_before_shuffle(spark):
    """With hash_grams=True (the at-scale default) the dedup/df shuffle
    carries int64 gram hashes: xxhash64 runs below the first exchange
    and no exchange key is the raw gram string."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g")], "doc_id long, text string"
    )
    plan = _plan(textops.cross_doc_ngram_dup(docs, n=5, hash_grams=True))
    assert "xxhash64" in plan, plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan


def test_rollup_maintenance_native_partial(spark):
    """IVM deltas aggregate two-phase and the state merge is a plain
    join + projection — no Python anywhere."""
    from sparkh3.sources import manifest

    ch = spark.createDataFrame(
        [("en", 5, "insert"), ("en", 7, "delete")],
        "lang string, nc long, _change_type string",
    )
    delta = manifest.rollup_delta(ch, ["lang"], ["nc"])
    dplan = _plan(delta)
    assert "partial_sum" in dplan, dplan
    assert "PythonUDF" not in dplan and "ArrowEval" not in dplan, dplan
    state = spark.createDataFrame(
        [("en", 10, 100)], "lang string, n long, sum_nc long"
    )
    mplan = _plan(manifest.maintain_rollup(state, delta, ["lang"], ["nc"]))
    assert "PythonUDF" not in mplan and "ArrowEval" not in mplan, mplan


def test_numeric_profile_single_scan(spark):
    """The multi-column profile must read the table ONCE — one parquet
    scan feeding one aggregate, the per-column rows from an unpivot of
    the single result row; a scan-per-column regression doubles I/O at
    every added column."""
    from sparkh3.operators import profile

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    out = profile.numeric_profile(li, ["l_quantity", "l_tax"])
    plan = _plan(out)
    assert plan.count("Scan parquet") == 1, plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan


def test_classifier_features_native(spark):
    from sparkh3.operators import classifier

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    out = classifier.hashed_token_pairs(docs)
    plan = _plan(out)
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan
    out.collect()
    # the bucket arithmetic stays JVM-side (xxhash64 + portable mod)
    assert "xxhash64" in _plan(out), _plan(out)


def test_editdist_candidates_never_cartesian(spark):
    """Ed-Join's 100 TB claim: long-string candidates come from the
    prefix-gram equi-join only — no cartesian/nested-loop anywhere in
    the long path (the short block is broadcast by construction), no
    Python UDF, gram frequencies aggregated two-phase."""
    from sparkh3.operators.fuzzy import edit_distance_join

    df = spark.createDataFrame(
        [(i, f"gradient descent {i}") for i in range(20)],
        "sid long, s string",
    )
    plan = _plan(edit_distance_join(df, max_dist=2, q=2))
    assert "CartesianProduct" not in plan, plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan
    assert "partial_count" in plan, plan


def test_hll_registers_partial_aggregate_no_udf(spark):
    """HLL register build is one narrow map + a two-phase max — the
    shuffle carries (group, bucket, partial max) rows only."""
    from sparkh3.operators.sketch import hll_estimate, hll_registers

    df = spark.createDataFrame(
        [("g", i) for i in range(100)], "g string, v long"
    )
    plan = _plan(hll_estimate(hll_registers(df, "g", "v"), "g"))
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan
    assert "partial_max" in plan, plan


def test_triangle_count_joins_stay_equi(spark):
    """Wedge generation and closure are sort-merge/hash EQUI-joins on
    (long, long) tuples — never a cartesian — and degrees aggregate
    two-phase."""
    from sparkh3.operators.graph import triangle_count

    df = spark.createDataFrame(
        [(i % 7, (i * 3) % 7) for i in range(30)], "src long, dst long"
    )
    plan = _plan(triangle_count(df))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "PythonUDF" not in plan, plan
    assert "partial_count" in plan, plan


def test_collocations_single_tokenize_no_udf(spark):
    """Collocations stay native (split/slice/zip are JVM expressions)
    and every count aggregate partially combines map-side."""
    from sparkh3.operators.textops import collocations

    docs = spark.createDataFrame(
        [(i, "a b c a b") for i in range(10)], "doc_id long, text string"
    )
    plan = _plan(collocations(docs, min_count=1, k=5))
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan
    assert "partial_count" in plan, plan


def test_resample_ffill_grid_native_single_window(spark):
    """Gap-fill stays native: sequence+explode grid, one window — no
    UDF, no cartesian; the observation aggregate partially combines."""
    from datetime import datetime

    from sparkh3.operators.temporal import resample_ffill

    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, h), 1.0) for h in range(8)],
        "k long, ts timestamp, v double",
    )
    plan = _plan(resample_ffill(df, "k", "ts", "v"))
    assert "PythonUDF" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Window") >= 1, plan
    assert "partial_min" in plan or "partial_finalmerge" in plan, plan


def test_cohort_retention_no_countdistinct_expand(spark):
    """Cohort retention stays native: the final aggregate is a plain
    count over the pre-distincted activity set — no Expand node from a
    countDistinct — and every aggregate partially combines."""
    from datetime import datetime

    from sparkh3.operators.temporal import cohort_retention

    ev = spark.createDataFrame(
        [(i % 5, datetime(2024, 1, 1 + i % 3)) for i in range(20)],
        "user_id long, ts timestamp",
    )
    plan = _plan(cohort_retention(ev, width_us=86_400_000_000))
    assert "PythonUDF" not in plan and "Expand" not in plan, plan
    assert "partial_count" in plan, plan


def test_group_zscore_broadcasts_stats(spark):
    """The z-score stats side joins back as a broadcast — the fact
    table is standardized in a narrow map, never reshuffled on the
    group key after its one aggregate pass."""
    from sparkh3.operators.profile import group_zscore

    df = spark.createDataFrame(
        [(i, "g", i * 3) for i in range(50)], "id long, grp string, v long"
    )
    plan = _plan(group_zscore(df, "v", "grp"))
    assert "BroadcastHashJoin" in plan, plan
    assert "PythonUDF" not in plan, plan


def test_rrf_fuse_native_single_window(spark):
    """RRF fusion is pure native column algebra: union, one partial-
    combined aggregate, one window — no UDF, no join."""
    from sparkh3.operators.textops import rrf_fuse

    a = spark.createDataFrame(
        [(0, i, i + 1) for i in range(5)],
        "query_id long, item_id long, rank long",
    )
    plan = _plan(rrf_fuse([a, a]))
    assert "PythonUDF" not in plan and "Join" not in plan, plan
    assert "partial_count" in plan, plan


def test_skyline_finalize_behind_shuffle(spark):
    """The skyline finalize pass sits behind a shuffle barrier
    (repartition), NOT a coalesce — a narrow coalesce(1) would pull
    every stage-1 local prune into the single finalize task and
    serialize the whole scan."""
    from sparkh3.operators.analytic import skyline

    df = spark.createDataFrame(
        [(i, float(i % 7), float(-(i % 5))) for i in range(50)],
        "id long, a double, b double",
    )
    plan = _plan(skyline(df, minimize=["a"], maximize=["b"]))
    assert "Coalesce" not in plan, plan
    assert "Exchange" in plan, plan
    assert plan.count("MapInPandas") == 2, plan
