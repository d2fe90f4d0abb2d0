"""Connected components (graph.py), BM25 retrieval and radius_join —
the round-3 training-pipeline extensions. CC is property-tested against
a pure-Python union-find; BM25 against a hand-rolled scorer; radius_join
against a NumPy brute-force haversine."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from sparkh3.operators import joins, textops
from sparkh3.operators.graph import _cc_driver, _cc_star, connected_components


def _uf_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _mapping(cc):
    """A (node, cluster_id) frame as a set of pairs."""
    return {(r["node"], r["cluster_id"]) for r in cc.collect()}


class TestConnectedComponents:
    def test_cached_input_is_not_checkpointed(self, spark, jobs_in):
        """A cached pair list serves every read of the call: one job (the
        bounded collect), against two when the pairs must be checkpointed
        first."""
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 8)], "src long, dst long"
        )
        want = {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
        pairs.persist().count()
        try:
            out, jobs = jobs_in(lambda: connected_components(pairs))
            assert (_mapping(out), jobs) == (want, 1)
        finally:
            pairs.unpersist()
        out, jobs = jobs_in(lambda: connected_components(pairs))
        assert (_mapping(out), jobs) == (want, 2)

    def _check(self, spark, edges):
        nodes = sorted({n for e in edges for n in e})
        df = spark.createDataFrame(
            [(int(a), int(b)) for a, b in edges], "src long, dst long"
        )
        want = set(_uf_components(edges, nodes).items())
        assert _mapping(connected_components(df)) == want

    def test_two_components_and_chain(self, spark):
        self._check(spark, [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12)])

    def _both_paths(self, df):
        """(driver, star) results over the same pair list, each as a
        (node, cluster_id) set, plus the driver frame's schema."""
        raw = df.select(
            F.col(df.columns[0]).alias("src"), F.col(df.columns[1]).alias("dst")
        )
        nodes = (
            raw.select(F.col("src").alias("node"))
            .unionByName(raw.select(F.col("dst").alias("node")))
            .distinct()
        )
        fast = _cc_driver(
            df.sparkSession, raw.toArrow(), nodes.schema[0].dataType
        )
        slow = _cc_star(raw, nodes)
        return _mapping(fast), _mapping(slow), fast.schema

    def test_driver_path_equals_distributed_loop(self, spark):
        """The bounded in-process union-find (default for small pair
        lists) and the star-contraction loop must agree exactly —
        including self-loop singletons and duplicate/reversed edges."""
        edges = [(1, 2), (2, 3), (3, 1), (9, 9), (7, 5), (5, 7), (4, 8)]
        df = spark.createDataFrame(edges, "src long, dst long")
        fast, slow, _ = self._both_paths(df)
        assert fast == slow
        want = set(
            _uf_components(
                [(a, b) for a, b in edges if a != b],
                sorted({n for e in edges for n in e}),
            ).items()
        )
        assert fast == want
        assert _mapping(connected_components(df)) == want

    @pytest.mark.parametrize(
        "ddl, edges",
        [
            ("bigint", [(1, 2), (2, 3), (9, 9), (7, 5), (None, 4)]),
            ("int", [(1, 2), (2, 3), (9, 9), (7, 5), (4, None)]),
            ("string", [("b", "a"), ("c", "b"), ("z", "z"), (None, "q")]),
            ("bigint", []),
        ],
    )
    def test_driver_path_types_nulls_empty(self, spark, ddl, edges):
        """Driver path == star loop == plain-Python union-find for each
        node type, with a null node (its own singleton, cluster_id
        null) and for the empty pair list; the result keeps the input
        type."""
        df = spark.createDataFrame(edges, f"src {ddl}, dst {ddl}")
        fast, slow, schema = self._both_paths(df)
        nodes = {n for e in edges for n in e}
        want = set(
            _uf_components(
                [(a, b) for a, b in edges if None not in (a, b) and a != b],
                nodes,
            ).items()
        )
        assert fast == slow == want
        assert [(f.name, f.dataType.simpleString()) for f in schema] == [
            ("node", ddl),
            ("cluster_id", ddl),
        ]

    def test_long_path_worst_case(self, spark):
        # a 40-node path: the shape that defeats naive one-hop label
        # propagation in few rounds; star-alternation must still finish
        self._check(spark, [(i, i + 1) for i in range(40)])

    def test_duplicate_and_reversed_edges(self, spark):
        self._check(spark, [(5, 3), (3, 5), (5, 3), (7, 3), (9, 9), (2, 9)])

    def test_empty(self, spark):
        df = spark.createDataFrame([], "src long, dst long")
        out = connected_components(df)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == ["node", "cluster_id"]

    @settings(max_examples=12, deadline=None)
    @given(st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1, max_size=40,
    ))
    def test_random_graphs_match_union_find(self, edges):
        spark = self._spark
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            return
        self._check(spark, edges)

    @pytest.fixture(autouse=True)
    def _bind_spark(self, spark):
        self._spark = spark


class TestPageRank:
    def _py_pagerank(self, edges, iterations, d=0.85):
        """Pure-Python reference with the operator's float ladder."""
        und = set()
        for a, b in edges:
            if a != b:
                und.add((a, b))
                und.add((b, a))
        nodes = sorted({a for a, _ in und})
        deg = {n: sum(1 for a, _ in und if a == n) for n in nodes}
        n = len(nodes)
        tel = (1.0 - d) / n
        rank = {v: 1.0 / n for v in nodes}
        for _ in range(iterations):
            incoming = {v: 0.0 for v in nodes}
            for a, b in sorted(und):
                incoming[b] += rank[a] / deg[a]
            rank = {v: tel + d * incoming[v] for v in nodes}
        return {v: round(r, 6) for v, r in rank.items()}

    def test_matches_python_reference(self, spark):
        from sparkh3.operators.graph import pagerank

        edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 1), (2, 2)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.node: r.rank for r in pagerank(df, iterations=4).collect()}
        want = self._py_pagerank(edges, 4)
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v] - want[v]) < 2e-6, v

    def test_mass_conserved_and_centrality(self, spark):
        from sparkh3.operators.graph import pagerank

        # star: center 0 linked to 1..6 — center must dominate
        df = spark.createDataFrame(
            [(0, i) for i in range(1, 7)], "src long, dst long"
        )
        rows = pagerank(df, iterations=5).collect()
        total = sum(r.rank for r in rows)
        assert abs(total - 1.0) < 1e-4  # no dangling mass on pair graphs
        ranks = {r.node: r.rank for r in rows}
        assert ranks[0] > max(ranks[i] for i in range(1, 7)) * 3

    def test_validations(self, spark):
        from sparkh3.operators.graph import pagerank

        df = spark.createDataFrame([(1, 2)], "src long, dst long")
        with pytest.raises(ValueError, match="iterations"):
            pagerank(df, iterations=0)
        # self-loop-only input -> empty graph, empty typed result
        loops = spark.createDataFrame([(1, 1)], "src long, dst long")
        assert pagerank(loops, iterations=2).count() == 0


class TestBM25:
    def test_matches_hand_scorer(self, spark):
        corpus = [
            (0, "hash join hash join scan"),
            (1, "scan scan scan filter"),
            (2, "join filter merge"),
            (3, "window sort order order"),
        ]
        docs = spark.createDataFrame(corpus, "doc_id long, text string")
        queries = spark.createDataFrame(
            [(0, "hash"), (0, "join"), (1, "scan")],
            "query_id long, term string",
        )
        out = textops.bm25_topk(docs, queries, k=3)
        got = {
            (r["query_id"], r["doc_id"]): (r["rank"], r["score"])
            for r in out.collect()
        }

        toks = {d: t.split() for d, t in corpus}
        n_docs = len(corpus)
        avgdl = sum(len(t) for t in toks.values()) / n_docs

        def score(doc, terms):
            s = 0.0
            for term in terms:
                tf = toks[doc].count(term)
                if tf == 0:
                    continue
                df = sum(1 for t in toks.values() if term in t)
                idf = math.log(1 + (n_docs - df + 0.5) / (df + 0.5))
                s += idf * tf * 2.2 / (
                    tf + 1.2 * (0.25 + 0.75 * len(toks[doc]) / avgdl)
                )
            return s

        for qid, terms in ((0, ["hash", "join"]), (1, ["scan"])):
            want = sorted(
                ((d, score(d, terms)) for d, _ in corpus if score(d, terms) > 0),
                key=lambda x: (-round(x[1], 6), x[0]),
            )[:3]
            for rank, (d, s) in enumerate(want, start=1):
                assert (qid, d) in got
                grank, gscore = got[(qid, d)]
                assert grank == rank
                assert abs(gscore - s) < 1e-9

    def test_no_matches_empty(self, spark):
        docs = spark.createDataFrame(
            [(0, "alpha beta")], "doc_id long, text string"
        )
        queries = spark.createDataFrame(
            [(0, "zzz")], "query_id long, term string"
        )
        assert textops.bm25_topk(docs, queries).count() == 0


class TestRadiusJoin:
    def _brute(self, q, p, radius):
        out = set()
        for qid, qla, qlo in q:
            for pid, pla, plo in p:
                d = 2 * 6371.007180918475 * math.asin(math.sqrt(
                    math.sin(math.radians(pla - qla) / 2) ** 2
                    + math.cos(math.radians(qla))
                    * math.cos(math.radians(pla))
                    * math.sin(math.radians(plo - qlo) / 2) ** 2
                ))
                if round(d, 6) <= radius:
                    out.add((qid, pid))
        return out

    def test_matches_brute_force(self, spark):
        rng = np.random.default_rng(7)
        pla = rng.uniform(40.0, 42.0, 300)
        plo = rng.uniform(-74.5, -72.5, 300)
        p = [(i, float(pla[i]), float(plo[i])) for i in range(300)]
        q = [(0, 40.75, -73.99), (1, 41.5, -73.0), (2, 41.9, -72.6)]
        qdf = spark.createDataFrame(q, "query_id long, lat double, lng double")
        pdf = spark.createDataFrame(p, "point_id long, lat double, lng double")
        got = {
            (r["query_id"], r["point_id"])
            for r in joins.radius_join(qdf, pdf, radius_km=25.0).collect()
        }
        assert got == self._brute(q, p, 25.0)

    def test_explicit_resolution_and_guardrails(self, spark):
        q = spark.createDataFrame(
            [(0, 10.0, 10.0)], "query_id long, lat double, lng double"
        )
        p = spark.createDataFrame(
            [(0, 10.01, 10.01), (1, 12.0, 12.0)],
            "point_id long, lat double, lng double",
        )
        out = joins.radius_join(q, p, radius_km=5.0, resolution=6).collect()
        assert [(r["query_id"], r["point_id"]) for r in out] == [(0, 0)]
        with pytest.raises(ValueError):
            joins.radius_join(q, p, radius_km=0.0)
        with pytest.raises(ValueError):
            joins.radius_join(q, p, radius_km=5000.0, resolution=9)
        with pytest.raises(ValueError):
            joins.radius_join(q, p, radius_km=5.0, max_queries=0)

    def test_no_point_side_shuffle(self, spark, monkeypatch):
        """The 100 TB contract: the plan contains no Exchange on the
        point side — one probe pass (a single Python node) + filter. The
        row bound at 0 keeps the pass off the driver."""
        monkeypatch.setattr(joins, "DRIVER_POINT_ROWS", 0)
        q = spark.createDataFrame(
            [(0, 40.75, -73.99)], "query_id long, lat double, lng double"
        )
        p = spark.createDataFrame(
            [(0, 40.76, -73.98)], "point_id long, lat double, lng double"
        )
        plan = (
            joins.radius_join(q, p, radius_km=10.0)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("MapInArrow") == 1, plan
        assert "ArrowEvalPython" not in plan, plan
        import re

        shuffles = re.findall(r"Exchange (?!SinglePartition)\S*partitioning", plan)
        assert all("hashpartitioning" not in s for s in shuffles), plan


class TestDedupByPairs:
    def test_keeps_min_per_component_and_passthrough(self, spark):
        docs = spark.createDataFrame(
            [(i, f"t{i}") for i in range(8)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 5), (6, 7)], "src long, dst long"
        )
        from sparkh3.operators.graph import dedup_by_pairs

        kept = sorted(
            r["doc_id"] for r in dedup_by_pairs(docs, pairs).collect()
        )
        # components {1,2,5} -> keep 1; {6,7} -> keep 6; 0,3,4 untouched
        assert kept == [0, 1, 3, 4, 6]

    def test_empty_pairs_identity(self, spark):
        docs = spark.createDataFrame(
            [(i, f"t{i}") for i in range(4)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame([], "src long, dst long")
        from sparkh3.operators.graph import dedup_by_pairs

        assert dedup_by_pairs(docs, pairs).count() == 4


class TestReviewRegressions:
    """Round-3 review findings: self-loop-only nodes, mixed-res
    grid_path, manifest key_kind guard, parse_mem grammar."""

    def test_cc_self_loop_only_node(self, spark):
        pairs = spark.createDataFrame(
            [(7, 7), (1, 2)], "src long, dst long"
        )
        got = {
            (r["node"], r["cluster_id"])
            for r in connected_components(pairs).collect()
        }
        assert got == {(7, 7), (1, 1), (2, 1)}
        only_loop = spark.createDataFrame([(5, 5)], "src long, dst long")
        got2 = [
            (r["node"], r["cluster_id"])
            for r in connected_components(only_loop).collect()
        ]
        assert got2 == [(5, 5)]

    def test_grid_path_mixed_resolution_raises(self):
        import numpy as np

        from sparkh3.kernel import geo as kgeo
        from sparkh3.kernel import traversal as tv

        a = int(kgeo.latlng_to_cell(np.array([10.0]), np.array([10.0]), 8)[0])
        b = int(kgeo.latlng_to_cell(np.array([10.1]), np.array([10.1]), 9)[0])
        with pytest.raises(ValueError, match="equal resolutions"):
            tv.grid_path(a, b)
        with pytest.raises(ValueError, match="equal resolutions"):
            tv.grid_distance(a, b)

    def test_manifest_key_kind_guard(self, spark, tmp_path):
        import numpy as np

        from sparkh3.kernel import s2 as s2k
        from sparkh3.sources import manifest

        cells = s2k.latlng_to_cell(
            np.array([10.0, 20.0]), np.array([10.0, 20.0]), 14
        ).view(np.int64)
        df = spark.createDataFrame(
            [(int(i), int(c)) for i, c in enumerate(cells)],
            "row_id long, s2_14 long",
        )
        root = str(tmp_path / "guard")
        manifest.write_table(df, root, "s2_14", key_is_int=True)
        with pytest.raises(ValueError, match="key_kind"):
            manifest.read_table(spark, root, cells=["8928308280fffff"])
        with pytest.raises(ValueError, match="cells= or ranges="):
            manifest.pruned_file_count(root)

    def test_parse_mem_spark_grammar(self):
        from sparkh3.plans import tuning

        assert tuning.parse_mem("8gb") == 8 * (1 << 30)
        assert tuning.parse_mem("512mb") == 512 * (1 << 20)
        assert tuning.parse_mem("2t") == 2 * (1 << 40)


class TestTriangleCount:
    def _brute(self, edge_list):
        import itertools

        adj = set()
        nodes = set()
        for s, t in edge_list:
            if s == t:
                continue
            adj.add((min(s, t), max(s, t)))
            nodes.update((s, t))
        counts = {}
        for a, b, c in itertools.combinations(sorted(nodes), 3):
            if (
                (a, b) in adj and (a, c) in adj and (b, c) in adj
            ):
                for n in (a, b, c):
                    counts[n] = counts.get(n, 0) + 1
        return counts

    def test_matches_brute_force_random_graph(self, spark):
        from sparkh3.operators.graph import triangle_count

        # deterministic pseudo-random graph with hubs (skewed degrees)
        edges = [
            ((i * 7919) % 60, (i * i * 104729 + i) % 60) for i in range(400)
        ] + [(0, j) for j in range(1, 40)]  # hub node 0
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            r.node: r.n_triangles for r in triangle_count(df).collect()
        }
        assert got == self._brute(edges)

    def test_loops_and_reversed_duplicates_ignored(self, spark):
        from sparkh3.operators.graph import triangle_count

        edges = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 2), (1, 3)]
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            r.node: r.n_triangles for r in triangle_count(df).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1}

    def test_triangle_free_graph_empty(self, spark):
        from sparkh3.operators.graph import triangle_count

        # a star has no triangles
        df = spark.createDataFrame(
            [(0, i) for i in range(1, 10)], ["src", "dst"]
        )
        assert triangle_count(df).count() == 0


class TestRRFFuse:
    def _mk(self, spark, rows):
        return spark.createDataFrame(
            rows, "query_id long, item_id long, rank long"
        )

    def test_fusion_math_and_order(self, spark):
        # q0: list A ranks items 1,2,3; list B ranks 2,3,4.
        a = self._mk(spark, [(0, 1, 1), (0, 2, 2), (0, 3, 3)])
        b = self._mk(spark, [(0, 2, 1), (0, 3, 2), (0, 4, 3)])
        out = textops.rrf_fuse([a, b], k0=60, topk=10).collect()
        got = {r.item_id: (r.rrf_score, r.n_lists, r.rank) for r in out}
        # item 2: 1/62 + 1/61 is the highest fused mass
        assert got[2][1] == 2 and got[2][2] == 1
        assert got[2][0] == round(1 / 62 + 1 / 61, 6)
        assert got[3][1] == 2 and got[3][2] == 2
        # singles: item 1 (1/61) beats item 4 (1/63)
        assert got[1][2] == 3 and got[4][2] == 4
        assert got[1][0] == round(1 / 61, 6)

    def test_tiebreak_by_item_id(self, spark):
        # identical fused score -> lower item_id wins
        a = self._mk(spark, [(0, 9, 1), (0, 4, 2)])
        b = self._mk(spark, [(0, 4, 1), (0, 9, 2)])
        out = {r.item_id: r.rank
               for r in textops.rrf_fuse([a, b]).collect()}
        assert out == {4: 1, 9: 2}

    def test_topk_and_multi_query(self, spark):
        a = self._mk(spark, [(q, i, i) for q in (0, 1) for i in range(1, 6)])
        out = textops.rrf_fuse([a], topk=2)
        assert out.count() == 4
        assert out.filter(F.col("rank") > 2).count() == 0

    def test_empty_input_list_raises(self, spark):
        with pytest.raises(ValueError):
            textops.rrf_fuse([])
