"""Unit tests for operators/quality.py and operators/graph.py: known-answer
graphs for connected components, synthetic PII strings, and repetition edge
cases the corpus-level oracle queries can't isolate."""

from pyspark.sql import functions as F

from sea_streamer_spark.operators import graph as G
from sea_streamer_spark.operators import quality as Q


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


class TestConnectedComponents:
    def test_chain_and_island(self, spark):
        # chain 1-2-3-4 (diameter > 1 forces multiple rounds), island 7-8,
        # singleton 9 absent from edges entirely.
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (7, 8)], "doc_a long, doc_b long"
        )
        cc = {r.node: r.cluster for r in G.connected_components(edges).collect()}
        assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}

    def test_edge_direction_irrelevant(self, spark):
        fwd = spark.createDataFrame([(5, 2), (2, 9)], "doc_a long, doc_b long")
        rev = spark.createDataFrame([(2, 5), (9, 2)], "doc_a long, doc_b long")
        a = {r.node: r.cluster for r in G.connected_components(fwd).collect()}
        b = {r.node: r.cluster for r in G.connected_components(rev).collect()}
        assert a == b == {5: 2, 2: 2, 9: 2}

    def test_dedup_clusters_coalesces_singletons(self, spark):
        docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
        pairs = spark.createDataFrame([(0, 3), (3, 5)], "doc_a long, doc_b long")
        out = {r.doc_id: r.cluster_id for r in G.dedup_clusters(docs, pairs).collect()}
        assert out == {0: 0, 1: 1, 2: 2, 3: 0, 4: 4, 5: 0}
        # keep-rule: one representative per cluster
        keep = [d for d, c in out.items() if d == c]
        assert sorted(keep) == [0, 1, 2, 4]


class TestPiiRedact:
    def test_patterns_redact_and_count(self, spark):
        df = _docs(
            spark,
            [
                "mail me at a.b+c@foo.org today",
                "server 10.20.30.40 and 192.168.0.1 up",
                "call 555-867-5309 now",
                "clean text with nothing to hide",
            ],
        )
        rows = {r.doc_id: r for r in Q.pii_redact(df).collect()}
        assert rows[0].n_email == 1 and "<EMAIL>" in rows[0].redacted
        assert "a.b+c@foo.org" not in rows[0].redacted
        assert rows[1].n_ipv4 == 2 and rows[1].redacted.count("<IP>") == 2
        assert rows[2].n_phone == 1 and "<PHONE>" in rows[2].redacted
        assert rows[3].redacted == "clean text with nothing to hide"
        assert rows[3].n_email == rows[3].n_ipv4 == rows[3].n_phone == 0


class TestRepetition:
    def test_known_fractions(self, spark):
        df = _docs(spark, ["a a a b", "x y z w", "solo"])
        rows = {r.doc_id: r for r in Q.repetition_stats(df).collect()}
        assert rows[0].top_token_frac == 0.75
        assert rows[0].distinct_token_ratio == 0.5
        # bigrams of "a a a b": "a a","a a","a b" -> top frac 2/3
        assert abs(rows[0].top_bigram_frac - 2 / 3) < 1e-9
        assert rows[1].top_token_frac == 0.25 and rows[1].distinct_token_ratio == 1.0
        # single-token doc: no bigrams -> 0.0, not null
        assert rows[2].top_bigram_frac == 0.0

    def test_gopher_flags_discriminate(self, spark):
        long_ok = " ".join(["the", "of"] + ["word"] * 40)  # 42 words, stopwords
        short = "tiny doc"
        no_stop = " ".join(["zz"] * 50)
        df = _docs(spark, [long_ok, short, no_stop])
        rows = {r.doc_id: r for r in Q.gopher_quality_flags(df).collect()}
        assert rows[0].passes
        assert not rows[1].ok_word_count and not rows[1].passes
        assert not rows[2].ok_stopwords and not rows[2].passes


class TestConnectedComponentsRandomized:
    def test_matches_union_find_on_random_graphs(self, spark):
        """Seeded random-graph sweep vs a pure-Python union-find oracle —
        the iterative distributed loop must agree on every topology class
        (sparse, dense, multi-component, duplicate/reversed edges)."""
        import random

        rng = random.Random(0xC0FFEE)
        for trial in range(8):
            n = rng.randint(2, 40)
            m = rng.randint(1, 60)
            edges = [
                (rng.randrange(n), rng.randrange(n)) for _ in range(m)
            ]
            edges = [(a, b) for a, b in edges if a != b]
            if not edges:
                continue

            parent = list(range(n))

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edges:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            touched = {v for e in edges for v in e}
            want = {}
            for v in touched:
                root = find(v)
                comp_min = min(u for u in touched if find(u) == root)
                want[v] = comp_min

            from sea_streamer_spark.operators.graph import connected_components

            df = spark.createDataFrame(edges, "doc_a long, doc_b long")
            got = {r.node: r.cluster for r in connected_components(df).collect()}
            assert got == want, f"trial {trial}: {sorted(edges)}"


class TestQualityRandomized:
    """Seeded random-corpus sweep: the JVM-expression implementations must
    agree with direct Python reimplementations of the same rules (tokenizer
    = split on whitespace runs, same thresholds/patterns)."""

    def _corpus(self):
        import random

        rng = random.Random(0xFEED)
        words = ["the", "of", "zz", "word", "a", "qqq", "x1", "!!", "foo,bar"]
        docs = []
        for i in range(40):
            n = rng.choice([1, 2, 3, 5, 20, 35, 60, 90])
            docs.append((i, " ".join(rng.choice(words) for _ in range(n))))
        docs.append((100, "a.b@foo.io 10.1.2.3 555-123-4567 end"))
        return docs

    def test_repetition_matches_python(self, spark):
        import re

        docs = self._corpus()
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r.doc_id: r for r in Q.repetition_stats(df).collect()}
        for doc_id, text in docs:
            toks = re.split(r"\s+", text)
            grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
            r = got[doc_id]
            assert abs(r.distinct_token_ratio - len(set(toks)) / len(toks)) < 1e-9
            want_top = max(toks.count(t) for t in set(toks)) / len(toks)
            assert abs(r.top_token_frac - want_top) < 1e-9
            want_bg = (
                max(grams.count(g) for g in set(grams)) / len(grams) if grams else 0.0
            )
            assert abs(r.top_bigram_frac - want_bg) < 1e-9, (doc_id, text)

    def test_gopher_flags_match_python(self, spark):
        import re

        docs = self._corpus()
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r.doc_id: r for r in Q.gopher_quality_flags(df).collect()}
        from sea_streamer_spark.operators.text import STOPWORDS

        for doc_id, text in docs:
            toks = re.split(r"\s+", text)
            r = got[doc_id]
            assert r.n_words == len(toks)
            mean_len = sum(len(t) for t in toks) / len(toks)
            assert abs(r.mean_word_len - round(mean_len, 6)) < 1e-6
            n_stop = len(set(toks) & set(STOPWORDS))
            assert r.n_distinct_stopwords == n_stop
            sym = len(re.sub(r"[a-zA-Z0-9 ]", "", text)) / len(text)
            want = (
                Q.MIN_WORDS <= len(toks) <= Q.MAX_WORDS
                and Q.MIN_MEAN_WORD_LEN <= mean_len <= Q.MAX_MEAN_WORD_LEN
                and n_stop >= Q.MIN_DISTINCT_STOPWORDS
                and sym <= Q.MAX_SYMBOL_RATIO
            )
            assert r.passes == want, (doc_id, text)

    def test_pii_matches_python(self, spark):
        import re

        docs = self._corpus()
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r.doc_id: r for r in Q.pii_redact(df).collect()}
        for doc_id, text in docs:
            r = got[doc_id]
            red = text
            for cat, (pat, repl) in Q.PII_PATTERNS.items():
                assert getattr(r, f"n_{cat}") == len(re.findall(pat, text)), (cat, text)
                red = re.sub(pat, repl, red)
            assert r.redacted == red, (doc_id, text)


class TestConnectedComponentsLongChain:
    def test_path_graph_converges_in_log_rounds(self, spark):
        """A 200-node path graph (diameter 199) — the topology where naive
        hash-min label propagation needs ~200 rounds; large-star/small-star
        must converge within the 50-round cap and label every node with the
        chain minimum."""
        import random

        rng = random.Random(7)
        ids = list(range(1000, 1200))
        rng.shuffle(ids)  # scatter the minimum into the middle of the chain
        edges = list(zip(ids, ids[1:]))
        from sea_streamer_spark.operators.graph import connected_components

        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {r.node: r.cluster for r in connected_components(df).collect()}
        assert set(got) == set(ids)
        assert set(got.values()) == {min(ids)}


    def test_star_fallback_and_round_cap(self, spark):
        """A 50-node chain outlasts the 8 hash-min rounds, so the labels come
        from the star fallback; with max_iter=2 star rounds it refuses loudly
        rather than returning partial labels."""
        import pytest as _pytest

        from sea_streamer_spark.operators.graph import connected_components

        ids = list(range(50))
        edges = list(zip(ids, ids[1:]))
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {r.node: r.cluster for r in connected_components(df).collect()}
        assert set(got) == set(ids) and set(got.values()) == {0}
        with _pytest.raises(RuntimeError, match="did not converge"):
            connected_components(df, max_iter=2).collect()


class TestMixtureResample:
    def test_replication_semantics(self, spark):
        from pyspark.sql import functions as F

        from sea_streamer_spark.operators.curation import mixture_resample, split_bucket

        df = spark.createDataFrame(
            [(i, "s0" if i % 2 == 0 else "s1") for i in range(200)],
            "doc_id long, source string",
        )
        out = mixture_resample(df, weights={"s0": 3.0, "s1": 0.5}).cache()
        # integer weight: exactly 3 copies of every s0 doc, copy_idx 0..2
        s0 = out.filter("source = 's0'")
        assert s0.count() == 100 * 3
        assert s0.groupBy("doc_id").count().filter("count != 3").count() == 0
        assert {r.copy_idx for r in s0.select("copy_idx").distinct().collect()} == {0, 1, 2}
        # fractional weight: subset with copy_idx 0 only, deterministic
        s1a = {r.doc_id for r in out.filter("source = 's1'").collect()}
        s1b = {r.doc_id for r in mixture_resample(df, weights={"s0": 3.0, "s1": 0.5})
               .filter("source = 's1'").collect()}
        assert s1a == s1b and 0 < len(s1a) < 100
        # unknown sources fall to default weight 1.0: untouched single copies
        out_def = mixture_resample(df.withColumn("source", F.lit("zz")), weights={"s0": 9.0})
        assert out_def.count() == 200
