"""Unit tests for the composite relational operators (SURVEY.md §2.3-2.7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from waterdata_spark.operators.dedup import dedup_any, exact_dedup, priority_dedup
from waterdata_spark.operators.expand import expand_keys
from waterdata_spark.operators.expectations import (
    ExpectationError,
    expect_column_consistency_observed,
    expect_range,
    expect_row_count_preserved,
    expect_schema,
    profile,
)
from waterdata_spark.operators.fallback_join import fallback_join


@pytest.fixture()
def fact(spark):
    return spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c"), (4, 99, "d")],
        "id long, key long, val string",
    )


@pytest.fixture()
def dim(spark):
    # key collides on k2 for rows (20, 21) — tier-2 dedup must pick one
    return spark.createDataFrame(
        [(10, 0, "ten"), (20, 1, "twenty"), (21, 1, "twentyone")],
        "k1 long, k2 long, payload string",
    )


class TestPriorityDedup:
    def test_keeps_best_row(self, spark):
        df = spark.createDataFrame(
            [("a", 1, 5.0), ("a", 2, 9.0), ("b", 3, 1.0)], "k string, id long, score double"
        )
        out = priority_dedup(df, ["k"], [F.col("score").desc(), F.col("id").asc()])
        rows = {r["k"]: r["id"] for r in out.collect()}
        assert rows == {"a": 2, "b": 3}

    def test_deterministic_on_ties(self, spark):
        df = spark.createDataFrame(
            [("a", i, 1.0) for i in range(50)], "k string, id long, score double"
        )
        out1 = priority_dedup(df, ["k"], [F.col("score").desc(), F.col("id").asc()])
        assert out1.collect()[0]["id"] == 0

    def test_row_count(self, spark):
        df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 1)], "k string, id long")
        assert priority_dedup(df, ["k"], [F.col("id")]).count() == 2


class TestDedup:
    def test_dedup_any_one_per_key(self, spark):
        df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 1)], "k string, id long")
        assert dedup_any(df, ["k"]).count() == 2

    def test_exact_dedup_keeps_lowest_id(self, spark):
        df = spark.createDataFrame(
            [(3, "same"), (1, "same"), (2, "other")], "doc_id long, text string"
        )
        out = exact_dedup(df, ["text"], "doc_id")
        assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]

    def test_exact_dedup_idempotent(self, spark):
        df = spark.createDataFrame(
            [(3, "same"), (1, "same"), (2, "other")], "doc_id long, text string"
        )
        once = exact_dedup(df, ["text"], "doc_id")
        twice = exact_dedup(once, ["text"], "doc_id")
        assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))

    def test_dedup_lines_global_c4_semantics(self, spark):
        """Boilerplate lines keep only their first corpus occurrence
        (first by (doc_id, line index)); document-internal order is
        preserved; short separator lines pass through everywhere; a
        doc reduced to nothing is dropped."""
        from waterdata_spark.operators.dedup import dedup_lines_global

        df = spark.createDataFrame(
            [
                (1, "SITE HEADER\nbody one\n-\nSITE HEADER\nunique tail"),
                (2, "SITE HEADER\nbody two\n-"),
                (3, "SITE HEADER"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in dedup_lines_global(df, min_line_chars=2).collect()}
        # doc 1: header kept once (first occurrence), internal dup dropped
        assert out[1]["text"] == "SITE HEADER\nbody one\n-\nunique tail"
        assert out[1]["n_lines_kept"] == 4 and out[1]["n_lines_dropped"] == 1
        # doc 2: header deduped away, '-' separator passes (below min chars)
        assert out[2]["text"] == "body two\n-"
        # doc 3: nothing left -> dropped
        assert 3 not in out

        kept_all = {
            r["doc_id"]: r
            for r in dedup_lines_global(df, min_line_chars=2, drop_empty_docs=False).collect()
        }
        assert kept_all[3]["text"] == "" and kept_all[3]["n_lines_kept"] == 0

    def test_dedup_lines_global_idempotent(self, spark):
        from waterdata_spark.operators.dedup import dedup_lines_global

        df = spark.createDataFrame(
            [(i, f"COMMON BANNER\ndoc {i} body\nCOMMON BANNER") for i in range(5)],
            "doc_id long, text string",
        )
        once = dedup_lines_global(df).select("doc_id", "text")
        twice = dedup_lines_global(once).select("doc_id", "text")
        assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
        # the banner survives exactly once corpus-wide
        n_banner = sum(
            r["text"].count("COMMON BANNER") for r in once.collect()
        )
        assert n_banner == 1

    def test_dedup_lines_global_differential_on_documents(self, spark):
        """On the real documents table (with planted cross-document
        boilerplate), the operator must agree line-for-line with a
        pure-Python reimplementation of the first-occurrence rule."""
        from tests.conftest import SF_SMOKE
        from waterdata_spark.operators.dedup import dedup_lines_global
        from waterdata_spark.schemas import load_table

        docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
        banner = "SHARED BOILERPLATE BANNER LINE"
        planted = docs.limit(40).selectExpr(
            "doc_id", f"concat('{banner}', '\\n', text, '\\n', '{banner}') AS text"
        )
        rows = sorted(
            ((r["doc_id"], r["text"]) for r in planted.collect()), key=lambda x: x[0]
        )

        # pure-Python reference: first occurrence by (doc_id, line idx)
        seen: set = set()
        want: dict = {}
        for did, text in rows:
            kept = []
            for line in text.split("\n"):
                t = line.strip()
                if not t:
                    continue
                if t in seen:
                    continue
                seen.add(t)
                kept.append(line)
            if kept:
                want[did] = "\n".join(kept)

        got = {
            r["doc_id"]: r["text"]
            for r in dedup_lines_global(planted).collect()
        }
        assert got == want
        # the planted banner survives exactly once across the corpus
        assert sum(t.count(banner) for t in got.values()) == 1

    def test_remove_boilerplate_lines_semantics(self, spark):
        """A line reaching the distinct-document threshold is removed
        EVERYWHERE — including its first occurrence (the contract that
        separates boilerplate removal from line dedup). Within-doc
        repetition alone does not trip the threshold; short separator
        lines pass through; emptied docs drop."""
        from waterdata_spark.operators.dedup import remove_boilerplate_lines

        df = spark.createDataFrame(
            [
                (1, "COOKIE BANNER\nbody one\n-\nbody one\nCOOKIE BANNER"),
                (2, "COOKIE BANNER\nbody two\n-"),
                (3, "COOKIE BANNER"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in remove_boilerplate_lines(df, min_docs=2, min_line_chars=2).collect()
        }
        # banner (3 docs) removed everywhere; within-doc dup 'body one'
        # (1 doc) survives both copies; '-' passes below min chars
        assert out[1]["text"] == "body one\n-\nbody one"
        assert out[1]["n_lines_kept"] == 3 and out[1]["n_lines_dropped"] == 2
        assert out[2]["text"] == "body two\n-"
        assert 3 not in out  # emptied -> dropped

        kept_all = {
            r["doc_id"]: r
            for r in remove_boilerplate_lines(
                df, min_docs=2, min_line_chars=2, drop_empty_docs=False
            ).collect()
        }
        assert kept_all[3]["text"] == "" and kept_all[3]["n_lines_kept"] == 0

    def test_remove_boilerplate_lines_frac_threshold_and_validation(self, spark):
        from waterdata_spark.operators.dedup import remove_boilerplate_lines

        # 10 docs share a banner; a pair-line appears in only 2 docs.
        rows = [
            (i, f"GLOBAL BANNER\ndoc {i} body" + ("\nPAIR LINE" if i < 2 else ""))
            for i in range(10)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        # frac 0.5 -> threshold max(2, ceil(5)) = 5: banner goes, pair stays
        out = {
            r["doc_id"]: r["text"]
            for r in remove_boilerplate_lines(df, min_docs=2, min_doc_frac=0.5).collect()
        }
        assert all("GLOBAL BANNER" not in t for t in out.values())
        assert out[0] == "doc 0 body\nPAIR LINE"
        # min_docs floor applies when frac*n is tiny
        out2 = remove_boilerplate_lines(df, min_docs=3, min_doc_frac=0.01)
        got2 = {r["doc_id"]: r["text"] for r in out2.collect()}
        assert got2[0] == "doc 0 body\nPAIR LINE"  # 2 docs < floor 3

        import pytest as _pytest

        with _pytest.raises(ValueError):
            remove_boilerplate_lines(df, min_docs=1)
        with _pytest.raises(ValueError):
            remove_boilerplate_lines(df, min_doc_frac=1.5)

    def test_remove_boilerplate_lines_differential_on_documents(self, spark):
        """On real documents made multi-line (the x22 transform), the
        operator agrees line-for-line with a pure-Python reimplementation
        of the distinct-doc-frequency rule, and is idempotent."""
        from tests.conftest import SF_SMOKE
        from waterdata_spark.operators.dedup import remove_boilerplate_lines
        from waterdata_spark.schemas import load_table

        docs = (
            load_table(spark, SF_SMOKE, "documents")
            .selectExpr("doc_id", "replace(text, ' the ', '\\n') AS text")
            .limit(120)
        )
        rows = sorted(
            ((r["doc_id"], r["text"]) for r in docs.collect()), key=lambda x: x[0]
        )
        from collections import defaultdict

        docs_per_line: dict = defaultdict(set)
        for did, text in rows:
            for line in text.split("\n"):
                t = line.strip()
                if t:
                    docs_per_line[t].add(did)
        hot = {t for t, ds in docs_per_line.items() if len(ds) >= 2}
        assert hot, "fixture must exercise the threshold"
        want = {}
        for did, text in rows:
            kept = [
                line
                for line in text.split("\n")
                if line.strip() and line.strip() not in hot
            ]
            if kept:
                want[did] = "\n".join(kept)

        out = remove_boilerplate_lines(docs, min_docs=2)
        got = {r["doc_id"]: r["text"] for r in out.collect()}
        assert got == want
        again = remove_boilerplate_lines(
            out.select("doc_id", "text"), min_docs=2
        )
        got2 = {r["doc_id"]: r["text"] for r in again.collect()}
        assert got2 == got  # idempotent: survivors are all below threshold

    def test_dedup_against_exact(self, spark):
        """Cross-corpus exact dedup: corpus rows whose content exists
        in the reference drop; self-duplicates inside the corpus
        survive (not this operator's job)."""
        from waterdata_spark.operators.dedup import dedup_against_exact

        corpus = spark.createDataFrame(
            [(1, "already ingested"), (2, "fresh content"), (3, "fresh content")],
            "doc_id long, text string",
        )
        ref = spark.createDataFrame(
            [(900, "already ingested"), (901, "other old doc")],
            "doc_id long, text string",
        )
        out = dedup_against_exact(corpus, ref, ["text"])
        assert sorted(r["doc_id"] for r in out.collect()) == [2, 3]
        assert out.columns == corpus.columns

    def test_digest_reuse_path_matches_recompute(self, spark):
        """r9 digest_col contract: computing content_digest once and
        running both dedup stages on it gives exactly the recompute
        path's rows — and lets the caller project the wide text away
        before any shuffle."""
        from waterdata_spark.operators.dedup import (
            content_digest,
            dedup_against_exact,
        )

        corpus = spark.createDataFrame(
            [(3, "same"), (1, "same"), (2, "other"), (4, "ingested")],
            "doc_id long, text string",
        )
        ref = spark.createDataFrame([(900, "ingested")], "doc_id long, text string")
        expected = dedup_against_exact(
            exact_dedup(corpus, ["text"], "doc_id"), ref, ["text"]
        )
        dc = corpus.withColumn("__d", content_digest(["text"]))
        kept = exact_dedup(
            dc.select("doc_id", "__d"), [], "doc_id", digest_col="__d"
        )
        got = dedup_against_exact(
            kept,
            ref.withColumn("__d", content_digest(["text"])).select("__d"),
            [],
            digest_col="__d",
        )
        assert sorted(r["doc_id"] for r in got.collect()) == sorted(
            r["doc_id"] for r in expected.collect()
        ) == [1, 2]

    def test_content_digest_no_boundary_or_null_collisions(self, spark):
        """Length-prefixed content encoding (ADVICE r6): ("ab","c")
        must NOT collide with ("a","bc"), and null must NOT collide
        with '' — in the cross-corpus form a collision silently
        deletes corpus rows."""
        from waterdata_spark.operators.dedup import dedup_against_exact, exact_dedup

        corpus = spark.createDataFrame(
            [(1, "ab", "c"), (2, None, "x"), (3, "", "x")],
            "doc_id long, a string, b string",
        )
        ref = spark.createDataFrame(
            [(900, "a", "bc"), (901, "ab", "c")], "doc_id long, a string, b string"
        )
        out = dedup_against_exact(corpus, ref, ["a", "b"])
        # only the true match (1 ≡ 901) drops; boundary shift 900 doesn't
        assert sorted(r["doc_id"] for r in out.collect()) == [2, 3]
        # within-table: null and '' stay distinct rows
        self_d = exact_dedup(corpus, ["a", "b"], "doc_id")
        assert sorted(r["doc_id"] for r in self_d.collect()) == [1, 2, 3]

    def test_dedup_against_fuzzy(self, spark):
        """Cross-corpus near-dup dedup: a corpus doc that is a light
        edit of a reference doc drops at threshold 0.5; an unrelated
        doc survives; threshold=None drops on band collision alone."""
        from waterdata_spark.operators.dedup_approx import dedup_against

        base = "the quick brown fox jumps over the lazy dog again and again " * 4
        near = base + "one appended tail"  # shingle superset, jaccard ~0.93
        other = "completely unrelated text about spark physical plans " * 4
        corpus = spark.createDataFrame(
            [(1, near), (2, other)], "doc_id long, text string"
        )
        ref = spark.createDataFrame([(900, base)], "doc_id long, text string")
        # n_bands=8 (2 rows/band): collision prob ~1 at jaccard 0.93,
        # ~0 for unrelated text — a deterministic test, not a coin flip.
        # Both hash families must agree: md5 is the x23 oracle contract,
        # xx the production path (same plan, different permutations).
        for hash_fn in ("xx", "md5"):
            kept = dedup_against(
                corpus, ref, n_bands=8, threshold=0.5, hash_fn=hash_fn
            )
            assert [r["doc_id"] for r in kept.collect()] == [2], hash_fn
        # identical text at threshold=None also drops via band collision
        corpus2 = spark.createDataFrame(
            [(1, base), (2, other)], "doc_id long, text string"
        )
        kept2 = dedup_against(corpus2, ref, threshold=None)
        assert [r["doc_id"] for r in kept2.collect()] == [2]

    def test_priority_dedup_agg_matches_window(self, spark):
        """The map-side-combinable aggregate form must agree with the
        canonical window form on every key shape: unique tiebreaks,
        duplicate priorities, negative values, nulls in payload."""
        from waterdata_spark.operators.dedup import priority_dedup_agg

        df = spark.createDataFrame(
            [
                ("a", 1, 10.0, "x"),
                ("a", 2, 10.0, None),
                ("a", 3, -5.0, "y"),
                ("b", 1, 0.0, "z"),
                ("c", 7, 2.5, None),
                ("c", 6, 2.5, "w"),
            ],
            "k string, tie int, pri double, payload string",
        )
        win = priority_dedup(df, ["k"], [F.col("pri").desc(), F.col("tie").asc()])
        agg = priority_dedup_agg(
            df, ["k"], F.struct((-F.col("pri")).alias("p"), F.col("tie").alias("t"))
        )
        assert sorted(map(tuple, win.collect())) == sorted(map(tuple, agg.collect()))
        assert win.columns == agg.columns


class TestFallbackJoin:
    def test_tier_assignment(self, spark, fact, dim):
        out = fallback_join(
            fact.withColumn("k1", F.col("key")).withColumn("k2", F.col("key") % 10),
            dim,
            tiers=[["k1"], ["k2"]],
            payload=["payload"],
            dedup_order=[F.col("payload").asc()],
            tier_col="tier",
        )
        rows = {r["id"]: (r["payload"], r["tier"]) for r in out.collect()}
        assert rows[1] == ("ten", 1)  # key 10 matches tier 1
        assert rows[2] == ("twenty", 1)  # key 20 matches tier 1
        # key 30: no k1 match; k2 = 0 → 'ten' via tier 2
        assert rows[3] == ("ten", 2)
        # key 99: no k1; k2 = 9 → unmatched, NULL payload kept
        assert rows[4] == (None, None)

    def test_row_count_preserved(self, spark, fact, dim):
        """C43 as a law: fallback join never fans out or drops rows."""
        f = fact.withColumn("k1", F.col("key")).withColumn("k2", F.col("key") % 10)
        out = fallback_join(
            f, dim, tiers=[["k1"], ["k2"]], payload=["payload"],
            dedup_order=[F.col("payload").asc()],
        )
        assert out.count() == fact.count()

    def test_drop_unmatched_c20(self, spark, fact, dim):
        f = fact.withColumn("k1", F.col("key")).withColumn("k2", F.col("key") % 10)
        out = fallback_join(
            f, dim, tiers=[["k1"], ["k2"]], payload=["payload"],
            dedup_order=[F.col("payload").asc()], keep_unmatched=False,
        )
        assert out.count() == 3  # row with key 99 dropped

    def test_duplicate_dim_keys_no_fanout(self, spark, fact, dim):
        """Dim has two rows with k2=1; per-tier dedup must prevent fan-out."""
        f = fact.withColumn("k1", F.lit(-1)).withColumn("k2", F.lit(1))
        out = fallback_join(
            f, dim, tiers=[["k1"], ["k2"]], payload=["payload"],
            dedup_order=[F.col("payload").asc()],
        )
        assert out.count() == fact.count()
        # 'twenty' < 'twentyone' → dedup keeps 'twenty'
        assert {r["payload"] for r in out.collect()} == {"twenty"}


class TestExpandKeys:
    def test_two_keys(self, spark):
        df = spark.createDataFrame([(1, 100, 700)], "id long, EPID long, SPID long")
        out = expand_keys(df, ["EPID", "SPID"], "LOC_EPID", "src_key")
        rows = sorted((r["LOC_EPID"], r["src_key"]) for r in out.collect())
        assert rows == [("100", "EPID"), ("700", "SPID")]

    def test_row_multiplication(self, spark):
        df = spark.createDataFrame([(i, i * 2, i * 3) for i in range(10)], "id long, a long, b long")
        assert expand_keys(df, ["a", "b"], "k").count() == 20


class TestExpectations:
    def test_range_gate_passes(self, spark):
        df = spark.createDataFrame([(150,), (199,)], "EPID int")
        expect_range(df, "EPID", 100, 199)

    def test_range_gate_aborts(self, spark):
        df = spark.createDataFrame([(150,), (999,)], "EPID int")
        with pytest.raises(ExpectationError, match="1 rows"):
            expect_range(df, "EPID", 100, 199)

    def test_consistency_gate(self, spark):
        ok = spark.createDataFrame([("x", "x"), ("y", None)], "a string, a_y string")
        observed, check = expect_column_consistency_observed(ok, [("a", "a_y")])
        assert observed.count() == 2
        check()
        bad = spark.createDataFrame([("x", "z"), ("y", "y")], "a string, a_y string")
        observed, check = expect_column_consistency_observed(bad, [("a", "a_y")])
        assert observed.count() == 2
        with pytest.raises(ExpectationError, match="a!=a_y"):
            check()

    def test_row_count_preserved(self, spark):
        a = spark.range(5)
        with pytest.raises(ExpectationError):
            expect_row_count_preserved(a, spark.range(6))
        expect_row_count_preserved(a, spark.range(5))

    def test_schema_gate(self, spark):
        df = spark.createDataFrame([(1, "x")], "a long, b string")
        expect_schema(df, ["b", "a"])
        with pytest.raises(ExpectationError):
            expect_schema(df, ["a", "b", "c"])

    def test_profile(self, spark):
        df = spark.createDataFrame([(1, "x"), (2, None), (2, "y")], "a long, b string")
        p = {r["column"]: r for r in profile(df).collect()}
        assert p["a"]["n_distinct"] == 2
        assert p["b"]["n_nonnull"] == 2
        assert p["a"]["n_rows"] == 3


class TestFallbackJoinStrategies:
    """single_pass (scale plan: one fact scan) and iterative (literal
    reference recipe) must agree row-for-row on every configuration."""

    def _data(self, spark):
        fact = spark.createDataFrame(
            [(i, i % 7, i % 3, f"v{i}") for i in range(50)],
            "id long, k1 long, k2 long, val string",
        )
        dim = spark.createDataFrame(
            [(0, 0, "p0", "z0"), (1, 1, "p1", None), (2, 2, "p2", "z2"),
             (3, 0, "p3", "z3"), (9, 1, "p9", "z9")],
            "k1 long, k2 long, pay string, zip string",
        )
        return fact, dim

    @pytest.mark.parametrize("keep_unmatched", [True, False])
    @pytest.mark.parametrize("match_col", [None, "zip"])
    @pytest.mark.parametrize("final_tier_left", [False, True])
    def test_strategies_agree(self, spark, keep_unmatched, match_col, final_tier_left):
        fact, dim = self._data(spark)
        kwargs = dict(
            tiers=[["k1", "k2"], ["k2"]],
            payload=["pay", "zip"],
            dedup_order=[F.col("pay").asc()],
            keep_unmatched=keep_unmatched,
            tier_col="tier",
            match_col=match_col,
            final_tier_left=final_tier_left,
        )
        a = fallback_join(fact, dim, strategy="single_pass", **kwargs)
        b = fallback_join(fact, dim, strategy="iterative", **kwargs)
        ra = sorted(map(tuple, a.collect()))
        rb = sorted(map(tuple, b.collect()))
        assert ra == rb


class TestSaltedJoin:
    """ADVICE r1 fixes: outer-join rejection + duplicate-row salt spread."""

    def test_outer_join_rejected(self, spark):
        from waterdata_spark.operators.skew import salted_join

        a = spark.createDataFrame([(1, "x")], "k long, v string")
        b = spark.createDataFrame([(1, "y")], "k long, w string")
        for how in ("right", "full_outer", "outer"):
            with pytest.raises(ValueError, match="salted_join supports"):
                salted_join(a, b, on=["k"], n_salts=4, how=how)

    def test_duplicate_hot_rows_spread_across_salts(self, spark):
        """Identical duplicate rows of a hot key must NOT all hash to one
        salt (that would defeat the mitigation exactly when hot-key rows
        are duplicates)."""
        from waterdata_spark.operators.skew import with_salt

        hot = spark.createDataFrame([(1, "same")] * 400, "k long, v string")
        n_distinct = with_salt(hot, 8, unique_rows=True).select("__salt").distinct().count()
        assert n_distinct >= 4  # 400 identical rows over 8 salts

    def test_default_salt_deterministic_across_reruns(self, spark):
        """The default salt is a pure function of row content — two
        independent evaluations must assign every row the same salt
        (the old monotonically_increasing_id mix was partition-order
        dependent and broke this contract for callers that persist or
        compare salts across runs)."""
        from waterdata_spark.operators.skew import with_salt

        df = spark.range(500).select(
            F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
        )
        a = {(r["k"], r["__salt"]) for r in with_salt(df, 8).collect()}
        b = {(r["k"], r["__salt"]) for r in with_salt(df.repartition(13), 8).collect()}
        assert a == b

    def test_left_join_with_duplicate_rows_matches_unsalted(self, spark):
        from waterdata_spark.operators.skew import salted_join

        a = spark.createDataFrame([(1, "x")] * 5 + [(2, "y")], "k long, v string")
        b = spark.createDataFrame([(1, "p")], "k long, w string")
        salted = sorted(map(tuple, salted_join(a, b, on=["k"], n_salts=3, how="left").select("k", "v", "w").collect()))
        plain = sorted(map(tuple, a.join(b, "k", "left").select("k", "v", "w").collect()))
        assert salted == plain


class TestCompareJoinSkewProof:
    """VERDICT r1 item 7: prove pipelines/compare.py:9-14's claim that a
    hot PWSID in the composite reconciliation key is handled — by BOTH
    mitigation paths, with identical output."""

    def _skewed_sides(self, spark):
        # ~160 distinct PWSIDs like the reference data; one takes 90%
        # of the 40k fact rows (the reference's PWSID distribution is
        # exactly this shape: a few municipal systems dominate)
        fact = spark.range(40_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(6430001))
            .otherwise(6430000 + F.pmod("id", 160))
            .alias("PWSID"),
            F.concat(F.lit("C"), F.pmod("id", 7)).alias("Contaminant ID"),
            F.col("id").alias("v"),
        )
        other = spark.range(160 * 7).select(
            (6430000 + F.col("id") % 160).alias("PWSID"),
            F.concat(F.lit("C"), F.col("id") % 7).alias("Contaminant ID"),
            (F.col("id") * 2).alias("w"),
        )
        return fact, other.distinct()

    def test_salting_balances_hot_key_partitions(self, spark):
        """No post-shuffle partition may exceed ~2x the median after
        salting; the unsalted shuffle shows the hot key's pile-up."""
        import statistics

        from waterdata_spark.operators.skew import with_salt

        fact, _ = self._skewed_sides(spark)
        keys = ["PWSID", "Contaminant ID"]

        def partition_sizes(df):
            rows = df.groupBy(F.spark_partition_id().alias("pid")).count().collect()
            return sorted(r["count"] for r in rows)

        unsalted = partition_sizes(fact.repartition(32, *keys))
        assert unsalted[-1] > 10 * statistics.median(unsalted)  # hot pile-up

        salted = partition_sizes(with_salt(fact, 32).repartition(32, *keys, "__salt"))
        assert salted[-1] <= 2 * statistics.median(salted)

    def test_salted_equals_plain_join(self, spark):
        from waterdata_spark.operators.skew import salted_join

        fact, other = self._skewed_sides(spark)
        keys = ["PWSID", "Contaminant ID"]
        cols = ["PWSID", "Contaminant ID", "v", "w"]
        a = sorted(map(tuple, salted_join(fact, other, on=keys, n_salts=32).select(*cols).collect()))
        b = sorted(map(tuple, fact.join(other, keys).select(*cols).collect()))
        assert a == b and len(a) == 40_000

    def test_aqe_skew_split_fires_and_matches(self, spark):
        """With thresholds scaled to the test data, AQE must plan the
        skew-split (SortMergeJoin(skew=true) + AQEShuffleRead skewed)
        and produce the same rows as the salted join."""
        from waterdata_spark.operators.skew import salted_join

        fact, other = self._skewed_sides(spark)
        keys = ["PWSID", "Contaminant ID"]
        cols = ["PWSID", "Contaminant ID", "v", "w"]
        forced = {
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        }
        saved = {k: spark.conf.get(k, None) for k in forced}
        try:
            for k, v in forced.items():
                spark.conf.set(k, v)
            # plain table on the dim side: the skew rule needs
            # Sort(ShuffleStage) directly under the SMJ on both sides
            joined = fact.join(other.localCheckpoint(), keys).select(*cols)
            rows = sorted(map(tuple, joined.collect()))
            plan = joined._jdf.queryExecution().executedPlan().toString()
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        assert "skew=true" in plan and "AQEShuffleRead skewed" in plan
        expected = sorted(map(tuple, salted_join(fact, other, on=keys, n_salts=32).select(*cols).collect()))
        assert rows == expected


class TestRangeJoinLeft:
    def test_duplicate_point_rows_preserve_cardinality(self, spark):
        """ADVICE r1: left range join must keep each duplicate point row
        (true left-join cardinality), not collapse them by content."""
        from waterdata_spark.operators.range_join import range_join

        points = spark.createDataFrame(
            [(1.0,), (1.0,), (1.0,), (99.0,), (99.0,)], "v double"
        )
        iv = spark.createDataFrame([(0.0, 5.0, "low")], "lo double, hi double, tag string")
        out = range_join(points, iv, "v", "lo", "hi", bucket_width=5.0, how="left")
        rows = sorted((r["v"], r["tag"]) for r in out.collect())
        assert rows == [(1.0, "low"), (1.0, "low"), (1.0, "low"), (99.0, None), (99.0, None)]

    def test_multi_interval_match_and_unmatched(self, spark):
        from waterdata_spark.operators.range_join import range_join

        points = spark.createDataFrame([(3.0,), (50.0,)], "v double")
        iv = spark.createDataFrame(
            [(0.0, 5.0, "a"), (2.0, 4.0, "b")], "lo double, hi double, tag string"
        )
        out = range_join(points, iv, "v", "lo", "hi", bucket_width=5.0, how="left")
        rows = sorted((r["v"], r["tag"]) for r in out.collect())
        assert rows == [(3.0, "a"), (3.0, "b"), (50.0, None)]

    def test_duplicate_interval_rows_match_inner_cardinality(self, spark):
        """VERDICT r3 #5: a point matching two CONTENT-IDENTICAL interval
        rows must emit both on the left path — the inner path does, and
        left ⊇ inner is the join law. (The old dedup keyed on interval
        content and collapsed them.)"""
        from waterdata_spark.operators.range_join import range_join

        points = spark.createDataFrame([(1.0,), (99.0,)], "v double")
        iv = spark.createDataFrame(
            [(0.0, 5.0, "dup"), (0.0, 5.0, "dup")], "lo double, hi double, tag string"
        )
        inner = sorted(
            (r["v"], r["tag"])
            for r in range_join(points, iv, "v", "lo", "hi", 5.0, how="inner").collect()
        )
        left = sorted(
            (r["v"], r["tag"])
            for r in range_join(points, iv, "v", "lo", "hi", 5.0, how="left").collect()
        )
        assert inner == [(1.0, "dup"), (1.0, "dup")]
        assert left == [(1.0, "dup"), (1.0, "dup"), (99.0, None)]
