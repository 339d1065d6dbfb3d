"""Behavioral tests for the corpus-curation operators added after the
round-3 verdict (chunking, per-group cap, repetition filter) —
structural invariants the value-hash oracle can't state (window
coverage/overlap, cap semantics, equivalence to the explode-based
frequency computation).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_8x8_spark.registry import all_queries


def _q(name):
    return all_queries()[name].builder


class TestDocChunking:
    def test_window_count_and_sizes(self, spark, sf_dir):
        from etl_8x8_spark.operators.text import _CHUNK, _STRIDE
        from etl_8x8_spark.operators.dedup import tokens
        from etl_8x8_spark.sources.readers import load_table

        chunks = _q("text_doc_chunking")(spark, sf_dir)
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", F.size(F.expr(tokens())).alias("n")
        )
        per_doc = chunks.groupBy("doc_id").agg(
            F.count("*").alias("n_chunks"),
            F.max("chunk_idx").alias("max_idx"),
            F.sum("n_chunk_tokens").alias("tok_sum"),
            F.min("n_chunk_tokens").alias("min_len"),
            F.max("n_chunk_tokens").alias("max_len"),
        )
        joined = per_doc.join(docs, "doc_id")
        expected = 1 + F.floor(
            (F.greatest(F.col("n") - _CHUNK, F.lit(0)) + (_STRIDE - 1)) / _STRIDE
        )
        bad = joined.filter(
            (F.col("n_chunks") != expected)
            | (F.col("max_idx") != F.col("n_chunks") - 1)
            | (F.col("max_len") > _CHUNK)
            | (F.col("min_len") < 1)
        )
        assert bad.count() == 0
        # coverage: windows overlap by CHUNK-STRIDE, so summed chunk
        # lengths = n + (n_chunks-1)*overlap for docs with full
        # windows; at minimum every token is covered:
        # tok_sum >= n always
        assert joined.filter(F.col("tok_sum") < F.col("n")).count() == 0

    def test_neighbor_overlap_is_exact(self, spark, sf_dir):
        from etl_8x8_spark.operators.text import _CHUNK, _STRIDE

        chunks = _q("text_doc_chunking")(spark, sf_dir).select(
            "doc_id",
            "chunk_idx",
            F.split("chunk_text", " ").alias("toks"),
            "n_chunk_tokens",
        )
        nxt = chunks.select(
            "doc_id",
            (F.col("chunk_idx") - 1).alias("chunk_idx"),
            F.col("toks").alias("next_toks"),
        )
        # a full chunk's tail (CHUNK-STRIDE tokens) == next chunk's head
        overlap = _CHUNK - _STRIDE
        pairs = chunks.join(nxt, ["doc_id", "chunk_idx"]).filter(
            F.col("n_chunk_tokens") == _CHUNK
        )
        mismatched = pairs.filter(
            F.slice("toks", _STRIDE + 1, overlap)
            != F.slice("next_toks", 1, overlap)
        )
        assert pairs.count() > 0
        assert mismatched.count() == 0


class TestGroupCap:
    def test_cap_enforced_and_small_groups_intact(self, spark, sf_dir):
        from etl_8x8_spark.operators.setops import _CAP_N
        from etl_8x8_spark.sources.readers import load_table

        kept = _q("sample_group_cap")(spark, sf_dir)
        sizes = kept.groupBy("lang", "source").agg(F.count("*").alias("k"))
        assert sizes.filter(F.col("k") > _CAP_N).count() == 0
        orig = (
            load_table(spark, sf_dir, "documents")
            .groupBy("lang", "source")
            .agg(F.count("*").alias("n"))
        )
        j = sizes.join(orig, ["lang", "source"], "full")
        # every group survives, capped groups at exactly N, small
        # groups unreduced
        assert j.filter(F.col("k").isNull()).count() == 0
        assert (
            j.filter(
                (F.col("n") >= _CAP_N) & (F.col("k") != _CAP_N)
            ).count()
            == 0
        )
        assert (
            j.filter(
                (F.col("n") < _CAP_N) & (F.col("k") != F.col("n"))
            ).count()
            == 0
        )

    def test_deterministic_across_runs(self, spark, sf_dir):
        a = _q("sample_group_cap")(spark, sf_dir).select("doc_id")
        b = _q("sample_group_cap")(spark, sf_dir).select("doc_id")
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0


class TestRepetitionFilter:
    def test_matches_explode_groupby_frequency(self, spark, sf_dir):
        # the narrow HOF frequency must equal the shuffle-based
        # explode + groupBy computation it deliberately avoids
        from etl_8x8_spark.operators.dedup import tokens
        from etl_8x8_spark.sources.readers import load_table

        got = _q("text_repetition_filter")(spark, sf_dir).select(
            "doc_id", "top_token_freq"
        )
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", F.explode(F.expr(tokens())).alias("tok")
        )
        want = (
            docs.groupBy("doc_id", "tok")
            .agg(F.count("*").alias("c"))
            .groupBy("doc_id")
            .agg(F.max("c").alias("top_token_freq"))
        )
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    def test_flag_consistent_with_ratio(self, spark, sf_dir):
        df = _q("text_repetition_filter")(spark, sf_dir)
        bad = df.filter(
            F.col("is_repetitive")
            != (F.col("top_token_freq").cast("double") / F.col("n_tokens") > 0.2)
        )
        assert bad.count() == 0


class TestGapIslands:
    def test_islands_consecutive_maximal_and_cover(self, spark, sf_dir):
        from etl_8x8_spark.sources.readers import load_table

        isl = _q("window_gap_islands")(spark, sf_dir).cache()
        try:
            # each island spans exactly its day count (consecutive)
            bad_span = isl.filter(
                F.datediff(
                    F.to_date("island_end"), F.to_date("island_start")
                )
                + 1
                != F.col("n_days")
            )
            assert bad_span.count() == 0
            # islands of one user never touch (maximality): next
            # island starts >= 2 days after this one ends
            from pyspark.sql import Window

            w = Window.partitionBy("user_id").orderBy("island_start")
            gaps = isl.withColumn(
                "prev_end", F.lag("island_end").over(w)
            ).filter(F.col("prev_end").isNotNull())
            touching = gaps.filter(
                F.datediff(
                    F.to_date("island_start"), F.to_date("prev_end")
                )
                < 2
            )
            assert touching.count() == 0
            # island days partition the active-day set exactly
            active = (
                load_table(spark, sf_dir, "events")
                .select("user_id", F.to_date("ts").alias("day"))
                .distinct()
                .count()
            )
            assert (
                isl.agg(F.sum("n_days")).collect()[0][0] == active
            )
        finally:
            isl.unpersist()


class TestRollingMedian:
    def test_matches_numpy_on_small_sf(self, spark, sf_dir):
        import numpy as np
        from etl_8x8_spark.sources.readers import load_table

        got = {
            (r["user_id"], r["event_id"]): r["med7"]
            for r in _q("window_rolling_median")(spark, sf_dir).collect()
        }
        rows = (
            load_table(spark, sf_dir, "events")
            .select("user_id", "event_id", "ts", "value")
            .collect()
        )
        by_user: dict = {}
        for r in sorted(rows, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
            by_user.setdefault(r["user_id"], []).append(r)
        checked = 0
        for u, evs in by_user.items():
            for i, r in enumerate(evs):
                frame = [e["value"] for e in evs[max(0, i - 6) : i + 1]]
                want = round(float(np.median(frame)), 6)
                assert abs(got[(u, r["event_id"])] - want) < 1e-6, (
                    u,
                    r["event_id"],
                )
                checked += 1
        assert checked == len(got)


class TestTrainTestSplit:
    def test_partition_proportions_and_stability(self, spark, sf_dir):
        split = _q("sample_train_test_split")(spark, sf_dir).cache()
        try:
            total = split.count()
            by = {
                r["split"]: r["n"]
                for r in split.groupBy("split")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            assert set(by) == {"train", "val", "test"}
            assert sum(by.values()) == total
            assert 0.7 < by["train"] / total < 0.9
            # appending data never reassigns: the split of a doc id is
            # a pure function of the id
            subset = (
                _q("sample_train_test_split")(spark, sf_dir)
                .filter(F.col("doc_id") % 7 == 0)
                .withColumnRenamed("split", "split2")
            )
            moved = split.join(subset.select("doc_id", "split2"), "doc_id").filter(
                F.col("split") != F.col("split2")
            )
            assert moved.count() == 0
        finally:
            split.unpersist()


class TestQ18:
    def test_threshold_gate_is_exact(self, spark, sf_dir):
        from etl_8x8_spark.sources.readers import load_table

        out = _q("sql_tpch_q18_shape")(spark, sf_dir)
        assert out.filter(F.col("sum_qty") <= 250).count() == 0
        li = load_table(spark, sf_dir, "lineitem")
        qualifying = (
            li.groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("s"))
            .filter(F.col("s") > 250)
            .count()
        )
        # LIMIT 100 caps output; below the cap every qualifying order
        # must appear exactly once
        n = out.count()
        assert n == min(qualifying, 100)
        assert out.select("o_orderkey").distinct().count() == n
