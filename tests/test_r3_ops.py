"""Behavioral tests for the round-3 operators (bloom-pruned join,
SCD2 build, token packing, mixture rebalance, PII redaction, cosine
range search) — invariants the value-hash oracle can't state directly
(no false negatives, interval contiguity, budget bounds, rate targets).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_8x8_spark.registry import all_queries


def _q(name):
    return all_queries()[name].builder


class TestBloomPrunedJoin:
    def test_equals_plain_join_no_false_negatives(self, spark, sf_dir):
        from etl_8x8_spark.sources.readers import load_table

        got = _q("join_bloom_pruned")(spark, sf_dir)
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        want = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_linenumber", "l_extendedprice", "o_orderpriority"
        )
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    def test_probe_actually_prunes(self, spark, sf_dir):
        # the bloom-filtered lineitem must be a strict subset at this
        # selectivity (~20% urgent + fp) — if the probe is a no-op the
        # operator is broadcasting complexity for nothing
        from etl_8x8_spark.operators.joins import _bf_probe_cond  # noqa: F401
        from etl_8x8_spark.sources.readers import load_table

        li_total = load_table(spark, sf_dir, "lineitem").count()
        joined = _q("join_bloom_pruned")(spark, sf_dir).count()
        assert joined < li_total * 0.5


class TestScd2Build:
    def test_intervals_contiguous_and_one_current(self, spark, sf_dir):
        df = _q("window_scd2_build")(spark, sf_dir).cache()
        # exactly one open (is_current) version per user
        bad_current = (
            df.groupBy("user_id")
            .agg(F.sum(F.col("is_current").cast("int")).alias("n_open"))
            .filter(F.col("n_open") != 1)
            .count()
        )
        assert bad_current == 0
        # each version's valid_to == next version's valid_from (half-open
        # chain with no gaps or overlaps)
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("version")
        gaps = (
            df.withColumn("next_from", F.lead("valid_from").over(w))
            .filter(F.col("next_from").isNotNull())
            .filter(F.col("valid_to") != F.col("next_from"))
            .count()
        )
        assert gaps == 0
        # CDC compaction: no two consecutive versions share the attr
        noop = (
            df.withColumn("next_attr", F.lead("attr").over(w))
            .filter(F.col("next_attr").isNotNull())
            .filter(F.col("attr") == F.col("next_attr"))
            .count()
        )
        assert noop == 0
        df.unpersist()


class TestTokenBudgetPack:
    def test_packs_respect_budget_and_monotonicity(self, spark, sf_dir):
        from etl_8x8_spark.operators.text import _PACK_BUDGET

        df = _q("text_token_budget_pack")(spark, sf_dir).cache()
        packs = df.groupBy("lang", "pack_id").agg(
            F.sum("n_tokens").alias("pack_tokens"),
            F.max("n_tokens").alias("biggest_doc"),
        )
        # a pack only exceeds the budget by (at most) the straddling
        # doc's tokens: pack_tokens < budget + biggest_doc
        over = packs.filter(
            F.col("pack_tokens") >= _PACK_BUDGET + F.col("biggest_doc")
        ).count()
        assert over == 0
        # pack ids are dense per lang starting at 0
        firsts = packs.groupBy("lang").agg(
            F.min("pack_id").alias("mn"),
            F.max("pack_id").alias("mx"),
            F.count("*").alias("n"),
        )
        bad = firsts.filter(
            (F.col("mn") != 0) | (F.col("n") != F.col("mx") + 1)
        ).count()
        assert bad == 0
        df.unpersist()


class TestMixtureRebalance:
    def test_rates_target_rarest_language(self, spark, sf_dir):
        from etl_8x8_spark.sources.readers import load_table

        docs = load_table(spark, sf_dir, "documents")
        counts = {
            r.lang: r.n
            for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
        }
        mn = min(counts.values())
        sampled = {
            r.lang: r.n
            for r in _q("sample_mixture_rebalance")(spark, sf_dir)
            .groupBy("lang")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        rare = min(counts, key=counts.get)
        # the rarest language is kept in full
        assert sampled[rare] == counts[rare]
        # every language lands within hash noise of the uniform target
        # (binomial: expect mn ± ~4*sqrt(mn))
        tol = max(4, int(4 * mn**0.5))
        for lang, n in sampled.items():
            assert abs(n - mn) <= tol, (lang, n, mn)


class TestPiiRedact:
    def test_planted_pii_found_and_scrubbed(self, spark, sf_dir):
        import re

        from etl_8x8_spark.operators.text import (
            _EMAIL_RE,
            _IP_RE,
            _PHONE_RE,
            seeded_pii_corpus,
        )
        from etl_8x8_spark.sources.readers import load_table

        rows = _q("text_pii_redact")(spark, sf_dir).collect()
        for r in rows:
            assert r.n_emails == (1 if r.doc_id % 5 == 0 else 0), r
            assert r.n_phones == (1 if r.doc_id % 7 == 0 else 0), r
            assert r.n_ips == (1 if r.doc_id % 11 == 0 else 0), r
            assert r.had_pii == (r.n_emails + r.n_phones + r.n_ips > 0)
        # spot-check an actual redacted text end-to-end
        corpus = seeded_pii_corpus(load_table(spark, sf_dir, "documents"))
        text = corpus.filter(F.col("doc_id") == 35).collect()  # 35 % 5 == 0, % 7 == 0
        if text:
            red = (
                spark.createDataFrame(text)
                .select(
                    F.regexp_replace(
                        F.regexp_replace(
                            F.regexp_replace("text", _EMAIL_RE, "[EMAIL]"),
                            _PHONE_RE,
                            "[PHONE]",
                        ),
                        _IP_RE,
                        "[IP]",
                    ).alias("t")
                )
                .collect()[0]
                .t
            )
            assert "[EMAIL]" in red and "[PHONE]" in red
            assert not re.search(_EMAIL_RE, red) and not re.search(_PHONE_RE, red)


class TestSimSearchRange:
    def test_floor_respected_and_consistent_with_topk(self, spark, sf_dir):
        from etl_8x8_spark.operators.similarity import _RANGE_TAU

        rng = _q("sim_search_range")(spark, sf_dir).collect()
        assert all(r.sim >= _RANGE_TAU for r in rng)
        # any range hit similar enough must appear in the exact top-k
        # result with the same similarity (both exact computations)
        topk = {
            (r.q_id, r.vec_id): r.sim
            for r in _q("sim_search_topk")(spark, sf_dir).collect()
        }
        for r in rng:
            if (r.q_id, r.vec_id) in topk:
                assert abs(topk[(r.q_id, r.vec_id)] - r.sim) < 1e-9


class TestTimeseriesGapfill:
    def test_dense_spine_and_totals_preserved(self, spark, sf_dir):
        from etl_8x8_spark.sources.readers import load_table

        df = _q("agg_timeseries_gapfill")(spark, sf_dir).cache()
        # every event_type carries the identical, gap-free hour spine
        per_type = df.groupBy("event_type").agg(
            F.count("*").alias("n_hours"),
            F.min("hour_s").alias("lo"),
            F.max("hour_s").alias("hi"),
        )
        rows = per_type.collect()
        spans = {(r.lo, r.hi, r.n_hours) for r in rows}
        assert len(spans) == 1
        lo, hi, n_hours = spans.pop()
        assert n_hours == (hi - lo) // 3600 + 1  # dense: one row per hour
        # zero-filling must not invent or lose events
        total = df.agg(F.sum("n")).collect()[0][0]
        assert total == load_table(spark, sf_dir, "events").count()
        # and gaps actually exist at this sf (else the op is untested)
        assert df.filter(F.col("n") == 0).count() > 0
        df.unpersist()


class TestPsiDrift:
    def test_self_drift_is_zero_and_shift_detected(self, spark, sf_dir):
        from etl_8x8_spark.sources.readers import load_table

        rows = _q("agg_psi_drift")(spark, sf_dir).collect()
        # the synthetic eras share one distribution — PSI stays small,
        # but finite-sample noise at sf0.001 (~100 rows/era/type) puts
        # it around 0.05-0.12, so bound it below the RETRAIN threshold
        # rather than at zero; the real assertion is the contrast with
        # the deliberately shifted copy below
        assert rows and all(abs(r.psi) < 0.25 for r in rows)
        base_max = max(abs(r.psi) for r in rows)
        # sanity: a deliberately shifted copy must light up.
        # Rebuild the PSI expression with era_b values doubled.
        from etl_8x8_spark.operators.aggregates import _PSI_BIN_W, _PSI_SPLIT

        events = load_table(spark, sf_dir, "events")
        shifted = events.withColumn(
            "value",
            F.when(
                F.col("ts") >= F.lit(_PSI_SPLIT).cast("timestamp"),
                F.col("value") * 3,
            ).otherwise(F.col("value")),
        )
        binned = shifted.select(
            "event_type",
            (F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp")).alias("era_a"),
            F.least(
                F.floor(F.col("value") / _PSI_BIN_W).cast("int"), F.lit(9)
            ).alias("bin"),
        )
        cells = binned.groupBy("event_type", "bin").agg(
            F.count_if("era_a").alias("ca"),
            F.count_if(~F.col("era_a")).alias("cb"),
        )
        tot = cells.groupBy("event_type").agg(
            F.sum("ca").alias("na"), F.sum("cb").alias("nb")
        )
        pa = (F.col("ca") + 0.5) / (F.col("na") + 5.0)
        pb = (F.col("cb") + 0.5) / (F.col("nb") + 5.0)
        psi = (
            cells.join(tot, "event_type")
            .select("event_type", ((pa - pb) * F.log(pa / pb)).alias("t"))
            .groupBy("event_type")
            .agg(F.sum("t").alias("psi"))
            .collect()
        )
        assert all(r.psi > 0.25 for r in psi)
        # the shift signal dominates the finite-sample noise floor
        assert min(r.psi for r in psi) > base_max * 2


class TestAnomalyZscore:
    def test_reference_excludes_current_and_flags_are_rare(self, spark, sf_dir):
        df = _q("window_anomaly_zscore")(spark, sf_dir).cache()
        n = df.count()
        flagged = df.filter("is_anomaly").count()
        # |z|>3 on a well-behaved distribution: rare but present-or-absent,
        # never a mass flag
        assert flagged < n * 0.05
        # n_ref respects the lookback and the minimum-history gate
        from etl_8x8_spark.operators.windows import _Z_LOOKBACK, _Z_MIN_N

        bounds = df.agg(
            F.min("n_ref").alias("mn"), F.max("n_ref").alias("mx")
        ).collect()[0]
        assert bounds.mn >= _Z_MIN_N and bounds.mx <= _Z_LOOKBACK
        df.unpersist()


class TestUnigramLogprob:
    def test_scores_bounded_and_common_docs_score_higher(self, spark, sf_dir):
        df = _q("text_unigram_logprob")(spark, sf_dir).cache()
        rows = df.collect()
        # log-probabilities are negative and finite
        assert all(r.avg_logprob < 0 for r in rows)
        assert all(r.avg_logprob > -30 for r in rows)
        # token counts must match the tokenizer the other text ops use
        stats = {
            r.doc_id: r.n_tokens
            for r in _q("text_analysis_stats")(spark, sf_dir).collect()
        }
        for r in rows:
            assert r.n_tokens == stats[r.doc_id]
        df.unpersist()


class TestPretrainPipeline:
    def test_report_consistent_with_stage_operators(self, spark, sf_dir):
        rows = {r.lang: r for r in _q("pipeline_pretrain_corpus")(spark, sf_dir).collect()}
        assert rows
        for lang, r in rows.items():
            # packing arithmetic: n_packs is what total_tokens implies
            # (greedy packs only exceed the budget via straddling docs,
            # so the count is within 2x of the ideal)
            from etl_8x8_spark.operators.text import _PACK_BUDGET

            ideal = -(-r.total_tokens // _PACK_BUDGET)
            assert ideal <= r.n_packs <= 2 * ideal + 1, (lang, r)
            assert 0 <= r.pii_docs <= r.n_docs
        # the mixture stage ran: language doc counts are near-uniform
        counts = [r.n_docs for r in rows.values()]
        assert max(counts) - min(counts) <= max(8, int(4 * min(counts) ** 0.5))


class TestKmeansLloyd:
    def test_partitions_corpus_exactly(self, spark, sf_dir):
        from etl_8x8_spark.sources.readers import load_table

        rows = _q("ml_kmeans_lloyd")(spark, sf_dir).collect()
        total_vecs = load_table(spark, sf_dir, "embeddings").count()
        # every vector lands in exactly one cluster
        assert sum(r.n_members for r in rows) == total_vecs
        assert all(r.inertia >= 0 for r in rows)
        from etl_8x8_spark.operators.similarity import _KM_K

        assert 1 <= len(rows) <= _KM_K


class TestPartialReaggregate:
    def test_merged_state_equals_direct_aggregate(self, spark, sf_dir):
        from etl_8x8_spark.sources.readers import load_table

        got = {r.event_type: r for r in _q("agg_partial_reaggregate")(spark, sf_dir).collect()}
        events = load_table(spark, sf_dir, "events")
        direct = {
            r.event_type: r
            for r in events.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.min("value").alias("vmin"),
                F.max("value").alias("vmax"),
            )
            .collect()
        }
        assert set(got) == set(direct)
        for t, g in got.items():
            d = direct[t]
            # merging daily partials must equal the direct aggregate
            assert (g.n, g.vmin, g.vmax) == (d.n, d.vmin, d.vmax)
            assert g.n_partials > 1  # the merge actually merged
