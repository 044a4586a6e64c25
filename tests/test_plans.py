"""Physical-plan regression guards: the scale properties SCALING.md
claims must stay visible in the executed plans."""

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def qs():
    from goconnect_spark.queries import all_queries

    return all_queries()


def test_q1_pushdown_and_pruning(spark, sf_dir, qs):
    plan = _plan(qs["q1_pricing_summary"](spark, sf_dir))
    scan = [ln for ln in plan.split("\n") if "FileScan" in ln][0]
    # filter pushed into the parquet scan
    assert "l_shipdate" in scan and "PushedFilters: [" in plan
    # column pruning: untouched columns never leave the scan
    assert "l_orderkey" not in scan and "l_partkey" not in scan
    # partial aggregation (map-side combine) before the exchange
    assert "partial_sum" in plan


def test_q5_broadcasts_dims(spark, sf_dir, qs):
    plan = _plan(qs["q5_region_revenue"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # supplier/nation/region
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_dedup_queries_have_no_cross_join(spark, sf_dir, qs):
    # embedding_near_dup's hyperplane signs are a constant literal
    # (driver-precomputed md5 twin), so since round 4 even it has no
    # BNLJ: candidates only ever come from equi-joins on band keys.
    for name in ["dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard", "embedding_near_dup"]:
        plan = _plan(qs[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_no_python_udfs_in_relational_queries(spark, sf_dir, qs):
    # everything stays in JVM codegen — no BatchEvalPython/ArrowEvalPython
    for name in ["q1_pricing_summary", "q3_shipping_priority", "events_hourly",
                 "dedup_minhash_lsh", "cosine_topk", "text_lang_id"]:
        plan = _plan(qs[name](spark, sf_dir))
        assert "EvalPython" not in plan, name


def test_whole_stage_codegen_present(spark, sf_dir, qs):
    # AQE finalizes codegen wrapping at execution time — run, then
    # inspect the final plan
    df = qs["q1_pricing_summary"](spark, sf_dir)
    df.collect()
    plan = _plan(df)
    assert "WholeStageCodegen" in plan or "*(1)" in plan


def test_q6_pushdown_showcase(spark, sf_dir, qs):
    # all three predicates and only the needed columns reach the scan
    plan = _plan(qs["q6_forecast_revenue"](spark, sf_dir))
    scan = [ln for ln in plan.split("\n") if "FileScan" in ln][0]
    assert "PushedFilters: [" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in scan
    assert "l_orderkey" not in scan and "l_returnflag" not in scan
    assert "partial_sum" in plan


def test_new_joins_broadcast_dims_no_cartesian(spark, sf_dir, qs):
    for name, min_bcast in [
        ("q7_trade_volume", 4),        # supp/cust/nation x2
        ("q10_returned_items", 2),     # customer/nation
        ("q14_promo_revenue", 1),      # part
        ("benchmark_contamination", 1),  # bench trigram set
        ("vocab_oov_rate", 1),         # top-K vocab
        ("ann_ivf_kmeans_topk", 1),    # frozen centroids + probes
    ]:
        plan = _plan(qs[name](spark, sf_dir))
        assert plan.count("BroadcastHashJoin") >= min_bcast, name
        assert "CartesianProduct" not in plan, name


def test_sequence_packing_no_global_window(spark, sf_dir, qs):
    # the two-phase cumsum: every data-sized window is partitioned by
    # pid; the only unpartitioned window runs over the constant-size
    # per-partition totals
    df = qs["sequence_packing"](spark, sf_dir)
    plan = _plan(df)
    import re

    windows = [ln for ln in plan.split("\n") if re.search(r"\bWindow\b", ln)]
    partitioned = [ln for ln in windows if "pid" in ln]
    # at least one parallel (pid-partitioned) window exists, and the
    # within-partition cumsum (over n_tokens, doc_id) is partitioned
    assert partitioned, plan
    for ln in windows:
        if "n_tokens" in ln and "doc_id" in ln:
            assert "pid" in ln, ln


def test_scd2_windows_are_keyed(spark, sf_dir, qs):
    # every window in the SCD2 build is partitioned by user_id — no
    # single-partition window anywhere
    plan = _plan(qs["user_history_scd2"](spark, sf_dir))
    import re

    for ln in plan.split("\n"):
        if re.search(r"\bWindow\b", ln) or "RunningWindowFunction" in ln:
            assert "user_id" in ln, ln


def test_q8_share_window_partitioned_by_year(spark, sf_dir, qs):
    plan = _plan(qs["q8_market_share"](spark, sf_dir))
    import re

    for ln in plan.split("\n"):
        if re.search(r"\bWindow\b", ln):
            assert "l_year" in ln, ln
    assert "CartesianProduct" not in plan


def test_interval_join_query_is_not_nested_loop(spark, sf_dir, qs):
    # the range join MUST compile to the binned equi-join, never BNLJ
    plan = _plan(qs["events_in_error_windows"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(__bin" in plan or "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_q13_preaggregates_before_join(spark, sf_dir, qs):
    # orders must be aggregated to per-custkey counts BEFORE joining
    # customers: the join input is the aggregate, not the raw fact
    plan = _plan(qs["q13_order_count_distribution"](spark, sf_dir))
    assert "partial_count" in plan
    join_idx = plan.index("Join")
    agg_idx = plan.index("HashAggregate")
    assert agg_idx > join_idx or "Aggregate" in plan[join_idx:]


def test_customer_spend_ranks_no_global_window(spark, sf_dir, qs):
    # the ranking family runs as the two-phase scan: the data-sized
    # row_number window is partitioned by pid; the only unpartitioned
    # window is the offset prefix-sum over per-partition counts
    # (constant-size). A plain Window.orderBy over the customer
    # dimension would show an unpartitioned window over spend_dec.
    plan = _plan(qs["customer_spend_ranks"](spark, sf_dir))
    import re

    windows = [ln for ln in plan.split("\n") if re.search(r"\bWindow\b", ln)]
    assert windows, plan
    for ln in windows:
        if "row_number" in ln or "spend_dec" in ln:
            assert "pid" in ln, ln


def test_filtering_family_plans_are_scale_shaped(spark, sf_dir, qs):
    """Round-4 filtering operators: candidate generation must stay on
    equi-joins (no cartesian/NLJ), all-JVM (no EvalPython), and never
    use an unpartitioned data-sized window."""
    for name in ["gopher_quality_rules", "duplicated_ngram_coverage",
                 "doc_lm_score", "embedding_outliers"]:
        plan = _plan(qs[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "EvalPython" not in plan, name
        # none of these needs a window at all — the centroid/threshold
        # scalars arrive via 1-row broadcast, not a global window
        assert "Window" not in plan, name


def test_orders_profile_has_no_expand(spark, sf_dir, qs):
    # 5 countDistincts in one aggregation would plan a 6-way Expand
    # into a 6-key SortAggregate (6x the table, sorted). The split
    # formulation (typed min/max scan-reduce + melt/hash-distinct)
    # must keep Expand out of the plan and the melt aggregation hashed.
    plan = _plan(qs["orders_profile"](spark, sf_dir))
    assert "Expand" not in plan
    assert "HashAggregate" in plan


def test_ann_kmeans_assignment_is_in_row(spark, sf_dir, qs):
    # cell assignment is an in-row argmax over literal centroid
    # arrays: no per-vec_id window and no 8xN centroid join may
    # reappear. The only window is the per-probe top-k.
    plan = _plan(qs["ann_ivf_kmeans_topk"](spark, sf_dir))
    import re

    windows = [ln for ln in plan.split("\n") if re.search(r"\bWindow\b", ln)]
    for ln in windows:
        assert "probe_id" in ln, ln
    assert "CartesianProduct" not in plan


def test_curation_family_plans_are_scale_shaped(spark, sf_dir, qs):
    # chunking/split are shuffle-minimal map-side ops; tfidf's only
    # window is per-doc. No Python eval anywhere.
    for name in ["doc_chunking", "chunk_dedup_stats", "train_val_test_split",
                 "tfidf_top_terms"]:
        plan = _plan(qs[name](spark, sf_dir))
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
    plan = _plan(qs["tfidf_top_terms"](spark, sf_dir))
    import re

    for ln in [l for l in plan.split("\n") if re.search(r"\bWindow\b", l)]:
        assert "doc_id" in ln, ln


def test_catalog_wide_plan_hygiene(spark, sf_dir, qs):
    """EVERY catalog query's physical plan, one structural contract:
    no CartesianProduct anywhere, no Python eval anywhere, and
    BroadcastNestedLoopJoin / Expand only where deliberately chosen:

    - BNLJ: crossJoin of a 1-row aggregate scalar (thresholds,
      totals, bounds) or the 16-row hyperplane dim in
      embedding_near_dup — constant-size broadcasts, not pair
      blow-ups;
    - Expand: Spark's execution of GROUPING SETS / ROLLUP / CUBE
      (inherent to the semantics), plus the bounded distinct+
      nondistinct aggregate mix in text_token_stats.

    A new query that trips a flag must either fix its plan or add
    itself here with a reason.
    """
    allowed = {
        "embedding_outliers": {"BroadcastNestedLoopJoin"},   # 1-row p95 threshold
        "q11_important_stock": {"BroadcastNestedLoopJoin"},  # 1-row national total
        "customer_spend_ranks": {"BroadcastNestedLoopJoin"}, # 1-row global count
        "events_hourly_gapfill": {"BroadcastNestedLoopJoin"},# 1-row min/max bounds
        "q22_sales_opportunity": {"BroadcastNestedLoopJoin"},# 1-row avg balance
        "value_histogram_quantiles": {"BroadcastNestedLoopJoin"},  # 1-row bounds
        "source_epoch_plan": {"BroadcastNestedLoopJoin"},    # 1-row corpus totals
        "key_skew_profile": {"BroadcastNestedLoopJoin"},     # 1-row key-cardinality stats
        "events_distinct_hll": {"BroadcastNestedLoopJoin"},  # 1-row exact-count + kth-min scalars (r13 fold)
        "user_overlap_kmv": {"BroadcastNestedLoopJoin"},     # sketch-sized (|types|*k) pairing
        "bloom_prune_join": {"BroadcastNestedLoopJoin"},     # 1-row 128-word filter + 1-row key count
        "priority_sample": {"BroadcastNestedLoopJoin"},      # 1-row tau threshold
        "source_divergence_tv": {"BroadcastNestedLoopJoin"}, # 1-row corpus token total
        "brand_basket_lift": {"BroadcastNestedLoopJoin"},    # 1-row basket count
        "events_user_lifecycle": {"BroadcastNestedLoopJoin"}, # 1-row corpus end bound
        "label_centroid_shift": {"BroadcastNestedLoopJoin"}, # 1-row corpus vector count
        "order_value_pareto": {"BroadcastNestedLoopJoin"},   # 1-row revenue total + two-phase global count
        "customer_rfm_segments": {"BroadcastNestedLoopJoin"},  # 1-row global counts (two-phase rank x3)
        "dedup_incremental_new_batch": {"BroadcastNestedLoopJoin"},  # 1-row id-cut scalar
        "lm_score_deciles": {"BroadcastNestedLoopJoin"},     # 1-row global count (two-phase rank)
        "weekly_active_users": {"BroadcastNestedLoopJoin"},  # 1-row day-span bounds
        "zorder_pruning_stats": {"BroadcastNestedLoopJoin"}, # 1-row grid bounds + 3-row predicate table
        "dsir_importance_weights": {"BroadcastNestedLoopJoin"},  # 1-row corpus feature totals
        "bm25_keyword_topk": {"BroadcastNestedLoopJoin"},    # 1-row N/L corpus scalars (x2)
        "source_budget_waterfill": {"BroadcastNestedLoopJoin"},  # 1-row budget scalar + 1-row cut
        "source_length_emd": {"BroadcastNestedLoopJoin"},    # 100-row knot-table pairings + 1-row counts
        "hll_sliding_calibration": {"BroadcastNestedLoopJoin"},  # calendar-day grid range pairing
        # the ONE deliberate Arrow pandas_udf in the relational catalog:
        # per-doc winnowing (≈len(text) md5 + window-min steps) — the
        # interpreted-HOF form never enters codegen and cost ~1.3 ms/doc
        # (VERDICT r6 item 3); the Arrow batch path is the documented
        # codec-style slow-path exception, not a row-at-a-time UDF
        "fingerprint_collision_dedup": {"EvalPython"},
        # the SECOND deliberate Arrow pandas_udf: bpe_doc_tokens runs
        # the serving path, whose vocab-side tokenizer is
        # tokenize_words_py (the rank-schedule Arrow path real
        # 32k-merge deployments use), so the serving engine carries an
        # oracle certificate, not just a property pin. The udf touches
        # only the DISTINCT-word vocab, never corpus-sized rows
        "bpe_doc_tokens": {"EvalPython"},
        # deep-table certification (r10): the 240/2400-merge tables
        # CANNOT be a SQL chain (JVM boundary at ~300 nested
        # replaces), so the Arrow rank-schedule tokenizer is the only
        # Spark-side engine; the udf touches only the distinct-word
        # vocab, never corpus-sized rows
        "bpe_vocab_deep_tokens": {"EvalPython"},
        # the FOURTH deliberate Arrow pandas_udf: the JPEG SOF routing
        # certificate exercises with_jpeg_dimensions/with_jpeg_profile,
        # whose DOCUMENTED design is a bounded-prefix Arrow scan —
        # only jpeg-classified rows' leading 64 KiB cross to Python,
        # never the payload column (multimodal.py:308)
        "media_jpeg_dims_profile": {"EvalPython"},
        # the FIFTH deliberate Arrow pandas_udf pair: the animation-
        # routing certificate exercises with_gif_metadata /
        # with_mp4_metadata, whose DOCUMENTED design is an Arrow box/
        # block walk over ONLY the gif/mp4-classified rows (others
        # pass NULL to the worker; multimodal.py with_* scale notes)
        "media_animation_metadata": {"EvalPython"},
        # the Avro wire-format certificate: the portable decoder's
        # DOCUMENTED design is an Arrow-batched pandas_udf (the
        # spark-avro jar is absent from this container — avro_py.py
        # module docstring); only the constructed record bodies cross
        # to Python
        "avro_decode_fold": {"EvalPython"},
        # the Avro ENCODER certificate (r14): GenericRecord -> wire
        # bytes -> certified reader is two Arrow pandas_udfs by the
        # same documented design (avro_py.avro_encode_udf +
        # avro_decode_udf); only the planted structs/bodies cross to
        # Python
        "avro_encode_roundtrip": {"EvalPython"},
        # the gzip coder certificate: the codec pair IS a pair of
        # Arrow pandas_udfs by documented design (plans/coders.py)
        "gzip_roundtrip": {"EvalPython"},
        # the demuxer certificate's 1->N frame fan-out IS mapInPandas
        # by documented design (sample_frames, multimodal.py) — only
        # the constructed mp4 rows cross to the Arrow worker
        "media_mp4_sample_ranges": {"MapInPandas"},
        "orders_grouping_sets": {"Expand"},                  # GROUPING SETS semantics
        "orders_rollup": {"Expand"},                         # ROLLUP semantics
        "lineitem_cube": {"Expand"},                         # CUBE semantics
        "text_token_stats": {"Expand"},                      # distinct+nondistinct agg mix
    }
    # MapInPandas added round 13: mapInPandas-backed operators (the
    # sample_frames fan-out) slipped past the EvalPython check because
    # their physical node prints as MapInPandas — same Python-boundary
    # class, same allowlist-with-reason discipline
    flags = ("CartesianProduct", "BroadcastNestedLoopJoin", "EvalPython",
             "Expand", "MapInPandas")
    offenders = {}
    for name, fn in qs.items():
        plan = _plan(fn(spark, sf_dir))
        hit = {f for f in flags if f in plan} - allowed.get(name, set())
        if hit:
            offenders[name] = sorted(hit)
    assert not offenders, offenders


def _unpartitioned_window_sorts(plan: str) -> list[str]:
    """For every windowspecdefinition in the plan, return the first
    top-level argument when it is a SORT spec (contains ASC/DESC) —
    i.e. the window has NO partition columns and funnels its whole
    input through one task. Partitioned windows (first arg a plain
    partition expression) return nothing."""
    out = []
    marker = "windowspecdefinition("
    i = 0
    while True:
        i = plan.find(marker, i)
        if i < 0:
            break
        j = i + len(marker)
        depth, arg = 0, []
        while j < len(plan):
            c = plan[j]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    break
                depth -= 1
            elif c == "," and depth == 0:
                break
            arg.append(c)
            j += 1
        first = "".join(arg).strip()
        if " ASC" in first or " DESC" in first:
            out.append(first)
        i = j
    return out


def test_catalog_wide_no_unpartitioned_data_windows(spark, sf_dir, qs):
    """The guard the round-4 verdict asked for: NO catalog query may
    run an unpartitioned window over data-sized input (the
    single-reducer shape that made order_value_pareto /
    customer_rfm_segments 'weak' — both since rewritten two-phase via
    operators/ranking.py).

    Two exemption classes, both bounded-input by construction:
    - sort-by-partition-id windows: the two-phase offset scan's
      constant-size window over per-partition COUNTS (rows ==
      shuffle partitions, ~32) — recognized structurally;
    - per-query allowlist: windows over inherently bounded series
      (hour/day grids, histogram bins, quantile knots, sketch rows),
      each with the reason recorded here. A new query tripping this
      guard must go two-phase (operators/ranking.py) or justify a
      bounded-input entry.
    """
    bounded_ok = {
        "daily_new_users_cumulative",   # calendar-day grid (~2.2k rows/6y)
        "value_histogram_quantiles",    # fixed histogram-bin grid
        "source_budget_waterfill",      # |sources|-row water-line solve
        "source_length_emd",            # lead() over the 100-row knot grid
    }
    offenders = {}
    for name, fn in qs.items():
        if name in bounded_ok:
            continue
        plan = _plan(fn(spark, sf_dir))
        sorts = [
            s
            for s in _unpartitioned_window_sorts(plan)
            if "pid" not in s.split("#")[0].lower()
        ]
        if sorts:
            offenders[name] = sorts[:2]
    assert not offenders, offenders
