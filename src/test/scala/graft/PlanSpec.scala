package graft

import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan assertions — the 100 TB contract (SURVEY.md §4): filters
  * and projections must reach the parquet scan, dimension joins must
  * broadcast, semi/anti joins must stay joins (not collected sets), and
  * the hot path must be whole-stage codegen'd. These lock in the plan
  * shape so a regression (e.g. a UDF breaking pushdown) fails loudly.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q02: predicate pushdown and column pruning reach the scan") {
    val p = plan("q02_filter_pushdown")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(l_returnflag)") || p.contains("EqualTo(l_returnflag,R)"), p)
    // pruned read schema: no l_comment-style extra columns
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_tax"), "projection not pruned:\n" + p)
  }

  test("q03: dimension joins broadcast; no shuffle for dims") {
    val p = plan("q03_star_join_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q07/q08: semi and anti joins are real joins") {
    assert(plan("q07_semi_join").contains("LeftSemi"))
    assert(plan("q08_anti_join").contains("LeftAnti"))
  }

  test("q01: aggregate is partial (map-side) + final hash aggregate") {
    val p = plan("q01_agg_pricing")
    // map-side combine before the exchange — the shape that survives 100 TB
    assert(p.contains("partial_sum"), p)
    assert(p.contains("Exchange"), p)
    assert(p.split("HashAggregate").length >= 3, p) // partial + final
  }

  test("q05: dedup window partitions by the dedup key (hash exchange)") {
    val p = plan("q05_dedup_keepfirst")
    assert(p.contains("Window"), p)
    assert(p.contains("hashpartitioning(user_id"), p)
    // rn = 1 must plan with the group-limit pushdown: each partition keeps
    // its top row pre-shuffle instead of sorting whole groups post-shuffle
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q47: centroid side broadcasts (no corpus reshuffle for IVF)") {
    assert(plan("q47_ivf_cells").contains("BroadcastNestedLoopJoin")
      || plan("q47_ivf_cells").contains("BroadcastExchange"))
  }

  test("q47: assignment partial-aggregates map-side (no corpus×k shuffle)") {
    val p = plan("q47_ivf_cells")
    // the ×k candidate intermediate must be reduced BEFORE the exchange:
    // a partial min_by aggregate, never a per-id row_number window (which
    // would hash-exchange corpus×k rows)
    assert(p.contains("partial_min_by"), p)
    assert(!p.contains("Window"), "ivfAssign regressed to a window:\n" + p)
  }

  test("q54: only the boundary bucket is ranked (no whole-stratum window)") {
    val p = plan("q54_stratified_sample")
    val rn = p.linesIterator.filter(_.contains("row_number")).toSeq
    assert(rn.nonEmpty, p)
    // every ranking window must partition by the hash bucket too — a
    // row_number over the bare stratum puts the whole stratum on one reducer
    rn.foreach(l => assert(l.contains("__b"),
      "whole-stratum row_number regression:\n" + l))
  }

  test("q68: per-group cap shares the two-pass shape (no whole-group window)") {
    val p = plan("q68_source_cap")
    val rn = p.linesIterator.filter(_.contains("row_number")).toSeq
    assert(rn.nonEmpty, p)
    rn.foreach(l => assert(l.contains("__b"),
      "whole-group row_number regression:\n" + l))
  }

  test("q136/q140: weighted-rank family broadcasts probes; corpus joins never SMJ") {
    for (q <- Seq("q136_weighted_median", "q140_token_budget_cap")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), q + "\n" + p)
      // the corpus side must meet the tiny bounds/probe tables via
      // broadcast — a sort-merge join would shuffle-sort the corpus
      assert(!p.contains("SortMergeJoin"),
        s"$q corpus join regressed to SMJ:\n" + p)
      assert(!p.contains("CartesianProduct"), q + "\n" + p)
      assert(p.contains("partial_sum"), q + "\n" + p) // map-side histogram
    }
  }

  test("q137/q139: every sweep sum/lead window is bucket-scoped") {
    for (q <- Seq("q137_max_concurrency", "q139_interval_coverage")) {
      val p = plan(q)
      val wins = p.linesIterator
        .filter(_.contains("windowspecdefinition")).toSeq
      assert(wins.nonEmpty, q + "\n" + p)
      // a window spec without the bucket key means a whole event-type
      // landed on one reducer — the exact shape these ops exist to avoid
      wins.foreach(l => assert(l.contains("__b"),
        s"$q window without bucket key:\n$l"))
    }
  }

  test("q143/q146/q148: prefix-max/rank windows bucket-scoped; offsets broadcast") {
    // q148 is the single-group case: the GLOBAL ordering would be one
    // reducer under a plain row_number() — the bucket key must appear
    for (q <- Seq("q143_pareto_frontier", "q146_gini", "q148_quantile_norm",
        "q151_compaction_bins", "q157_lerp_resample")) {
      val p = plan(q)
      val wins = p.linesIterator
        .filter(_.contains("windowspecdefinition")).toSeq
      assert(wins.nonEmpty, q + "\n" + p)
      // a window spec without the bucket key means a whole group's order
      // landed on one reducer — the decomposition these ops exist for
      wins.foreach(l => assert(l.contains("__b"),
        s"$q window without bucket key:\n$l"))
      assert(p.contains("BroadcastHashJoin"), q + "\n" + p)
      assert(!p.contains("CartesianProduct"), q + "\n" + p)
    }
  }

  test("q162/q167/q168: batch-assembly rank windows bucket-scoped") {
    // the in-bucket/in-label rank rides the decomposed prefix sum — a
    // dominant length bucket or majority label must never put its whole
    // ordering on one reducer
    for (q <- Seq("q162_length_bucket_batches", "q167_padding_waste",
        "q168_class_balance")) {
      val p = plan(q)
      val wins = p.linesIterator
        .filter(_.contains("windowspecdefinition")).toSeq
      assert(wins.nonEmpty, q + "\n" + p)
      wins.foreach(l => assert(l.contains("__b"),
        s"$q window without bucket key:\n$l"))
      assert(!p.contains("CartesianProduct"), q + "\n" + p)
    }
  }

  test("q166: salted NDV spreads the hot key before the final combine") {
    val p = plan("q166_skew_safe_ndv")
    // stage-1 exchange must key on (event_type, salt), never event_type
    // alone; the final exchange then carries ≤ types·16 partial rows.
    // Catalyst folds the salt alias into _groupingexpression — assert the
    // xxhash64 projection exists and an exchange keys on the derived
    // grouping column
    assert(p.contains("xxhash64(user_id"), p)
    val exchanges = p.linesIterator
      .filter(_.contains("hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(exchanges.exists(l =>
      l.contains("_groupingexpression") || l.contains("__salt")),
      "no exchange keyed on the salt:\n" + p)
  }

  test("q70: PQ encode is a single narrow projection (no join, no exchange)") {
    val p = plan("q70_pq_codes")
    // the codebook is embedded as literals — the corpus scan must reach the
    // output through projections only. r16 re-scoped the r15 loader-level
    // embeddings fan-out to the heavy sites, so this cheap consumer is back
    // to ZERO exchanges: any exchange here (round-robin, SinglePartition,
    // keyed) means the encode started shuffling the corpus again.
    assert(!p.contains("Join"), "codebook regressed to a join:\n" + p)
    val exchanges = p.linesIterator
      .filter(_.trim.matches(raw"\(\d+\) Exchange.*")).toSeq
    assert(exchanges.isEmpty, "PQ encode shuffled the corpus:\n" + p)
  }

  test("q49: containment check is a semi-join aggregate, not a pair join") {
    val p = plan("q49_decontaminate")
    assert(p.contains("LeftSemi"), p)
  }

  test("q53: corpus count broadcasts; term/doc joins stay hash joins") {
    val p = plan("q53_tfidf_top")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("partial_count"), p) // tf/df aggregates map-side combine
  }

  test("q55: salted join replicates the small side, result partitioned by salt+key") {
    val p = plan("q55_salted_join")
    // the salt column must be part of the join key (skew spread)
    assert(p.contains("__salt"), p)
  }

  test("q58: vocabulary lookup broadcasts to the encode side") {
    val p = plan("q58_vocab_encode")
    assert(p.contains("BroadcastHashJoin"), p)
    // two-phase top-k: per-partition top-k + k·p merge, never a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange SinglePartition"),
      "vocabulary fit regressed to a single-reducer sort:\n" + p)
  }

  test("q66: bloom prefilter gates the training side before its exchange") {
    val p = plan("q66_decontaminate_bloom")
    // the broadcast bloom must appear as a filter on the train-shingle scan
    // side — the whole point is that only bloom hits reach the distinct's
    // exchange, never the full training shingle set
    assert(p.contains("bloom_might_contain"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("q65: packing windows stay bucket-partitioned (no global data window)") {
    val p = plan("q65_pack_chunks")
    // the per-row running sum orders by the 60-bit hash __h; any window
    // doing so must partition by the bucket __b, or the whole corpus lands
    // on one reducer. (The one unpartitioned cumsum runs over the ≤4096-row
    // bucket histogram, which never references __h.)
    val hashWindows = p.linesIterator.filter(l =>
      l.contains("windowspecdefinition") && l.contains("__h")).toSeq
    // guard against vacuity: if Spark renames/elides __h in the plan string
    // this test must fail loudly, not pass by matching zero lines
    assert(hashWindows.nonEmpty,
      "expected at least one windowspecdefinition over __h in the plan:\n" + p)
    hashWindows.foreach(l =>
      assert(l.contains("__b"), "global-order data window regression:\n" + l))
    assert(p.contains("partial_sum"), p) // histogram aggregates map-side
  }

  test("q79: centroid assignment broadcasts; dedup join is cell-keyed, not pairwise") {
    val p = plan("q79_semantic_dedup")
    // ivfAssign's centroid side rides a broadcast, never a corpus shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // the within-cell self-join must key on cell (a hash join), not
    // degrade to a cartesian of the corpus with itself
    assert(!p.contains("CartesianProduct"), "pairwise regression:\n" + p)
    // and the kept-set subtraction stays a real anti join
    assert(p.contains("LeftAnti"), p)
  }

  test("q80: winnowing is map-only — no exchange anywhere") {
    val p = plan("q80_winnow_fingerprint")
    assert(!p.contains("Exchange"), "fingerprinting should not shuffle:\n" + p)
    assert(p.contains("Generate"), p) // the explode, still narrow
  }

  test("q81: gram dictionary aggregates map-side; span windows are per-doc") {
    val p = plan("q81_substring_spans")
    // the ≥2-occurrence dictionary must partial-aggregate before its
    // exchange (at 100 TB the exploded grams are the corpus ×~n)
    assert(p.contains("partial_count"), p)
    // island windows partition by doc — a global-order window would
    // funnel every duplicated gram through one reducer
    val w = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(w.nonEmpty, "expected island windows in:\n" + p)
    w.foreach(l => assert(l.contains("doc_id"), "global window:\n" + l))
  }

  test("q83: quality rules are one narrow projection over the scan") {
    val p = plan("q83_gopher_quality")
    assert(!p.contains("Exchange"), "quality scoring should not shuffle:\n" + p)
  }

  test("q84: subword encode is a narrow projection — vocab rides as a literal") {
    val p = plan("q84_subword_encode")
    assert(!p.contains("Exchange"), "tokenization should not shuffle:\n" + p)
    assert(!p.contains("Join"), "vocab must be a literal, not a joined table:\n" + p)
  }

  test("q91: blocked edit-distance join is an equi-join, never a cross product") {
    val p = plan("q91_editdist_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation must join on the block key:\n" + p)
  }

  test("q92: per-group histogram partial-aggregates map-side") {
    val p = plan("q92_iqr_outliers")
    assert(p.contains("partial_count"),
      "grouped histogram must combine map-side:\n" + p)
    // no window over the raw (event_type)-partitioned corpus: every
    // windowspec must carry the histogram-side synthetic columns
    val w = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    w.foreach(l => assert(l.contains("__g"), "raw-corpus window:\n" + l))
  }

  test("q94: triangle closure is hash equi-joins, never a cross product") {
    val p = plan("q94_triangles")
    // (the final 1-row stats assembly is a legitimate broadcast nested loop;
    // the edge/wedge joins must never degrade to a cartesian product)
    assert(!p.contains("CartesianProduct"),
      "wedge/closure joins must stay equi-joins:\n" + p)
  }

  test("q116: sparse retrieval joins stay equi-joins (no cross product)") {
    val p = plan("q116_sparse_retrieval")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // candidate pairs come from the inverted-index token equi-join
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("q117: hilbert key is a narrow projection over the scan") {
    val p = plan("q117_hilbert_key")
    assert(!p.contains("Exchange"), "hilbert key should not shuffle:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q118: pagerank iterations partial-aggregate; joins stay equi") {
    val p = plan("q118_pagerank")
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q119: grouping sets expand map-side over a single scan") {
    val p = plan("q119_grouping_sets")
    assert(p.contains("Expand"), p)
    // one fact scan feeds all three grouping sets (formatted explain names
    // each scan twice: once in the tree, once in the node detail)
    assert(p.split("Scan parquet").length <= 3,
      "grouping sets re-scanned the fact table:\n" + p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("q120: bag set ops are aggregates + generate, never a join explosion") {
    val p = plan("q120_bag_set_ops")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q130: column profile is one scan (multi-distinct Expand, no rescans)") {
    val p = plan("q130_column_profile")
    // exactly one parquet scan of lineitem — the five NDVs ride one Expand
    // (count Location lines: the formatted dump repeats node names)
    val scans = "Location: InMemoryFileIndex".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 scan, got $scans:\n$p")
    assert(p.contains("Expand"), p)
  }

  test("addOriginalIndex joins file offsets (no when-chain literal)") {
    val dir = "/root/reference/orderly/data/test_data/extracted_ord_test_data_dont_trust_labelling/extracted_ords"
    assume(new java.io.File(dir).exists(), "reference checkout not present")
    val raw = graft.operators.ReactionTable.load(spark, dir)
    val p = raw.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"), p)
    // an O(#files) offset literal would render as a nested when-chain
    assert(!p.contains("ELSE CASE WHEN (extracted_from_file"),
      "offset lookup regressed to a when-chain:\n" + p)
  }

  test("q174: CDC compaction is one combining aggregate, never a window") {
    val p = plan("q174_cdc_apply")
    // max(struct) + counts must partial-aggregate map-side so a hot key's
    // changelog collapses before the shuffle; a row_number formulation
    // would funnel each key's full history through one reducer
    assert(!p.contains("Window"), "CDC apply regressed to a window:\n" + p)
    assert(p.contains("partial_"), p)
    assert(p.contains("hashpartitioning(user_id"), p)
  }

  test("q176: checksum partial-aggregates; shuffle carries only per-source rows") {
    val p = plan("q176_content_checksum")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("hashpartitioning(source"), p)
  }

  test("q177: changepoint totals broadcast; prefix windows bucket-scoped") {
    val p = plan("q177_cusum_changepoint")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val wins = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    // the row-level running sums must ride (event_type, __b) buckets; the
    // only __b-free windows are over the ≤groups·buckets offsets table
    assert(wins.exists(_.contains("__b")), p)
  }

  test("q178: margin mining broadcasts the query side (no cartesian)") {
    val p = plan("q178_margin_mining")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q179: containment joins are equi-joins (no cartesian, no SMJ on pairs)") {
    val p = plan("q179_containment_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q180: quintile thresholds broadcast over the user aggregate") {
    val p = plan("q180_rfm_segments")
    assert(p.contains("BroadcastExchange"), p)
    // scoring must never sort the user table globally (no ntile window)
    assert(!p.contains("windowspecdefinition(user_id"), p)
  }

  test("q181: seasonal lags are equi-joins, not per-type order windows") {
    val p = plan("q181_seasonal_naive_error")
    assert(!p.contains("Window"), "lag regressed to a window:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q182: Benford expected-mass and total frames broadcast") {
    val p = plan("q182_benford_profile")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q183: RRF computes both metrics on ONE broadcast pass") {
    val p = plan("q183_rrf_fusion")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // one corpus scan feeds both rankings — a second scan would double
    // the candidate generation (formatted explain prints each node twice:
    // once in the tree, once in the detail section)
    assert(p.linesIterator.count(_.trim.matches(
      raw"\(\d+\) BroadcastNestedLoopJoin.*")) == 1, p)
  }

  test("q184: k-fold in-label rank windows are bucket-scoped") {
    val p = plan("q184_stratified_kfold")
    val wins = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(wins.nonEmpty, p)
    wins.foreach(l => assert(l.contains("__b"),
      "k-fold window without bucket key:\n" + l))
  }

  test("q188/q193: KMV sketch aggregates are partial (map-side) hash aggs") {
    for (q <- Seq("q188_kmv_distinct", "q193_kmv_setops")) {
      val p = plan(q)
      // the sketch must fold map-side: partial kmv_bottom_k before the
      // exchange, so only <=k arrays per group per partition shuffle
      assert(p.contains("partial_kmv_bottom_k"), s"$q:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
    }
  }

  test("q189: decayed popularity is one aggregate, no window, no SMJ") {
    val p = plan("q189_decayed_popularity")
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q190: gram matrix shuffles only the d^2 partials") {
    val p = plan("q190_gram_int8")
    // exactly one exchange TOTAL, and it is the (i, j) partial-sum hash
    // regroup — the corpus itself must never exchange at all (r16 removed
    // the r15 loader-level fan-out this cheap consumer was paying for;
    // bounding the total closes the r15 ADVICE gap where extra round-robin
    // or SinglePartition corpus exchanges passed silently).
    val keyed = p.linesIterator.count(_.contains("hashpartitioning"))
    assert(keyed == 1, s"want 1 hash exchange, got $keyed:\n$p")
    val exchanges = p.linesIterator
      .filter(_.trim.matches(raw"\(\d+\) Exchange.*")).toSeq
    assert(exchanges.size == 1,
      s"want 1 exchange total (the d^2 regroup), got ${exchanges.size}:\n$p")
    assert(p.contains("partial_sum"), p)
  }

  test("q195: permutation seeds and observed diff broadcast; no SMJ") {
    val p = plan("q195_ab_permutation")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q199: grouped top-k folds map-side, no Window, no per-group sort") {
    val p = plan("q199_grouped_topk_native")
    assert(p.contains("partial_bottom_k"), p)
    assert(!p.contains("Window"), p)
  }

  test("q214/q215/q219: log-scored rankers broadcast stats, top-k never global-sorts") {
    for (q <- Seq("q214_bm25_topk", "q215_entropy_filter",
        "q219_surprisal_filter")) {
      val p = plan(q)
      // the fixed-point log2 must stay a native codegen'd expression
      assert(p.contains("log2fx"), q + "\n" + p)
      // idf/LM/totals ride broadcasts (q214/q219) or map-side partials
      assert(p.contains("partial_"), q + "\n" + p)
      // two-phase top-k: per-partition top-k + merge, never a global sort
      assert(p.contains("TakeOrderedAndProject"), q + "\n" + p)
      assert(!p.contains("SortMergeJoin"), q + "\n" + p)
      assert(!p.contains("CartesianProduct"), q + "\n" + p)
    }
  }

  test("q218/q220: divergence probes broadcast marginals, one combining agg") {
    for (q <- Seq("q218_kl_drift", "q220_mutual_information")) {
      val p = plan(q)
      assert(p.contains("log2fx"), q + "\n" + p)
      assert(p.contains("BroadcastHashJoin"), q + "\n" + p)
      assert(p.contains("partial_"), q + "\n" + p)
      assert(!p.contains("SortMergeJoin"), q + "\n" + p)
      assert(!p.contains("CartesianProduct"), q + "\n" + p)
    }
  }

  test("q222/q226: log-keyed top-k rides TakeOrdered, never a global sort") {
    for (q <- Seq("q222_zipf_slope", "q226_weighted_sample")) {
      val p = plan(q)
      assert(p.contains("log2fx"), q + "\n" + p)
      assert(p.contains("TakeOrderedAndProject"), q + "\n" + p)
      assert(!p.contains("SortMergeJoin"), q + "\n" + p)
    }
  }

  test("q224: rendezvous sharding is a pure expression fan-out (no join)") {
    val p = plan("q224_rendezvous_shards")
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_"), p)
  }

  test("q225: alpha-sampling composes log2fx+exp2fx, broadcasts the total") {
    val p = plan("q225_alpha_sampling")
    assert(p.contains("log2fx"), p)
    assert(p.contains("exp2fx"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("q216: audio features stay a narrow projection (no join, no window)") {
    val p = plan("q216_audio_features")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    // pruned scan: only doc_id + text feed the synth/decode path
    assert(!p.contains("n_chars"), "projection not pruned:\n" + p)
  }

  test("q228: planted-skew join broadcasts the salted dim; fact never sort-merges") {
    val p = plan("q228_skew_salted_agg")
    // the replicated 25x16-row dimension must broadcast — the 42%-hot-key
    // fact side then never shuffles for the join, only for the final agg
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("__salt"), p)
  }

  test("q229: softmax weights broadcast both scalars; one combining agg") {
    val p = plan("q229_doremi_weights")
    assert(p.contains("log2fx") && p.contains("exp2fx"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_"), p) // per-domain agg combines map-side
  }

  test("q234: span df is a combining agg; no pairwise/cartesian stage") {
    val p = plan("q234_dup_span_detect")
    assert(p.contains("partial_count"), p) // df count combines map-side
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q235: quantile window partitions by cohort AFTER per-user reduction") {
    val p = plan("q235_funnel_convert")
    // rank selection, not an interpolating percentile
    assert(p.contains("Window"), p)
    assert(p.contains("hashpartitioning(wd"), p)
    // per-user firsts combine map-side before any window sees a row
    assert(p.contains("partial_min"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q236: cohort join is a real join; aggregates combine map-side") {
    val p = plan("q236_cohort_ltv")
    assert(p.contains("partial_min"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bandedCandidates on a parquet scan sizes geometry with NO Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // footer metadata path agrees with the real count on a bare scan…
    assert(graft.operators.Similarity.metadataRowCount(emb) === Some(500L))
    // …declines on a filtered frame (row count not derivable)
    assert(graft.operators.Similarity.metadataRowCount(
      emb.filter(col("vec_id") > 10)).isEmpty)
    // and plan-BUILD of the banded candidate frame with corpusSize absent
    // triggers no job (the r10 defect: a driver-side count() full-scan at
    // geometry-selection time — an extra corpus pass at 100 TB)
    val nonSentinel = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinelSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (Option(s.properties).exists(
            _.getProperty("spark.jobGroup.id") == "planspec_sentinel"))
          sentinelSeen.set(true)
        else nonSentinel.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val cand = graft.operators.Similarity.bandedCandidates(
        emb, "vec_id", "embedding", baseBits = 8, baseBands = 3)
      assert(cand.columns.toSeq === Seq("a_id", "b_id"))
      // Drain the async listener bus deterministically: job events post
      // FIFO, so once the sentinel job (run AFTER plan-build) is
      // observed, any plan-build job-start would already have been
      // counted. The sentinel carries its OWN job group so a plan-build
      // job can never be mistaken for it — waiting for "any one job"
      // would false-pass when plan-build fired exactly one job whose
      // event arrived before the sentinel's.
      spark.sparkContext.setJobGroup("planspec_sentinel", "listener drain")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!sentinelSeen.get() && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(sentinelSeen.get(), "sentinel job never observed on the bus")
      assert(nonSentinel.get() === 0,
        s"plan-build triggered ${nonSentinel.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("graph loops: per-round join exchanges ONLY the frontier side") {
    // The iterative loops (bfsLevels/ssspRounds/pagerank*) persist the
    // edge list hash-partitioned on `src` (GraphOps.persistByKey): the
    // cache's preserved outputPartitioning must satisfy the per-round
    // join's edge-side distribution, so each relaxation round exchanges
    // only the frontier/dist side — and the SHUFFLE_HASH hint keeps the
    // cached edge partitions streaming (no per-round full-edge sort).
    import spark.implicits._
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val edges = spark.range(0, 1000)
        .selectExpr("id % 97 as src", "(id * 7) % 97 as dst")
      val e = graft.operators.GraphOps.persistByKey(edges.toDF(), "src")
      e.count() // materialize, as the loops' first action does
      val dist = Seq((1L, 0L)).toDF("v", "d").localCheckpoint()
      // the PRODUCTION per-round join (the same frontierEdgeJoin call
      // bfsLevels and ssspRounds execute each round) — a hand-built
      // replica here would stay green if the loops themselves regressed
      val round = graft.operators.GraphOps.frontierEdgeJoin(dist, e)
      val p = round.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      // the cached relation's dump shows its one-time REPARTITION_BY_COL
      // exchange; the per-ROUND exchanges are the ENSURE_REQUIREMENTS ones
      val exchanges = p.linesIterator.count(_.contains("ENSURE_REQUIREMENTS"))
      assert(exchanges == 1,
        s"want 1 per-round exchange (frontier side only), got $exchanges:\n$p")
      assert(p.contains("hashpartitioning(v#"),
        "the per-round exchange must be on the frontier key:\n" + p)
      assert(p.contains("ShuffledHashJoin"), p)
      assert(p.contains("InMemoryTableScan"), p)
      assert(!p.contains("SortMergeJoin"),
        "edge side must stream unsorted from cache:\n" + p)
      e.unpersist()
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("q240/q241: sequence windows partition by user; normalizer broadcasts") {
    // the lead() window must shuffle on user_id (one exchange carries the
    // whole sequence-mining pass), the per-src normalizing join must
    // broadcast the |types|-row total — never reshuffle the matrix — and
    // nothing may degenerate to a cartesian pair join
    val p = plan("q240_markov_transitions")
    assert(p.contains("hashpartitioning(user_id#"),
      "sequence window must partition by user_id:\n" + p)
    assert(p.contains("BroadcastExchange"),
      "per-src totals must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    val p2 = plan("q241_trigram_paths")
    assert(p2.contains("hashpartitioning(user_id#"),
      "trigram window must partition by user_id:\n" + p2)
    // Catalyst's window-group-limit rewrite turns the rank<=20 filter
    // into a distributed TakeOrderedAndProject over the aggregated
    // |types|^3 census — per-partition top-k, no single-partition
    // exchange of the census at all. Lock that shape.
    assert(p2.contains("TakeOrderedAndProject"),
      "global top-k must be a distributed take, not a full sort:\n" + p2)
    assert(p2.contains("HashAggregate"), p2)
    assert(!p2.contains("CartesianProduct"), p2)
  }

  test("extract pipeline is a single narrow projection (no exchange)") {
    val dir = "/root/reference/orderly/data/test_data/ord_test_data"
    assume(new java.io.File(dir).exists(), "reference checkout not present")
    val nested = graft.extract.OrdSource.readNested(spark, dir)
    val extracted = graft.extract.Extract.extractReactions(
      nested, graft.extract.ExtractConfig(), graft.extract.IdentityChemistry,
      Seq("O", "CO"))
    val p = extracted.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), "extract should not shuffle:\n" + p)
  }

  test("extract pipeline over generated ORD files is a single narrow projection " +
      "(no exchange, no deserialize between scan and extract)") {
    val dir = java.nio.file.Files.createTempDirectory("ord-plan")
    val files = OrdFixtures.writeSkewedDir(dir, 3L, files = 6, reactions = 60)
    val nested = graft.extract.OrdSource.readNested(spark, dir.toString)
    val extracted = graft.extract.Extract.extractReactions(
      nested, graft.extract.ExtractConfig(), graft.extract.IdentityChemistry,
      Seq("O", "CO"))
    val qe = extracted.queryExecution
    val p = qe.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), "extract should not shuffle:\n" + p)
    val deserialize = qe.optimizedPlan.collect {
      case d: org.apache.spark.sql.catalyst.plans.logical.DeserializeToObject => d
    }
    assert(deserialize.isEmpty, "scan rows should reach the extract as objects:\n" +
      qe.optimizedPlan)
    assert(extracted.count() == files.map(_._2.size).sum)
  }

  test("extract over generated ORD files is one typed map: no higher-order function, " +
      "nothing between the map and its serializer") {
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    import org.apache.spark.sql.catalyst.plans.logical._
    val dir = java.nio.file.Files.createTempDirectory("ord-plan-map")
    OrdFixtures.writeSkewedDir(dir, 4L, files = 3, reactions = 30)
    for (trust <- Seq(false, true)) {
      val extracted = graft.extract.Extract.extractReactions(
        graft.extract.OrdSource.readNested(spark, dir.toString),
        graft.extract.ExtractConfig(trustLabelling = trust),
        graft.extract.IdentityChemistry, Seq("O", "CO"))
      val plan = extracted.queryExecution.optimizedPlan
      val hofs = plan.flatMap(_.expressions.flatMap(_.collect {
        case h: HigherOrderFunction => h
      }))
      assert(hofs.isEmpty, hofs.mkString("\n"))
      plan match {
        case SerializeFromObject(_, _: MapPartitions) =>
        case _ => fail(s"trustLabelling=$trust: want SerializeFromObject <- " +
          s"MapPartitions <- ExternalRDD:\n$plan")
      }
      assert(plan.children.head.children.map(_.getClass.getSimpleName) ==
        Seq("ExternalRDD"), plan)
      assert(plan.collect { case p: Project => p }.isEmpty, plan)
      assert(extracted.columns.contains("reagents") == trust)
    }
  }
}
