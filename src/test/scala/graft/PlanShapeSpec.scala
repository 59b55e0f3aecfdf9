package graft

import org.scalatest.funsuite.AnyFunSuite
import TestSpark._

/** Physical-plan assertions (SURVEY §4): the optimizations we rely on
  * at 100 TB must actually appear in the plan — broadcast joins for
  * dimension sides, predicate/projection pushdown into the parquet
  * scan, and no more exchanges than the operator needs.
  */
class PlanShapeSpec extends AnyFunSuite {

  private def plan(name: String): String =
    gate(name, sf0001).queryExecution.executedPlan.toString

  /** AQE's toString appends the pre-execution "Initial Plan", which
    * duplicates every operator — assert on the final plan only. */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head

  test("q2 dimension chain joins are broadcast, not shuffled") {
    val p = plan("q2_dim_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("ca2/ca6 subscriber dimension join is broadcast") {
    assert(plan("ca2_engagement_rate").contains("BroadcastHashJoin"))
    assert(plan("ca6_final_metrics").contains("BroadcastHashJoin"))
  }

  test("filter pushdown reaches the parquet scan") {
    val p = gate("la1_filter_paginate", sf0001)
      .queryExecution.executedPlan.toString
    // level_no >= 40 derives from event_type = 'error' — the CASE is
    // post-scan, but the scan must not read all columns
    assert(p.contains("ReadSchema"))
    val scanLine = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!scanLine.contains("value"), s"column pruning failed: $scanLine")
  }

  test("projection pruning: ca5 scans only source+lang") {
    val p = plan("ca5_language_mode")
    val scanLine = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(scanLine.contains("source") && scanLine.contains("lang"))
    assert(!scanLine.contains("text"), s"text not pruned: $scanLine")
  }

  test("ca1 windows + agg reuse one exchange on channel_id") {
    val p = plan("ca1_window_metrics")
    val exchanges = shuffleCount(p)
    // one shuffle for the window partitioning; the groupBy on the same
    // key must NOT re-shuffle (hashpartitioning(channel_id) reused)
    assert(exchanges <= 1, s"expected <=1 exchange, got $exchanges\n$p")
  }

  test("q1 aggregation is partial + final (map-side combine)") {
    val p = plan("q1_agg")
    assert(p.contains("partial_"), "no partial aggregation found")
  }

  test("whole-stage codegen covers the hot path of q1") {
    // AQE finalizes the plan only after execution
    val df = gate("q1_agg", sf0001)
    df.collect()
    // codegen stages print as "*(n) Operator" in the executed plan
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"))
  }

  test("ca6 flagship: one scan of events, ≤2 exchanges (window + agg)") {
    val p = plan("ca6_final_metrics")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events"))
    assert(scans <= 1, s"expected a single events scan, got $scans\n$p")
    val exchanges = shuffleCount(p)
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges\n$p")
  }

  test("dd2 pair join is shuffle-hash, not broadcast (mirror-image sides)") {
    val p = plan("dd2_jaccard_blocked")
    assert(p.contains("ShuffledHashJoin"),
      s"expected ShuffledHashJoin for the exploded self-join\n$p")
  }

  test("sim3 payload join-back is broadcast; candidates stay slim") {
    val p = plan("sim3_embedding_neardup")
    assert(p.contains("BroadcastHashJoin"),
      "vector join-back should broadcast the tiny vector table")
  }

  test("dd3 scans the corpus at most 2x (bucket pair-gen + verify join-back)") {
    // One-pass minhash_sig + bucket-group pair generation: the
    // sketch/band stage is a narrow map off ONE corpus scan (no
    // self-join subtree duplication); the melt verify join-back adds
    // the second scan. (The explode + min-agg + band-self-join
    // formulation cost 3 — and 4 before the melt join-back — each a
    // spare full-corpus regexp pass at 100 TB.)
    val lp = gate("dd3_minhash_lsh", sf0001).queryExecution.optimizedPlan.toString
    val n = "Relation \\[doc_id".r.findAllIn(lp).length
    assert(n <= 2, s"expected <=2 documents scans in the optimized plan, got $n")
  }

  test("dd4 sketch is a narrow map feeding the band self-join") {
    // simhash64 folds token counts + votes inside the projection — no
    // aggregation anywhere before the band join (the old shape paid
    // two corpus-wide regroupings per sketch). The pair stream stays
    // a codegen'd self-join, NOT bucket-group pair-gen: 16-bit bands
    // are low-entropy under duplication (a 20× probe hit a 3 400-deep
    // bucket where interpreted per-bucket lambdas went quadratic).
    val df = gate("dd4_simhash", sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("partial_min") && !p.contains("partial_sum"),
      s"sketch computation must not aggregate\n$p")
    assert(p.contains("simhash64"), s"native sketch expression missing\n$p")
  }

  test("la1 pagination is TakeOrderedAndProject, not a global-sort window") {
    val df = gate("la1_filter_paginate", sf0001)
    df.collect() // finalize AQE plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"pagination must plan as per-partition top-k\n$p")
    // the survivor-ranking window must carry a partition spec (an
    // empty one — spec string starting at the ORDER BY column — would
    // log 'No Partition Defined' and single-thread the filtered slice)
    assert(!p.contains("windowspecdefinition(ts_us"),
      s"window must partition on the constant survivor key\n$p")
  }

  test("yf8 literal-map language lookup is a pure narrow map") {
    // The 83-row constant dim must compile to a literal map probed in
    // the projection — no join, no broadcast, no shuffle. At 100 TB
    // this keeps the lookup a zero-exchange pass over the corpus.
    val p = plan("yf8_full_language_fallback")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"yf8 must not join or shuffle\n$p")
  }

  test("ca9 top-15 prune runs before the shuffle (WindowGroupLimit partial)") {
    // rk <= 15 must become a partial WindowGroupLimit below the
    // exchange — at 100 TB the per-channel top-k prunes map-side
    // instead of shuffling every video.
    val p = plan("ca9_banker_rounding")
    val idxLimit = p.indexOf("WindowGroupLimit")
    val idxEx = p.indexOf("Exchange hashpartitioning")
    assert(idxLimit >= 0 && idxEx >= 0)
    assert(p.contains("Partial"), s"expected a partial WindowGroupLimit\n$p")
  }

  test("tx7 prep funnel: one documents scan, one exchange") {
    // The funnel composes tx2 + tx3 + dd1 semantics in a single
    // corpus pass — joining their gate outputs instead would re-scan
    // the corpus three times. Only the fingerprint window may shuffle.
    val p = plan("tx7_corpus_prep")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(scans == 1, s"expected one documents scan, got $scans\n$p")
    val exchanges = shuffleCount(p)
    assert(exchanges <= 1, s"expected <=1 exchange, got $exchanges\n$p")
  }

  test("suite-wide: no sort-merge joins; nested-loop only at known anchors") {
    // Every gate's executed plan, swept: a SortMergeJoin anywhere
    // means a dimension stopped broadcasting or a candidate set
    // stopped being slim; a BroadcastNestedLoopJoin is legal ONLY
    // where the build side is a 1-row anchor (la2/la4/la5 totals,
    // thresholds) or the deliberately all-pairs brute-force baseline
    // (sim1's non-equi query join).
    val nljAllowed = Set("la2_level_rollup", "la4_last_24h",
      "la5_retention", "sim1_knn_bruteforce", "tw6_ttl_expiry",
      "sim8_ann_recall", // embeds sim1's brute-force ground truth
      "sim17_filtered_recall", // embeds the FILTERED brute-force ground truth
      "sim11_adc_search", // raw ADC IS a per-query scan of the packed
      // code table (queries broadcast WITH their lookup tables); the
      // cell-pruned production path is sim12, which stays equi-join
      "tx8_kmv_cardinality", // 1-row sketch x 1-row exact anchor join
      "tx18_kmv_merge", // tx8's shape twice over: 1-row merged/direct
      // sketches x 1-row exact/source-count anchors (4-way 1-row cross)
      "tx14_scored_retrieval", // 1-row corpus-total anchor (idf numerator)
      "cp11_temperature_mixture", // 1-row weight-total anchor over a ~|langs| dim
      "cp12_balanced_resample", // 1-row n_min anchor folded into the ~|langs| dim
      "la10_histogram_p95", // 1-row global [lo, hi] anchor for the bin map
      "ob4_row_accounting", // 1-row independent input-count anchor (the audit's point)
      "sim18_nprobe_curve", // embeds sim1's brute-force truth + 1-row recall x cand anchors
      "sim19_sq8_search", // SQ8 IS the brute-force scan compressed 8x:
      // the same non-equi broadcast-query join as sim1, over decoded
      // codes instead of raw vectors
      "sim20_sampled_codebook", // embeds sim1's brute-force truth
      // (sim8/sim18's shape) for both recall legs
      "sim21_mmr_rerank", // embeds sim1's brute-force pool scan (its
      // scaladoc'd baseline); pre-r15 the same BNLJ ran behind a
      // localCheckpoint so the sweep never saw it — the r15
      // single-pipeline spelling (one plan, 52→6 jobs) makes the
      // whole lineage visible to this lint, which is a feature
      "tx19_token_drift", // 1-row half-totals anchor cross (la2's shape)
      "tw16_decay_score", // 1-row max-ts anchor cross (tw6/la4's shape)
      "sim23_radius_search", // embeds sim1's brute-force radius TRUTH as
      // the priced control leg; the pruned serving leg stays equi-join
      "mm14_prep_funnel", // ob4's shape: 1-row independent input-count
      // anchor crossed onto the ≤|decisions|x|buckets| lineage rollup
      "tx29_mg_heavy_hitters", // 1-row MG-sketch anchor crossed onto
      // the 20-row exact-top-k audit (la10's anchor pattern)
      "q27_cm_join_size") // two 1-row anchors crossed (exact x estimate)
    // tx20 is deliberately NOT allowed: its edges are now extracted
    // from document content (scan-linear token mentions), so any
    // nested-loop re-appearing there is a regression of exactly the
    // |hosts|² shape the round-8 verdict flagged.
    // The ONE legitimate sort-merge join: q10's co-located bucketed
    // join — SMJ over bucket-sorted reads carries no exchange and no
    // sort (its own test asserts both), which is the whole point of
    // buying the layout. Everywhere else an SMJ means a broadcast or
    // slim-candidate shape silently regressed.
    val smjAllowed = Set("q10_bucketed_join")
    GateQueries.all.foreach { q =>
      val df = q.run(spark, sf0001)
      df.collect() // finalize AQE
      val p = df.queryExecution.executedPlan.toString
      if (!smjAllowed(q.name))
        assert(!p.contains("SortMergeJoin"), s"${q.name} plans a SortMergeJoin")
      if (!nljAllowed(q.name))
        assert(!p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct"),
          s"${q.name} plans a nested-loop/cartesian join")
    }
  }

  test("dd14 soft dedup rides ONE fingerprint exchange (dd1's cost, kept rows)") {
    val df = gate("dd14_soft_dedup", sf0001)
    df.collect()
    val p = finalPlan(df)
    assert(shuffleCount(p) <= 1, s"expected <=1 exchange, got ${shuffleCount(p)}\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Join"),
      s"soft dedup must be windowed, never joined:\n$p")
  }

  test("tx17/mm6 source and digest rollups combine map-side") {
    for (name <- Seq("tx17_source_reputation", "mm6_payload_dedup")) {
      val df = gate(name, sf0001)
      df.collect()
      val p = finalPlan(df)
      assert(p.contains("partial_"), s"$name: no partial aggregation\n$p")
      assert(!p.contains("Join"), s"$name must be a pure rollup, no joins\n$p")
      assert(shuffleCount(p) <= 2,
        s"$name: expected <=2 exchanges (group + distinct), got ${shuffleCount(p)}")
    }
  }

  test("tw15 SCD2 build: both window passes share one user exchange") {
    val df = gate("tw15_scd2_intervals", sf0001)
    df.collect()
    val p = finalPlan(df)
    assert(shuffleCount(p) <= 1,
      s"lag + lead/version windows must share one exchange, got ${shuffleCount(p)}\n$p")
    assert(!p.contains("Join"), s"SCD2 build must be windowed, never joined:\n$p")
  }

  test("tw13 spike windows ride hour-grain exchanges, never event-grain") {
    val df = gate("tw13_rate_spike", sf0001)
    df.collect()
    val p = finalPlan(df)
    assert(p.contains("partial_"), s"hourly pre-agg must combine map-side:\n$p")
    assert(shuffleCount(p) <= 2,
      s"expected <=2 exchanges (hour agg + user window), got ${shuffleCount(p)}\n$p")
    assert(!p.contains("Join"), s"tw13 must be windowed, never joined:\n$p")
  }

  test("q13 NOT EXISTS decorrelates to a hash anti join, no sort") {
    val df = gate("q13_sql_not_exists", sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), s"no anti join in:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("dd15 benchmark universe broadcasts; corpus side never shuffles pre-join") {
    val df = gate("dd15_containment_score", sf0001)
    df.collect()
    val p = finalPlan(df)
    assert(p.contains("BroadcastHashJoin"), s"bench universe not broadcast:\n$p")
    // exchanges: the per-doc hit regroup + the doc-spine join side(s) —
    // corpus-proportional slim rows only; the shingle match itself is
    // exchange-free (broadcast). A SMJ anywhere means that broke.
    assert(!p.contains("SortMergeJoin"))
  }

  test("sim14 assignment stays a narrow map: one agg exchange, seed dim broadcast") {
    val df = gate("sim14_lloyd_refine", sf0001)
    df.collect()
    val p = finalPlan(df)
    assert(p.contains("BroadcastHashJoin"), s"seed centroids not broadcast:\n$p")
    // the (cell, dim) regroup is the only corpus-fed exchange; the
    // folded-codebook assignment itself must not shuffle (sim5's
    // zero-exchange contract riding under the posexplode)
    val corpusExchanges = shuffleCount(p)
    assert(corpusExchanges <= 2,
      s"expected <=2 exchanges (agg + seed-build), got $corpusExchanges\n$p")
  }

  test("sim5/sim10 IVF assign + PQ encode are zero-exchange narrow maps") {
    // the folded-codebook pq_encode expression must keep the whole
    // index build inside one stage: scan → project, no Exchange at
    // all (the composed spelling shuffled 64·nlist rows per vector)
    val p5 = finalPlan(gate("sim5_ivf_assign", sf0001))
    val p10 = finalPlan(gate("sim10_pq_encode", sf0001))
    assert(shuffleCount(p5) == 0, s"sim5 encode shuffles\n$p5")
    assert(shuffleCount(p10) == 0, s"sim10 encode shuffles\n$p10")
  }

  test("mm9 static-payload profile is a zero-exchange narrow map") {
    // the distinct/modal frame fold must run in-row over the frame
    // array — a shuffle here means the profile regressed to the
    // exploded (media, digest) regroup it was designed to avoid
    val p = finalPlan(gate("mm9_static_payload", sf0001))
    assert(shuffleCount(p) == 0, s"mm9 shuffles\n$p")
  }

  test("cp15 dataset card assembles source-grain dims via broadcast joins") {
    val df = gate("cp15_dataset_card", sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), s"cp15 plans an SMJ\n$p")
    assert(p.contains("BroadcastHashJoin"), s"cp15 lost its broadcast assembly\n$p")
  }

  test("sim11 ADC search: no aggregation exchange; top-k prunes map-side") {
    // ADC = 8 element_at lookups in the projection; the per-pair
    // (query, vec) aggregation the composed form shuffled is gone,
    // and the only exchange left is the top-10 window, pre-pruned by
    // a partial WindowGroupLimit
    val df = gate("sim11_adc_search", sf0001)
    df.collect()
    val p = finalPlan(df)
    assert(!p.contains("HashAggregate"), s"sim11 still aggregates\n$p")
    assert(p.contains("WindowGroupLimit"), s"no map-side top-k prune\n$p")
    assert(shuffleCount(p) == 1, s"expected 1 exchange (top-k window)\n$p")
  }

  test("q16 lateral decorrelates to a map-side-pruned rank window, not a loop") {
    // The LATERAL-with-LIMIT spelling must land on W1's physical
    // shape: a partial WindowGroupLimit BEFORE the priority exchange
    // (each task keeps only its local top-3 per priority) and a
    // broadcast join against the 5-row priority dim — never a
    // per-driver-row re-execution of the subquery.
    val df = gate("q16_sql_lateral", sf0001)
    df.collect()
    val p = finalPlan(df)
    assert(p.contains("WindowGroupLimit"), s"no map-side top-k prune:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"priority dim not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"lateral fell back to a loop:\n$p")
  }

  test("retrieval plans: tx13 is one-pass after tf, tx14 query dim is top-k") {
    // tx13's df/total_tf/postings_head all aggregate in ONE pass over
    // a single hash(term) exchange (the rank window's partitioning is
    // reused by the final agg): exactly 2 exchanges — tf on
    // (term, doc_id), then term — and no join gluing branches back.
    // The 128-entry head stays bounded inside the agg (collect_list of
    // a CASE that nulls past rank 128), not via a pre-prune.
    val df13 = gate("tx13_inverted_index", sf0001)
    df13.collect()
    val p13 = finalPlan(df13)
    assert(!p13.contains("Join"),
      s"tx13 must not join its aggregate branches:\n$p13")
    assert(shuffleCount(p13) <= 2,
      s"expected <=2 exchanges (tf + term), got ${shuffleCount(p13)}\n$p13")
    assert(p13.contains("Window"), s"tx13 lost its rank window:\n$p13")
    val df14 = gate("tx14_scored_retrieval", sf0001)
    df14.collect()
    val p14 = finalPlan(df14)
    assert(p14.contains("TakeOrderedAndProject"),
      "tx14's rarest-term query dim must be per-partition top-k, not a global sort")
    assert(p14.contains("WindowGroupLimit"),
      "tx14's per-term top-10 must prune map-side")
  }

  test("cp8 epoch order rides a single exchange end-to-end") {
    // cp3's shard window, cp6's (shard, bin) agg, and cp8's
    // (epoch, shard) rank all align on the shard partitioning — the
    // whole manifest→epoch-order chain costs ONE shuffle
    val df = gate("cp8_epoch_order", sf0001)
    df.collect()
    val p = finalPlan(df)
    assert(shuffleCount(p) == 1, s"expected 1 exchange, got ${shuffleCount(p)}\n$p")
  }

  test("cp1 sample prunes map-side: partial WindowGroupLimit below the exchange") {
    // rank ≤ 20 per language must prune each map partition to its
    // local top-20 BEFORE the lang shuffle — at 100 TB the exchange
    // then carries O(20 × strata) rows, not the corpus.
    val p = plan("cp1_stratified_sample")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"expected a partial WindowGroupLimit\n$p")
  }

  test("cp2 weights dim joins broadcast; cp4 head is TakeOrderedAndProject") {
    assert(plan("cp2_weighted_mixture").contains("BroadcastHashJoin"))
    val df = gate("cp4_interleave_head", sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"interleave head must be per-partition top-k, not a global sort\n$p")
  }

  test("cp3 packing: one documents scan, one exchange (the shard shuffle)") {
    val p = plan("cp3_sequence_pack")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(scans == 1, s"expected one documents scan, got $scans\n$p")
    assert(shuffleCount(p) <= 1, s"expected <=1 exchange\n$p")
  }

  test("q10 bucketed join: no exchange and no sort below the join") {
    // The layout gate's contract: both inputs arrive bucket-sorted on
    // the join key, so the SMJ consumes them directly — zero shuffle
    // exchanges and zero Sort nodes anywhere under the join; the only
    // exchange in the whole plan is the final 5-group rollup.
    val df = gate("q10_bucketed_join", sf0001)
    df.collect()
    // AQE's toString appends the pre-execution "Initial Plan" (which
    // legitimately shows the agg exchange again) — assert on the
    // final plan only.
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("SortMergeJoin"), s"expected the co-located SMJ\n$p")
    val below = p.substring(p.indexOf("SortMergeJoin"))
    assert(!below.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle its inputs\n$p")
    assert(!below.replaceFirst("SortMergeJoin", "").contains("Sort "),
      s"bucket-sorted inputs must not re-sort\n$p")
    assert(shuffleCount(p) <= 1, s"only the rollup may exchange\n$p")
  }

  test("tx8 sketch side is the bounded-state aggregate, not a distinct shuffle") {
    // kmv_kmin plans as ObjectHashAggregate (partial per partition,
    // k-long arrays through one SinglePartition exchange); the old
    // composed form's TakeOrderedAndProject — and its corpus-wide
    // distinct exchange feeding it — must be gone. (The exact
    // count-distinct side keeps its own exchanges; it exists as the
    // comparator the sketch replaces.)
    val p = plan("tx8_kmv_cardinality")
    assert(p.contains("kmv_kmin") && p.contains("ObjectHashAggregate"),
      s"expected the kmv_kmin ObjectHashAggregate\n$p")
    assert(!p.contains("TakeOrderedAndProject"),
      s"composed k-min path should be gone\n$p")
  }

  test("tw9 gap window and rollup share one user_id exchange; head is top-k") {
    // lag window partitions on user_id and the groupBy keys the same
    // column, so the rollup must reuse the window's exchange; the
    // 200-row head must be per-partition top-k, never a global sort.
    val df = gate("tw9_event_gaps", sf0001)
    df.collect()
    val p = finalPlan(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"tw9 head must be TakeOrderedAndProject\n$p")
    assert(shuffleCount(p) <= 1,
      s"window + rollup must share the user_id exchange\n$p")
  }

  test("la8 explicit-values pivot: aggregated exchanges only, no Expand") {
    // pivot with an explicit value list plans as pre-agg on (logger,
    // level) -> pivotfirst on logger: both exchanges carry aggregated
    // rows (map-side combined), never raw events. An Expand, a
    // per-value re-scan, or a missing partial agg means the explicit
    // value list stopped doing its job.
    val df = gate("la8_level_pivot", sf0001)
    df.collect()
    val p = finalPlan(df)
    assert(!p.contains("Expand"), s"explicit-values pivot must not Expand\n$p")
    assert(p.contains("partial_count") && p.contains("partial_pivotfirst"),
      s"both pivot phases must map-side combine\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 head must be per-partition top-k\n$p")
    assert(shuffleCount(p) <= 2, s"pre-agg + pivotfirst exchanges only\n$p")
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"pivot must not re-scan per value, got $scans scans\n$p")
  }

  test("dd9 chunk dedup: bounded scans, no global sort") {
    // chunking is a narrow generator; the repeated-chunk dim and the
    // membership join may each re-read the chunk stream (2 documents
    // scans), but nothing may globally sort and the reassembly agg
    // must map-side combine its struct collection.
    val df = gate("dd9_chunk_dedup", sf0001)
    df.collect()
    val p = finalPlan(df)
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(scans <= 2, s"expected <=2 documents scans, got $scans\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"dd9 must not globally sort\n$p")
  }

  test("tx11 count dims broadcast into the bigram stream") {
    // c(w1 w2) and c(w1) are vocab-bounded aggregates — they must
    // join back as broadcasts so the only corpus-wide exchange is the
    // per-doc regroup.
    val df = gate("tx11_bigram_surprisal", sf0001)
    df.collect()
    val p = finalPlan(df)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"both count dims must broadcast\n$p")
  }

  test("cp6 manifest agg reuses cp3's shard exchange") {
    // groupBy(shard, bin_id) sits on data already hash-partitioned by
    // shard (a subset of the grouping key), so the manifest adds ZERO
    // exchanges beyond cp3's one shard shuffle.
    val df = gate("cp6_pack_manifest", sf0001)
    df.collect()
    val p = finalPlan(df)
    assert(shuffleCount(p) <= 1,
      s"manifest must reuse the shard exchange, not add one\n$p")
  }

  test("tw12 rate-limit windows + rollup share one user_id exchange") {
    // rank window, running-max window, and the final groupBy all key on
    // user_id — the whole throttle schedule must cost ONE shuffle
    val df = gate("tw12_rate_limit", sf0001)
    df.collect()
    val p = finalPlan(df)
    assert(shuffleCount(p) <= 1,
      s"rate limiter must reuse the user_id exchange\n$p")
  }

  test("dd10 reads dd6's memoized cluster table, not a second propagation") {
    // dd6's converged label propagation is checkpointed once per data
    // dir and shared (the codebook pattern); dd10's plan must scan the
    // checkpoint blocks — never re-derive clusters from the simhash
    // band self-join (pre-memo, the whole dd4→dd6 pipeline appeared
    // inside dd10's plan and the propagation ran twice per process).
    gate("dd6_dup_clusters", sf0001) // warm the memo
    val p = plan("dd10_canonical_select")
    assert(p.contains("ExistingRDD"),
      s"cluster table must come from the checkpointed memo\n$p")
    assert(!p.contains("simhash"),
      s"dd4's sketch join must not reappear inside dd10\n$p")
  }

  test("q9 salted agg: partials spread over salt before the final merge") {
    val p = plan("q9_salted_agg")
    // two grouping phases → two hashpartitioning exchanges: one on
    // (l_returnflag, salt), one on l_returnflag
    assert(p.contains("salt"), "salt column missing from plan")
    assert(gate("q9_salted_agg", sf0001).collect().map(
      _.getAs[Long]("n_rows")).sum ==
      Tables.lineitem(spark, sf0001).count())
  }

  test("sim6/sim18 score in the assignment stage: no vec_id join-back") {
    // r16: the IVF serving paths carry (v, n2) through the broadcast
    // probe fanout and compute the cosine BEFORE anything shuffles.
    // The old spelling kept candidates slim and joined the corpus
    // back in by vec_id — one extra full-payload embeddings scan per
    // serving leg (a broadcast at test SFs, a corpus-payload shuffle
    // at 100 TB; measured 84.8 → 20.8 s at the 100× replica). Law:
    // the embeddings relation appears at most 3× in sim6's optimized
    // plan (assignment, probe ranking, query set) and at most 7× in
    // sim18's (those three + sim1's two truth sides + the volume
    // leg's probes + cell sizes) — the join-back scans are gone.
    for ((g, want) <- Seq("sim6_ivf_search" -> 3, "sim18_nprobe_curve" -> 7)) {
      val lp = gate(g, sf0001).queryExecution.optimizedPlan.toString
      val n = "Relation \\[vec_id".r.findAllIn(lp).length
      assert(n == want,
        s"$g: expected exactly $want embeddings scans in the optimized plan, got $n")
    }
  }
}
