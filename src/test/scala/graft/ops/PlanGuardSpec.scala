package graft.ops

import graft.{SparkEntry, SparkSpec}

/** Physical-plan regression guards for the load-bearing plan properties of
  * the most expensive / structurally-critical gate queries.
  *
  * The bench data (sf0.1) is far too small to *time* a regression like a
  * top-k that stops planning WindowGroupLimit (each map task would ship its
  * whole partition instead of K rows) or a semi-join that degrades to a
  * shuffled inner join + distinct — but at 100 TB those are the difference
  * between a working plan and a melted cluster. So the properties are
  * asserted directly against the executed plan string:
  *
  *  - top-k        → TakeOrderedAndProject (never global Sort + Limit)
  *  - per-group K  → WindowGroupLimit (rank filter pushed below exchange)
  *  - small side   → BroadcastHashJoin / broadcast nested loop (no shuffle
  *                   of the big side against a dim/centroid/query set)
  *  - semi/anti    → LeftSemi / LeftAnti (never inner-join + distinct)
  *  - percentiles  → Window cumulative ranks, NOT an ObjectHashAggregate
  *                   whose buffer holds a group's full value multiset
  *  - every scan   → PushedFilters present; pruned columns stay out of
  *                   ReadSchema (checked via plan-string absence)
  */
class PlanGuardSpec extends SparkSpec {

  private def plan(name: String): String = {
    // keep scan metadata (ReadSchema/PushedFilters) untruncated so the
    // pruned-column checks below see the full column list
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString
  }

  /** The scan-schema lines of the executed plan — the authoritative record
    * of what the file scans read. Pruning checks anchor here rather than
    * the whole plan string, so an alias/path/UDF merely containing the
    * column name can't fail spuriously, and a column that IS read never
    * hides behind a rename elsewhere in the plan.
    */
  private def readSchemas(p: String): String = {
    val lines = p.linesIterator.filter(_.contains("ReadSchema:")).toSeq
    assert(lines.nonEmpty, "plan has no ReadSchema line to check")
    lines.mkString("\n")
  }

  /** query -> plan fragments that MUST appear */
  private val must: Map[String, Seq[String]] = Map(
    // top-k: driver-side K rows, map-side TakeOrdered per partition
    "q10_topk_orders" -> Seq("TakeOrderedAndProject"),
    "q2_brand_revenue" -> Seq("TakeOrderedAndProject", "BroadcastHashJoin"),
    "tx6_bigram_docfreq" -> Seq("TakeOrderedAndProject"),
    "cdc_scd2_top200" -> Seq("TakeOrderedAndProject"),
    // per-group top-k: rank filter below the exchange
    "cur5_domain_cap" -> Seq("WindowGroupLimit"),
    "q24_lateral_topn" -> Seq("WindowGroupLimit", "BroadcastHashJoin"),
    "q38_retention_cohorts" -> Seq("WindowGroupLimit"),
    "cdc_current_state" -> Seq("WindowGroupLimit"),
    // ANN: corpus never shuffles against the query/centroid set
    "sm1_topk_bruteforce" ->
      Seq("WindowGroupLimit", "BroadcastNestedLoopJoin"),
    "sm2_topk_lsh" -> Seq("WindowGroupLimit", "BroadcastHashJoin"),
    "sm4_topk_ivf" -> Seq("WindowGroupLimit", "BroadcastHashJoin"),
    "sm5_topk_kmeans" -> Seq("WindowGroupLimit", "BroadcastHashJoin"),
    // PQ: codebook joins broadcast; ADC shortlist + final top-k both plan
    // WindowGroupLimit; the rerank candidate set broadcasts against the
    // corpus scan (never a shuffle of the corpus)
    "sm7_topk_pq" -> Seq("WindowGroupLimit", "BroadcastHashJoin"),
    // tf-idf joins per-term docfreq (broadcast scalar + hash join)
    "tx7_tfidf" -> Seq("WindowGroupLimit", "BroadcastHashJoin"),
    // rank-based percentiles: distinct-value window + broadcast totals
    "q18_percentiles" -> Seq("Window", "BroadcastHashJoin"),
    // semi/anti joins stay semi/anti
    "q3_repeat_customers" -> Seq("LeftSemi"),
    "q9_inactive_customers" -> Seq("LeftAnti"),
    "cdc_scd2_incremental" -> Seq("LeftSemi", "LeftAnti", "Window"),
    "cur2_dedup_corpus" -> Seq("LeftAnti"),
    // near-dup banding: bucket equi-joins (shuffled-hash or sort-merge)
    "dd5_dup_clusters" -> Seq("SortMergeJoin"),
    // decontamination broadcasts the (tiny) eval-shingle set
    "dc1_decontam" -> Seq("BroadcastHashJoin"),
    "sj1_salted_join" -> Seq("BroadcastHashJoin"),
    // bucketed co-located join: both scans read bucket-aligned files
    // (at fixture scale Catalyst rightly broadcasts the small side; the
    // dedicated test below proves the zero-shuffle merge join once
    // broadcast is off, i.e. the both-sides-large regime)
    "q40_bucketed_join" -> Seq("Bucketed: true"),
    // CMS probe: the fixed d×w sketch broadcasts against the vocab side
    "tx14_cms_sketch" -> Seq("BroadcastHashJoin"),
    // KMV sketches: bottom-K per type pre-limits below the exchange
    "q45_kmv_overlap" -> Seq("WindowGroupLimit"),
    // SemDeDup: centroid assignment is a scan-side projection through the
    // native NearestCells kernel (no join, no per-vector window exchange);
    // the within-cluster pair join is the hinted shuffled-hash equi-join
    "sm10_semdedup" -> Seq("ShuffledHashJoin"),
    // DSIR: log-ratio table + selected-id set broadcast; global top-N is
    // TakeOrdered, never a single-partition window
    "cur11_dsir_sample" -> Seq("BroadcastHashJoin", "TakeOrderedAndProject"),
    // priority sampling: the K+1 shortlist is TakeOrdered (map-side top-K
    // then a driver merge), never a global sort of the weighted table
    "q46_priority_sample" -> Seq("TakeOrderedAndProject"),
    // per-stratum sampling: rank filter pre-limits groups below the
    // exchange; the τ side broadcasts
    "q48_group_priority_sample" ->
      Seq("WindowGroupLimit", "BroadcastHashJoin"),
    // BM25: per-term docfreq and the corpus-stats row broadcast against
    // the term-filtered hit stream; final top-k is TakeOrdered, never a
    // global sort of all scored docs
    "q52_bm25" -> Seq("TakeOrderedAndProject", "BroadcastHashJoin"),
    // BPE encode: the learned merge list is O(rounds) driver state applied
    // by the scan-side BpeApply kernel — the plan must contain NO join at
    // all between the corpus and the merge artifact (checked below via
    // mustNot), and the per-doc agg still group-limits nothing corpus-wide
    "tx20_bpe_encode" -> Seq("HashAggregate"),
    // MMR: the shortlist pre-limits per query below the exchange; the
    // greedy loop is the scan-side mmr_select kernel (no per-step joins)
    "sm15_topk_mmr" -> Seq("WindowGroupLimit", "mmr_select"),
    // filtered vector search: the label predicate upgrades the broadcast
    // to a HASH join on label — queries still broadcast, corpus never
    // shuffles
    "sm18_filtered_topk" -> Seq("WindowGroupLimit", "BroadcastHashJoin"),
    // semantic decontam: tiny eval set broadcast against the corpus scan
    "dc2_semantic_decontam" -> Seq("BroadcastNestedLoopJoin"),
    // EWMA: the sequential fold is the scan-side int_ewma kernel over the
    // bounded collected series — no iterative joins
    "q77_ewma" -> Seq("int_ewma"),
    // weighted median: the running-weight window is PARTITIONED (by
    // flag at the guard's measured size, by (flag, bucket) above the
    // PrefixSum.PlainWindowCap — the adaptive switch is on the MEASURED
    // compressed size; PrefixSumSpec pins the above-cap decomposition)
    "q75_weighted_median" -> Seq("windowspecdefinition(flag"),
    // equi-depth histogram: the NTILE-equivalent rank comes from the
    // PrefixSum decomposition — the corpus-sized window must be
    // PARTITIONED by the price-range bucket (the round-5 audit's one
    // scale-killer was this query's global NTILE)
    "q44_equidepth_hist" -> Seq("windowspecdefinition(__ps_bucket"),
    // ABC classification: the cumulative-revenue pass rides the
    // measured-size adaptive PrefixSum (plain global window at the
    // guard's measured size, revenue-range-bucket decomposition above
    // PlainWindowCap — PrefixSumSpec pins the above-cap decomposition;
    // the gate is in measuredCapGlobal below)
    // skyline: the strictly-higher-price running min is partitioned by
    // the price-range bucket (only the bucket table sees a global frame)
    "q71_skyline" -> Seq("windowspecdefinition(__b"),
    // optimizer-planned running windows: the partitionless fact-table
    // windows plan as the distributed two-pass exec, never WindowExec
    "q135_running_window" -> Seq("GlobalRunningWindow"),
    "q140_global_offsets" -> Seq("GlobalRunningWindow"),
    "q142_running_sql" -> Seq("GlobalRunningWindow"),
    // the KMV aggregate must keep map-side PARTIAL aggregation (the whole
    // point over the distinct+window construction)
    "q137_kmv_distinct" -> Seq("ObjectHashAggregate", "partial_kmv_sketch"),
    // blocklist automaton: the term counts come from the scan-side
    // ac_count kernel — term mapping is a literal array lookup, no join
    "tx31_blocklist_ac" -> Seq("ac_count"),
    // hybrid RRF: the query-token set broadcasts against the corpus
    // tokens; both per-query rank filters pre-limit below the exchange
    "sm22_hybrid_rrf" -> Seq("WindowGroupLimit", "BroadcastHashJoin"),
    // WordPiece: segmentation is the scan-side wordpiece_count kernel
    // (vocab rides as a reference object, never a relation)
    "tx33_wordpiece_encode" -> Seq("wordpiece_count", "HashAggregate"),
    // CvM: the running ECDF counts ride the measured-size adaptive
    // PrefixSum (plain global window at the guard's measured size,
    // value-bucket decomposition above the cap — measuredCapGlobal)
    // forward as-of: ONE exchange keyed on the join key; the fill window
    // is partitioned (key-parallel), never global
    "aj2_asof_next_error" -> Seq("windowspecdefinition(__k"),
    // probe curve: every tier's shortlist pre-limits below the exchange
    "sm23_ivf_probe_curve" -> Seq("WindowGroupLimit"),
    // content-defined chunking: one scan-side rolling-hash kernel pass
    "dd14_cdc_chunks" -> Seq("cdc_boundaries"),
    // iceberg changelog: the net diff is ONE null-safe full-outer
    // sort-merge join on the key — shuffle proportional to the two
    // snapshots, the same cost class as the merge that produced them
    "cdc_iceberg_changelog" -> Seq("SortMergeJoin", "FullOuter"),
    // v3 deletion vectors subtract through the scan-side dv_survives
    // kernel (name-keyed bitmap probe), never a join against the
    // deleted-position set
    "cdc_iceberg_v3_dv_export" -> Seq("dv_survives")
  )

  /** query -> plan fragments that must NOT appear */
  private val mustNot: Map[String, Seq[String]] = Map(
    // the whole point of the rank-based rewrite: no per-group value buffer
    "q18_percentiles" -> Seq("ObjectHashAggregate"),
    // no single-partition physical window may survive the running-window
    // rewrite (" Window [" is WindowExec's plan line; the distributed
    // exec prints GlobalRunningWindow)
    "q135_running_window" -> Seq(" Window ["),
    "q140_global_offsets" -> Seq(" Window ["),
    "q142_running_sql" -> Seq(" Window ["),
    "q16_approx_distinct" -> Seq("ObjectHashAggregate"),
    // banded joins must stay equi — a nested-loop fallback means the band
    // keys broke and Spark is comparing all pairs
    "dd2_minhash_neardups" -> Seq("BroadcastNestedLoopJoin"),
    "dd3_simhash_pairs" -> Seq("BroadcastNestedLoopJoin"),
    "dd4_containment_pairs" -> Seq("BroadcastNestedLoopJoin"),
    "sm3_cosine_neardups" -> Seq("BroadcastNestedLoopJoin"),
    "sm7_topk_pq" -> Seq("BroadcastNestedLoopJoin", "CartesianProduct"),
    "dd5_dup_clusters" -> Seq("BroadcastNestedLoopJoin"),
    // the LSH-eval comparison must stay on the bucketed joins — a
    // nested-loop anywhere means a side lost its equi keys
    "dd12_lsh_eval" -> Seq("CartesianProduct"),
    // FastSS blocking exists precisely so edit-distance matching is an
    // equi-join on deletion variants — a nested loop means the predicate
    // degenerated to all-pairs levenshtein
    "q42_fuzzy_join" -> Seq("BroadcastNestedLoopJoin", "CartesianProduct"),
    // span coverage joins on the shingle key, never all-pairs
    "dd9_span_dedup" -> Seq("BroadcastNestedLoopJoin", "CartesianProduct"),
    // the changelog diff must stay a keyed join — a nested loop means
    // the null-safe key equality degenerated to all-pairs
    "cdc_iceberg_changelog" ->
      Seq("BroadcastNestedLoopJoin", "CartesianProduct"),
    // the DV subtraction is a filter: no join may appear between the
    // snapshot scan and the deleted positions
    "cdc_iceberg_v3_dv_export" -> Seq("Join"),
    // the whole point of bucketing: NO shuffle on either join input
    // (the post-join groupBy exchange is on c_nationkey, not these keys)
    "q40_bucketed_join" ->
      Seq("hashpartitioning(o_custkey", "hashpartitioning(c_custkey"),
    // the cluster-keyed pair join must stay equi — a cartesian fallback
    // would mean SemDeDup degraded to the all-pairs scan it exists to avoid
    "sm10_semdedup" -> Seq("CartesianProduct"),
    // BPE encode is scan-side: any join in this plan means the merge
    // artifact leaked back in as a relation
    "tx20_bpe_encode" ->
      Seq("BroadcastNestedLoopJoin", "CartesianProduct", "SortMergeJoin"),
    // WordPiece: same contract — the piece inventory must never appear
    // as a join relation
    "tx33_wordpiece_encode" ->
      Seq("BroadcastNestedLoopJoin", "CartesianProduct", "SortMergeJoin"),
    // Theil–Sen pairs come from the bounded per-region slice-explode,
    // never a pair join
    "q124_theil_sen" -> Seq("CartesianProduct"),
    // RRF fusion joins two bounded shortlists on (query, corpus) keys
    "sm22_hybrid_rrf" -> Seq("CartesianProduct")
  )

  /** query -> a column of the scanned table that the query does not need;
    * if it shows up anywhere in the plan, column pruning broke and the
    * scan ships dead bytes (at 100 TB: dead terabytes).
    */
  private val pruned: Map[String, String] = Map(
    "q10_topk_orders" -> "o_orderpriority",
    "q1_pricing_summary" -> "l_partkey",
    "tx5_lang_counts" -> "source", // lang-ID needs only the text payload
    "dd1_exact_groups" -> "lang",
    "q15_count_distinct" -> "props",
    "tx18_nfc_normalize" -> "source", // NFC needs only doc_id + text
    "q52_bm25" -> "lang"
  )

  (must.keySet ++ mustNot.keySet ++ pruned.keySet).toSeq.sorted.foreach {
    name =>
      test(s"$name keeps its load-bearing plan shape") {
        val p = plan(name)
        must.getOrElse(name, Nil).foreach { frag =>
          assert(p.contains(frag), s"$name lost plan property '$frag'")
        }
        mustNot.getOrElse(name, Nil).foreach { frag =>
          assert(!p.contains(frag), s"$name gained forbidden '$frag'")
        }
        pruned.get(name).foreach { colName =>
          assert(!readSchemas(p).contains(colName),
            s"$name reads pruned column '$colName' — scan no longer pruned")
        }
      }
  }

  test("bucketed join is a zero-shuffle merge join when neither side broadcasts") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("q40_bucketed_join")
      assert(p.contains("SortMergeJoin"),
        "bucketed join fell off the merge-join path")
      assert(!p.contains("hashpartitioning(o_custkey") &&
        !p.contains("hashpartitioning(c_custkey"),
        "bucketed join shuffled a side it should read bucket-aligned")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("every gate query pushes scan-level filters/schema (PushedFilters)") {
    // cdc_scd2_skew_fallback roots on RangeLead's RDD path (the hot-key
    // fallback is deliberately non-declarative); q43_pagerank and
    // q50_triangles localCheckpoint their symmetrized/deduped edge lists
    // before iterating; tx19_bpe_merges materializes the collected
    // per-round merge rows; q54_hierarchy_rollup's pointer-doubling state
    // is localCheckpointed per round — all these plans root on a
    // LogicalRDD scan with no file-scan metadata line to check;
    // q59_shortest_paths checkpoints its relaxation rounds the same way.
    val rddRooted =
      Set("cdc_scd2_skew_fallback", "q43_pagerank", "q109_ppr",
        "q50_triangles",
        "tx19_bpe_merges", "q54_hierarchy_rollup", "q57_label_propagation",
        "q59_shortest_paths",
        // q72's peel rounds localCheckpoint the shrinking edge list too
        "q72_kcore",
        // cur13 checkpoints its feature frame (read 7×: 6 GD rounds +
        // inference); er1/q65 checkpoint variants/edge tables the same way
        "cur13_lr_quality_model", "er1_entity_clusters", "q65_hits",
        // reads committed __stat: manifest METADATA — no file scan exists
        "cdc_merge_analyze",
        // r12: the probe-curve sweep localCheckpoints its shared corpus
        // cell assignment and brute-force truth (one assignment for all
        // four tiers) — the gate plan roots on LogicalRDD scans
        "sm23_ivf_probe_curve",
        // r12: RankPercentiles lineage-cuts its distinct (group, value)
        // aggregate (composing the kernel squared the plan — q49 hit 264
        // Exchanges), so its consumers root on the checkpointed RDD
        "q18_percentiles", "q49_mad_outliers",
        // r12: the incremental merge lineage-cuts the decoded change log
        // (it is referenced 4x — store build, anti/semi joins, batch
        // union — and each reference re-ran the NDJSON decode)
        "cdc_scd2_incremental",
        // r12: the LM scorers lineage-cut their per-(doc, gram)
        // multiplicity table — the one tokenize pass the count tables
        // and the scoring join all re-aggregate (was 2-4 passes)
        "tx9_unigram_logprob", "tx16_bigram_lm", "tx35_kneser_ney",
        // r12: these gates lineage-cut their compressed distinct-value/
        // pair tables (each was multi-referenced and re-ran its fact
        // aggregation per reference), so their plans root on the
        // checkpointed RDD
        "q75_weighted_median", "q108_boxplot", "q112_psi",
        "q116_kruskal_wallis",
        "q118_assortativity", "q120_trimmed_mean", "q121_mann_kendall",
        "q126_cvm_drift",
        // r12: dd12 cuts its truth/cand pair sets (each referenced by
        // the hit semi-join AND a scalar count); tx23's NaiveBayesText
        // cuts the bigram-count table; cur14 cuts its labeled table;
        // q85 cuts its per-(segment, delay) funnel table
        "dd12_lsh_eval", "tx23_nb_langid", "cur14_canonical_pick",
        "q85_funnel_time",
        // the iceberg/delta $files inspection tables are driver-
        // collected METADATA (LocalTableScan) — no file scan exists
        // by design
        "cdc_iceberg_files_meta", "cdc_delta_files_meta",
        // r13: q86 cuts its 4×-referenced customer RFM aggregate; q80
        // cuts its 3×-referenced langId confusion-cell table — both
        // plans root on the checkpointed RDD
        "q86_rfm", "q80_langid_prf",
        // r13: the wedge trio cuts its distinct edge set (degree agg +
        // probe + the PackedPairs id-range measurement all read it)
        "q103_common_neighbors", "q110_resource_alloc",
        "q136_adamic_adar",
        // r13: q76/q89 cut their 4×-referenced contingency tables;
        // q102 cuts its 3×-referenced per-customer aggregate
        "q76_chi2", "q89_mutual_info", "q102_spearman",
        // r13: the measured-cap global PrefixSum cuts its compressed
        // table before counting it (q114 keeps a live events scan, so
        // it is not exempt)
        "q111_gini", "q133_lorenz_deciles", "q91_abc_class")
    (SparkEntry.queries.keySet -- rddRooted).toSeq.sorted.foreach { name =>
      assert(plan(name).contains("PushedFilters: ["),
        s"$name scan lost pushdown metadata")
    }
  }

  test("no gate plans a partitionless Window over un-aggregated input") {
    // The class of bug the sf0.1 bench cannot time: a window with no
    // PARTITION BY serializes its whole input through ONE task. That is
    // only acceptable when the input is already bounded — an aggregation
    // (one row per group over a bounded domain: bucket totals, distinct
    // values, sketch cells) or a limit (top-K shortlists). A partitionless
    // window directly over table rows melts at 100 TB no matter how fast
    // it looks here (round-5 audit: q44's global NTILE over orders).
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, GlobalLimit, LocalLimit, LocalRelation, LogicalPlan,
      Project, Window => LogicalWindow}
    import org.apache.spark.sql.execution.LogicalRDD
    // PrefixSum.runningSumsAdaptive's plain-window branch: the kernel
    // cuts its compressed input to a LogicalRDD/LocalRelation leaf
    // (PrefixSum.cutForCount), COUNTS it, and emits the partitionless
    // window only at or below PlainWindowCap (4M rows) — a runtime-
    // measured bound strictly stronger than the static window-over-
    // aggregate shape, which the cut leaf hides. Exempt exactly that
    // shape: windows (the kernel stacks one per value) and projections
    // over the cut leaf, nothing else. PrefixSumSpec pins that above-cap
    // inputs take the bucketed decomposition.
    def overCutLeaf(p: LogicalPlan): Boolean = p match {
      case _: LogicalRDD | _: LocalRelation => true
      case Project(_, c) => overCutLeaf(c)
      case w: LogicalWindow => overCutLeaf(w.child)
      case _ => false
    }
    SparkEntry.queries.keySet.toSeq.sorted.foreach { name =>
      val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
      val lp = qe.optimizedPlan
      // a gate MAY carry an unbounded partitionless window IF it installed
      // graft.plans.RunningWindow on its session (q135 does — per-gate
      // install works on the driver's plain session too), proven by the
      // distributed exec actually appearing in ITS physical plan — and
      // only a window whose shape that strategy plans (a sliding frame
      // stays a single-task WindowExec next to a rewritten sibling)
      lazy val installed =
        qe.executedPlan.toString.contains("GlobalRunningWindow")
      def rewritten(w: LogicalWindow) =
        installed && graft.plans.GlobalRunningWindowStrategy(w).nonEmpty
      (lp +: lp.subqueriesAll).foreach { plan =>
        plan.foreach {
          case w: LogicalWindow if w.partitionSpec.isEmpty =>
            val bounded = w.child.exists {
              case _: Aggregate => true
              case _: GlobalLimit => true
              case _: LocalLimit => true
              case _ => false
            }
            assert(bounded || rewritten(w) || overCutLeaf(w.child),
              s"$name: partitionless Window whose input " +
              "is not an aggregation/limit — a single-task sort of a " +
              "full table at scale (either decompose via pack.PrefixSum " +
              "or install graft.plans.RunningWindow in the gate)")
          case _ => ()
        }
      }
    }
  }
}
