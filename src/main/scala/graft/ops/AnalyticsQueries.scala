package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-5 additions: graph distance, time-series gap-fill, exact model
  * evaluation — analytics shapes not yet covered by the other ops files.
  * Same contract as every gate: a DataFrame query ending in a total
  * ORDER BY, plus a DuckDB oracle computing the identical result.
  */
object AnalyticsQueries {

  /** The q43/q57 purchase graph: customer —(order line)— supplier,
    * supplier node ids offset into their own range.
    */
  private def purchaseEdges(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast("long").as("src"),
        (col("l_suppkey") + 1000000L).as("dst"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Bounded multi-source BFS over the purchase graph: hop distance from
    // the 5 lowest-keyed suppliers, capped at 3 hops. Each round is one
    // keyed join + one min-agg (graph/ShortestPaths); the oracle unrolls
    // the same three relaxation rounds as CTEs. Integer distances —
    // bit-exact cross-engine, no quantization needed.
    "q59_shortest_paths" -> ((s, dir) => {
      val sources = Tables(s, dir, "supplier")
        .filter(col("s_suppkey") <= 5)
        .select((col("s_suppkey") + 1000000L).as("id"))
      graft.graph.ShortestPaths.distances(purchaseEdges(s, dir), sources, maxHops = 3)
        .select(col("id").cast("long").as("id"),
          col("dist").cast("long").as("dist"))
        .orderBy(col("id"))
    }),

    // Time-series resample + forward fill: each user's event stream becomes
    // a dense daily series from their first active day to the corpus' last
    // day, carrying the day's closing value forward across gaps. The fill
    // uses the engine-portable grouped-fill identity (running COUNT of
    // non-nulls → group id → MAX within group) instead of
    // last_value IGNORE NULLS, so both engines run the same algebra. The
    // closing value is picked by max(struct(ts, event_id, value)) — a
    // map-side-combinable argmax with a total tie-break, no window over
    // the raw events. Scale shape: one groupBy on (user, day), the spine
    // is O(users × days) — dense output is the operator's contract — and
    // the windows partition by user: key-parallel, never global.
    "q60_gapfill" -> ((s, dir) => {
      val ev = Tables(s, dir, "events").filter(col("user_id") < 100)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("ts"), col("event_id"), col("value"))
      val daily = ev.groupBy(col("user_id"), col("day"))
        .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"))
        .select(col("user_id"), col("day"), col("m.value").as("day_value"))
      val bounds = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("min_day"))
      val gmax = daily.agg(max(col("day")).as("max_day"))
      val spine = bounds.crossJoin(broadcast(gmax))
        .select(col("user_id"),
          explode(expr("sequence(min_day, max_day, interval 1 day)")).as("day"))
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("day"))
      spine.join(daily, Seq("user_id", "day"), "left")
        .withColumn("grp", count(col("day_value")).over(byUser))
        .withColumn("value_filled",
          max(col("day_value")).over(Window.partitionBy(col("user_id"), col("grp"))))
        .select(col("user_id"),
          col("day").cast("timestamp_ntz").as("day"), col("value_filled"))
        .orderBy(col("user_id"), col("day"))
    }),

    // Exact ROC-AUC (Mann-Whitney U with average-rank tie handling) of an
    // integer feature (n_chars) predicting a binary label (lang = 'en') —
    // the model-eval primitive next to cur13's trained classifier. All
    // arithmetic is integral: for each DISTINCT score, doubled average
    // rank = 2·cum − cnt + 1, U2 = Σ_pos 2·avgrank − n_pos(n_pos+1), and
    // AUC is reported as floor(U2·10⁶ / (2·n_pos·n_neg)) ppm — bit-exact
    // cross-engine with no float anywhere. Scale shape: one hash agg
    // compresses the corpus to its distinct scores; the running-sum
    // window orders those compressed rows only (the Packing bucket-totals
    // pattern), never the corpus.
    "q61_auc" -> ((s, dir) => {
      val d = Tables(s, dir, "documents").select(
        col("n_chars").cast("long").as("score"),
        (col("lang") === "en").cast("long").as("pos"))
      val byScore = d.groupBy(col("score"))
        .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("p"))
      val cum = Window.orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byScore.withColumn("cum", sum(col("cnt")).over(cum))
        .agg(sum(col("p") * (col("cum") * 2 - col("cnt") + 1)).as("sum2r"),
          sum(col("p")).as("n_pos"), sum(col("cnt") - col("p")).as("n_neg"))
        .select(col("n_pos"), col("n_neg"),
          expr("CAST(sum2r - n_pos * (n_pos + 1) AS DECIMAL(38,0)) * 1000000 " +
            "div (2 * n_pos * n_neg)")
            .as("auc_ppm"))
    }),

    // Calibration curve for the q61 scorer: 10 equal-width score bins
    // over [min, max], observed positive rate per bin in ppm — all
    // integer arithmetic (bin = (score−mn)·10 div (mx−mn+1) lands in
    // [0,9] exactly, rate is floor division). One scalar min/max agg
    // broadcast against the scan, one hash agg — two passes, no window.
    "q62_calibration" -> ((s, dir) => {
      val d = Tables(s, dir, "documents").select(
        col("n_chars").cast("long").as("score"),
        (col("lang") === "en").cast("long").as("pos"))
      val bounds = d.agg(min(col("score")).as("mn"), max(col("score")).as("mx"))
      d.crossJoin(broadcast(bounds))
        .select(expr("(score - mn) * 10 div (mx - mn + 1)").as("bin"),
          col("pos"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
        .select(col("bin"), col("n"), col("n_pos"),
          expr("n_pos * 1000000 div n").as("rate_ppm"))
        .orderBy(col("bin"))
    }),

    // Exact per-group MODE with a total tie-break (count desc, value
    // asc): the modal event_type per user — two hash aggs and one
    // per-user argmax via max(struct(cnt, rev(type))); no window, fully
    // map-side combinable. rev() keeps the tie-break inside one struct
    // max: type strings are single tokens, so padding-free 0xFF-less
    // inversion is done by negating the count first and taking min.
    "q63_mode" -> ((s, dir) => {
      val counts = Tables(s, dir, "events")
        .filter(col("user_id") < 500)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      // min over (−cnt, type) = (count desc, type asc) lexicographically
      counts
        .groupBy(col("user_id"))
        .agg(min(struct((-col("cnt")).as("nc"), col("event_type").as("t")))
          .as("m"))
        .select(col("user_id"), col("m.t").as("mode_event_type"),
          (-col("m.nc")).as("n_of_mode"))
        .orderBy(col("user_id"))
    }),

    // Association rules over per-user event-type baskets: for every
    // ordered type pair (ant → cons), basket co-occurrence count,
    // support/confidence/lift in exact ppm integer arithmetic. Baskets
    // are distinct (user, type) rows — the pair join fans out only by the
    // per-user type count (≤ |event types|, bounded), then collapses to a
    // |types|²-row rule table: two hash aggs + one bounded self-join, no
    // all-pairs anything.
    "q64_assoc_rules" -> ((s, dir) => {
      val b = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type")).distinct()
      val nUsers = b.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("n_users"))
      val item = b.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val both = b.as("a").join(b.as("b"), "user_id")
        .filter(col("a.event_type") =!= col("b.event_type"))
        .groupBy(col("a.event_type").as("ant"),
          col("b.event_type").as("cons"))
        .agg(count(lit(1)).as("n_both"))
      both
        .join(item.select(col("event_type").as("ant"), col("n").as("n_ant")),
          "ant")
        .join(item.select(col("event_type").as("cons"), col("n").as("n_cons")),
          "cons")
        .crossJoin(broadcast(nUsers))
        .select(col("ant"), col("cons"), col("n_both"),
          expr("n_both * 1000000 div n_users").as("support_ppm"),
          expr("n_both * 1000000 div n_ant").as("confidence_ppm"),
          expr("CAST(n_both AS DECIMAL(38,0)) * n_users * 1000000 " +
            "div (CAST(n_ant AS DECIMAL(38,0)) * n_cons)")
            .as("lift_ppm"))
        .orderBy(col("ant"), col("cons"))
    }),

    // HITS hubs & authorities over the DIRECTED customer→supplier
    // purchase graph (2 rounds, grid-quantized sums + L2 normalizers —
    // see graph.Hits): hub = breadth of a customer's supplier base,
    // authority = concentration of demand on a supplier. Top 50 nodes by
    // authority (suppliers dominate by construction).
    "q65_hits" -> ((s, dir) =>
      graft.graph.Hits.hits(purchaseEdges(s, dir), iters = 2)
        .orderBy(col("auth").desc, col("id")).limit(50)),

    // The relative-rank window family in one pass over a shared window
    // spec: percent_rank / cume_dist / ntile(4) of order totalprice
    // within each order-priority group, for a deterministic key slice.
    // percent_rank and cume_dist are division-only IEEE arithmetic on
    // integer ranks — bit-exact cross-engine, no grid. Scale shape: the
    // window partitions by priority (key-parallel) and the slice bounds
    // the per-partition sort.
    "q66_rank_family" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice"))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .orderBy(col("o_orderkey"))
    }),

    // Sequence-pattern analytics (the MATCH_RECOGNIZE workload): each
    // user's event types concatenated in (ts, event_id) order, then a
    // regex over the sequence string detects view-then-purchase-then-error
    // journeys. Deterministic: the order key is unique, and both engines
    // run the same ordered aggregation + POSIX regex. Scale shape: one
    // hash agg per user (collect bounded by per-user activity), regex
    // scan-side — no window over raw events.
    "q67_seq_pattern" -> ((s, dir) => {
      val seq = Tables(s, dir, "events")
        .filter(col("user_id") < 300)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          array_join(transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))),
            x => x.getField("event_type")), ">").as("seq"))
      seq.select(col("user_id"), col("n_events"),
          col("seq").rlike("view(>\\w+)*>purchase(>\\w+)*>error")
            .cast("long").as("has_journey"))
        .orderBy(col("user_id"))
    }),

    // Exact covariance matrix over the four lineitem numeric measures in
    // ONE pass: measures become integer CENTS (2-dp inputs, exact), the 14
    // sufficient statistics (4 sums + 10 pair product-sums) accumulate in
    // DECIMAL(38,0) — exact integers at any corpus size — and the
    // covariance finishes in a FIXED IEEE op chain on the
    // correctly-rounded double images of those integers, so both engines
    // land on identical bits (DuckDB bridges decimal→double via VARCHAR).
    // Scale shape: k² aggregates in one scan-side hash agg, no shuffle
    // beyond the single global aggregate.
    "q68_cov_matrix" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem").select(
        Seq("l_quantity" -> "x1", "l_extendedprice" -> "x2",
          "l_discount" -> "x3", "l_tax" -> "x4").map { case (c, a) =>
          round(col(c) * 100).cast("long").cast(DecimalType(38, 0)).as(a)
        }: _*)
      val xs = Seq("x1", "x2", "x3", "x4")
      val pairs = for { i <- xs.indices; j <- xs.indices if i <= j }
        yield (xs(i), xs(j))
      val sums = xs.map(c => sum(col(c)).as(s"s_$c")) ++
        pairs.map { case (a, b) =>
          sum((col(a) * col(b)).cast(DecimalType(38, 0))).as(s"p_${a}_$b")
        }
      val agg = li.agg(count(lit(1)).cast("double").as("n"), sums: _*)
      val rows = pairs.map { case (a, b) =>
        struct(lit(a).as("var_a"), lit(b).as("var_b"),
          (((col(s"p_${a}_$b").cast("double") -
            col(s"s_$a").cast("double") * col(s"s_$b").cast("double")
              / col("n")) / col("n")) / lit(10000.0)).as("cov"))
      }
      agg.select(explode(array(rows: _*)).as("r"))
        .select(col("r.var_a"), col("r.var_b"), col("r.cov"))
        .orderBy(col("var_a"), col("var_b"))
    }),

    // STREAM–STATIC join enrichment driver-gated end-to-end: the event
    // stream joins the broadcast customer dimension per micro-batch, the
    // complete-mode aggregate lands in a parquet store, and the oracle
    // recomputes the identical join+GROUP BY relationally (see
    // streaming.EnrichedStream for the scale shape).
    "ev9_stream_enriched" -> ((s, dir) => {
      val store = graft.streaming.EnrichedStream.materializedSegmentDir(s, dir)
      s.read.parquet(store)
        .select(col("c_mktsegment").as("segment"), col("event_type"),
          col("n_events"),
          col("sum_value_dec").cast("double").as("sum_value"))
        .orderBy(col("segment"), col("event_type"))
    }),

    // 2-D SKYLINE (Pareto-optimal preference query): parts maximizing
    // retail price while minimizing size — kept iff no other part is ≥ on
    // price and ≤ on size with one strict. Computed as a WINDOW SWEEP
    // (two frames: min size over STRICTLY-higher-price rows via an
    // integer-cents RANGE frame, and min size among equal-price peers),
    // while the oracle runs the definitional NOT-EXISTS anti-join — two
    // different algorithms that must agree exactly. The global order is
    // intrinsic to skyline; the input is the bounded part dimension (and
    // a deterministic slice), not a fact table.
    "q71_skyline" -> ((s, dir) => {
      val p = Tables(s, dir, "part")
        .filter(col("p_partkey") % 4 === 0)
        .select(col("p_partkey"),
          round(col("p_retailprice") * 100).cast("long").as("price_cents"),
          col("p_size").cast("long").as("size"))
      // The strictly-higher-price running MIN decomposes like PrefixSum
      // (min is associative): compress to one row per DISTINCT price with
      // its min size, price-range-bucket those rows, take per-bucket mins,
      // run the only global window over the BUCKET table (min over strictly
      // -earlier buckets = strictly-higher prices), and finish with a
      // partitioned within-bucket exclusive-frame min. least() skips NULLs,
      // so min_higher is NULL exactly at the overall max price — matching
      // the RANGE-frame form this replaces (the part dimension scales with
      // SF; nothing here is single-task over it).
      val perPrice = p.groupBy(col("price_cents"))
        .agg(min(col("size")).as("pmin"))
      val bounds = perPrice.agg(max(col("price_cents")).as("__hi"),
        (max(col("price_cents")) - min(col("price_cents")) + 1).as("__span"))
      val tagged = perPrice.crossJoin(broadcast(bounds))
        .withColumn("__b", expr("(__hi - price_cents) * 1024 div __span"))
      val bucketMins = tagged.groupBy(col("__b"))
        .agg(min(col("pmin")).as("__bmin"))
      // bounded global window: one row per bucket, exclusive frame
      val overBuckets = Window.orderBy(col("__b"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = bucketMins
        .withColumn("__boff", min(col("__bmin")).over(overBuckets))
        .select(col("__b"), col("__boff"))
      val withinExcl = Window.partitionBy(col("__b"))
        .orderBy(col("price_cents").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val mins = tagged.join(broadcast(offsets), Seq("__b"))
        .withColumn("min_higher",
          least(col("__boff"), min(col("pmin")).over(withinExcl)))
        .select(col("price_cents"), col("pmin"), col("min_higher"))
      p.join(mins, Seq("price_cents"))
        .filter((col("min_higher").isNull ||
          col("min_higher") > col("size")) &&
          col("pmin") === col("size"))
        .select(col("p_partkey"), col("price_cents"), col("size"))
        .orderBy(col("p_partkey"))
    }),

    // Model LIFT/gains table for the q61 scorer (the third model-eval
    // surface next to AUC and calibration): documents grouped into score
    // deciles — each DISTINCT score's block is assigned wholly to the
    // decile of its first row, `(cum_before·10) div N`, so the split is a
    // pure function of the compressed (score, count) table both engines
    // derive — with per-decile positive rate and lift vs the base rate in
    // exact ppm integers. The running-cum window orders DISTINCT scores
    // only (q61's compression), never the corpus.
    "q70_decile_lift" -> ((s, dir) => {
      val d = Tables(s, dir, "documents").select(
        col("n_chars").cast("long").as("score"),
        (col("lang") === "en").cast("long").as("pos"))
      val byScore = d.groupBy(col("score"))
        .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("p"))
      val tot = byScore.agg(sum(col("cnt")).as("nn"), sum(col("p")).as("pp"))
      val w = Window.orderBy(col("score").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byScore.withColumn("cum", sum(col("cnt")).over(w))
        .crossJoin(broadcast(tot))
        .withColumn("decile", expr("(cum - cnt) * 10 div nn"))
        .groupBy(col("decile"))
        .agg(sum(col("cnt")).as("n"), sum(col("p")).as("n_pos"),
          max(col("nn")).as("nn"), max(col("pp")).as("pp"))
        .select(col("decile"), col("n"), col("n_pos"),
          expr("n_pos * 1000000 div n").as("rate_ppm"),
          expr("CAST(n_pos AS DECIMAL(38,0)) * nn * 1000000 " +
            "div (CAST(n AS DECIMAL(38,0)) * pp)").as("lift_ppm"))
        .orderBy(col("decile"))
    }),

    // TPC-H Q8-shaped national market share: within ASIA customers'
    // ECONOMY-part order lines (1995–1997), the yearly revenue share
    // carried by NATION_2 suppliers. Exercises the classic OLAP shape —
    // a 6-table star join with small dims broadcast (nation/region
    // hinted; supplier/part left to AQE, they scale with the corpus) and
    // one grouped aggregation. Money stays DECIMAL until the final
    // fixed-order double division (the repo's exact-sum discipline).
    "q69_market_share" -> ((s, dir) => {
      val dec = DecimalType(18, 2)
      val asiaNations = Tables(s, dir, "nation")
        .join(broadcast(Tables(s, dir, "region")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))
      val cust = Tables(s, dir, "customer")
        .join(broadcast(asiaNations),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val supp = Tables(s, dir, "supplier")
        .join(broadcast(Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val orders = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).as("o_year"))
      val econParts = Tables(s, dir, "part")
        .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          (col("l_extendedprice").cast(dec) *
            (lit(1.0) - col("l_discount")).cast(dec))
            .cast(DecimalType(38, 4)).as("volume"))
        .join(econParts, col("l_partkey") === col("p_partkey"))
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("o_year"))
        .agg(sum(col("volume")).as("total_dec"),
          sum(when(col("supp_nation") === "NATION_2", col("volume"))
            .otherwise(lit(BigDecimal(0)).cast(DecimalType(38, 4))))
            .as("nat_dec"))
        .select(col("o_year"),
          col("nat_dec").cast("double").as("nat_volume"),
          col("total_dec").cast("double").as("total_volume"),
          (col("nat_dec").cast("double") / col("total_dec").cast("double"))
            .as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // CURRICULUM schedule: three training epochs annealing toward high
    // quality — docs land in fixed-width quality bins, epoch e weights a
    // bin (bin+1)^e (exact integer powers, no libm pow), each epoch's
    // half-corpus budget splits across bins ∝ weight·size by integer
    // division, and the selected docs are the deterministic-hash top
    // n_target of each bin. Output: the realized plan per (epoch, bin)
    // with selected-doc count and character mass. Scale shape: one bin
    // agg, an O(epochs·bins) plan table, and one per-bin rank window
    // (key-parallel) shared by all epochs.
    "cur15_curriculum" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"),
        graft.text.TextFunctions.qualityScore(col("text")).as("q"),
        col("n_chars"))
      val binned = docs.select(col("doc_id"), col("n_chars"),
        least(floor(col("q") * 10), lit(9)).cast("int").as("bin"),
        graft.functions.Hash60(
          concat(lit("cur15:"), col("doc_id").cast("string"))).as("pri"))
      val counts = binned.groupBy(col("bin")).agg(count(lit(1)).as("n_bin"))
      val epochs = s.range(1, 4).select(col("id").cast("int").as("epoch"))
      val plan = counts.crossJoin(broadcast(epochs))
        .withColumn("w", expr("""CAST(CASE WHEN epoch = 1 THEN bin + 1
          WHEN epoch = 2 THEN (bin + 1) * (bin + 1)
          ELSE (bin + 1) * (bin + 1) * (bin + 1) END AS BIGINT)"""))
      val tot = plan.groupBy(col("epoch"))
        .agg(sum(col("w") * col("n_bin")).as("wtot"),
          sum(col("n_bin")).as("ntot"))
      val tgt = plan.join(tot, "epoch")
        .withColumn("n_target",
          least(col("n_bin"),
            expr("ntot div 2 * w * n_bin div wtot")))
      val ranked = binned.withColumn("rk", row_number().over(
        Window.partitionBy(col("bin"))
          .orderBy(col("pri"), col("doc_id"))))
      ranked.join(broadcast(tgt.select(col("epoch"), col("bin"),
          col("n_target"))), "bin")
        .filter(col("rk") <= col("n_target"))
        .groupBy(col("epoch"), col("bin"))
        .agg(count(lit(1)).as("n_selected"),
          sum(col("n_chars").cast("long")).as("chars_selected"))
        .join(tgt.select(col("epoch"), col("bin"), col("n_target")),
          Seq("epoch", "bin"))
        .select(col("epoch"), col("bin"), col("n_target"),
          col("n_selected"), col("chars_selected"))
        .orderBy(col("epoch"), col("bin"))
    }),

    // Zipf-law fit of the corpus vocabulary: log-log OLS slope of the
    // top-100 token frequencies vs rank (a healthy natural-language
    // corpus sits near −1; template/spam corpora flatten). ln values ride
    // the 2^-20 grid as BIGINTs so the OLS sums are exact integers; the
    // slope is ONE division of exact-int doubles — bit-exact
    // cross-engine. Scale shape: token freq is one hash agg, the top-100
    // is TakeOrdered, and the regression runs over 100 bounded rows.
    "tx25_zipf" -> ((s, dir) => {
      val g = 1048576L
      val freq = Tables(s, dir, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("f"))
      val vocab = freq.agg(count(lit(1)).as("vocab"))
      // bounded global window: input is the TakeOrdered top-100 rows
      val top = freq.orderBy(col("f").desc, col("tok")).limit(100)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("f").desc, col("tok"))))
      top.select(
          round(log(col("rank").cast("double")) * g).cast("long").as("x"),
          round(log(col("f").cast("double")) * g).cast("long").as("y"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sx2"))
        .crossJoin(broadcast(vocab))
        .select(col("vocab"), col("n").as("n_top"),
          expr("CAST(n * sxy - sx * sy AS DOUBLE) " +
            "/ CAST(n * sx2 - sx * sx AS DOUBLE)").as("slope"))
    }),

    // PCA from a STANDING covariance store, driver-gated end-to-end: the
    // embedding stream folded (two manifest-committed merges) into exact
    // integer second-moment cells, the top component derived from the
    // STORE alone (O(dim²) driver work, corpus never rescanned), then a
    // scan-side projection of every embedding onto it. The oracle
    // recomputes the one-shot cells relationally and unrolls the same
    // grid-exact power rounds — lossless merging makes store ≡ one-shot
    // bit-for-bit (see streaming.CovarianceStore).
    "ev10_stream_pca_store" -> ((s, dir) => {
      val root = graft.streaming.CovarianceStore.materializedEmbCovDir(s, dir)
      val (mean, v) = graft.streaming.CovarianceStore.topComponent(s, root, 64)
      graft.sim.Pca.projections(
          Tables(s, dir, "embeddings")
            .select(col("vec_id").as("id"), col("embedding").as("vec")),
          "id", "vec", mean, v)
        .select(col("id").as("vec_id"), col("proj"))
        .orderBy(col("vec_id"))
    }),

    // K-CORE decomposition (k=6) of the thinned purchase graph: the
    // maximal subgraph where every customer/supplier keeps ≥6 distinct
    // partners inside it — the cohesive-core primitive (spam-farm and
    // community seeding) completing the graph family (CC / PageRank /
    // HITS / label-prop / triangles / BFS). Iterative peel, one degree
    // agg + two semi-joins per round, loud failure if the round budget
    // missed the fixpoint; the oracle unrolls the same 4 rounds as CTEs
    // (integer degrees — bit-exact, rounds past the fixpoint are no-ops
    // in both engines). See graph.KCore for the scale shape.
    "q72_kcore" -> ((s, dir) => {
      val edges = Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
      graft.graph.KCore.kCore(edges, k = 6, maxRounds = 4)
        .select(col("id"), col("core_deg"))
        .orderBy(col("id"))
    }),

    // INTERVAL UNION (coverage) per user — the gaps-and-islands algebra
    // over overlapping time intervals: each event opens a deterministic
    // [start, start + 60..359 s) window; islands are maximal overlapping
    // runs (a new island starts when an interval opens strictly after the
    // running max end of everything before it), and the union length is
    // Σ island (max end − min start). The distinct-covered-time primitive
    // behind ad-exposure, sensor-uptime and session-coverage queries —
    // NOT expressible with plain sum(duration) because overlaps
    // double-count. All arithmetic in integer epoch-micros. Scale shape:
    // the two windows partition by user (key-parallel, never global) and
    // one hash agg folds islands; nothing touches a cross join.
    "q73_interval_union" -> ((s, dir) => {
      val iv = Tables(s, dir, "events")
        .filter(col("user_id") < 400)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("s"))
        .withColumn("e",
          col("s") + (col("event_id") % 300 + 60) * 1000000L)
      val byStart = Window.partitionBy(col("user_id"))
        .orderBy(col("s"), col("event_id"))
      val prevMax = max(col("e"))
        .over(byStart.rowsBetween(Window.unboundedPreceding, -1))
      val flagged = iv.withColumn("new_island",
        when(prevMax.isNull || col("s") > prevMax, 1L).otherwise(0L))
      flagged
        .withColumn("island", sum(col("new_island")).over(byStart))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("n_iv"),
          (max(col("e")) - min(col("s"))).as("len_us"))
        .groupBy(col("user_id"))
        .agg(sum(col("n_iv")).as("n_intervals"),
          count(lit(1)).as("n_islands"),
          sum(col("len_us")).as("covered_us"))
        .orderBy(col("user_id"))
    }),

    // CUSUM CHANGEPOINT scan over the daily order series: S_k = Σ_{i≤k}
    // (x_i − μ), reported N-scaled (N·cum_k − k·Total) so every value is
    // an exact integer — the standard single-changepoint statistic (the
    // argmax of |S_k| estimates the level-shift day; its magnitude is the
    // evidence). The running window orders the BOUNDED daily aggregate
    // (one row per day — the Packing bucket-totals pattern), never raw
    // orders; the peak flag joins one broadcast scalar.
    "q74_cusum" -> ((s, dir) => {
      val daily = Tables(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"))
      val tot = daily.agg(sum(col("n_orders")).as("total"),
        count(lit(1)).as("n_days"))
      // bounded global window: input is one row per distinct order day
      val byDay = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val scored = daily
        .withColumn("k", count(lit(1)).over(byDay))
        .withColumn("cum", sum(col("n_orders")).over(byDay))
        .crossJoin(broadcast(tot))
        .select(col("day").cast("timestamp_ntz").as("day"),
          col("n_orders"),
          (col("n_days") * col("cum") - col("k") * col("total"))
            .as("cusum_scaled"))
      val peak = scored.agg(max(abs(col("cusum_scaled"))).as("peak_abs"))
      scored.crossJoin(broadcast(peak))
        .select(col("day"), col("n_orders"), col("cusum_scaled"),
          (abs(col("cusum_scaled")) === col("peak_abs")).cast("long")
            .as("is_peak"))
        .orderBy(col("day"))
    }),

    // Exact WEIGHTED MEDIAN of line-item price, weighted by quantity, per
    // return flag — the robust-center primitive where every unit of
    // quantity votes (plain median treats a 50-unit line like a 1-unit
    // line). Same compressed-domain discipline as q18/q61: one hash agg
    // to (flag, price_cents, Σweight), a running-weight window over the
    // compressed rows only (key-parallel by flag), then the smallest
    // price whose doubled cumulative weight reaches the total. All
    // integer cents/quantities — bit-exact cross-engine.
    "q75_weighted_median" -> ((s, dir) => {
      val w = Tables(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_quantity").cast("long").as("qty"))
      // lineage-cut (r12): byPrice is referenced three times (totals +
      // the decomposition's two passes) and each reference re-aggregated
      // the LINEITEM fact — the cut materializes the compressed table
      // once and the consumers read a leaf
      val byPrice = graft.graph.GraphOps.checkpoint(
        w.groupBy(col("flag"), col("cents"))
          .agg(sum(col("qty")).as("wt")))
      val tot = byPrice.groupBy(col("flag"))
        .agg(sum(col("wt")).as("tot_weight"))
      // r12 optimization round: adaptive on the MEASURED compressed
      // size (free — byPrice is checkpointed): small tables take the
      // plain flag-partitioned window (one exchange); above the cap the
      // bucketed per-flag prefix sum restores key-parallelism (a
      // |flags|-task window at 100 TB is the serialization hazard).
      // Same integer sums either way.
      graft.pack.PrefixSum.runningSumsByAdaptive(byPrice, Seq(col("flag")),
          expr("cents div 100000"), Seq(col("cents")),
          Seq(col("wt") -> "cumw"))
        .join(tot, "flag")
        .filter(col("cumw") * 2 >= col("tot_weight"))
        .groupBy(col("flag"), col("tot_weight"))
        .agg(min(col("cents")).as("median_cents"))
        .select(col("flag"), col("median_cents"), col("tot_weight"))
        .orderBy(col("flag"))
    }),

    // CHI-SQUARE test of independence: event type × customer market
    // segment (does behavior depend on segment?). Every term of the
    // statistic is exact: obs/row/col totals are integers, and each
    // cell's (obs·N − rt·ct)²·10⁶ div (N·rt·ct) is floor-divided in
    // DECIMAL(38,0) BEFORE the sum — both engines add the same ≤|types×
    // segments| integers. (The ×N scaling caps exactness near N≈10⁹ per
    // slice in 38 digits; beyond that, audit a partition or pre-scale.)
    // Scale shape: one join keyed on user, one contingency hash agg —
    // the row/col margins join the BOUNDED cell table.
    "q76_chi2" -> ((s, dir) => {
      // |types|×|segments|-bounded contingency table, referenced FOUR
      // times (row/column margins, the grand total and the term join) —
      // each reference re-ran the events⋈customer fact join (r13,
      // guide §5): the lineage cut makes it one fact pass at any scale
      val cells = graft.graph.GraphOps.checkpoint(Tables(s, dir, "events")
        .join(Tables(s, dir, "customer"),
          col("user_id") === col("c_custkey"))
        .groupBy(col("event_type"), col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("obs")))
      val rows = cells.groupBy(col("event_type"))
        .agg(sum(col("obs")).as("rt"))
      val colsT = cells.groupBy(col("segment"))
        .agg(sum(col("obs")).as("ct"))
      val n = cells.agg(sum(col("obs")).as("n"))
      cells.join(rows, "event_type").join(colsT, "segment")
        .crossJoin(broadcast(n))
        .select(expr("""CAST(
            (CAST(obs AS DECIMAL(38,0)) * n - CAST(rt AS DECIMAL(38,0)) * ct)
            * (CAST(obs AS DECIMAL(38,0)) * n - CAST(rt AS DECIMAL(38,0)) * ct)
            * 1000000 div (CAST(n AS DECIMAL(38,0)) * rt * ct)
            AS BIGINT)""").as("term_ppm"),
          col("n"), col("event_type"), col("segment"))
        .agg(max(col("n")).as("n_pairs"),
          countDistinct(col("event_type")).as("n_types"),
          countDistinct(col("segment")).as("n_segments"),
          sum(col("term_ppm")).as("chi2_ppm"))
        .select(col("n_pairs"),
          ((col("n_types") - 1) * (col("n_segments") - 1)).as("dof"),
          col("chi2_ppm"))
    }),

    // Integer EWMA smoothing (α = 1/2 on the 2^-20 grid) of the daily
    // order series: the level-tracking companion to q74's changepoint
    // stat. The recurrence is inherently sequential, so it runs as ONE
    // native prefix fold (functions.IntEwma) over the BOUNDED
    // one-row-per-day aggregate collected into a single array — the raw
    // table is reduced by a hash agg first and is never serialized
    // through the fold. Exact integers all the way; the reported double
    // is one dyadic division. The oracle replays the recurrence as a
    // recursive CTE.
    "q77_ewma" -> ((s, dir) => {
      val daily = Tables(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"))
      // bounded global collect: one struct per distinct order day
      val packed = daily
        .agg(array_sort(collect_list(struct(col("day"), col("n_orders"))))
          .as("series"))
        .select(col("series"),
          graft.functions.IntEwma(
            transform(col("series"), x => x.getField("n_orders")))
            .as("ewma_g"))
      packed
        .select(posexplode(col("series")).as(Seq("i", "x")),
          col("ewma_g"))
        .select(col("x.day").cast("timestamp_ntz").as("day"),
          col("x.n_orders").as("n_orders"),
          (element_at(col("ewma_g"), col("i") + 1).cast("double") /
            lit(graft.functions.IntEwma.Grid.toDouble)).as("ewma"))
        .orderBy(col("day"))
    }),

    // HOLT LINEAR-TREND smoothing of the daily order series — the
    // level+trend upgrade of q77's EWMA (single smoothing lags any
    // trending series by construction; Holt tracks the slope and its
    // one-step forecast leads instead). Exact-integer coupled recurrence
    // on the 2^-20 grid with FLOOR division (the trend goes negative on
    // declines, where trunc-div and DuckDB's // disagree) — the oracle
    // replays both state equations as one recursive CTE bit-for-bit.
    // Same bounded-series shape as q77: one struct per distinct order
    // day, folded by the native int_holt kernel.
    "q119_holt_trend" -> ((s, dir) => {
      val daily = Tables(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"))
      val packed = daily
        .agg(array_sort(collect_list(struct(col("day"), col("n_orders"))))
          .as("series"))
        .select(col("series"),
          graft.functions.IntHolt(
            transform(col("series"), x => x.getField("n_orders")))
            .as("lb"))
      packed
        .select(posexplode(col("series")).as(Seq("i", "x")), col("lb"))
        .select(col("x.day").cast("timestamp_ntz").as("day"),
          col("x.n_orders").as("n_orders"),
          (element_at(col("lb"), col("i") * 2 + 1).cast("double") /
            lit(graft.functions.IntHolt.Grid.toDouble)).as("level"),
          (element_at(col("lb"), col("i") * 2 + 2).cast("double") /
            lit(graft.functions.IntHolt.Grid.toDouble)).as("trend"),
          ((element_at(col("lb"), col("i") * 2 + 1) +
            element_at(col("lb"), col("i") * 2 + 2)).cast("double") /
            lit(graft.functions.IntHolt.Grid.toDouble)).as("forecast"))
        .orderBy(col("day"))
    }),

    // Deterministic multinomial BOOTSTRAP confidence interval for the
    // mean order value: 16 replicas, each row's per-replica weight drawn
    // from an 8-slot table (3×0, 3×1, 1×2, 1×3 — mean 1, variance 1,
    // the Poisson(1) moments) keyed by the cross-engine md5 hash of
    // (replica, orderkey). Replica means are exact integer cent
    // floor-divisions; the CI is the 2nd/15th order statistic of the 16
    // bounded replica rows. Scale shape: one ×B row expansion (constant
    // factor, the profile-Expand argument) into a 16-group hash agg —
    // uncertainty quantification without a second corpus pass per
    // replica.
    "q78_bootstrap" -> ((s, dir) => {
      val o = Tables(s, dir, "orders").select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val reps = s.range(0, 16).select(col("id").as("replica"))
      val w = expr("""CASE WHEN slot <= 2 THEN 0 WHEN slot <= 5 THEN 1
        WHEN slot = 6 THEN 2 ELSE 3 END""")
      val repMeans = o.crossJoin(broadcast(reps))
        .withColumn("slot", graft.functions.Hash60(
          concat(lit("q78:"), col("replica").cast("string"), lit(":"),
            col("o_orderkey").cast("string"))) % 8)
        .withColumn("w", w)
        .groupBy(col("replica"))
        .agg(sum(col("w") * col("cents")).as("sw"), sum(col("w")).as("n"))
        .select(col("replica"), expr("sw div n").as("mean_cents"))
      // bounded global window: exactly 16 replica rows
      val ranked = repMeans.withColumn("rk", row_number().over(
        Window.orderBy(col("mean_cents"), col("replica"))))
      val point = o.agg(expr("sum(cents) div count(1)").as("mean_point_cents"))
      ranked.agg(count(lit(1)).as("n_replicas"),
          min(when(col("rk") === 2, col("mean_cents"))).as("mean_lo_cents"),
          min(when(col("rk") === 15, col("mean_cents"))).as("mean_hi_cents"))
        .crossJoin(broadcast(point))
        .select(col("n_replicas"), col("mean_lo_cents"),
          col("mean_hi_cents"), col("mean_point_cents"))
    }),

    // GROUP K-FOLD cross-validation plan: every source (domain) lands
    // wholly in one of 5 folds by deterministic hash — the grouping
    // discipline that keeps same-source near-duplicates from straddling
    // train and validation (the cur7 leakage rule, CV-shaped). Output
    // audits the plan per fold: group count, doc/char mass, and the
    // largest single source inside (the balance hazard group k-fold
    // accepts by design). One per-source agg + one per-fold agg.
    "cur16_group_kfold" -> ((s, dir) => {
      val bySource = Tables(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("n_chars"))
      bySource
        .withColumn("fold", graft.functions.Hash60(
          concat(lit("cur16:"), col("source"))) % 5)
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_sources"), sum(col("n_docs")).as("n_docs"),
          sum(col("n_chars")).as("n_chars"),
          max(col("n_docs")).as("max_source_docs"))
        .orderBy(col("fold"))
    }),

    // ROLLING MEDIAN (trailing 7-day lower median) of the daily order
    // series — the robust moving-average companion to q77's EWMA
    // (medians shrug off the single-day spikes that drag a mean). The
    // frame is collected per row (≤7 integers), sorted, and indexed at
    // (n+1) div 2 — exact integer picks, no interpolation ambiguity
    // cross-engine. The window orders the BOUNDED one-row-per-day
    // aggregate (the q74/q77 discipline), never raw orders.
    "q79_rolling_median" -> ((s, dir) => {
      val daily = Tables(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"))
      // bounded global window: input is one row per distinct order day
      val trailing = Window.orderBy(col("day")).rowsBetween(-6, 0)
      daily
        .withColumn("win", collect_list(col("n_orders")).over(trailing))
        .select(col("day").cast("timestamp_ntz").as("day"),
          col("n_orders"), size(col("win")).cast("long").as("n_window"),
          expr("element_at(array_sort(win), " +
            "CAST((size(win) + 1) div 2 AS INT))").as("rolling_median"))
        .orderBy(col("day"))
    }),

    // Classifier QUALITY REPORT for the heuristic language-ID (per-class
    // precision / recall / F1 in exact ppm, derived from the tx12
    // confusion cells): the metrics table every model gate should ship
    // next to its predictions. All integer arithmetic — F1's harmonic
    // mean is 2·p·r div (p+r) over ppm integers; empty-prediction
    // classes report 0 by the explicit CASE both engines share. Scale
    // shape: one scan-side predict + one |langs|²-bounded cell agg; the
    // margins join the bounded cell table.
    "q80_langid_prf" -> ((s, dir) => {
      // |langs|²-bounded cell table, referenced THREE times (truth/preds
      // margins + the diagonal) — each reference re-ran the corpus scan
      // plus the langId text kernel (r13 optimization round, guide §5):
      // the lineage cut makes it one corpus pass at any scale
      val cells = graft.graph.GraphOps.checkpoint(Tables(s, dir, "documents")
        .groupBy(col("lang"),
          graft.text.TextFunctions.langId(col("text")).as("pred"))
        .agg(count(lit(1)).as("n")))
      val truth = cells.groupBy(col("lang")).agg(sum(col("n")).as("n_true"))
      val preds = cells.groupBy(col("pred")).agg(sum(col("n")).as("n_pred"))
      val diag = cells.filter(col("lang") === col("pred"))
        .select(col("lang"), col("n").as("n_correct"))
      truth
        .join(preds.withColumnRenamed("pred", "lang"), Seq("lang"), "left")
        .join(diag, Seq("lang"), "left")
        .select(col("lang"), col("n_true"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("n_correct"), lit(0L)).as("n_correct"))
        .withColumn("precision_ppm", expr(
          "CASE WHEN n_pred = 0 THEN 0 " +
            "ELSE n_correct * 1000000 div n_pred END"))
        .withColumn("recall_ppm",
          expr("n_correct * 1000000 div n_true"))
        .withColumn("f1_ppm", expr(
          "CASE WHEN precision_ppm + recall_ppm = 0 THEN 0 " +
            "ELSE 2 * precision_ppm * recall_ppm " +
            "div (precision_ppm + recall_ppm) END"))
        .orderBy(col("lang"))
    }),

    // ADDITIVE SEASONAL decomposition (day-of-week profile) of the daily
    // order series: residual_scaled = n·|dow days| − Σ_dow n — the
    // de-seasonalized signal q74's CUSUM should really scan at weekly-
    // periodic load, kept exact by scaling instead of dividing. The dow
    // margin joins the BOUNDED daily aggregate; Sunday=0 in both engines
    // (Spark dayofweek()−1 ≡ DuckDB dayofweek()).
    "q81_seasonal_residuals" -> ((s, dir) => {
      val daily = Tables(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"))
        .withColumn("dow", (dayofweek(col("day")) - 1).cast("long"))
      val prof = daily.groupBy(col("dow"))
        .agg(sum(col("n_orders")).as("dow_sum"),
          count(lit(1)).as("dow_days"))
      daily.join(broadcast(prof), "dow")
        .select(col("day").cast("timestamp_ntz").as("day"),
          col("dow"), col("n_orders"), col("dow_days"),
          (col("n_orders") * col("dow_days") - col("dow_sum"))
            .as("resid_scaled"))
        .orderBy(col("day"))
    }),

    // BIPARTITE CO-PURCHASE projection: supplier pairs weighted by shared
    // customers (the item-item collaborative-filtering primitive), with
    // exact overlap Jaccard in ppm. The pair generation is the
    // per-customer self-join of the thinned purchase graph — Σ deg²
    // bounded by the slice (q72's graph), the classic co-occurrence
    // shape (salt or cap hub customers at open-web scale). Margins join
    // the bounded pair table; min-support 3 prunes the tail before the
    // join.
    "q82_copurchase" -> ((s, dir) => {
      val e = Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct()
      val deg = e.groupBy(col("supp")).agg(count(lit(1)).as("deg"))
      val pairs = e.as("a").join(e.as("b"),
          col("a.cust") === col("b.cust") &&
            col("a.supp") < col("b.supp"))
        .groupBy(col("a.supp").as("supp_a"), col("b.supp").as("supp_b"))
        .agg(count(lit(1)).as("n_common"))
        .filter(col("n_common") >= 3)
      pairs
        .join(deg.select(col("supp").as("supp_a"), col("deg").as("deg_a")),
          "supp_a")
        .join(deg.select(col("supp").as("supp_b"), col("deg").as("deg_b")),
          "supp_b")
        .select(col("supp_a"), col("supp_b"), col("n_common"),
          col("deg_a"), col("deg_b"),
          expr("n_common * 1000000 div (deg_a + deg_b - n_common)")
            .as("overlap_jaccard_ppm"))
        .orderBy(col("supp_a"), col("supp_b"))
    }),

    // KAPLAN-MEIER survival over user lifetimes (weeks from first to
    // last activity; users active in the corpus' final 7 days are
    // CENSORED — observation ended, not churn). Reported as the exact
    // running log-survival: each week's ln(1 − d/n) is the grid
    // difference lng(n−d) − lng(n), so the cumulative product is an
    // integer SUM over the bounded week series — no float product
    // drift, and exp() (not correctly rounded in libm) never runs
    // inside the gate. The per-user reduce is one hash agg; everything
    // after runs on O(weeks) rows.
    "q83_survival" -> ((s, dir) => {
      val g = 1048576L
      def lng(c: org.apache.spark.sql.Column) =
        round(log(c.cast("double")) * g).cast("long")
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val gmax = ev.agg(max(col("day")).as("max_day"))
      val users = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
        .crossJoin(broadcast(gmax))
        .select(
          (datediff(col("last_day"), col("first_day"))
            .cast("long") / 7).cast("long").as("week"),
          (col("last_day") > date_sub(col("max_day"), 7)).cast("long")
            .as("censored"))
      val byWeek = users.groupBy(col("week"))
        .agg(sum(lit(1) - col("censored")).as("d"),
          sum(col("censored")).as("c"))
      val tot = byWeek.agg(sum(col("d") + col("c")).as("n_users"))
      // bounded global window: one row per lifetime week
      val w = Window.orderBy(col("week"))
      val cum = byWeek.crossJoin(broadcast(tot))
        .withColumn("removed_before",
          coalesce(sum(col("d") + col("c"))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n_at_risk", col("n_users") - col("removed_before"))
        // survival hits exactly 0 when a week churns everyone at risk:
        // ln(0) has no grid image — mask from that week on (NULL), the
        // same CASE both engines run
        .withColumn("lf", when(col("n_at_risk") === col("d"), lit(0L))
          .otherwise(lng(col("n_at_risk") - col("d")) -
            lng(col("n_at_risk"))))
        .withColumn("zeroed", max((col("n_at_risk") === col("d"))
          .cast("long")).over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
      cum.withColumn("log_surv_grid",
          when(col("zeroed") === 1, lit(null).cast("long"))
            .otherwise(sum(col("lf"))
              .over(w.rowsBetween(Window.unboundedPreceding,
                Window.currentRow))))
        .select(col("week"), col("n_at_risk"), col("d").as("n_churned"),
          col("c").as("n_censored"), col("log_surv_grid"))
        .orderBy(col("week"))
    }),

    // Longest consecutive-day activity STREAK per user — the
    // engagement metric built on the day-number-minus-rank
    // gaps-and-islands identity (q73's algebra on integer days instead
    // of micros). Key-parallel windows over each user's DISTINCT active
    // days; two hash aggs fold islands to per-user maxima.
    "q84_streaks" -> ((s, dir) => {
      val days = Tables(s, dir, "events")
        .filter(col("user_id") < 500)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .withColumn("dn", datediff(col("day"),
          lit("2024-01-01").cast("date")).cast("long"))
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("dn"))
      val streaks = days
        .withColumn("grp", col("dn") - row_number().over(byUser))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"))
      streaks.groupBy(col("user_id"))
        .agg(sum(col("len")).as("n_active_days"),
          count(lit(1)).as("n_streaks"), max(col("len")).as("max_streak"))
        .orderBy(col("user_id"))
    }),

    // FUNNEL TIME-TO-CONVERT: per user, seconds from first view to the
    // first purchase AFTER it; per market segment, conversion count and
    // the exact median delay via the q75 compressed-domain discipline
    // (distinct delays + running-count window per segment — key-parallel,
    // never a global sort). Exact integer seconds end to end.
    "q85_funnel_time" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
      val firstView = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("view_us"))
      val converts = ev.filter(col("event_type") === "purchase")
        .join(firstView, "user_id")
        .filter(col("us") > col("view_us"))
        .groupBy(col("user_id"), col("view_us"))
        .agg(min(col("us")).as("purch_us"))
        .select(col("user_id"),
          ((col("purch_us") - col("view_us")) / 1000000L).cast("long")
            .as("delta_s"))
      val seg = converts.join(Tables(s, dir, "customer"),
          col("user_id") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), col("delta_s"))
      // lineage-cut (r12): byDelta fed the total AND the running-window
      // passes — each reference re-ran the whole funnel (two event
      // scans + two joins); the cut runs it once
      val byDelta = graft.graph.GraphOps.checkpoint(
        seg.groupBy(col("segment"), col("delta_s"))
          .agg(count(lit(1)).as("w")))
      val tot = byDelta.groupBy(col("segment"))
        .agg(sum(col("w")).as("n_converted"))
      // r12: adaptive on the measured compressed size — plain
      // segment-partitioned window when small, bucketed per-segment
      // prefix sum above the cap (same integers)
      graft.pack.PrefixSum.runningSumsByAdaptive(byDelta,
          Seq(col("segment")),
          expr("delta_s div 3600"), Seq(col("delta_s")),
          Seq(col("w") -> "cumw"))
        .join(tot, "segment")
        .filter(col("cumw") * 2 >= col("n_converted"))
        .groupBy(col("segment"), col("n_converted"))
        .agg(min(col("delta_s")).as("median_delta_s"))
        .select(col("segment"), col("n_converted"), col("median_delta_s"))
        .orderBy(col("segment"))
    }),

    // RFM SEGMENTATION with SCALABLE quantile binning: recency /
    // frequency / monetary per customer, binned into quintiles by
    // THRESHOLDS derived from the compressed distinct-value tables (the
    // q18/q75 discipline) instead of ntile() — ntile is a global sort of
    // every customer, this is a key-compressed window + a 4-value
    // broadcast per metric. bin(v) = 1 + |{thresholds < v}|, thresholds
    // t_i = min value with 5·cum ≥ i·total — pure integer picks, so both
    // engines agree exactly. Output: populated (r,f,m) cells with
    // customer counts and exact monetary mass.
    "q86_rfm" -> ((s, dir) => {
      val gmax = Tables(s, dir, "orders")
        .agg(max(to_date(col("o_orderdate"))).as("max_day"))
      // the customer aggregate is referenced FOUR times (the final
      // binning pass + one thresholds() per metric) and each reference
      // re-inlined the orders scan + aggregation — runtime ReuseExchange
      // cannot dedup them because the threshold consumers re-aggregate
      // by different keys (r13 optimization round, guide §5): the
      // explicit lineage cut runs the fact aggregation ONCE (4 fact
      // passes → 1 at any scale) and every reference expands a leaf
      val rfm = graft.graph.GraphOps.checkpoint(Tables(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("last_day"),
          count(lit(1)).as("f"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("m"))
        .crossJoin(broadcast(gmax))
        .select(col("o_custkey"),
          datediff(col("max_day"), col("last_day")).cast("long").as("r"),
          col("f"), col("m")))
      def thresholds(metric: String): DataFrame = {
        val byVal = rfm.groupBy(col(metric).as("v"))
          .agg(count(lit(1)).as("c"))
        val cum = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = byVal.agg(sum(col("c")).as("n"))
        // bounded global window: one row per DISTINCT metric value
        byVal.withColumn("cum", sum(col("c")).over(cum))
          .crossJoin(broadcast(tot))
          .select(explode(expr("array(1, 2, 3, 4)")).as("i"), col("v"),
            col("cum"), col("n"))
          .filter(col("cum") * 5 >= col("i") * col("n"))
          .groupBy(col("i")).agg(min(col("v")).as("t"))
          .agg(collect_list(struct(col("i"), col("t"))).as("ts"))
          .select(transform(array_sort(col("ts")), x => x.getField("t"))
            .as(s"t_$metric"))
      }
      def bin(v: org.apache.spark.sql.Column, ts: org.apache.spark.sql.Column) =
        (lit(1) + size(filter(ts, t => t < v))).cast("long")
      rfm
        .crossJoin(broadcast(thresholds("r")))
        .crossJoin(broadcast(thresholds("f")))
        .crossJoin(broadcast(thresholds("m")))
        .select(bin(col("r"), col("t_r")).as("r_bin"),
          bin(col("f"), col("t_f")).as("f_bin"),
          bin(col("m"), col("t_m")).as("m_bin"), col("m"))
        .groupBy(col("r_bin"), col("f_bin"), col("m_bin"))
        .agg(count(lit(1)).as("n_customers"), sum(col("m")).as("m_cents"))
        .orderBy(col("r_bin"), col("f_bin"), col("m_bin"))
    }),

    // BENFORD first-digit audit of order amounts — the classic
    // fabricated-data / fraud screen: observed leading-digit shares vs
    // the Benford expectation log10(1+1/d), both in ppm integers (the
    // nine log constants round identically in every IEEE libm —
    // verified against DuckDB bit-for-bit — and the formula is computed
    // in-engine, not pasted). One scan-side digit extraction + one
    // 9-row agg.
    "q87_benford" -> ((s, dir) => {
      val digits = Tables(s, dir, "orders")
        .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
        .filter(col("cents") >= 1)
        .select(substring(col("cents").cast("string"), 1, 1)
          .cast("long").as("digit"))
      val tot = digits.agg(count(lit(1)).as("n"))
      digits.groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
        .crossJoin(broadcast(tot))
        .select(col("digit"), col("n_obs"),
          expr("n_obs * 1000000 div n").as("obs_ppm"),
          round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))
            * 1000000).cast("long").as("benford_ppm"))
        .withColumn("diff_ppm", col("obs_ppm") - col("benford_ppm"))
        .orderBy(col("digit"))
    }),

    // JOIN-KEY SKEW PROFILER — the diagnosis tool behind every salted
    // join (sj1): for the orders⋈lineitem key, the top-20 heaviest keys
    // by EXACT output contribution f_o·f_l, with each side's frequency
    // and the key's share of the total join output in ppm. This is the
    // operator an engineer runs BEFORE picking a salting factor: the
    // per-key product is the number of rows that key alone forces
    // through one task. Two hash aggs + one join of the (bounded-key)
    // frequency tables + TakeOrdered.
    "q88_join_skew_profile" -> ((s, dir) => {
      val fo = Tables(s, dir, "orders").groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("f_orders"))
      val fl = Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("f_lines"))
      val prods = fo.join(fl, "k")
        .select(col("k"), col("f_orders"), col("f_lines"),
          (col("f_orders") * col("f_lines")).as("join_rows"))
      val tot = prods.agg(sum(col("join_rows")).as("total_join_rows"))
      prods.crossJoin(broadcast(tot))
        .select(col("k"), col("f_orders"), col("f_lines"),
          col("join_rows"),
          expr("join_rows * 1000000 div total_join_rows").as("share_ppm"))
        .orderBy(col("join_rows").desc, col("k"))
        .limit(20)
    }),

    // MUTUAL INFORMATION between event type and customer segment — the
    // information-theoretic dependence measure next to q76's chi-square
    // (feature selection ranks on exactly this). Computed as the exact
    // integer sum Σ n_xy·(lng n_xy + lng N − lng n_x − lng n_y) over the
    // bounded cell table (every ln on the 2^-20 grid), reported as the
    // grid integer and as nats-per-sample via one division — no float
    // accumulates anywhere. Same one-join + margins shape as q76.
    "q89_mutual_info" -> ((s, dir) => {
      val g = 1048576L
      def lng(c: org.apache.spark.sql.Column) =
        round(log(c.cast("double")) * g).cast("long")
      // same 4×-referenced contingency shape as q76 — cut once (r13)
      val cells = graft.graph.GraphOps.checkpoint(Tables(s, dir, "events")
        .join(Tables(s, dir, "customer"),
          col("user_id") === col("c_custkey"))
        .groupBy(col("event_type"), col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_xy")))
      val rx = cells.groupBy(col("event_type")).agg(sum(col("n_xy")).as("n_x"))
      val cy = cells.groupBy(col("segment")).agg(sum(col("n_xy")).as("n_y"))
      val n = cells.agg(sum(col("n_xy")).as("n"))
      cells.join(rx, "event_type").join(cy, "segment")
        .crossJoin(broadcast(n))
        .select(col("n_xy"), col("n"),
          (col("n_xy") * (lng(col("n_xy")) + lng(col("n")) -
            lng(col("n_x")) - lng(col("n_y")))).as("term"))
        .agg(max(col("n")).as("n_pairs"), sum(col("term")).as("mi_grid"))
        .select(col("n_pairs"), col("mi_grid"),
          (col("mi_grid").cast("double") / col("n_pairs").cast("double") /
            lit(g.toDouble)).as("mi_nats"))
    }),

    // NEYMAN-OPTIMAL stratified allocation: a 1000-row sampling budget
    // split across market segments ∝ N_h·σ_h (stratum size × std of
    // order value) — the design that minimizes estimator variance for a
    // fixed budget, vs naive proportional allocation ∝ N_h alone. σ_h
    // comes from exact integer cent sums; each weight is floor-quantized
    // to the 2^-20 grid BEFORE the (bounded) weight sum so the integer
    // allocation divisions agree exactly cross-engine. Output per
    // stratum: size, σ in cents (double), Neyman and proportional
    // allocations — the gap between the two columns IS the sampling
    // efficiency the design buys.
    "cur17_neyman_alloc" -> ((s, dir) => {
      val g = 1048576L
      val budget = 1000L
      val st = Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("stratum"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("stratum"))
        .agg(count(lit(1)).as("n_h"),
          sum(col("cents").cast(DecimalType(38, 0))).as("s1"),
          // cents² sums overflow BIGINT at sf0.1 — exact DECIMAL(38,0)
          sum((col("cents").cast(DecimalType(38, 0)) *
            col("cents").cast(DecimalType(38, 0)))
            .cast(DecimalType(38, 0))).as("s2"))
        .withColumn("sigma_cents",
          sqrt((col("s2").cast("double") -
            col("s1").cast("double") * col("s1").cast("double") /
              col("n_h").cast("double")) / col("n_h").cast("double")))
        // grid-floor the weight so the bounded weight sum is exact
        .withColumn("w_grid",
          floor(col("n_h").cast("double") * col("sigma_cents") /
            lit(g.toDouble)).cast("long"))
      val tot = st.agg(sum(col("w_grid")).as("w_tot"),
        sum(col("n_h")).as("n_tot"))
      st.crossJoin(broadcast(tot))
        .select(col("stratum"), col("n_h"), col("sigma_cents"),
          expr(s"$budget * w_grid div w_tot").as("neyman_alloc"),
          expr(s"$budget * n_h div n_tot").as("proportional_alloc"))
        .orderBy(col("stratum"))
    }),

    // LEAD-LAG cross-correlation of the daily view series against the
    // daily purchase series at lags −7..+7 — the does-X-precede-Y
    // detector (demand sensing, campaign attribution at the aggregate
    // level). Pearson r per lag from the six exact integer sums (the
    // q55 discipline: all accumulation integral, one fixed IEEE chain
    // at the end). Everything runs on the BOUNDED daily aggregates ×15
    // lags; the raw events are touched once.
    "q90_lead_lag" -> ((s, dir) => {
      val daily = Tables(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum((col("event_type") === "view").cast("long")).as("x"),
          sum((col("event_type") === "purchase").cast("long")).as("y"))
      val lags = s.range(-7, 8).select(col("id").as("lag"))
      val a = daily.select(col("day"), col("x"))
      val b = daily.select(col("day").as("day_b"), col("y"))
      a.crossJoin(broadcast(lags))
        .join(b, expr("date_add(day, CAST(lag AS INT)) = day_b"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sx2"),
          sum(col("y") * col("y")).as("sy2"))
        .select(col("lag"), col("n_days"),
          ((col("n_days") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (sqrt((col("n_days") * col("sx2") - col("sx") * col("sx"))
              .cast("double")) *
             sqrt((col("n_days") * col("sy2") - col("sy") * col("sy"))
               .cast("double")))).as("r"))
        .orderBy(col("lag"))
    }),

    // ABC INVENTORY CLASSIFICATION: parts bucketed A/B/C by cumulative
    // revenue share (top ~80% of revenue = A, next 15% = B, tail = C) —
    // the Pareto workhorse of supply-chain analytics. The lineitem fact is
    // reduced by one hash agg first; the cumulative revenue over parts
    // (rev desc, partkey) rides the measured-size adaptive PrefixSum —
    // the part DIMENSION scales with SF too (20B parts at 100 TB-class
    // SF), so above the measured cap the dimension-sized running sum is
    // partitioned: revenue-range buckets → per-bucket totals → tiny
    // offset cumsum → within-bucket partitioned window. Integer-cents
    // sums reassociate exactly, so both shapes are bit-identical.
    "q91_abc_class" -> ((s, dir) => {
      val rev0 = Tables(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("rev_cents"))
      val bounds = rev0.agg(max(col("rev_cents")).as("__hi"),
        (max(col("rev_cents")) - min(col("rev_cents")) + 1).as("__span"))
      // lineage-cut (r13): the bounds-tagged per-part aggregate feeds the
      // running sum AND the grand total (the two aggregates below the
      // cut are byte-identical, so the cut's one action computes the
      // fact pass once); the cut also lets the measured-size adaptive
      // count it for free
      val rev = graft.graph.GraphOps.checkpoint(
        rev0.crossJoin(broadcast(bounds)))
      val tot = rev.agg(sum(col("rev_cents")).as("tot"))
      graft.pack.PrefixSum.runningSumAdaptive(
          rev,
          expr("(__hi - rev_cents) * 1024 div __span"),
          Seq(col("rev_cents").desc, col("l_partkey")),
          col("rev_cents"), "cum")
        .crossJoin(broadcast(tot))
        .withColumn("cls",
          when(col("cum") * 100 <= col("tot") * 80, "A")
            .when(col("cum") * 100 <= col("tot") * 95, "B")
            .otherwise("C"))
        .groupBy(col("cls"))
        .agg(count(lit(1)).as("n_parts"), sum(col("rev_cents")).as("rev"),
          max(col("tot")).as("tot"))
        .select(col("cls"), col("n_parts"), col("rev").as("rev_cents"),
          expr("CAST(rev AS DECIMAL(38,0)) * 1000000 div tot")
            .as("rev_share_ppm"))
        .orderBy(col("cls"))
    }),

    // SHIPPING-DELAY distribution: order-date → ship-date lag in whole
    // days, with exact p50/p90/p99 via the q18 compressed-domain rank
    // discipline (delays collapse to a few hundred distinct integers —
    // the window runs over THOSE, never the fact rows) plus mean in
    // exact centi-days. The fulfillment-SLA instrument.
    "q92_ship_delay" -> ((s, dir) => {
      val lags = Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(datediff(to_date(col("l_shipdate")),
          to_date(col("o_orderdate"))).cast("long").as("delay_days"))
      val byDelay = lags.groupBy(col("delay_days"))
        .agg(count(lit(1)).as("c"))
      val tot = byDelay.agg(sum(col("c")).as("n"),
        sum(col("delay_days") * col("c")).as("s"))
      val cum = Window.orderBy(col("delay_days"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cumd = byDelay.withColumn("cum", sum(col("c")).over(cum))
        .crossJoin(broadcast(tot))
      def pct(p: Int) = min(when(col("cum") * 100 >= col("n") * p,
        col("delay_days")))
      cumd.agg(max(col("n")).as("n_lines"),
          expr("max(s * 100 div n)").as("mean_centidays"),
          pct(50).as("p50_days"), pct(90).as("p90_days"),
          pct(99).as("p99_days"))
    }),

    // COHORT LTV curves: users grouped by first-activity week, each
    // cohort's CUMULATIVE purchase revenue per week-of-age in exact
    // cents — the growth-accounting twin of q38's retention counts
    // (money, not presence). Windows run over the bounded cohort×age
    // grid (key-parallel by cohort), the events fact is reduced by one
    // hash agg first.
    "q93_cohort_ltv" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      val firstDay = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("first_day"))
      val cells = ev.filter(col("event_type") === "purchase")
        .join(firstDay, "user_id")
        .groupBy(
          (datediff(col("first_day"), lit("2024-01-01").cast("date"))
            .cast("long") / 7).cast("long").as("cohort_week"),
          (datediff(col("day"), col("first_day"))
            .cast("long") / 7).cast("long").as("age_week"))
        .agg(sum(col("cents")).as("rev_cents"),
          countDistinct(col("user_id")).as("n_buyers"))
      val sizes = firstDay.groupBy(
          (datediff(col("first_day"), lit("2024-01-01").cast("date"))
            .cast("long") / 7).cast("long").as("cohort_week"))
        .agg(count(lit(1)).as("cohort_size"))
      val byAge = Window.partitionBy(col("cohort_week"))
        .orderBy(col("age_week"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.withColumn("cum_rev_cents", sum(col("rev_cents")).over(byAge))
        .join(sizes, "cohort_week")
        .select(col("cohort_week"), col("age_week"), col("cohort_size"),
          col("n_buyers"), col("rev_cents"), col("cum_rev_cents"),
          expr("cum_rev_cents div cohort_size").as("ltv_cents_per_user"))
        .orderBy(col("cohort_week"), col("age_week"))
    }),

    // NEW-vs-RETURNING daily decomposition — the product-analytics
    // staple splitting each day's active users into first-ever-seen and
    // returning, with the new share in exact ppm. Two hash aggs (first
    // day per user, then per-day distinct actives via the (user, day)
    // grain) — no window at all.
    "q94_new_vs_returning" -> ((s, dir) => {
      val userDays = Tables(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val firstDay = userDays.groupBy(col("user_id"))
        .agg(min(col("day")).as("first_day"))
      userDays.join(firstDay, "user_id")
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_active"),
          sum((col("day") === col("first_day")).cast("long")).as("n_new"))
        .select(col("day").cast("timestamp_ntz").as("day"),
          col("n_active"), col("n_new"),
          (col("n_active") - col("n_new")).as("n_returning"),
          expr("n_new * 1000000 div n_active").as("new_share_ppm"))
        .orderBy(col("day"))
    }),

    // THINK-TIME distribution: per-user inter-event gaps in whole
    // seconds, with exact p50/p90/p99 via the compressed-domain rank
    // discipline (gaps collapse to distinct integers; the cumulative
    // window runs over those, never the fact rows). The engagement-
    // cadence instrument under session-gap threshold tuning (q17's 30
    // minutes stops being a guess once you can read this table).
    "q95_think_time" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val gaps = Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
        .withColumn("gap_s",
          ((col("us") - lag(col("us"), 1).over(byUser)) / 1000000L)
            .cast("long"))
        .filter(col("gap_s").isNotNull)
      val byGap = gaps.groupBy(col("gap_s")).agg(count(lit(1)).as("c"))
      val tot = byGap.agg(sum(col("c")).as("n"))
      val cum = Window.orderBy(col("gap_s"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cumd = byGap.withColumn("cum", sum(col("c")).over(cum))
        .crossJoin(broadcast(tot))
      def pct(p: Int) = min(when(col("cum") * 100 >= col("n") * p,
        col("gap_s")))
      cumd.agg(max(col("n")).as("n_gaps"), pct(50).as("p50_s"),
        pct(90).as("p90_s"), pct(99).as("p99_s"))
    }),

    // PEAK CONCURRENCY per day: the maximum number of simultaneously
    // open activity intervals (q73's deterministic [start, start+dur)
    // windows) — the capacity-planning number. The ±1 boundary sweep
    // partitions BY DAY (key-parallel; at open-web scale a single hot
    // day would move to the Packing two-phase prefix sum — noted here,
    // not needed at gate scale); ties order starts before ends so
    // touching intervals count as concurrent in both engines.
    "q96_peak_concurrency" -> ((s, dir) => {
      val iv = Tables(s, dir, "events")
        .select(col("event_id"), to_date(col("ts")).as("day"),
          unix_micros(col("ts").cast("timestamp")).as("s"))
        .withColumn("e",
          col("s") + (col("event_id") % 300 + 60) * 1000000L)
      val bounds = iv.select(col("day"), col("s").as("us"),
          lit(1L).as("delta"), col("event_id"))
        .unionByName(iv.select(col("day"), col("e").as("us"),
          lit(-1L).as("delta"), col("event_id")))
      val sweep = Window.partitionBy(col("day"))
        .orderBy(col("us"), col("delta").desc, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      bounds.withColumn("open", sum(col("delta")).over(sweep))
        .groupBy(col("day"))
        .agg((count(lit(1)) / 2).cast("long").as("n_intervals"),
          max(col("open")).as("peak_concurrency"))
        .select(col("day").cast("timestamp_ntz").as("day"),
          col("n_intervals"), col("peak_concurrency"))
        .orderBy(col("day"))
    }),

    // CALENDAR GROWTH: monthly revenue with month-over-month and
    // year-over-year deltas in exact ppm of the prior period — the BI
    // staple lag-aligned on the month GRID (lag 1 row for MoM; an
    // explicit self-join on month−12 for YoY so a missing month can
    // never misalign the comparison). Windows/joins run over the
    // bounded one-row-per-month aggregate.
    "q97_yoy_growth" -> ((s, dir) => {
      val monthly = Tables(s, dir, "orders")
        .groupBy(((year(col("o_orderdate")) * 12) +
          month(col("o_orderdate")) - 1).cast("long").as("mk"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("rev_cents"))
      // bounded global window: one row per month
      val byMonth = Window.orderBy(col("mk"))
      val prev = monthly.select(col("mk").as("mk_p"),
        col("rev_cents").as("rev_yoy"))
      monthly
        .withColumn("rev_mom", lag(col("rev_cents"), 1).over(byMonth))
        .join(prev, col("mk") - 12 === col("mk_p"), "left")
        .select(expr("mk div 12").as("year"),
          (col("mk") % 12 + 1).as("month"), col("rev_cents"),
          expr("CAST(rev_cents - rev_mom AS DECIMAL(38,0)) * 1000000 " +
            "div rev_mom")
            .as("mom_ppm"),
          expr("CAST(rev_cents - rev_yoy AS DECIMAL(38,0)) * 1000000 " +
            "div rev_yoy")
            .as("yoy_ppm"))
        .orderBy(col("year"), col("month"))
    }),

    // LARGEST-REMAINDER APPORTIONMENT (Hamilton's method): a fixed
    // 10000-unit budget split across market segments ∝ customer count —
    // floor quotas first, then the leftover units go to the largest
    // fractional remainders (ties to the lexicographically-first
    // segment). The exact-integer allocation primitive behind quota
    // systems, sampling budgets and proportional seat assignment;
    // unlike naive rounding the totals provably sum to the budget.
    // Remainders compare as integers (n_h·B mod total), never floats.
    "q98_apportionment" -> ((s, dir) => {
      val budget = 10000L
      val seg = Tables(s, dir, "customer")
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_h"))
      val tot = seg.agg(sum(col("n_h")).as("n"))
      val quotas = seg.crossJoin(broadcast(tot))
        .select(col("segment"), col("n_h"),
          expr(s"n_h * $budget div n").as("floor_quota"),
          expr(s"(n_h * $budget) % n").as("rem"))
      val left = quotas.agg(
        (lit(budget) - sum(col("floor_quota"))).as("leftover"))
      // bounded global window: one row per segment
      val byRem = Window.orderBy(col("rem").desc, col("segment"))
      quotas.crossJoin(broadcast(left))
        .withColumn("rk", row_number().over(byRem))
        .select(col("segment"), col("n_h"), col("floor_quota"),
          (col("floor_quota") +
            (col("rk") <= col("leftover")).cast("long")).as("allocated"))
        .orderBy(col("segment"))
    }),

    // PRICE-VOLUME-MIX decomposition of the 1995→1996 revenue change
    // (the FP&A waterfall): volume effect = Δqty at the old unit price,
    // price effect = Δunit-price at the old volume, mix = the
    // remainder — so the three effects sum EXACTLY to ΔRev. Unit prices
    // are floor-divided cents-per-unit (documented integer semantics,
    // identical cross-engine); everything else is exact integer cents.
    // One two-group hash agg over the fact scan; the decomposition runs
    // on two rows.
    "q99_price_volume_mix" -> ((s, dir) => {
      val yr = Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(year(col("o_orderdate")).isin(1995, 1996))
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("rev"), sum(col("l_quantity").cast("long")).as("qty"))
      val w = yr.groupBy()
        .agg(min(when(col("yr") === 1995, col("rev"))).as("rev1"),
          min(when(col("yr") === 1995, col("qty"))).as("q1"),
          min(when(col("yr") === 1996, col("rev"))).as("rev2"),
          min(when(col("yr") === 1996, col("qty"))).as("q2"))
      w.select(col("rev1"), col("rev2"), col("q1"), col("q2"),
          (col("rev2") - col("rev1")).as("delta_rev"),
          expr("(q2 - q1) * (rev1 div q1)").as("volume_effect"),
          expr("((rev2 div q2) - (rev1 div q1)) * q1").as("price_effect"))
        .withColumn("mix_effect",
          col("delta_rev") - col("volume_effect") - col("price_effect"))
    }),

    // DIFFERENCE-IN-DIFFERENCES: the 2×2 causal-inference primitive —
    // treatment (even custkeys, the deterministic stand-in for an
    // exposed population) × period (before/after 1995-01-01), cell
    // means of order value in floor-divided cents, DiD = (T_post −
    // T_pre) − (C_post − C_pre). Everything integer; one hash agg over
    // the fact scan, the 2×2 pivot runs on four rows.
    "q100_did" -> ((s, dir) => {
      val cells = Tables(s, dir, "orders")
        .select((col("o_custkey") % 2 === 0).cast("long").as("treated"),
          (col("o_orderdate") >= lit("1995-01-01").cast("timestamp_ntz"))
            .cast("long").as("post"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("treated"), col("post"))
        .agg(count(lit(1)).as("n"), expr("sum(cents) div count(1)")
          .as("mean_cents"))
      def cell(t: Int, p: Int) =
        min(when(col("treated") === t && col("post") === p,
          col("mean_cents")))
      cells.agg(sum(col("n")).as("n_orders"),
          cell(1, 0).as("t_pre"), cell(1, 1).as("t_post"),
          cell(0, 0).as("c_pre"), cell(0, 1).as("c_post"))
        .withColumn("did_cents",
          (col("t_post") - col("t_pre")) - (col("c_post") - col("c_pre")))
    }),

    // BOXPLOT (five-number + Tukey fences) per market segment — the
    // distribution summary behind every quality dashboard: quartiles
    // from the compressed per-segment value domain (windows PARTITIONED
    // by segment — key-parallel), whiskers as the extreme values inside
    // the 1.5·IQR fences, and the exact outlier mass beyond them. The
    // ×2 trick keeps 1.5·IQR integral; everything is exact cents.
    "q108_boxplot" -> ((s, dir) => {
      val seg = Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      // lineage-cut (r12): byV feeds the totals, the prefix-sum passes
      // and the final fence fold — each reference re-ran the
      // orders⋈customer join + aggregation without it
      val byV = graft.graph.GraphOps.checkpoint(
        seg.groupBy(col("segment"), col("cents"))
          .agg(count(lit(1)).as("cnt")))
      val tot = byV.groupBy(col("segment")).agg(sum(col("cnt")).as("n"))
      // r12: adaptive on the measured compressed size (byV is
      // checkpointed) — plain segment-partitioned window when small,
      // bucketed per-segment prefix sum above the cap (same integers)
      val cum = graft.pack.PrefixSum.runningSumsByAdaptive(byV,
          Seq(col("segment")), expr("cents div 100000"),
          Seq(col("cents")), Seq(col("cnt") -> "cum"))
        .join(broadcast(tot), Seq("segment"))
      def quart(p: Int) =
        min(when(col("cum") * 4 >= col("n") * p, col("cents")))
      val fences = cum.groupBy(col("segment"), col("n"))
        .agg(quart(1).as("p25"), quart(2).as("p50"), quart(3).as("p75"))
        .withColumn("iqr", col("p75") - col("p25"))
        .withColumn("lo2", lit(2) * col("p25") - lit(3) * col("iqr"))
        .withColumn("hi2", lit(2) * col("p75") + lit(3) * col("iqr"))
      byV.join(broadcast(fences), Seq("segment"))
        .groupBy(col("segment"))
        .agg(max(col("n")).as("n"),
          max(col("p25")).as("p25"), max(col("p50")).as("p50"),
          max(col("p75")).as("p75"), max(col("iqr")).as("iqr"),
          min(when(col("cents") * 2 >= col("lo2"), col("cents")))
            .as("whisker_lo"),
          max(when(col("cents") * 2 <= col("hi2"), col("cents")))
            .as("whisker_hi"),
          sum(when(col("cents") * 2 < col("lo2") ||
            col("cents") * 2 > col("hi2"), col("cnt")).otherwise(0L))
            .as("n_outliers"))
        .orderBy(col("segment"))
    }),

    // TRAILING TIME-RANGE WINDOWS: per day, the trailing-7-day and
    // trailing-28-day revenue and order counts — the moving-aggregate
    // report every ops dashboard runs. RANGE frames over the day INDEX
    // (value-based, so calendar gaps shorten the trail correctly —
    // a ROWS frame would silently span gaps); the windows run over the
    // bounded daily table, ordered by day with integer-exact sums.
    "q106_trailing_window" -> ((s, dir) => {
      val daily = Tables(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
        .withColumn("di", datediff(col("day"), to_date(lit("1970-01-01"))))
      def trail(days: Int) = Window.orderBy(col("di"))
        .rangeBetween(-(days - 1), Window.currentRow)
      daily.select(col("day").cast("string").as("day"),
          col("n"), col("rev"),
          sum(col("n")).over(trail(7)).as("n_7d"),
          sum(col("rev")).over(trail(7)).as("rev_7d"),
          sum(col("n")).over(trail(28)).as("n_28d"),
          sum(col("rev")).over(trail(28)).as("rev_28d"))
        .orderBy(col("day"))
    }),

    // PAGE–HINKLEY change detection over the daily order-count series —
    // the sequential drift detector a monitoring pipeline runs on ingest
    // volumes. Scale-free integer form: with S = Σx and N = #days,
    // M_t = Σ_{i≤t}(N·x_i − S) (so the mean-centering needs no division)
    // and PH_t = M_t − min_{i≤t} M_i; the maximal PH and its day are the
    // strongest upward change-point, the mirrored series gives the
    // downward one. Everything integer-exact; the windows run over the
    // BOUNDED daily table (calendar days), the fact is touched once.
    "q104_page_hinkley" -> ((s, dir) => {
      val daily = Tables(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("x"))
      val tot = daily.agg(sum(col("x")).as("s"),
        count(lit(1)).as("n"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val m = daily.crossJoin(broadcast(tot))
        .withColumn("m", sum(col("n") * col("x") - col("s")).over(w))
        .withColumn("ph_up", col("m") - min(col("m")).over(w))
        .withColumn("ph_down", max(col("m")).over(w) - col("m"))
        .withColumn("di", datediff(col("day"), to_date(lit("1970-01-01"))))
      m.agg(max(col("n")).as("n_days"),
          max(struct(col("ph_up"), (-col("di")).as("nd"))).as("u"),
          max(struct(col("ph_down"), (-col("di")).as("nd"))).as("d"))
        .select(col("n_days"),
          col("u.ph_up").as("up_ph"),
          date_add(to_date(lit("1970-01-01")), (-col("u.nd")).cast("int"))
            .cast("string").as("up_day"),
          col("d.ph_down").as("down_ph"),
          date_add(to_date(lit("1970-01-01")), (-col("d.nd")).cast("int"))
            .cast("string").as("down_day"))
    }),

    // AUTOCORRELATION of the daily revenue series at the standard
    // monitoring lags (1, 2, 7, 14, 28) — the seasonality/persistence
    // instrument next to q90's cross-correlation. Pearson r per lag over
    // the overlapping days from exact DECIMAL(38,0) sums (daily-cents
    // products overflow BIGINT well before 100 TB-class SF), one
    // correctly-rounded IEEE chain per lag at the end. Runs entirely on
    // the bounded daily table × 5 lags.
    "q105_acf" -> ((s, dir) => {
      val Dec38 = DecimalType(38, 0)
      val daily = Tables(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .cast(Dec38).as("rev"))
      val lags = s.range(0, 29).select(col("id").cast("int").as("lag"))
        .filter(col("lag").isin(1, 2, 7, 14, 28))
      val a = daily.select(col("day"), col("rev").as("x"))
      val b = daily.select(col("day").as("day_b"), col("rev").as("y"))
      a.crossJoin(broadcast(lags))
        .join(b, expr("date_add(day, lag) = day_b"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).cast(Dec38).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        // grid-floor the output: DuckDB's HUGEINT→DOUBLE image can land
        // one ulp off Spark's decimal→double (two-step rounding), so the
        // raw quotient is NOT cross-engine bit-stable — 2^-20 precision is
        // plenty for a correlation and absorbs the ulp
        .select(col("lag"), col("n").cast("long").as("n_days"),
          (floor(((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double")) *
             sqrt((col("n") * col("syy") - col("sy") * col("sy"))
               .cast("double")))) * lit(1048576.0)) / lit(1048576.0))
            .as("r"))
        .orderBy(col("lag"))
    }),

    // MANN–WHITNEY U (Wilcoxon rank-sum): the nonparametric two-sample
    // location test — does `value` differ between click and purchase
    // events without assuming normality. Average-tie ranks over the
    // compressed (value → per-sample counts) table, kept EXACT by the
    // doubled-rank trick (2·rank is integer even for .5 tie averages):
    // 2R(v) = 2·cum_before(v) + cnt(v) + 1, rank-sums and the tie
    // correction Σ(t³−t) all integer. The running count over distinct
    // values runs as the PrefixSum decomposition (unit-value buckets) —
    // `value` is a near-unique double, so its "compressed" domain scales
    // with the fact table and gets a partitioned window like any other.
    // Sanity invariant 2U_A + 2U_B = 2·n_A·n_B is a pure function of the
    // outputs.
    "q101_mann_whitney" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("value"),
          (col("event_type") === "click").cast("long").as("is_a"))
      // byVal's two references (prefix-sum pass + group totals) are
      // byte-identical below the aggregate, so runtime ReuseExchange
      // already computes the fact aggregation once — a lineage cut here
      // measured WORSE (1.10 -> 1.28 s A/B, r13): the barrier costs more
      // than the post-agg duplicate it removes
      val byVal = ev.groupBy(col("value"))
        .agg(sum(col("is_a")).as("a"), sum(lit(1L) - col("is_a")).as("b"))
        .withColumn("cnt", col("a") + col("b"))
      val cum = graft.pack.PrefixSum.runningSum(byVal,
        floor(col("value")).cast("long"), Seq(col("value")),
        col("cnt"), "cumincl")
      val tot = byVal.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
      cum.crossJoin(broadcast(tot))
        .withColumn("two_r",
          lit(2) * (col("cumincl") - col("cnt")) + col("cnt") + 1)
        .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
          sum(col("a") * col("two_r")).as("tra"),
          sum(col("b") * col("two_r")).as("trb"),
          sum(col("cnt") * col("cnt") * col("cnt") - col("cnt"))
            .as("tie_term"))
        .select(col("na").as("n_a"), col("nb").as("n_b"),
          (col("tra") - col("na") * (col("na") + 1)).as("two_u_a"),
          (col("trb") - col("nb") * (col("nb") + 1)).as("two_u_b"),
          col("tie_term"))
    }),

    // SPEARMAN rank correlation between per-customer order frequency and
    // monetary total — the monotone-association measure Pearson (q90's
    // machinery) cannot give. Average-tie ranks per metric via the same
    // doubled-rank trick; Pearson over the doubled ranks in EXACT
    // DECIMAL(38,0) sufficient statistics (4n³-scale products overflow
    // longs at 100 TB-class SF; decimals never do here), with the one
    // double landing computed by the identical correctly-rounded chain
    // in both engines: cast exact ints → double, num / (sqrt·sqrt).
    // Frequency's domain is genuinely small (orders per customer), so its
    // rank table is a bounded-window aggregate; monetary is near-unique
    // and rides PrefixSum.
    "q102_spearman" -> ((s, dir) => {
      val Dec38 = DecimalType(38, 0)
      // per-customer aggregate referenced THREE times (both metric rank
      // tables + the final rank-attach join) — each reference re-ran the
      // orders aggregation (r13, guide §5): the cut makes it one fact
      // pass at any scale
      val cust = graft.graph.GraphOps.checkpoint(Tables(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("f"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("m")))
      // doubled average-tie rank per distinct metric value
      def ranksSmall(metric: String): DataFrame = {
        // bounded domain (≤ max orders per customer distinct values):
        // plain compressed-domain window
        val byV = cust.groupBy(col(metric).as("v"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        byV.withColumn("cum", sum(col("cnt")).over(w))
          .select(col("v").as(metric),
            (lit(2) * (col("cum") - col("cnt")) + col("cnt") + 1)
              .as(s"two_r_$metric"))
      }
      def ranksWide(metric: String, bucket: Column): DataFrame = {
        val byV = cust.groupBy(col(metric).as("v"))
          .agg(count(lit(1)).as("cnt"))
        // measured-size adaptive (r13; the kernel cuts byV — one cheap
        // aggregation job over the checkpointed cust blocks)
        graft.pack.PrefixSum.runningSumAdaptive(byV, bucket, Seq(col("v")),
            col("cnt"), "cum")
          .select(col("v").as(metric),
            (lit(2) * (col("cum") - col("cnt")) + col("cnt") + 1)
              .as(s"two_r_$metric"))
      }
      val ranked = cust
        .join(ranksSmall("f"), Seq("f"))
        .join(ranksWide("m", expr("v div 1000000")), Seq("m"))
        .select(col("two_r_f").cast(Dec38).as("x"),
          col("two_r_m").cast(Dec38).as("y"))
      ranked
        .agg(count(lit(1)).cast(Dec38).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        // grid-floored for the same HUGEINT→DOUBLE ulp reason as q105
        .select(col("n").cast("long").as("n_customers"),
          (floor(((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double")) *
             sqrt((col("n") * col("syy") - col("sy") * col("sy"))
               .cast("double")))) * lit(1048576.0)) / lit(1048576.0))
            .as("rho"))
    }),

    // CO-PURCHASE LINK PREDICTION by common-neighbor count: the top-20
    // customer pairs sharing the most distinct purchased parts — the
    // collaborative-filtering / who-matches-whom primitive. Wedge
    // enumeration through each shared part, with the celebrity-part
    // prune that makes the join bounded: parts bought by > 64 distinct
    // customers are EXCLUDED from evidence (standard in co-occurrence
    // mining — promiscuous items carry no signal and their deg² wedges
    // melt the join; the cap is part of the semantics and mirrored in
    // the oracle). Equi-join on the part key, never all-pairs.
    "q103_common_neighbors" -> ((s, dir) => {
      // the distinct edge set feeds the degree aggregate, the semi-join
      // probe AND the id-range measurement below — cut once (r13; the
      // r12 shape relied on runtime exchange reuse for the first two,
      // which a separate driver action cannot join)
      val edges = graft.graph.GraphOps.checkpoint(Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("p"), col("o_custkey").as("c"))
        .distinct())
      // the deg≤64 cap that excludes celebrity parts also BOUNDS the
      // per-part buyer list, so wedges enumerate from one grouped
      // sorted array per part with a scan-side tail-slice generator —
      // one exchange fewer than the edge-table self-join. ORDER
      // MATTERS: the degree filter runs BEFORE the collect (hash-agg
      // count + semi-join), so no agg buffer ever exceeds 64 elements;
      // collecting first and filtering on size would build a celebrity
      // part's full multi-million-buyer array before discarding it.
      // Steady-state cost is the ~9M-wedge pair aggregation itself —
      // genuine output volume, so the pair key is PACKED into one long
      // when the measured id range allows (PackedPairs, guide §2.3):
      // half the grouping-key bytes through the biggest exchange. The
      // same one-action Wedges.stats pass also measures the exact wedge
      // mass, which sizes the explode stage's parallelism (Wedges.fanout
      // — AQE coalesces that stage's input by INPUT bytes and cannot see
      // the ~50× generate multiplier).
      val (degLo, degHi) = (1L, 64L)
      val st = graft.graph.Wedges.stats(edges, degLo, degHi)
      val packed = !st.empty &&
        graft.graph.PackedPairs.fits(st.minId, st.maxId)
      val small = edges.groupBy(col("p"))
        .agg(count(lit(1)).as("deg"))
        .filter(graft.graph.Wedges.inBand(col("deg"), degLo, degHi))
        .select(col("p"))
      val grouped = graft.graph.Wedges.fanout(
          edges.join(small, Seq("p"), "left_semi"), "p", st.wedges)
        .groupBy(col("p"))
        .agg(sort_array(collect_list(col("c"))).as("cs"))
      val pairs = grouped
        .select(posexplode(col("cs")).as(Seq("i", "c1")), col("cs"))
        .select(col("c1"), explode(
          slice(col("cs"), col("i") + 2, size(col("cs")))).as("c2"))
      if (packed)
        pairs
          .select(graft.graph.PackedPairs.pack(col("c1"), col("c2"))
            .as("pr"))
          .groupBy(col("pr"))
          .agg(count(lit(1)).as("n_common"))
          // pr's numeric order IS (c1, c2) lexicographic for in-range ids
          .orderBy(col("n_common").desc, col("pr"))
          .limit(20)
          .select(graft.graph.PackedPairs.hi(col("pr")).as("c1"),
            graft.graph.PackedPairs.lo(col("pr")).as("c2"),
            col("n_common"))
      else
        pairs
          .groupBy(col("c1"), col("c2"))
          .agg(count(lit(1)).as("n_common"))
          .orderBy(col("n_common").desc, col("c1"), col("c2"))
          .limit(20)
    }),

    // ADAMIC–ADAR link prediction over the same co-purchase graph: common
    // neighbors weighted by 1/ln(deg) — a part shared by few buyers is
    // stronger evidence than a popular one (Adamic & Adar, "Friends and
    // neighbors on the Web", Social Networks 25(3), 2003). Same bounded
    // wedge enumeration as q103 (celebrity prune, grouped sorted buyer
    // arrays, tail-slice generator); deg=1 parts are excluded on BOTH
    // sides (no wedge exists and ln(1)=0 would divide by zero). Each
    // addend 1/ln(deg) is a libm value, so it is floor-quantized to the
    // 2^-20 grid BEFORE summing (the repo-wide cross-engine float
    // discipline) — the pair score is then an exact integer sum divided
    // by 2^20, bit-identical at any partitioning.
    "q136_adamic_adar" -> ((s, dir) => {
      // distinct edges cut once; pair key packed into one long when the
      // measured id range allows — same rationale as q103 (r13)
      val edges = graft.graph.GraphOps.checkpoint(Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("p"), col("o_custkey").as("c"))
        .distinct())
      // one Wedges.stats action: id range (pack decision) + measured
      // wedge mass (explode-stage parallelism) — same rationale as q103
      val (degLo, degHi) = (2L, 64L)
      val st = graft.graph.Wedges.stats(edges, degLo, degHi)
      val packed = !st.empty &&
        graft.graph.PackedPairs.fits(st.minId, st.maxId)
      val degs = edges.groupBy(col("p"))
        .agg(count(lit(1)).as("deg"))
        .filter(graft.graph.Wedges.inBand(col("deg"), degLo, degHi))
      val grouped = graft.graph.Wedges.fanout(
          edges.join(degs, Seq("p")), "p", st.wedges)
        .groupBy(col("p"), col("deg"))
        .agg(sort_array(collect_list(col("c"))).as("cs"))
        .withColumn("w",
          floor(lit(1048576.0) / log(col("deg").cast("double")))
            .cast("long"))
      val pairs = grouped
        .select(col("w"), posexplode(col("cs")).as(Seq("i", "c1")),
          col("cs"))
        .select(col("c1"), col("w"), explode(
          slice(col("cs"), col("i") + 2, size(col("cs")))).as("c2"))
      // the top-20 ORDER runs on the exact integer grid sum, not the
      // derived double: each addend w = floor(2^20 / ln deg) < 2^21
      // (deg ≥ 2), so sw < n_common·2^21, which stays below 2^53 while
      // n_common < 2^32; there aa_score = sw / 2^20 is exact and a
      // monotone INJECTIVE map, so (sw desc) ≡ (aa_score desc) row for
      // row — and the 8.5M-row TakeOrdered top-K then compares longs
      // instead of doubles (measured 10× cheaper per row; the division
      // happens 20 times after the limit instead of 8.5M times before)
      if (packed)
        pairs
          .select(graft.graph.PackedPairs.pack(col("c1"), col("c2"))
            .as("pr"), col("w"))
          .groupBy(col("pr"))
          .agg(sum(col("w")).as("sw"), count(lit(1)).as("n_common"))
          .orderBy(col("sw").desc, col("pr"))
          .limit(20)
          .select(graft.graph.PackedPairs.hi(col("pr")).as("c1"),
            graft.graph.PackedPairs.lo(col("pr")).as("c2"),
            (col("sw").cast("double") / lit(1048576.0)).as("aa_score"),
            col("n_common"))
      else
        pairs
          .groupBy(col("c1"), col("c2"))
          .agg(sum(col("w")).as("sw"), count(lit(1)).as("n_common"))
          .orderBy(col("sw").desc, col("c1"), col("c2"))
          .limit(20)
          .select(col("c1"), col("c2"),
            (col("sw").cast("double") / lit(1048576.0)).as("aa_score"),
            col("n_common"))
    }),

    // CUMULATIVE REACH — running COUNT(DISTINCT user) by day, the
    // audience-growth curve. The naive form is a running set-union over
    // the fact table (unbounded state, the one aggregation shape that has
    // NO streaming/partitioned form); the exact decomposition is: distinct
    // collapses to each user's FIRST day (one hash agg), then a cumulative
    // sum over the per-day new-user counts — a partitionless window whose
    // input is one row per DAY (aggregation-bounded, PlanGuard-exempt by
    // construction). Date keys ride as strings (cross-engine DATE
    // rendering differs, round-6 learning).
    "q138_cumulative_reach" -> ((s, dir) => {
      val firstSeen = Tables(s, dir, "events")
        .select(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
        .groupBy(col("user_id")).agg(min(col("hr")).as("first_hr"))
      val perHour = firstSeen.groupBy(col("first_hr"))
        .agg(count(lit(1)).as("new_users"))
      perHour
        .withColumn("cum_reach",
          sum(col("new_users")).over(
            Window.orderBy(col("first_hr"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("first_hr").cast("string").as("hr"),
          col("new_users"), col("cum_reach"))
        .orderBy(col("hr"))
    }),

    // TWAP — TIME-WEIGHTED average value per event type: each
    // observation holds until the next same-type event (step
    // interpolation), so the day's average weights each value by its
    // holding duration — the standard fix for irregular sampling (a
    // plain AVG over-weights bursts). Weights are exact integer seconds
    // from LEAD within (type, day); values fold through DECIMAL(18,2),
    // so the weighted sum is exact and the final ratio is one IEEE
    // division — bit-identical cross-engine, no grid. The window
    // partitions on (type, day): bounded groups, fully parallel.
    "q139_twap" -> ((s, dir) => {
      val w = Window
        .partitionBy(col("event_type"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      Tables(s, dir, "events")
        // NTZ → TIMESTAMP for the epoch-seconds cast (session is UTC —
        // lossless; NTZ itself refuses CAST AS BIGINT)
        .select(col("event_type"), col("ts").cast("timestamp").as("ts"),
          col("event_id"), to_date(col("ts")).as("day"),
          col("value").cast(DecimalType(18, 2)).as("v"))
        .withColumn("dt",
          (lead(col("ts"), 1).over(w).cast("long") -
            col("ts").cast("long")))
        .filter(col("dt").isNotNull && col("dt") > 0)
        .groupBy(col("event_type"))
        .agg(sum(col("v") * col("dt")).as("wsum"),
          sum(col("dt")).as("tsum"),
          count(lit(1)).as("n_intervals"))
        .select(col("event_type"),
          (col("wsum").cast("double") / col("tsum").cast("double"))
            .as("twap"),
          col("n_intervals"))
        .orderBy(col("event_type"))
    }),

    // HERFINDAHL–HIRSCHMAN concentration of revenue by nation, per
    // region: HHI = Σ share². The naive Σ(double share)² is a
    // multi-addend double sum (cross-engine hash death) and the exact
    // Σcents²/(Σcents)² numerator outgrows DECIMAL(38) around sf100 —
    // so shares are DEFINED as truncated 1e-8 fixed-point
    // (share8 = cents·10⁸ div region_cents, the ppm discipline), and
    // HHI_x1e4 = Σ share8² div 10⁸ is pure BIGINT arithmetic at ANY
    // scale: per-nation share8 ≤ 1e8, squares ≤ 1e16, a region's sum
    // ≤ 25·1e16 — exact, deterministic, and mirrored verbatim in the
    // oracle. The antitrust-style concentration screen.
    "q141_hhi" -> ((s, dir) => {
      val Dec = DecimalType(38, 0)
      val rev = Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey").as("region"), col("n_name"))
        .agg(sum(round(col("o_totalprice") * 100).cast(Dec)).as("cents"))
      val totals = rev.groupBy(col("region"))
        .agg(sum(col("cents")).as("den"))
      rev.join(broadcast(totals), Seq("region"))
        .withColumn("share8", expr("(cents * 100000000) div den"))
        .groupBy(col("region"))
        .agg(sum(col("share8") * col("share8")).as("ssq"),
          count(lit(1)).as("n_nations"))
        .select(col("region"),
          expr("ssq div 100000000").as("hhi_x1e4"), col("n_nations"))
        .orderBy(col("region"))
    }),

    // DECISION STUMP (one-level CART): the exact best threshold split of
    // order totals predicting status='F', by minimum weighted Gini
    // impurity — the base learner of every boosted-tree pipeline and the
    // first split any tree trainer makes. Candidate thresholds are the
    // COMPRESSED distinct cents values (one hash agg; the cumulative
    // window runs over that aggregated domain, never the fact table),
    // and impurity comparison is EXACT integer arithmetic: minimizing
    // weighted Gini ⟺ maximizing (p_l²+q_l²)·n_r + (p_r²+q_r²)·n_l
    // (DECIMAL(38,0) — fits through sf100-class N³·1e6), tie-broken to
    // the smallest threshold; the reported impurity is ppm fixed-point
    // via IntegralDivide, never a >2^53 integer forced through a double.
    "q143_decision_stump" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .select(round(col("o_totalprice") * 100).cast("long").as("c"),
          (col("o_orderstatus") === "F").cast("long").as("y"))
      val comp = o.groupBy(col("c"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("p"))
      val tot = comp.agg(sum(col("n")).as("nn"), sum(col("p")).as("pp"))
      val w = Window.orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      comp
        .withColumn("nl", sum(col("n")).over(w))
        .withColumn("pl", sum(col("p")).over(w))
        .crossJoin(broadcast(tot))
        .filter(col("nl") < col("nn")) // right side must be nonempty
        .withColumn("ql", col("nl") - col("pl"))
        .withColumn("nr", col("nn") - col("nl"))
        .withColumn("pr", col("pp") - col("pl"))
        .withColumn("qr", col("nr") - col("pr"))
        .withColumn("score", expr("""
          (CAST(pl AS DECIMAL(38,0)) * pl + CAST(ql AS DECIMAL(38,0)) * ql)
            * nr +
          (CAST(pr AS DECIMAL(38,0)) * pr + CAST(qr AS DECIMAL(38,0)) * qr)
            * nl"""))
        .orderBy(col("score").desc, col("c"))
        .limit(1)
        .select(col("c").as("threshold_cents"),
          col("nl").as("n_left"), col("nr").as("n_right"),
          col("pl").as("pos_left"), col("pr").as("pos_right"),
          expr("""(CAST(nn AS DECIMAL(38,0)) * nl * nr - score) * 1000000
            div (CAST(nn AS DECIMAL(38,0)) * nl * nr)""").as("gini_ppm"))
    }),

    // Entity resolution end-to-end: dirty records (every 7th customer
    // gains two deterministic single-deletion typo variants), FastSS
    // deletion-neighborhood blocking + exact-address block key, Levenshtein
    // ≤ 1 verification, connected components for transitive identity
    // (A~orig~B merges A and B though lev(A,B)=2), min-id canonical pick.
    // Same scale shape as q42+dd5: candidate generation is an equi-join on
    // exploded variants (never all-pairs), clustering is the O(log n)
    // star-contraction CC. The oracle replays blocking relationally and
    // closes components with a WITH RECURSIVE transitive closure.
    "er1_entity_clusters" -> ((s, dir) => {
      // the testdata customer table carries no address — synthesize a
      // deterministic one from the CLEAN name (variants inherit it), the
      // same derive-the-missing-column pattern the CDC fixtures use
      val cust = Tables(s, dir, "customer").select(
        col("c_custkey").cast("long").as("id"),
        lower(col("c_name")).as("name"),
        md5(concat(lit("addr:"), lower(col("c_name")))).as("addr"))
      def variant(tag: String, offset: Long) =
        cust.filter(col("id") % 7 === 0)
          .withColumn("pos",
            (graft.functions.Hash60(concat(lit(tag), col("name")))
              % length(col("name")).cast("long")).cast("int") + 1)
          .selectExpr(s"id + $offset AS id",
            "concat(substring(name, 1, pos - 1), " +
              "substring(name, pos + 1, length(name))) AS name",
            "addr")
      val records = cust.unionByName(variant("er1a:", 10000000L))
        .unionByName(variant("er1b:", 20000000L))
      // native deletion-neighborhood kernel (vs the interpreted HOF: one
      // lambda frame per character per record), materialized ONCE so the
      // self-join's two sides don't each replay the explode DAG
      val vars = graft.graph.GraphOps.checkpoint(
        records.select(col("id"), col("name"), col("addr"),
          explode(graft.text.DeletionVariants(col("name"))).as("v")))
      // candidate ids only through the wide join (names rejoin AFTER the
      // distinct — the Levenshtein verify then runs once per candidate
      // PAIR, not per raw variant collision inside the join stage, and
      // the broadcast side stays narrow)
      val cand = vars.as("a").join(vars.as("b"),
          col("a.addr") === col("b.addr") && col("a.v") === col("b.v") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("src"), col("b.id").as("dst"))
        .distinct()
      val names = records.select(col("id"), col("name"))
      val edges = cand
        .join(names.select(col("id").as("src"), col("name").as("na")), "src")
        .join(names.select(col("id").as("dst"), col("name").as("nb")), "dst")
        .filter(levenshtein(col("na"), col("nb")) <= 1)
        .select(col("src"), col("dst"))
      graft.graph.ConnectedComponents.minLabel(edges, "src", "dst")
        .groupBy(col("component").as("cluster_id"))
        .agg(count(lit(1)).as("n_records"))
        .join(records.select(col("id").as("cluster_id"),
          col("name").as("canonical_name")), "cluster_id")
        .select(col("cluster_id"), col("n_records"), col("canonical_name"))
        .orderBy(col("cluster_id"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q59_shortest_paths" -> """
      WITH e0 AS (
        SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
          CAST(l_suppkey + 1000000 AS BIGINT) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      ), und AS (
        SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
      ), d0 AS (
        SELECT DISTINCT CAST(s_suppkey + 1000000 AS BIGINT) AS id,
          CAST(0 AS BIGINT) AS dist
        FROM supplier WHERE s_suppkey <= 5
      ), d1 AS (
        SELECT id, MIN(dist) AS dist FROM (
          SELECT id, dist FROM d0
          UNION ALL
          SELECT u.dst AS id, d.dist + 1 AS dist
          FROM und u JOIN d0 d ON u.src = d.id
        ) GROUP BY id
      ), d2 AS (
        SELECT id, MIN(dist) AS dist FROM (
          SELECT id, dist FROM d1
          UNION ALL
          SELECT u.dst AS id, d.dist + 1 AS dist
          FROM und u JOIN d1 d ON u.src = d.id
        ) GROUP BY id
      ), d3 AS (
        SELECT id, MIN(dist) AS dist FROM (
          SELECT id, dist FROM d2
          UNION ALL
          SELECT u.dst AS id, d.dist + 1 AS dist
          FROM und u JOIN d2 d ON u.src = d.id
        ) GROUP BY id
      )
      SELECT CAST(id AS BIGINT) AS id, CAST(dist AS BIGINT) AS dist
      FROM d3 ORDER BY id""",

    "q60_gapfill" -> """
      WITH ev AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
          ts, event_id, value
        FROM events WHERE user_id < 100
      ), daily AS (
        SELECT user_id, day, value AS day_value FROM (
          SELECT user_id, day, value,
            ROW_NUMBER() OVER (PARTITION BY user_id, day
                               ORDER BY ts DESC, event_id DESC) AS rn
          FROM ev
        ) WHERE rn = 1
      ), bounds AS (
        SELECT user_id, MIN(day) AS min_day FROM daily GROUP BY 1
      ), gmax AS (
        SELECT MAX(day) AS max_day FROM daily
      ), spine AS (
        SELECT user_id, CAST(day_ts AS DATE) AS day FROM (
          SELECT b.user_id,
            UNNEST(generate_series(CAST(b.min_day AS TIMESTAMP),
              CAST(g.max_day AS TIMESTAMP), INTERVAL 1 DAY)) AS day_ts
          FROM bounds b, gmax g
        )
      ), j AS (
        SELECT s.user_id, s.day, d.day_value
        FROM spine s LEFT JOIN daily d USING (user_id, day)
      ), f AS (
        SELECT user_id, day, day_value,
          COUNT(day_value) OVER (PARTITION BY user_id ORDER BY day) AS grp
        FROM j
      )
      SELECT user_id, CAST(day AS TIMESTAMP) AS day,
        MAX(day_value) OVER (PARTITION BY user_id, grp) AS value_filled
      FROM f ORDER BY user_id, day""",

    "q61_auc" -> """
      WITH d AS (
        SELECT CAST(n_chars AS BIGINT) AS score,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents
      ), g AS (
        SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt,
          CAST(SUM(pos) AS BIGINT) AS p
        FROM d GROUP BY 1
      ), c AS (
        SELECT score, cnt, p,
          CAST(SUM(cnt) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum
        FROM g
      ), a AS (
        SELECT CAST(SUM(p * (2 * cum - cnt + 1)) AS BIGINT) AS sum2r,
          CAST(SUM(p) AS BIGINT) AS n_pos,
          CAST(SUM(cnt - p) AS BIGINT) AS n_neg
        FROM c
      )
      SELECT n_pos, n_neg,
        CAST((sum2r - n_pos * (n_pos + 1)) * 1000000
          // (2 * n_pos * n_neg) AS BIGINT) AS auc_ppm
      FROM a""",

    "q62_calibration" -> """
      WITH s AS (
        SELECT CAST(n_chars AS BIGINT) AS score,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents
      ), b AS (
        SELECT MIN(score) AS mn, MAX(score) AS mx FROM s
      ), binned AS (
        SELECT (score - mn) * 10 // (mx - mn + 1) AS bin, pos FROM s, b
      )
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(pos) AS BIGINT) AS n_pos,
        CAST(CAST(SUM(pos) AS BIGINT) * 1000000 // COUNT(*) AS BIGINT)
          AS rate_ppm
      FROM binned GROUP BY 1 ORDER BY 1""",

    "q63_mode" -> """
      WITH counts AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events WHERE user_id < 500
        GROUP BY 1, 2
      ), ranked AS (
        SELECT user_id, event_type, cnt,
          ROW_NUMBER() OVER (PARTITION BY user_id
                             ORDER BY cnt DESC, event_type) AS rn
        FROM counts
      )
      SELECT user_id, event_type AS mode_event_type, cnt AS n_of_mode
      FROM ranked WHERE rn = 1 ORDER BY user_id""",

    "q64_assoc_rules" -> """
      WITH b AS (SELECT DISTINCT user_id, event_type FROM events),
      nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
             FROM b),
      item AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1
      ), pairs AS (
        SELECT a.event_type AS ant, c.event_type AS cons,
          CAST(COUNT(*) AS BIGINT) AS n_both
        FROM b a JOIN b c USING (user_id)
        WHERE a.event_type != c.event_type
        GROUP BY 1, 2
      )
      SELECT ant, cons, n_both,
        CAST(n_both * 1000000 // n_users AS BIGINT) AS support_ppm,
        CAST(n_both * 1000000 // ia.n AS BIGINT) AS confidence_ppm,
        CAST(n_both * n_users * 1000000 // (ia.n * ic.n) AS BIGINT)
          AS lift_ppm
      FROM pairs
      JOIN item ia ON ia.event_type = ant
      JOIN item ic ON ic.event_type = cons, nu
      ORDER BY ant, cons""",

    "q65_hits" -> {
      val G = "1048576"
      def round(t: Int) = {
        val prev = s"sc${t - 1}"
        s"""ar$t AS (
          SELECT e.dst AS id, SUM(floor(s.hub * $G) / $G) AS a
          FROM e JOIN $prev s ON e.src = s.id GROUP BY 1
        ), as$t AS (SELECT SUM(floor(a * a * $G) / $G) AS s FROM ar$t),
        an$t AS (
          SELECT id, CASE WHEN s > 0
            THEN floor(a / sqrt(s) * $G) / $G ELSE 0.0 END AS a
          FROM ar$t, as$t
        ), hr$t AS (
          SELECT e.src AS id, SUM(floor(an.a * $G) / $G) AS h
          FROM e JOIN an$t an ON e.dst = an.id GROUP BY 1
        ), hs$t AS (SELECT SUM(floor(h * h * $G) / $G) AS s FROM hr$t),
        hn$t AS (
          SELECT id, CASE WHEN s > 0
            THEN floor(h / sqrt(s) * $G) / $G ELSE 0.0 END AS h
          FROM hr$t, hs$t
        ), sc$t AS (
          SELECT n.id, COALESCE(hn.h, 0.0) AS hub,
                 COALESCE(an.a, 0.0) AS auth
          FROM nodes n LEFT JOIN hn$t hn USING (id)
                       LEFT JOIN an$t an USING (id)
        )"""
      }
      s"""
      WITH e AS (
        SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
          CAST(l_suppkey + 1000000 AS BIGINT) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      ), nodes AS (
        SELECT src AS id FROM e UNION SELECT dst FROM e
      ), sc0 AS (SELECT id, 1.0 AS hub, 1.0 AS auth FROM nodes),
      ${round(1)}, ${round(2)}
      SELECT id, hub, auth FROM sc2
      ORDER BY auth DESC, id LIMIT 50"""
    },

    "q66_rank_family" -> """
      SELECT o_orderkey, o_orderpriority, o_totalprice,
        percent_rank() OVER w AS pct_rank,
        cume_dist() OVER w AS cume,
        CAST(ntile(4) OVER w AS BIGINT) AS quartile
      FROM orders WHERE o_orderkey % 50 = 0
      WINDOW w AS (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey)
      ORDER BY o_orderkey""",

    "q67_seq_pattern" -> """
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(CASE WHEN regexp_matches(
            string_agg(event_type, '>' ORDER BY ts, event_id),
            'view(>\w+)*>purchase(>\w+)*>error')
          THEN 1 ELSE 0 END AS BIGINT) AS has_journey
      FROM events WHERE user_id < 300
      GROUP BY user_id ORDER BY user_id""",

    "q68_cov_matrix" -> {
      val xs = Seq("l_quantity" -> "x1", "l_extendedprice" -> "x2",
        "l_discount" -> "x3", "l_tax" -> "x4")
      val pairs = for { i <- xs.indices; j <- xs.indices if i <= j }
        yield (xs(i)._2, xs(j)._2)
      def d(e: String) = s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"
      val rows = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS var_a, '$b' AS var_b,
          ((${d(s"p_${a}_$b")} - ${d(s"s_$a")} * ${d(s"s_$b")} / n) / n)
            / 10000.0 AS cov FROM a"""
      }.mkString("\n        UNION ALL ")
      s"""
      WITH c AS (
        SELECT ${xs.map { case (c0, a) =>
          s"CAST(round($c0 * 100) AS HUGEINT) AS $a" }.mkString(", ")}
        FROM lineitem
      ), a AS (
        SELECT COUNT(*)::DOUBLE AS n,
          ${xs.map { case (_, a) => s"SUM($a) AS s_$a" }.mkString(", ")},
          ${pairs.map { case (a, b) => s"SUM($a * $b) AS p_${a}_$b" }
            .mkString(", ")}
        FROM c
      )
      SELECT var_a, var_b, cov FROM ($rows)
      ORDER BY var_a, var_b"""
    },

    "q71_skyline" -> """
      WITH pts AS (
        SELECT p_partkey,
          CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
          CAST(p_size AS BIGINT) AS size
        FROM part WHERE p_partkey % 4 = 0
      )
      SELECT p.p_partkey, p.price_cents, p.size
      FROM pts p
      WHERE NOT EXISTS (
        SELECT 1 FROM pts q
        WHERE q.price_cents >= p.price_cents AND q.size <= p.size
          AND (q.price_cents > p.price_cents OR q.size < p.size)
      )
      ORDER BY p.p_partkey""",

    "q70_decile_lift" -> """
      WITH s AS (
        SELECT CAST(n_chars AS BIGINT) AS score,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents
      ), bys AS (
        SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt,
          CAST(SUM(pos) AS BIGINT) AS p
        FROM s GROUP BY 1
      ), tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS nn, CAST(SUM(p) AS BIGINT) AS pp
        FROM bys
      ), cumed AS (
        SELECT score, cnt, p,
          SUM(cnt) OVER (ORDER BY score DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM bys
      ), dec AS (
        SELECT CAST((cum - cnt) * 10 // nn AS BIGINT) AS decile,
          cnt, p, nn, pp
        FROM cumed, tot
      )
      SELECT decile, CAST(SUM(cnt) AS BIGINT) AS n,
        CAST(SUM(p) AS BIGINT) AS n_pos,
        CAST(CAST(SUM(p) AS BIGINT) * 1000000 // CAST(SUM(cnt) AS BIGINT)
          AS BIGINT) AS rate_ppm,
        CAST(CAST(SUM(p) AS BIGINT) * MAX(nn) * 1000000
          // (CAST(SUM(cnt) AS BIGINT) * MAX(pp)) AS BIGINT) AS lift_ppm
      FROM dec GROUP BY decile ORDER BY decile""",

    "q69_market_share" -> """
      WITH vol AS (
        SELECT year(o_orderdate) AS o_year,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * CAST(1.0 - l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))
            AS volume,
          n2.n_name AS supp_nation
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        JOIN orders ON l_orderkey = o_orderkey
          AND o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      )
      SELECT o_year,
        CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume
          ELSE CAST(0 AS DECIMAL(38,4)) END) AS VARCHAR) AS DOUBLE)
          AS nat_volume,
        CAST(CAST(SUM(volume) AS VARCHAR) AS DOUBLE) AS total_volume,
        CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume
          ELSE CAST(0 AS DECIMAL(38,4)) END) AS VARCHAR) AS DOUBLE)
          / CAST(CAST(SUM(volume) AS VARCHAR) AS DOUBLE) AS mkt_share
      FROM vol GROUP BY o_year ORDER BY o_year""",

    "cur15_curriculum" -> s"""
      WITH qd AS (
        SELECT doc_id, n_chars,
          CAST(least(floor((${TextQueries.qualitySql}) * 10), 9) AS INT)
            AS bin,
          ('0x' || substr(md5('cur15:' || CAST(doc_id AS VARCHAR)), 1, 15))
            ::BIGINT AS pri
        FROM documents
      ), bcounts AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_bin FROM qd GROUP BY 1
      ), ep AS (SELECT unnest([1, 2, 3]) AS epoch),
      bplan AS (
        SELECT bin, n_bin, epoch,
          CAST(CASE WHEN epoch = 1 THEN bin + 1
            WHEN epoch = 2 THEN (bin + 1) * (bin + 1)
            ELSE (bin + 1) * (bin + 1) * (bin + 1) END AS BIGINT) AS w
        FROM bcounts, ep
      ), btot AS (
        SELECT epoch, SUM(w * n_bin) AS wtot, SUM(n_bin) AS ntot
        FROM bplan GROUP BY 1
      ), btgt AS (
        SELECT p.epoch, p.bin,
          CAST(LEAST(p.n_bin, ntot // 2 * w * n_bin // wtot) AS BIGINT)
            AS n_target
        FROM bplan p JOIN btot USING (epoch)
      ), brk AS (
        SELECT doc_id, n_chars, bin,
          ROW_NUMBER() OVER (PARTITION BY bin ORDER BY pri, doc_id) AS rk
        FROM qd
      ), bsel AS (
        SELECT t.epoch, r.bin, CAST(COUNT(*) AS BIGINT) AS n_selected,
          CAST(SUM(n_chars) AS BIGINT) AS chars_selected
        FROM brk r JOIN btgt t ON t.bin = r.bin AND r.rk <= t.n_target
        GROUP BY 1, 2
      )
      SELECT s.epoch, s.bin, t.n_target, s.n_selected, s.chars_selected
      FROM bsel s JOIN btgt t ON t.epoch = s.epoch AND t.bin = s.bin
      ORDER BY s.epoch, s.bin""",

    "tx25_zipf" -> raw"""
      WITH ztoks AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents
      ), zfreq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS f FROM ztoks GROUP BY 1
      ), ztop AS (
        SELECT f, tok, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS rank
        FROM zfreq ORDER BY f DESC, tok LIMIT 100
      ), zp AS (
        SELECT CAST(round(ln(rank::DOUBLE) * 1048576) AS BIGINT) AS x,
               CAST(round(ln(f::DOUBLE) * 1048576) AS BIGINT) AS y
        FROM ztop
      ), za AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sx2
        FROM zp
      )
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM zfreq) AS vocab,
        CAST(n AS BIGINT) AS n_top,
        CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
          / CAST(CAST(n * sx2 - sx * sx AS VARCHAR) AS DOUBLE) AS slope
      FROM za""",

    "ev10_stream_pca_store" -> {
      val G = "1048576"
      val iters = 3
      def round(t: Int) = s"""cu$t AS (
          SELECT cc.d, SUM(floor(cc.c * v.v * $G) / $G) AS u
          FROM cc JOIN cv${t - 1} v ON v.d = cc.e GROUP BY cc.d
        ), cq$t AS (SELECT SUM(floor(u * u * $G) / $G) AS sq FROM cu$t),
        cv$t AS (
          SELECT cu.d, CASE WHEN cq.sq > 0
            THEN cu.u / sqrt(cq.sq) ELSE pv.v END AS v
          FROM cu$t cu JOIN cv${t - 1} pv USING (d), cq$t cq
        )"""
      s"""
      WITH pdims AS (SELECT unnest(generate_series(1, 64)) AS d),
      cex AS (
        SELECT vec_id, d,
          CAST(floor(embedding[d]::DOUBLE * $G) AS HUGEINT) AS xq,
          embedding[d]::DOUBLE AS x
        FROM embeddings, pdims
      ), cn AS (
        SELECT COUNT(*)::HUGEINT AS n, COUNT(*)::DOUBLE AS nd
        FROM embeddings
      ), cst AS (SELECT d, SUM(xq) AS s FROM cex GROUP BY d),
      cp AS (
        SELECT a.d AS d, b.d AS e, SUM(a.xq * b.xq) AS p
        FROM cex a JOIN cex b ON a.vec_id = b.vec_id GROUP BY 1, 2
      ), cc AS (
        SELECT cp.d, cp.e,
          CAST(CAST(cn.n * cp.p - sa.s * sb.s AS VARCHAR) AS DOUBLE)
            / cn.nd / cn.nd / $G / $G AS c
        FROM cp JOIN cst sa ON sa.d = cp.d
                JOIN cst sb ON sb.d = cp.e, cn
      ), cm AS (
        SELECT d, CAST(CAST(s AS VARCHAR) AS DOUBLE)
          / (SELECT nd FROM cn) / $G AS m
        FROM cst
      ), cv0 AS (SELECT d, 1.0 / sqrt(64.0) AS v FROM pdims),
      ${(1 to iters).map(round).mkString(", ")},
      cmd AS (
        SELECT SUM(floor(cm.m * v.v * $G) / $G) AS md
        FROM cm JOIN cv$iters v USING (d)
      )
      SELECT e.vec_id,
        SUM(floor(e.x * v.v * $G) / $G) - (SELECT md FROM cmd) AS proj
      FROM cex e JOIN cv$iters v USING (d)
      GROUP BY e.vec_id ORDER BY e.vec_id"""
    },

    "ev9_stream_enriched" -> """
      SELECT c_mktsegment AS segment, event_type,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
          AS sum_value
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "q72_kcore" -> {
      def round(t: Int) = s"""k$t AS (
          SELECT u FROM u${t - 1} GROUP BY u HAVING COUNT(*) >= 6
        ), u$t AS (
          SELECT u, v FROM u${t - 1}
          WHERE u IN (SELECT u FROM k$t) AND v IN (SELECT u FROM k$t)
        )"""
      s"""
      WITH e AS (
        SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
          CAST(l_suppkey + 1000000 AS BIGINT) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey % 10 = 0
      ), u0 AS (
        SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e
      ), ${(1 to 4).map(round).mkString(", ")}
      SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS core_deg
      FROM u4 GROUP BY u ORDER BY id"""
    },

    "q73_interval_union" -> """
      WITH iv AS (
        SELECT user_id, event_id, epoch_us(ts) AS s,
          epoch_us(ts) + (event_id % 300 + 60) * 1000000 AS e
        FROM events WHERE user_id < 400
      ), flagged AS (
        SELECT user_id, event_id, s, e,
          CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS new_island
        FROM (
          SELECT user_id, event_id, s, e,
            MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
          FROM iv)
      ), islands AS (
        SELECT user_id, s, e,
          SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM flagged
      ), per_island AS (
        SELECT user_id, island, COUNT(*) AS n_iv,
          MAX(e) - MIN(s) AS len_us
        FROM islands GROUP BY 1, 2
      )
      SELECT user_id, CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
        CAST(COUNT(*) AS BIGINT) AS n_islands,
        CAST(SUM(len_us) AS BIGINT) AS covered_us
      FROM per_island GROUP BY user_id ORDER BY user_id""",

    "q74_cusum" -> """
      WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
      ), tot AS (
        SELECT CAST(SUM(n_orders) AS BIGINT) AS total,
          CAST(COUNT(*) AS BIGINT) AS n_days
        FROM daily
      ), scored AS (
        SELECT CAST(day AS TIMESTAMP) AS day, n_orders,
          n_days * CAST(SUM(n_orders) OVER w AS BIGINT)
            - CAST(COUNT(*) OVER w AS BIGINT) * total AS cusum_scaled
        FROM daily, tot
        WINDOW w AS (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      )
      SELECT day, n_orders, cusum_scaled,
        CAST(CASE WHEN abs(cusum_scaled) =
          (SELECT MAX(abs(cusum_scaled)) FROM scored)
          THEN 1 ELSE 0 END AS BIGINT) AS is_peak
      FROM scored ORDER BY day""",

    "q75_weighted_median" -> """
      WITH w AS (
        SELECT l_returnflag AS flag,
          CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
          CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem
      ), byp AS (
        SELECT flag, cents, CAST(SUM(qty) AS BIGINT) AS wt
        FROM w GROUP BY 1, 2
      ), cum AS (
        SELECT flag, cents, wt,
          CAST(SUM(wt) OVER (PARTITION BY flag ORDER BY cents
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cumw
        FROM byp
      ), tot AS (
        SELECT flag, CAST(SUM(wt) AS BIGINT) AS tot_weight
        FROM byp GROUP BY 1
      )
      SELECT c.flag, CAST(MIN(c.cents) AS BIGINT) AS median_cents,
        t.tot_weight
      FROM cum c JOIN tot t ON c.flag = t.flag
      WHERE c.cumw * 2 >= t.tot_weight
      GROUP BY c.flag, t.tot_weight ORDER BY c.flag""",

    "q76_chi2" -> """
      WITH cells AS (
        SELECT event_type, c_mktsegment AS segment,
          CAST(COUNT(*) AS HUGEINT) AS obs
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY 1, 2
      ), rt AS (
        SELECT event_type, SUM(obs) AS rt FROM cells GROUP BY 1
      ), ct AS (
        SELECT segment, SUM(obs) AS ct FROM cells GROUP BY 1
      ), n AS (SELECT SUM(obs) AS n FROM cells),
      terms AS (
        SELECT CAST((obs * n - rt * ct) * (obs * n - rt * ct) * 1000000
            // (n * rt * ct) AS BIGINT) AS term_ppm,
          CAST(n AS BIGINT) AS n, event_type, segment
        FROM cells JOIN rt USING (event_type) JOIN ct USING (segment), n
      )
      SELECT MAX(n) AS n_pairs,
        CAST((COUNT(DISTINCT event_type) - 1)
          * (COUNT(DISTINCT segment) - 1) AS BIGINT) AS dof,
        CAST(SUM(term_ppm) AS BIGINT) AS chi2_ppm
      FROM terms""",

    "q77_ewma" -> """
      WITH RECURSIVE daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
      ), numbered AS (
        SELECT day, n_orders,
          ROW_NUMBER() OVER (ORDER BY day) AS k
        FROM daily
      ), ewma(k, e) AS (
        SELECT k, n_orders * 1048576 FROM numbered WHERE k = 1
        UNION ALL
        SELECT d.k, (d.n_orders * 1048576 + e.e) // 2
        FROM ewma e JOIN numbered d ON d.k = e.k + 1
      )
      SELECT CAST(n.day AS TIMESTAMP) AS day, n.n_orders,
        CAST(e.e AS DOUBLE) / 1048576.0 AS ewma
      FROM numbered n JOIN ewma e USING (k) ORDER BY day""",

    // l' is needed twice in the step; the CTE repeats the expression
    // (both are exact integers, so the repetition is safe).
    "q119_holt_trend" -> """
      WITH RECURSIVE daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
      ), numbered AS (
        SELECT day, n_orders,
          ROW_NUMBER() OVER (ORDER BY day) AS k
        FROM daily
      ), holt(k, l, b) AS (
        SELECT k, n_orders * 1048576, CAST(0 AS BIGINT)
        FROM numbered WHERE k = 1
        UNION ALL
        SELECT d.k,
          (d.n_orders * 1048576 + (h.l + h.b)) // 2,
          (((d.n_orders * 1048576 + (h.l + h.b)) // 2) - h.l + h.b) // 2
        FROM holt h JOIN numbered d ON d.k = h.k + 1
      )
      SELECT CAST(n.day AS TIMESTAMP) AS day, n.n_orders,
        CAST(h.l AS DOUBLE) / 1048576.0 AS level,
        CAST(h.b AS DOUBLE) / 1048576.0 AS trend,
        CAST(h.l + h.b AS DOUBLE) / 1048576.0 AS forecast
      FROM numbered n JOIN holt h USING (k) ORDER BY day""",

    "q78_bootstrap" -> """
      WITH o AS (
        SELECT o_orderkey,
          CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
      ), reps AS (SELECT unnest(generate_series(0, 15)) AS replica),
      weighted AS (
        SELECT replica, cents,
          CASE WHEN slot <= 2 THEN 0 WHEN slot <= 5 THEN 1
            WHEN slot = 6 THEN 2 ELSE 3 END AS w
        FROM (
          SELECT replica, cents,
            ('0x' || substr(md5('q78:' || CAST(replica AS VARCHAR) || ':'
              || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 8 AS slot
          FROM o, reps)
      ), rep_means AS (
        SELECT replica,
          CAST(SUM(w * cents) // SUM(w) AS BIGINT) AS mean_cents
        FROM weighted GROUP BY 1
      ), ranked AS (
        SELECT mean_cents,
          ROW_NUMBER() OVER (ORDER BY mean_cents, replica) AS rk
        FROM rep_means
      )
      SELECT CAST(COUNT(*) AS BIGINT) AS n_replicas,
        CAST(MIN(CASE WHEN rk = 2 THEN mean_cents END) AS BIGINT)
          AS mean_lo_cents,
        CAST(MIN(CASE WHEN rk = 15 THEN mean_cents END) AS BIGINT)
          AS mean_hi_cents,
        (SELECT CAST(SUM(cents) // COUNT(*) AS BIGINT) FROM o)
          AS mean_point_cents
      FROM ranked""",

    "cur16_group_kfold" -> """
      WITH by_source AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM documents GROUP BY 1
      )
      SELECT ('0x' || substr(md5('cur16:' || source), 1, 15))::BIGINT % 5
          AS fold,
        CAST(COUNT(*) AS BIGINT) AS n_sources,
        CAST(SUM(n_docs) AS BIGINT) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        CAST(MAX(n_docs) AS BIGINT) AS max_source_docs
      FROM by_source GROUP BY 1 ORDER BY 1""",

    "q79_rolling_median" -> """
      WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
      ), rolled AS (
        SELECT day, n_orders,
          list(n_orders) OVER (ORDER BY day
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS win
        FROM daily
      )
      SELECT CAST(day AS TIMESTAMP) AS day, n_orders,
        CAST(len(win) AS BIGINT) AS n_window,
        CAST(list_sort(win)[(len(win) + 1) // 2] AS BIGINT)
          AS rolling_median
      FROM rolled ORDER BY day""",

    "q80_langid_prf" -> s"""
      ${TextQueries.scoresCte}, cells AS (
        SELECT d.lang, (${TextQueries.langCaseSql}) AS pred,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM scores JOIN documents d USING (doc_id) GROUP BY 1, 2
      ), truth AS (
        SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true FROM cells GROUP BY 1
      ), preds AS (
        SELECT pred AS lang, CAST(SUM(n) AS BIGINT) AS n_pred
        FROM cells GROUP BY 1
      ), diag AS (
        SELECT lang, n AS n_correct FROM cells WHERE lang = pred
      ), base AS (
        SELECT t.lang, t.n_true,
          COALESCE(p.n_pred, 0) AS n_pred,
          COALESCE(d.n_correct, 0) AS n_correct
        FROM truth t LEFT JOIN preds p USING (lang)
        LEFT JOIN diag d USING (lang)
      ), pr AS (
        SELECT lang, n_true, n_pred, n_correct,
          CAST(CASE WHEN n_pred = 0 THEN 0
            ELSE n_correct * 1000000 // n_pred END AS BIGINT)
            AS precision_ppm,
          CAST(n_correct * 1000000 // n_true AS BIGINT) AS recall_ppm
        FROM base
      )
      SELECT lang, n_true, n_pred, n_correct, precision_ppm, recall_ppm,
        CAST(CASE WHEN precision_ppm + recall_ppm = 0 THEN 0
          ELSE 2 * precision_ppm * recall_ppm
            // (precision_ppm + recall_ppm) END AS BIGINT) AS f1_ppm
      FROM pr ORDER BY lang""",

    "q81_seasonal_residuals" -> """
      WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
      ), dailyd AS (
        SELECT day, n_orders, CAST(dayofweek(day) AS BIGINT) AS dow
        FROM daily
      ), prof AS (
        SELECT dow, CAST(SUM(n_orders) AS BIGINT) AS dow_sum,
          CAST(COUNT(*) AS BIGINT) AS dow_days
        FROM dailyd GROUP BY 1
      )
      SELECT CAST(d.day AS TIMESTAMP) AS day, d.dow, d.n_orders,
        p.dow_days, d.n_orders * p.dow_days - p.dow_sum AS resid_scaled
      FROM dailyd d JOIN prof p USING (dow)
      ORDER BY day""",

    "q82_copurchase" -> """
      WITH e AS (
        SELECT DISTINCT CAST(o_custkey AS BIGINT) AS cust,
          CAST(l_suppkey AS BIGINT) AS supp
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey % 10 = 0
      ), deg AS (
        SELECT supp, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1
      ), pairs AS (
        SELECT a.supp AS supp_a, b.supp AS supp_b,
          CAST(COUNT(*) AS BIGINT) AS n_common
        FROM e a JOIN e b ON a.cust = b.cust AND a.supp < b.supp
        GROUP BY 1, 2 HAVING COUNT(*) >= 3
      )
      SELECT p.supp_a, p.supp_b, p.n_common,
        da.deg AS deg_a, db.deg AS deg_b,
        CAST(p.n_common * 1000000
          // (da.deg + db.deg - p.n_common) AS BIGINT)
          AS overlap_jaccard_ppm
      FROM pairs p
      JOIN deg da ON da.supp = p.supp_a
      JOIN deg db ON db.supp = p.supp_b
      ORDER BY p.supp_a, p.supp_b""",

    "q83_survival" -> """
      WITH ev AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
      ), gmax AS (SELECT MAX(day) AS max_day FROM ev),
      users AS (
        SELECT
          CAST(date_diff('day', MIN(day), MAX(day)) // 7 AS BIGINT)
            AS week,
          CAST(CASE WHEN MAX(day) > (SELECT max_day FROM gmax)
            - INTERVAL 7 DAY THEN 1 ELSE 0 END AS BIGINT) AS censored
        FROM ev GROUP BY user_id
      ), by_week AS (
        SELECT week, CAST(SUM(1 - censored) AS BIGINT) AS d,
          CAST(SUM(censored) AS BIGINT) AS c
        FROM users GROUP BY 1
      ), tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS n_users FROM by_week),
      cum AS (
        SELECT week, d, c,
          n_users - COALESCE(CAST(SUM(d + c) OVER (ORDER BY week
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
            0) AS n_at_risk
        FROM by_week, tot
      ), lf AS (
        SELECT week, d, c, n_at_risk,
          CASE WHEN n_at_risk = d THEN 0 ELSE
            CAST(round(ln((n_at_risk - d)::DOUBLE) * 1048576) AS BIGINT)
            - CAST(round(ln(n_at_risk::DOUBLE) * 1048576) AS BIGINT)
          END AS lf,
          MAX(CASE WHEN n_at_risk = d THEN 1 ELSE 0 END) OVER
            (ORDER BY week
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zeroed
        FROM cum
      )
      SELECT week, n_at_risk, d AS n_churned, c AS n_censored,
        CASE WHEN zeroed = 1 THEN NULL ELSE
          CAST(SUM(lf) OVER (ORDER BY week
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        END AS log_surv_grid
      FROM lf ORDER BY week""",

    "q84_streaks" -> """
      WITH days AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events WHERE user_id < 500
      ), numbered AS (
        SELECT user_id,
          CAST(date_diff('day', DATE '2024-01-01', day) AS BIGINT) AS dn,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
        FROM days
      ), streaks AS (
        SELECT user_id, dn - rn AS grp, CAST(COUNT(*) AS BIGINT) AS len
        FROM numbered GROUP BY 1, 2
      )
      SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
        CAST(COUNT(*) AS BIGINT) AS n_streaks,
        CAST(MAX(len) AS BIGINT) AS max_streak
      FROM streaks GROUP BY user_id ORDER BY user_id""",

    "q85_funnel_time" -> """
      WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS us FROM events
      ), fv AS (
        SELECT user_id, MIN(us) AS view_us FROM ev
        WHERE event_type = 'view' GROUP BY 1
      ), conv AS (
        SELECT e.user_id,
          CAST((MIN(e.us) - fv.view_us) // 1000000 AS BIGINT) AS delta_s
        FROM ev e JOIN fv ON e.user_id = fv.user_id
        WHERE e.event_type = 'purchase' AND e.us > fv.view_us
        GROUP BY e.user_id, fv.view_us
      ), seg AS (
        SELECT c_mktsegment AS segment, delta_s
        FROM conv JOIN customer ON user_id = c_custkey
      ), byd AS (
        SELECT segment, delta_s, CAST(COUNT(*) AS BIGINT) AS w
        FROM seg GROUP BY 1, 2
      ), tot AS (
        SELECT segment, CAST(SUM(w) AS BIGINT) AS n_converted
        FROM byd GROUP BY 1
      ), cum AS (
        SELECT segment, delta_s, w,
          CAST(SUM(w) OVER (PARTITION BY segment ORDER BY delta_s
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cumw
        FROM byd
      )
      SELECT c.segment, t.n_converted,
        CAST(MIN(c.delta_s) AS BIGINT) AS median_delta_s
      FROM cum c JOIN tot t ON c.segment = t.segment
      WHERE c.cumw * 2 >= t.n_converted
      GROUP BY c.segment, t.n_converted ORDER BY c.segment""",

    "q86_rfm" -> {
      def th(metric: String) = s"""th_$metric AS (
        SELECT i, MIN(v) AS t FROM (
          SELECT v, cum, n, unnest([1, 2, 3, 4]) AS i FROM (
            SELECT $metric AS v,
              CAST(SUM(COUNT(*)) OVER (ORDER BY $metric
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum,
              CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS n
            FROM rfm GROUP BY $metric
          )
        ) WHERE cum * 5 >= i * n GROUP BY i
      )"""
      s"""
      WITH gmax AS (
        SELECT MAX(CAST(date_trunc('day', o_orderdate) AS DATE)) AS max_day
        FROM orders
      ), rfm AS (
        SELECT o_custkey,
          CAST(date_diff('day',
            CAST(date_trunc('day', MAX(o_orderdate)) AS DATE),
            (SELECT max_day FROM gmax)) AS BIGINT) AS r,
          CAST(COUNT(*) AS BIGINT) AS f,
          CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS m
        FROM orders GROUP BY o_custkey
      ), ${th("r")}, ${th("f")}, ${th("m")},
      binned AS (
        SELECT
          1 + (SELECT COUNT(*) FROM th_r WHERE t < rfm.r) AS r_bin,
          1 + (SELECT COUNT(*) FROM th_f WHERE t < rfm.f) AS f_bin,
          1 + (SELECT COUNT(*) FROM th_m WHERE t < rfm.m) AS m_bin,
          m
        FROM rfm
      )
      SELECT CAST(r_bin AS BIGINT) AS r_bin, CAST(f_bin AS BIGINT) AS f_bin,
        CAST(m_bin AS BIGINT) AS m_bin,
        CAST(COUNT(*) AS BIGINT) AS n_customers,
        CAST(SUM(m) AS BIGINT) AS m_cents
      FROM binned GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""
    },

    "q87_benford" -> """
      WITH digits AS (
        SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
          AS digit
        FROM (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders
        ) WHERE cents >= 1
      ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM digits)
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs,
        CAST(COUNT(*) * 1000000 // n AS BIGINT) AS obs_ppm,
        CAST(round(log10(1.0 + 1.0 / digit::DOUBLE) * 1000000) AS BIGINT)
          AS benford_ppm,
        CAST(COUNT(*) * 1000000 // n AS BIGINT)
          - CAST(round(log10(1.0 + 1.0 / digit::DOUBLE) * 1000000)
            AS BIGINT) AS diff_ppm
      FROM digits, tot GROUP BY digit, n ORDER BY digit""",

    "q88_join_skew_profile" -> """
      WITH fo AS (
        SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS f_orders
        FROM orders GROUP BY 1
      ), fl AS (
        SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS f_lines
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
      ), prods AS (
        SELECT k, f_orders, f_lines, f_orders * f_lines AS join_rows
        FROM fo JOIN fl USING (k)
      ), tot AS (
        SELECT CAST(SUM(join_rows) AS BIGINT) AS total_join_rows
        FROM prods
      )
      SELECT k, f_orders, f_lines, join_rows,
        CAST(join_rows * 1000000 // total_join_rows AS BIGINT)
          AS share_ppm
      FROM prods, tot
      ORDER BY join_rows DESC, k LIMIT 20""",

    "q89_mutual_info" -> """
      WITH cells AS (
        SELECT event_type, c_mktsegment AS segment,
          CAST(COUNT(*) AS BIGINT) AS n_xy
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY 1, 2
      ), rx AS (
        SELECT event_type, CAST(SUM(n_xy) AS BIGINT) AS n_x
        FROM cells GROUP BY 1
      ), cy AS (
        SELECT segment, CAST(SUM(n_xy) AS BIGINT) AS n_y
        FROM cells GROUP BY 1
      ), n AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM cells),
      terms AS (
        SELECT n_xy, n.n,
          n_xy * (CAST(round(ln(n_xy::DOUBLE) * 1048576) AS BIGINT)
            + CAST(round(ln(n.n::DOUBLE) * 1048576) AS BIGINT)
            - CAST(round(ln(n_x::DOUBLE) * 1048576) AS BIGINT)
            - CAST(round(ln(n_y::DOUBLE) * 1048576) AS BIGINT)) AS term
        FROM cells JOIN rx USING (event_type) JOIN cy USING (segment), n
      )
      SELECT MAX(n) AS n_pairs, CAST(SUM(term) AS BIGINT) AS mi_grid,
        CAST(CAST(SUM(term) AS BIGINT) AS DOUBLE) / MAX(n)::DOUBLE
          / 1048576.0 AS mi_nats
      FROM terms""",

    "cur17_neyman_alloc" -> """
      WITH st AS (
        SELECT c_mktsegment AS stratum, CAST(COUNT(*) AS BIGINT) AS n_h,
          SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT))
            AS s1,
          SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT)
            * CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT))
            AS s2
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1
      ), sig AS (
        SELECT stratum, n_h,
          sqrt((CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
            - CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
              * CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n_h::DOUBLE)
            / n_h::DOUBLE) AS sigma_cents
        FROM st
      ), wg AS (
        SELECT stratum, n_h, sigma_cents,
          CAST(floor(n_h::DOUBLE * sigma_cents / 1048576.0) AS BIGINT)
            AS w_grid
        FROM sig
      ), tot AS (
        SELECT CAST(SUM(w_grid) AS BIGINT) AS w_tot,
          CAST(SUM(n_h) AS BIGINT) AS n_tot
        FROM wg
      )
      SELECT stratum, n_h, sigma_cents,
        CAST(1000 * w_grid // w_tot AS BIGINT) AS neyman_alloc,
        CAST(1000 * n_h // n_tot AS BIGINT) AS proportional_alloc
      FROM wg, tot ORDER BY stratum""",

    "q90_lead_lag" -> """
      WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
          CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
            AS BIGINT) AS x,
          CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS y
        FROM events GROUP BY 1
      ), lags AS (
        SELECT CAST(unnest(generate_series(-7, 7)) AS BIGINT) AS lag
      ), joined AS (
        SELECT l.lag, a.x, b.y
        FROM daily a CROSS JOIN lags l
        JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)
      ), sums AS (
        SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_days,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(x * y) AS BIGINT) AS sxy,
          CAST(SUM(x * x) AS BIGINT) AS sx2,
          CAST(SUM(y * y) AS BIGINT) AS sy2
        FROM joined GROUP BY 1
      )
      SELECT lag, n_days,
        CAST(n_days * sxy - sx * sy AS DOUBLE)
          / (sqrt(CAST(n_days * sx2 - sx * sx AS DOUBLE))
             * sqrt(CAST(n_days * sy2 - sy * sy AS DOUBLE))) AS r
      FROM sums ORDER BY lag""",

    "q91_abc_class" -> """
      WITH rev AS (
        SELECT l_partkey,
          CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS BIGINT) AS rev_cents
        FROM lineitem GROUP BY 1
      ), tot AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS tot FROM rev),
      cumd AS (
        SELECT l_partkey, rev_cents,
          CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum,
          tot
        FROM rev, tot
      ), classed AS (
        SELECT CASE WHEN cum * 100 <= tot * 80 THEN 'A'
          WHEN cum * 100 <= tot * 95 THEN 'B' ELSE 'C' END AS cls,
          rev_cents, tot
        FROM cumd
      )
      SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
        CAST(SUM(rev_cents) AS BIGINT) AS rev_cents,
        CAST(CAST(SUM(rev_cents) AS BIGINT) * 1000000 // MAX(tot)
          AS BIGINT) AS rev_share_ppm
      FROM classed GROUP BY cls ORDER BY cls""",

    "q92_ship_delay" -> """
      WITH lags AS (
        SELECT CAST(date_diff('day',
          CAST(date_trunc('day', o_orderdate) AS DATE),
          CAST(date_trunc('day', l_shipdate) AS DATE)) AS BIGINT)
          AS delay_days
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      ), byd AS (
        SELECT delay_days, CAST(COUNT(*) AS BIGINT) AS c
        FROM lags GROUP BY 1
      ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
          CAST(SUM(delay_days * c) AS BIGINT) AS s
        FROM byd
      ), cumd AS (
        SELECT delay_days, c,
          CAST(SUM(c) OVER (ORDER BY delay_days
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum, n, s
        FROM byd, tot
      )
      SELECT MAX(n) AS n_lines,
        CAST(MAX(s * 100 // n) AS BIGINT) AS mean_centidays,
        CAST(MIN(CASE WHEN cum * 100 >= n * 50 THEN delay_days END)
          AS BIGINT) AS p50_days,
        CAST(MIN(CASE WHEN cum * 100 >= n * 90 THEN delay_days END)
          AS BIGINT) AS p90_days,
        CAST(MIN(CASE WHEN cum * 100 >= n * 99 THEN delay_days END)
          AS BIGINT) AS p99_days
      FROM cumd""",

    "q93_cohort_ltv" -> """
      WITH ev AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
          event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
      ), fd AS (
        SELECT user_id, MIN(day) AS first_day FROM ev GROUP BY 1
      ), cells AS (
        SELECT
          CAST(date_diff('day', DATE '2024-01-01', fd.first_day) // 7
            AS BIGINT) AS cohort_week,
          CAST(date_diff('day', fd.first_day, e.day) // 7 AS BIGINT)
            AS age_week,
          CAST(SUM(e.cents) AS BIGINT) AS rev_cents,
          CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_buyers
        FROM ev e JOIN fd ON e.user_id = fd.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2
      ), sizes AS (
        SELECT CAST(date_diff('day', DATE '2024-01-01', first_day) // 7
            AS BIGINT) AS cohort_week,
          CAST(COUNT(*) AS BIGINT) AS cohort_size
        FROM fd GROUP BY 1
      ), cum AS (
        SELECT cohort_week, age_week, rev_cents, n_buyers,
          CAST(SUM(rev_cents) OVER (PARTITION BY cohort_week
            ORDER BY age_week
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_rev_cents
        FROM cells
      )
      SELECT c.cohort_week, c.age_week, s.cohort_size, c.n_buyers,
        c.rev_cents, c.cum_rev_cents,
        CAST(c.cum_rev_cents // s.cohort_size AS BIGINT)
          AS ltv_cents_per_user
      FROM cum c JOIN sizes s USING (cohort_week)
      ORDER BY c.cohort_week, c.age_week""",

    "q94_new_vs_returning" -> """
      WITH ud AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE)
          AS day
        FROM events
      ), fd AS (
        SELECT user_id, MIN(day) AS first_day FROM ud GROUP BY 1
      )
      SELECT CAST(day AS TIMESTAMP) AS day,
        CAST(COUNT(*) AS BIGINT) AS n_active,
        CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
          AS n_new,
        CAST(COUNT(*) - SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END)
          AS BIGINT) AS n_returning,
        CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) * 1000000
          // COUNT(*) AS BIGINT) AS new_share_ppm
      FROM ud JOIN fd USING (user_id)
      GROUP BY day ORDER BY day""",

    "q95_think_time" -> """
      WITH ev AS (
        SELECT user_id, event_id, epoch_us(ts) AS us FROM events
      ), gaps AS (
        SELECT CAST((us - LAG(us) OVER (PARTITION BY user_id
          ORDER BY us, event_id)) // 1000000 AS BIGINT) AS gap_s
        FROM ev
      ), byg AS (
        SELECT gap_s, CAST(COUNT(*) AS BIGINT) AS c
        FROM gaps WHERE gap_s IS NOT NULL GROUP BY 1
      ), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM byg),
      cumd AS (
        SELECT gap_s, c,
          CAST(SUM(c) OVER (ORDER BY gap_s
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum, n
        FROM byg, tot
      )
      SELECT MAX(n) AS n_gaps,
        CAST(MIN(CASE WHEN cum * 100 >= n * 50 THEN gap_s END) AS BIGINT)
          AS p50_s,
        CAST(MIN(CASE WHEN cum * 100 >= n * 90 THEN gap_s END) AS BIGINT)
          AS p90_s,
        CAST(MIN(CASE WHEN cum * 100 >= n * 99 THEN gap_s END) AS BIGINT)
          AS p99_s
      FROM cumd""",

    "q96_peak_concurrency" -> """
      WITH iv AS (
        SELECT event_id, CAST(date_trunc('day', ts) AS DATE) AS day,
          epoch_us(ts) AS s,
          epoch_us(ts) + (event_id % 300 + 60) * 1000000 AS e
        FROM events
      ), bounds AS (
        SELECT day, s AS us, CAST(1 AS BIGINT) AS delta, event_id FROM iv
        UNION ALL
        SELECT day, e AS us, CAST(-1 AS BIGINT) AS delta, event_id FROM iv
      ), swept AS (
        SELECT day,
          CAST(SUM(delta) OVER (PARTITION BY day
            ORDER BY us, delta DESC, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS open
        FROM bounds
      )
      SELECT CAST(day AS TIMESTAMP) AS day,
        CAST(COUNT(*) // 2 AS BIGINT) AS n_intervals,
        CAST(MAX(open) AS BIGINT) AS peak_concurrency
      FROM swept GROUP BY day ORDER BY day""",

    "q97_yoy_growth" -> """
      WITH monthly AS (
        SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
            AS BIGINT) AS mk,
          CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS rev_cents
        FROM orders GROUP BY 1
      ), lagged AS (
        SELECT mk, rev_cents,
          LAG(rev_cents) OVER (ORDER BY mk) AS rev_mom
        FROM monthly
      )
      SELECT CAST(l.mk // 12 AS BIGINT) AS year,
        CAST(l.mk % 12 + 1 AS BIGINT) AS month, l.rev_cents,
        CAST((l.rev_cents - l.rev_mom) * 1000000 // l.rev_mom AS BIGINT)
          AS mom_ppm,
        CAST((l.rev_cents - p.rev_cents) * 1000000 // p.rev_cents
          AS BIGINT) AS yoy_ppm
      FROM lagged l LEFT JOIN monthly p ON l.mk - 12 = p.mk
      ORDER BY year, month""",

    "q98_apportionment" -> """
      WITH seg AS (
        SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_h
        FROM customer GROUP BY 1
      ), tot AS (SELECT CAST(SUM(n_h) AS BIGINT) AS n FROM seg),
      quotas AS (
        SELECT segment, n_h,
          CAST(n_h * 10000 // n AS BIGINT) AS floor_quota,
          CAST((n_h * 10000) % n AS BIGINT) AS rem
        FROM seg, tot
      ), lft AS (
        SELECT CAST(10000 - SUM(floor_quota) AS BIGINT) AS leftover
        FROM quotas
      ), ranked AS (
        SELECT segment, n_h, floor_quota,
          ROW_NUMBER() OVER (ORDER BY rem DESC, segment) AS rk, leftover
        FROM quotas, lft
      )
      SELECT segment, n_h, floor_quota,
        CAST(floor_quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
          AS BIGINT) AS allocated
      FROM ranked ORDER BY segment""",

    "q99_price_volume_mix" -> """
      WITH yr AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
          CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS BIGINT) AS rev,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE year(o_orderdate) IN (1995, 1996)
        GROUP BY 1
      ), w AS (
        SELECT
          MIN(CASE WHEN yr = 1995 THEN rev END) AS rev1,
          MIN(CASE WHEN yr = 1995 THEN qty END) AS q1,
          MIN(CASE WHEN yr = 1996 THEN rev END) AS rev2,
          MIN(CASE WHEN yr = 1996 THEN qty END) AS q2
        FROM yr
      )
      SELECT rev1, rev2, q1, q2,
        rev2 - rev1 AS delta_rev,
        CAST((q2 - q1) * (rev1 // q1) AS BIGINT) AS volume_effect,
        CAST(((rev2 // q2) - (rev1 // q1)) * q1 AS BIGINT)
          AS price_effect,
        CAST((rev2 - rev1) - (q2 - q1) * (rev1 // q1)
          - ((rev2 // q2) - (rev1 // q1)) * q1 AS BIGINT) AS mix_effect
      FROM w""",

    "q100_did" -> """
      WITH cells AS (
        SELECT CAST(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END
            AS BIGINT) AS treated,
          CAST(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01'
            THEN 1 ELSE 0 END AS BIGINT) AS post,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
            // COUNT(*) AS BIGINT) AS mean_cents
        FROM orders GROUP BY 1, 2
      ), w AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_orders,
          MIN(CASE WHEN treated = 1 AND post = 0 THEN mean_cents END)
            AS t_pre,
          MIN(CASE WHEN treated = 1 AND post = 1 THEN mean_cents END)
            AS t_post,
          MIN(CASE WHEN treated = 0 AND post = 0 THEN mean_cents END)
            AS c_pre,
          MIN(CASE WHEN treated = 0 AND post = 1 THEN mean_cents END)
            AS c_post
        FROM cells
      )
      SELECT n_orders, t_pre, t_post, c_pre, c_post,
        CAST((t_post - t_pre) - (c_post - c_pre) AS BIGINT) AS did_cents
      FROM w""",

    "q108_boxplot" -> """
      WITH seg AS (
        SELECT c_mktsegment AS segment,
          CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders JOIN customer ON o_custkey = c_custkey
      ), byv AS (
        SELECT segment, cents, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM seg GROUP BY 1, 2
      ), cum AS (
        SELECT segment, cents, cnt,
          CAST(SUM(cnt) OVER (PARTITION BY segment ORDER BY cents
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum,
          CAST(SUM(cnt) OVER (PARTITION BY segment) AS BIGINT) AS n
        FROM byv
      ), fences AS (
        SELECT segment, n,
          MIN(CASE WHEN cum * 4 >= n * 1 THEN cents END) AS p25,
          MIN(CASE WHEN cum * 4 >= n * 2 THEN cents END) AS p50,
          MIN(CASE WHEN cum * 4 >= n * 3 THEN cents END) AS p75
        FROM cum GROUP BY segment, n
      ), f AS (
        SELECT segment, n, p25, p50, p75, p75 - p25 AS iqr,
          2 * p25 - 3 * (p75 - p25) AS lo2,
          2 * p75 + 3 * (p75 - p25) AS hi2
        FROM fences
      )
      SELECT b.segment, MAX(n) AS n, MAX(p25) AS p25, MAX(p50) AS p50,
        MAX(p75) AS p75, MAX(iqr) AS iqr,
        MIN(CASE WHEN cents * 2 >= lo2 THEN cents END) AS whisker_lo,
        MAX(CASE WHEN cents * 2 <= hi2 THEN cents END) AS whisker_hi,
        CAST(SUM(CASE WHEN cents * 2 < lo2 OR cents * 2 > hi2
          THEN cnt ELSE 0 END) AS BIGINT) AS n_outliers
      FROM byv b JOIN f USING (segment)
      GROUP BY b.segment ORDER BY b.segment""",

    "q106_trailing_window" -> """
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS rev
        FROM orders GROUP BY 1
      ), d AS (
        SELECT day, n, rev,
          date_diff('day', DATE '1970-01-01', day) AS di
        FROM daily
      )
      SELECT CAST(day AS VARCHAR) AS day, n, rev,
        CAST(SUM(n) OVER w7 AS BIGINT) AS n_7d,
        CAST(SUM(rev) OVER w7 AS BIGINT) AS rev_7d,
        CAST(SUM(n) OVER w28 AS BIGINT) AS n_28d,
        CAST(SUM(rev) OVER w28 AS BIGINT) AS rev_28d
      FROM d
      WINDOW w7 AS (ORDER BY di
          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW),
        w28 AS (ORDER BY di
          RANGE BETWEEN 27 PRECEDING AND CURRENT ROW)
      ORDER BY day""",

    "q104_page_hinkley" -> """
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
      ), tot AS (
        SELECT CAST(SUM(x) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
        FROM daily
      ), m AS (
        SELECT day, n,
          CAST(SUM(n * x - s) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS m
        FROM daily, tot
      ), ph AS (
        SELECT day, n, m,
          m - MIN(m) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph_up,
          MAX(m) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - m
            AS ph_down
        FROM m
      ), up AS (
        SELECT ph_up, day FROM ph ORDER BY ph_up DESC, day LIMIT 1
      ), down AS (
        SELECT ph_down, day FROM ph ORDER BY ph_down DESC, day LIMIT 1
      )
      SELECT t.n AS n_days, up.ph_up AS up_ph,
        CAST(up.day AS VARCHAR) AS up_day,
        down.ph_down AS down_ph,
        CAST(down.day AS VARCHAR) AS down_day
      FROM tot t, up, down""",

    "q105_acf" -> """
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
          CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS HUGEINT)
            AS rev
        FROM orders GROUP BY 1
      ), lags AS (SELECT unnest([1, 2, 7, 14, 28]) AS lag),
      p AS (
        SELECT lag, a.rev AS x, b.rev AS y
        FROM daily a CROSS JOIN lags
        JOIN daily b ON b.day = a.day + lag
      ), s AS (
        SELECT lag, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
          SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx,
          SUM(y * y) AS syy
        FROM p GROUP BY lag
      )
      SELECT lag, n AS n_days,
        floor(CAST(n * sxy - sx * sy AS DOUBLE) /
          (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
           sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 1048576.0)
          / 1048576.0 AS r
      FROM s ORDER BY lag""",

    // Doubled-rank arithmetic is integer end-to-end, so the oracle is the
    // definitional single-window form — the Spark side's PrefixSum
    // decomposition must land on the same bits.
    "q101_mann_whitney" -> """
      WITH ev AS (
        SELECT value, CAST(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
          AS BIGINT) AS is_a
        FROM events WHERE event_type IN ('click', 'purchase')
      ), bv AS (
        SELECT value, CAST(SUM(is_a) AS BIGINT) AS a,
          CAST(SUM(1 - is_a) AS BIGINT) AS b,
          CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ev GROUP BY value
      ), cum AS (
        SELECT a, b, cnt,
          2 * (CAST(SUM(cnt) OVER (ORDER BY value
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            - cnt) + cnt + 1 AS two_r
        FROM bv
      ), tot AS (
        SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb
        FROM bv
      )
      SELECT na AS n_a, nb AS n_b,
        CAST(SUM(a * two_r) - MAX(na) * (MAX(na) + 1) AS BIGINT) AS two_u_a,
        CAST(SUM(b * two_r) - MAX(nb) * (MAX(nb) + 1) AS BIGINT) AS two_u_b,
        CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_term
      FROM cum, tot GROUP BY na, nb""",

    // HUGEINT keeps every sufficient statistic exact (the Spark side uses
    // DECIMAL(38,0)); the single double is produced by the identical
    // correctly-rounded chain: exact int → double, num / (sqrt · sqrt).
    "q102_spearman" -> """
      WITH cust AS (
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS f,
          CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS m
        FROM orders GROUP BY 1
      ), rf AS (
        SELECT v AS f, 2 * (cum - cnt) + cnt + 1 AS two_r_f FROM (
          SELECT f AS v, CAST(COUNT(*) AS BIGINT) AS cnt,
            CAST(SUM(COUNT(*)) OVER (ORDER BY f
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cum
          FROM cust GROUP BY f)
      ), rm AS (
        SELECT v AS m, 2 * (cum - cnt) + cnt + 1 AS two_r_m FROM (
          SELECT m AS v, CAST(COUNT(*) AS BIGINT) AS cnt,
            CAST(SUM(COUNT(*)) OVER (ORDER BY m
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cum
          FROM cust GROUP BY m)
      ), ranked AS (
        SELECT two_r_f AS x, two_r_m AS y
        FROM cust JOIN rf USING (f) JOIN rm USING (m)
      ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
          SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM ranked
      )
      SELECT CAST(n AS BIGINT) AS n_customers,
        floor(CAST(n * sxy - sx * sy AS DOUBLE) /
          (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
           sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 1048576.0)
          / 1048576.0 AS rho
      FROM s""",

    "q103_common_neighbors" -> """
      WITH edges AS (
        SELECT DISTINCT l_partkey AS p, o_custkey AS c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      ), small AS (
        SELECT p FROM edges GROUP BY p HAVING COUNT(*) <= 64
      ), pruned AS (
        SELECT e.p, e.c FROM edges e JOIN small USING (p)
      ), pairs AS (
        SELECT a.c AS c1, b.c AS c2, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM pruned a JOIN pruned b ON a.p = b.p AND a.c < b.c
        GROUP BY 1, 2
      )
      SELECT c1, c2, n_common FROM pairs
      ORDER BY n_common DESC, c1, c2 LIMIT 20""",

    "q136_adamic_adar" -> """
      WITH edges AS (
        SELECT DISTINCT l_partkey AS p, o_custkey AS c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      ), w AS (
        SELECT p,
          CAST(FLOOR(1048576.0 / ln(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)
            AS w
        FROM edges GROUP BY p HAVING COUNT(*) BETWEEN 2 AND 64
      ), pairs AS (
        SELECT a.c AS c1, b.c AS c2,
          CAST(SUM(w.w) AS DOUBLE) / 1048576.0 AS aa_score,
          CAST(COUNT(*) AS BIGINT) AS n_common
        FROM edges a JOIN edges b ON a.p = b.p AND a.c < b.c
        JOIN w ON w.p = a.p
        GROUP BY 1, 2
      )
      SELECT c1, c2, aa_score, n_common FROM pairs
      ORDER BY aa_score DESC, c1, c2 LIMIT 20""",

    "q138_cumulative_reach" -> """
      WITH fd AS (
        SELECT user_id, MIN(date_trunc('hour', ts)) AS first_hr
        FROM events GROUP BY 1
      ), pd AS (
        SELECT first_hr, CAST(COUNT(*) AS BIGINT) AS new_users
        FROM fd GROUP BY 1
      )
      SELECT CAST(first_hr AS VARCHAR) AS hr, new_users,
        CAST(SUM(new_users) OVER (ORDER BY first_hr
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_reach
      FROM pd ORDER BY hr""",

    "q139_twap" -> """
      WITH e AS (
        SELECT event_type, ts, event_id, CAST(ts AS DATE) AS day,
          CAST(value AS DECIMAL(18,2)) AS v
        FROM events
      ), d AS (
        SELECT event_type, v,
          epoch_us(LEAD(ts) OVER (PARTITION BY event_type, day
                                  ORDER BY ts, event_id)) // 1000000
            - epoch_us(ts) // 1000000 AS dt
        FROM e
      )
      SELECT event_type,
        CAST(SUM(v * dt) AS DOUBLE) / CAST(SUM(dt) AS DOUBLE) AS twap,
        CAST(COUNT(*) AS BIGINT) AS n_intervals
      FROM d WHERE dt IS NOT NULL AND dt > 0
      GROUP BY 1 ORDER BY event_type""",

    "q141_hhi" -> """
      WITH rev AS (
        SELECT n_regionkey AS region, n_name,
          CAST(SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS HUGEINT)
            AS cents
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2
      ), tot AS (
        SELECT region, SUM(cents) AS den FROM rev GROUP BY 1
      ), sh AS (
        SELECT rev.region, (cents * 100000000) // den AS share8
        FROM rev JOIN tot ON rev.region = tot.region
      )
      SELECT region,
        CAST(SUM(share8 * share8) // 100000000 AS BIGINT) AS hhi_x1e4,
        CAST(COUNT(*) AS BIGINT) AS n_nations
      FROM sh GROUP BY 1 ORDER BY region""",

    "q143_decision_stump" -> """
      WITH o AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
          CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
      ), comp AS (
        SELECT c, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(y) AS BIGINT) AS p
        FROM o GROUP BY c
      ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(p) AS BIGINT) AS pp
        FROM comp
      ), cum AS (
        SELECT c,
          CAST(SUM(n) OVER (ORDER BY c
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS nl,
          CAST(SUM(p) OVER (ORDER BY c
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS pl
        FROM comp
      ), scored AS (
        SELECT c, nl, pl, nl - pl AS ql, nn - nl AS nr, pp - pl AS pr,
          (nn - nl) - (pp - pl) AS qr, nn,
          (pl::HUGEINT * pl + (nl - pl)::HUGEINT * (nl - pl)) * (nn - nl)
            + ((pp - pl)::HUGEINT * (pp - pl)
               + ((nn - nl) - (pp - pl))::HUGEINT
                 * ((nn - nl) - (pp - pl))) * nl AS score
        FROM cum, tot WHERE nl < nn
      )
      SELECT c AS threshold_cents, nl AS n_left, nr AS n_right,
        pl AS pos_left, pr AS pos_right,
        CAST((nn::HUGEINT * nl * nr - score) * 1000000
          // (nn::HUGEINT * nl * nr) AS BIGINT) AS gini_ppm
      FROM scored ORDER BY score DESC, c LIMIT 1""",

    "er1_entity_clusters" -> """
      WITH RECURSIVE cust AS (
        SELECT CAST(c_custkey AS BIGINT) AS id, lower(c_name) AS name,
          md5('addr:' || lower(c_name)) AS addr
        FROM customer
      ), va AS (
        SELECT id + 10000000 AS id,
          substr(name, 1, pos - 1) || substr(name, pos + 1, length(name))
            AS name, addr
        FROM (SELECT id, name, addr,
          CAST(('0x' || substr(md5('er1a:' || name), 1, 15))::BIGINT
            % length(name) AS INT) + 1 AS pos
          FROM cust WHERE id % 7 = 0)
      ), vb AS (
        SELECT id + 20000000 AS id,
          substr(name, 1, pos - 1) || substr(name, pos + 1, length(name))
            AS name, addr
        FROM (SELECT id, name, addr,
          CAST(('0x' || substr(md5('er1b:' || name), 1, 15))::BIGINT
            % length(name) AS INT) + 1 AS pos
          FROM cust WHERE id % 7 = 0)
      ), records AS (
        SELECT * FROM cust UNION ALL SELECT * FROM va
        UNION ALL SELECT * FROM vb
      ), vars AS (
        SELECT id, name, addr, unnest(list_append(list_transform(
          generate_series(1, length(name)),
          i -> substr(name, 1, i - 1) || substr(name, i + 1, length(name))),
          name)) AS v
        FROM records
      ), cand AS (
        SELECT DISTINCT a.id AS src, b.id AS dst,
          a.name AS na, b.name AS nb
        FROM vars a JOIN vars b
          ON a.addr = b.addr AND a.v = b.v AND a.id < b.id
      ), e2 AS (
        SELECT src, dst FROM cand WHERE levenshtein(na, nb) <= 1
      ), sym AS (
        SELECT src AS u, dst AS v FROM e2
        UNION SELECT dst, src FROM e2
      ), r(u, v) AS (
        SELECT u, v FROM sym
        UNION
        SELECT r.u, s.v FROM r JOIN sym s ON r.v = s.u WHERE s.v != r.u
      ), lbl AS (
        SELECT u AS id, LEAST(u, MIN(v)) AS component FROM r GROUP BY u
      ), cl AS (
        SELECT component AS cluster_id, CAST(COUNT(*) AS BIGINT)
          AS n_records
        FROM lbl GROUP BY 1
      )
      SELECT cl.cluster_id, cl.n_records, rec.name AS canonical_name
      FROM cl JOIN records rec ON rec.id = cl.cluster_id
      ORDER BY cl.cluster_id"""
  )
}
