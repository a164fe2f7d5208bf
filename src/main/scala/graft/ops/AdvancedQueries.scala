package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.joins.AsOfJoin

/** Breadth beyond the reference surface: as-of join, ROLLUP, set operators,
  * sliding window frames, exact + approximate distinct counting.
  */
object AdvancedQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // As-of join: each click gets the latest same-user purchase at or before
    // its timestamp (nulls if none).
    "aj1_asof_click_purchase" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      AsOfJoin.asOf(clicks, purchases, "user_id", "ts", "ts",
          Seq("purchase_ts", "purchase_value"))
        .orderBy(col("event_id"))
    }),

    // FORWARD as-of with tolerance: for each click, the user's NEXT error
    // event — but only if it lands within 30 minutes (a correlated
    // failure, not a stale coincidence). aj1's mirror image with a match
    // window: same single-exchange union-window composition (see
    // AsOfJoin.asOfForward), tolerance applied scan-side after the fill.
    // The gap is exact integer microseconds (UTC session: the NTZ→
    // timestamp cast is the identity in both engines).
    "aj2_asof_next_error" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts")).distinct()
        .withColumn("error_ts", col("ts"))
      AsOfJoin.asOfForward(clicks, errors, "user_id", "ts", "ts",
          Seq("error_ts"),
          (lts, rts) => rts <= lts + expr("INTERVAL 30 MINUTES"))
        .withColumn("gap_us",
          expr("""unix_micros(CAST(error_ts AS TIMESTAMP))
            - unix_micros(CAST(ts AS TIMESTAMP))"""))
        .orderBy(col("event_id"))
    }),

    // NEAREST-in-time join — the bidirectional closure of aj1/aj2: each
    // view event takes its temporally CLOSEST click by the same user,
    // whichever side it falls on (ties prefer the earlier), with the
    // signed gap. Composition of the two single-exchange as-of fills —
    // still two keyed window passes, never a range join. The
    // sensor-alignment primitive (match each reading to the closest
    // calibration) that pure backward as-of gets wrong half the time.
    "aj3_asof_nearest" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts")).distinct()
        .withColumn("click_ts", col("ts"))
      val back = AsOfJoin.asOf(views, clicks, "user_id", "ts", "ts",
          Seq("click_ts"))
        .withColumnRenamed("click_ts", "prev_ts")
      val both = AsOfJoin.asOfForward(back, clicks, "user_id", "ts", "ts",
          Seq("click_ts"), (_, _) => lit(true))
        .withColumnRenamed("click_ts", "next_ts")
      both
        .withColumn("nearest_click_ts", expr("""CASE
          WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
          WHEN next_ts IS NULL THEN prev_ts
          WHEN prev_ts IS NULL THEN next_ts
          WHEN unix_micros(CAST(ts AS TIMESTAMP))
              - unix_micros(CAST(prev_ts AS TIMESTAMP))
            <= unix_micros(CAST(next_ts AS TIMESTAMP))
              - unix_micros(CAST(ts AS TIMESTAMP)) THEN prev_ts
          ELSE next_ts END"""))
        .withColumn("gap_us",
          expr("""unix_micros(CAST(nearest_click_ts AS TIMESTAMP))
            - unix_micros(CAST(ts AS TIMESTAMP))"""))
        .withColumn("direction", expr("""CASE
          WHEN nearest_click_ts IS NULL THEN NULL
          WHEN nearest_click_ts <= ts THEN 'before' ELSE 'after' END"""))
        .select(col("user_id"), col("event_id"), col("ts"),
          col("nearest_click_ts"), col("gap_us"), col("direction"))
        .orderBy(col("event_id"))
    }),

    // ROLLUP hierarchy totals (grouping-set aggregation).
    "q12_rollup_orders" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("revenue"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // Set operators: INTERSECT / EXCEPT both ways, tagged and unioned.
    "q13_setops_customers" -> ((s, dir) => {
      val orders = Tables(s, dir, "orders")
      val high = orders.filter(col("o_totalprice") > 400000)
        .select(col("o_custkey")).distinct()
      val repeat = orders.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n")).filter(col("n") > 12)
        .select(col("o_custkey"))
      high.intersect(repeat).withColumn("tag", lit("both"))
        .unionByName(high.except(repeat).withColumn("tag", lit("high_only")))
        .unionByName(repeat.except(high).withColumn("tag", lit("repeat_only")))
        .orderBy(col("tag"), col("o_custkey"))
    }),

    // Sliding aggregate frame: trailing 4-row stats per user (order-free
    // aggregates — min/max/count + exact integer sum — so any engine's
    // frame evaluation order gives identical values).
    "q14_sliding_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-3, Window.currentRow)
      Tables(s, dir, "events").select(
          col("user_id"), col("event_id"), col("ts"),
          count(lit(1)).over(w).as("n_in_frame"),
          min(col("value")).over(w).as("min_v"),
          max(col("value")).over(w).as("max_v"),
          sum(col("event_id")).over(w).as("sum_ids"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Exact distinct counting (multi-agg with COUNT(DISTINCT)).
    "q15_count_distinct" -> ((s, dir) =>
      Tables(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy(col("event_type"))),

    // HLL++ sketch — the approximate VALUE is engine-specific, so the gated
    // output is the exact count plus a tolerance verdict both engines can
    // agree on: |approx - exact| / exact <= 5% (the sketch runs at rsd 1%,
    // so the bound has 5× headroom). The oracle asserts within_tol = TRUE,
    // making the sketch's accuracy — not its internals — the contract.
    //
    // Shape note: `agg(approx_count_distinct, countDistinct)` together is a
    // trap — the distinct-agg rewrite groups by (event_type, user_id) first
    // and merges a 16 KB HLL buffer PER DISTINCT USER (measured 4-6 s
    // here). Deduplicate first, then aggregate: HLL is duplicate-insensitive
    // so the estimate is identical, and only one sketch per group exists
    // (measured ~8×, 0.6 s).
    "q16_approx_distinct" -> ((s, dir) =>
      Tables(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"),
          approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
        .select(col("event_type"), col("n_users"),
          (abs(col("approx_users") - col("n_users")).cast("double")
            / col("n_users") <= 0.05).as("within_tol"))
        .orderBy(col("event_type"))),

    // Bucketed co-located join — the shuffle-elimination path for joins
    // run MANY times on the same key: both sides are written ONCE as
    // bucketed+sorted external tables (8 buckets on the join key, data
    // under the fixture tmpdir, metadata in the session catalog), and the
    // join then reads bucket-aligned files — the physical plan has NO
    // hash-partitioning exchange on either join input (asserted in
    // PlanGuardSpec). At 100 TB this turns every repeated
    // customer-grain join from a full shuffle into a local merge.
    "q40_bucketed_join" -> ((s, dir) => {
      // catalog-safe key (no '.'), so the fixture subtree is keyed by it
      // too rather than by FixtureLock.root's sf key
      val key = dir.replaceAll("[^A-Za-z0-9]", "_")
      // the bucketed data is written ONCE per SF (cross-process
      // FixtureLock, like every lake fixture); each session only
      // REGISTERS the external bucketed table over the existing files.
      // The previous shape rewrote the data whenever a fresh session's
      // catalog lacked the table — a concurrent reader in another
      // process could see its planned files deleted mid-scan.
      def ensure(name: String, df: => DataFrame,
          bucketCol: String): String = {
        val tbl = s"graft_${name}_$key"
        if (s.catalog.tableExists(tbl)) return tbl
        val root = graft.streaming.FixtureLock.root(key, s"buckets_v2/$name")
        val dataPath = root.resolve("table").toString
        val d = df
        graft.streaming.FixtureLock.once(root) {
          val tmp = tbl + "_writer"
          d.write.mode("overwrite").option("path", dataPath)
            .bucketBy(8, bucketCol).sortBy(bucketCol).saveAsTable(tmp)
          s.sql(s"DROP TABLE IF EXISTS $tmp") // external: files remain
        }
        s.sql(s"CREATE TABLE IF NOT EXISTS $tbl (${d.schema.toDDL}) " +
          s"USING parquet CLUSTERED BY ($bucketCol) " +
          s"SORTED BY ($bucketCol) INTO 8 BUCKETS LOCATION '$dataPath'")
        tbl
      }
      val o = ensure("orders_b", Tables(s, dir, "orders"), "o_custkey")
      val c = ensure("customer_b", Tables(s, dir, "customer"), "c_custkey")
      s.table(o).join(s.table(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("revenue"))
        .orderBy(col("c_nationkey"))
    }),

    // Interval-overlap (range) join, binned: user sessions (gap-based,
    // q17's derivation) against weekly maintenance windows (the first day
    // of each active week). A naive range join is a cartesian with a
    // theta filter; the scalable shape bins each interval to the week(s)
    // it spans (tiny explode — sessions are minutes long) and equi-joins
    // on the bin, applying the overlap predicate after — the 100 TB
    // pattern for every time-interval join Spark lacks natively.
    "q41_interval_join" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val sessions = Tables(s, dir, "events")
        .withColumn("new_session",
          when(unix_micros(col("ts").cast("timestamp"))
            - unix_micros(lag(col("ts"), 1).over(w).cast("timestamp"))
            > 1800000000L, 1).otherwise(
              when(lag(col("ts"), 1).over(w).isNull, 1).otherwise(0)))
        .withColumn("session_seq", sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
      val windows = Tables(s, dir, "events")
        .select(date_trunc("week", col("ts")).cast("timestamp_ntz")
          .as("w_start")).distinct()
        .withColumn("w_end", col("w_start") + expr("INTERVAL 1 DAY"))
        .withColumn("bin", col("w_start"))
      val binned = sessions.withColumn("bin",
        explode(sequence(
          date_trunc("week", col("session_start")).cast("timestamp_ntz"),
          date_trunc("week", col("session_end")).cast("timestamp_ntz"),
          expr("INTERVAL 7 DAYS"))))
      binned.join(windows, Seq("bin"))
        .filter(col("session_start") < col("w_end") &&
          col("w_start") <= col("session_end"))
        .groupBy(col("w_start"))
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("w_start"))
    }),

    // KMV (bottom-k / theta) distinct sketches — the mergeable sketch that,
    // unlike HLL (q39), supports set INTERSECTION: audience-overlap
    // estimation without co-shuffling the raw sets. Per event type, the
    // first-week and last-week user sets are sketched as the K smallest
    // 60-bit md5 hashes of user_id (deterministic — no RNG, so both
    // engines build bit-identical sketches). Estimators are the textbook
    // ones: n̂ = (K-1)·2^60/θ when saturated (θ = Kth smallest hash),
    // exact count when not; union = K smallest of the merged hash sets;
    // intersection = common sketch hashes below θ = min(θ_a, θ_b), scaled
    // by 2^60/θ. Exact overlap rides along so the gate shows estimate vs
    // truth. Scale shape: sketch construction is one hash-agg + per-group
    // WindowGroupLimit (each map task pre-limits to K rows per type before
    // the exchange); everything downstream of the sketches is O(types·K).
    "q45_kmv_overlap" -> ((s, dir) => {
      val K = 16
      val Dom = 1L << 60
      val ev = Tables(s, dir, "events")
        .select(col("event_type"), col("user_id"),
          col("ts").cast("timestamp").as("ts"))
      def sketch(cond: org.apache.spark.sql.Column, tag: String) = {
        val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
        ev.filter(cond)
          .select(col("event_type"),
            graft.functions.Hash60(col("user_id").cast("string")).as("h"))
          .distinct()
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= K)
          .withColumn("tag", lit(tag))
      }
      // the two K-row-per-type sketches are each referenced THREE times
      // (own estimate, union sketch, intersection) — every reference
      // re-ran the events scan + distinct + top-K window (r13, guide
      // §5): cut once; the leaves are ≤ K rows per event type
      val a = graft.graph.GraphOps.checkpoint(sketch(
        col("ts") < lit("2024-01-08 00:00:00").cast("timestamp"), "a"))
      val b = graft.graph.GraphOps.checkpoint(sketch(
        col("ts") >= lit("2024-01-24 00:00:00").cast("timestamp"), "b"))
      // θ and estimate per sketch: exact when the set never filled K slots
      def estOf(sk: DataFrame, name: String) = sk.groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), max(col("h")).as("hk"))
        .select(col("event_type"),
          when(col("cnt") < K, lit(Dom)).otherwise(col("hk")).as(s"theta_$name"),
          when(col("cnt") < K, col("cnt").cast("double"))
            .otherwise(lit((K - 1).toDouble) * Dom.toDouble
              / col("hk").cast("double")).as(s"est_$name"))
      val estA = estOf(a, "a")
      val estB = estOf(b, "b")
      // union sketch: K smallest of the merged (distinct) hash sets
      val wu = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val u = a.select(col("event_type"), col("h"))
        .union(b.select(col("event_type"), col("h"))).distinct()
        .withColumn("rn", row_number().over(wu)).filter(col("rn") <= K)
      val estU = estOf(u, "union")
      // intersection: common sketch hashes below θ = min(θa, θb)
      val common = a.select(col("event_type"), col("h"))
        .join(b.select(col("event_type"), col("h")), Seq("event_type", "h"))
      val estI = common
        .join(broadcast(estA.select(col("event_type"), col("theta_a"))),
          Seq("event_type"))
        .join(broadcast(estB.select(col("event_type"), col("theta_b"))),
          Seq("event_type"))
        .filter(col("h") < least(col("theta_a"), col("theta_b")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("ci"),
          min(least(col("theta_a"), col("theta_b"))).as("ti"))
        .select(col("event_type"),
          when(col("ti") === Dom, col("ci").cast("double"))
            .otherwise(col("ci").cast("double") * Dom.toDouble
              / col("ti").cast("double")).as("est_intersect"))
      val exact = ev.filter(col("ts") < lit("2024-01-08 00:00:00").cast("timestamp"))
        .select(col("event_type"), col("user_id")).distinct()
        .join(ev.filter(col("ts") >= lit("2024-01-24 00:00:00").cast("timestamp"))
          .select(col("event_type"), col("user_id")).distinct(),
          Seq("event_type", "user_id"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("exact_intersect"))
      estA.select(col("event_type"), col("est_a"))
        .join(estB.select(col("event_type"), col("est_b")), Seq("event_type"))
        .join(estU.select(col("event_type"), col("est_union")), Seq("event_type"))
        .join(estI, Seq("event_type"), "left")
        .join(exact, Seq("event_type"), "left")
        .select(col("event_type"), col("est_a"), col("est_b"),
          col("est_union"), coalesce(col("est_intersect"), lit(0.0))
            .as("est_intersect"),
          coalesce(col("exact_intersect"), lit(0L)).as("exact_intersect"))
        .orderBy(col("event_type"))
    }),

    // Mergeable distinct-count sketches — the shape a 100 TB pipeline
    // actually stores: one DataSketches HLL per (event_type, day) partition
    // (incrementally maintainable, reorderable, re-aggregatable), unioned
    // into the per-type total. Gated like q16: the union's estimate must
    // land within 5% of the exact distinct count (oracle emits the exact
    // count; both engines assert the verdict, not the sketch bytes).
    "q39_hll_merge" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      val daily = ev.groupBy(col("event_type"), col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val merged = daily.groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), false))
          .as("merged_users"))
      val exact = ev.select(col("event_type"), col("user_id")).distinct()
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
      merged.join(exact, "event_type")
        .select(col("event_type"), col("n_users"),
          (abs(col("merged_users") - col("n_users")).cast("double")
            / col("n_users") <= 0.05).as("within_tol"))
        .orderBy(col("event_type"))
    }),

    // Gap-based sessionization: a new session starts after a >30 min silence
    // per user; running sum of session starts numbers the sessions, then one
    // grouped agg summarizes each. Two window/agg passes, both partitioned
    // by user_id — one exchange reused.
    "q17_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables(s, dir, "events")
        .withColumn("new_session",
          when(unix_micros(col("ts").cast("timestamp"))
            - unix_micros(lag(col("ts"), 1).over(w).cast("timestamp"))
            > 1800000000L, 1).otherwise(
              when(lag(col("ts"), 1).over(w).isNull, 1).otherwise(0)))
        .withColumn("session_seq", sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
        .orderBy(col("user_id"), col("session_seq"))
    }),

    // Exact interpolated percentiles per group (== DuckDB `quantile_cont`),
    // rank-based via the library kernel — no per-group value buffer; see
    // graft.functions.RankPercentiles for the scale rationale.
    "q18_percentiles" -> ((s, dir) =>
      graft.functions.RankPercentiles.exact(
          Tables(s, dir, "orders"), "o_orderstatus", "o_totalprice",
          Seq("p50" -> 0.5, "p90" -> 0.9))
        .orderBy(col("o_orderstatus"))),

    // Correlated scalar subqueries through the SQL front-end — Catalyst
    // decorrelates both into aggregate joins. The above-nation-average test
    // is expressed as exact decimal cross-multiplication (bal*n > sum), not
    // a double AVG, so boundary rows can't flip between engines.
    "q19_correlated_subquery" -> ((s, dir) => {
      Tables(s, dir, "customer").createOrReplaceTempView("graft_q19_customer")
      s.sql("""
        SELECT c_custkey, c_acctbal FROM graft_q19_customer c
        WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
              (SELECT COUNT(*) FROM graft_q19_customer c2
               WHERE c2.c_nationkey = c.c_nationkey)
            > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2)))
               FROM graft_q19_customer c2
               WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY c_custkey""")
    }),

    // Corpus-wide bigram document frequencies (shingles dedup per doc),
    // top-k — the n-gram statistics pass of a text pipeline.
    "tx6_bigram_docfreq" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(explode(
          graft.text.TextFunctions.shingles(col("text"), 2)).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("bigram"))
        .limit(20)),

    // Pivot (explicit value list → stable schema); absent combinations are
    // 0 like SQL conditional aggregation.
    "q20_pivot_status" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0, Seq("F", "O", "P"))
        .orderBy(col("o_orderpriority"))),

    // Multiset set ops: EXCEPT ALL / INTERSECT ALL preserve multiplicity.
    "q21_setops_all" -> ((s, dir) => {
      val orders = Tables(s, dir, "orders")
      val big = orders.filter(col("o_totalprice") > 300000)
        .select(col("o_custkey"))
      val open = orders.filter(col("o_orderstatus") === "O")
        .select(col("o_custkey"))
      big.exceptAll(open).withColumn("tag", lit("big_not_open"))
        .unionByName(big.intersectAll(open)
          .withColumn("tag", lit("both")))
        .groupBy(col("tag"), col("o_custkey"))
        .agg(count(lit(1)).as("multiplicity"))
        .orderBy(col("tag"), col("o_custkey"))
    }),

    // Time-based RANGE window frame: events in the trailing hour per user
    // (peers with equal timestamps included, per SQL RANGE semantics).
    "q23_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ep"))
        .rangeBetween(-3600000000L, Window.currentRow)
      Tables(s, dir, "events")
        .withColumn("ep", unix_micros(col("ts").cast("timestamp")))
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_last_hour"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // TF-IDF: term frequency × ln(N/df), top-3 terms per document
    // (deterministic tie-break on the term). N stays declarative via a
    // broadcast scalar, not a driver-side collect.
    "tx7_tfidf" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(graft.text.TextFunctions.tokens(col("text"))).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
        .withColumn("tfidf",
          // round(…, 6): JVM Math.log and DuckDB's libm differ by 1 ulp on
          // some inputs; 6 dp makes score values and rank order engine-equal.
          round(col("tf").cast("double") *
            log(col("n").cast("double") / col("df")), 6))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("tfidf"), col("rk"))
        .orderBy(col("doc_id"), col("rk"))
    }),

    // Moment statistics (mean/variance/stddev) from EXACT decimal sums —
    // order-free under any partitioning, unlike streaming stddev aggregates;
    // the double math happens once, after the exact sums, in the same
    // operation order as the oracle.
    "q25_stats_moments" -> ((s, dir) => {
      val p = col("o_totalprice").cast(DecimalType(18, 2))
      Tables(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(p).cast("double").as("s1"),
          sum((p * p).cast(DecimalType(38, 4))).cast("double").as("s2"))
        .select(col("o_orderstatus"), col("n"),
          (col("s1") / col("n")).as("mean"),
          ((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
            .as("variance"),
          sqrt((col("s2") - col("s1") * col("s1") / col("n"))
            / (col("n") - 1)).as("stddev"))
        .orderBy(col("o_orderstatus"))
    }),

    // Per-group OLS regression + Pearson correlation from EXACT decimal
    // sums (Σx, Σy, Σxy, Σx², Σy²) — the regr_slope/regr_intercept/corr
    // family, but order-free under any partitioning (Spark's native corr
    // streams doubles, so its parallel merge order could diverge from a
    // sequential oracle). The double math happens once, after the exact
    // sums, in the same operation order as the oracle.
    "q55_group_regression" -> ((s, dir) => {
      val x = col("l_quantity").cast(DecimalType(18, 2))
      val y = col("l_extendedprice").cast(DecimalType(18, 2))
      val sums = Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(x).cast("double").as("sx"),
          sum(y).cast("double").as("sy"),
          sum((x * y).cast(DecimalType(38, 4))).cast("double").as("sxy"),
          sum((x * x).cast(DecimalType(38, 4))).cast("double").as("sx2"),
          sum((y * y).cast(DecimalType(38, 4))).cast("double").as("sy2"))
      sums
        .select(col("l_returnflag"), col("n"), col("sx"), col("sy"),
          ((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sx2") - col("sx") * col("sx"))).as("slope"),
          ((col("n") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("n") * col("sx2") - col("sx") * col("sx"))
              * sqrt(col("n") * col("sy2") - col("sy") * col("sy"))))
            .as("corr_xy"))
        .select(col("l_returnflag"), col("n"), col("slope"),
          ((col("sy") - col("slope") * col("sx")) / col("n"))
            .as("intercept"),
          col("corr_xy"))
        .orderBy(col("l_returnflag"))
    }),

    // SESSION-window aggregation as a REAL Structured-Streaming run:
    // Spark's native session_window merges per-user sessions across
    // micro-batch boundaries (8 range-split chunks, 2 files/trigger);
    // a new session starts when the inter-event gap is ≥ 30 min — the
    // gaps-and-islands grouping the oracle recomputes relationally.
    "ev8_stream_sessions" -> ((s, dir) => {
      val store = graft.streaming.SessionWindowStream
        .materializedSessionsDir(s, dir)
      s.read.parquet(store)
        .select(col("user_id"),
          col("session_start").cast("timestamp_ntz").as("session_start"),
          col("session_last").cast("timestamp_ntz").as("session_last"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // STANDING regression-sums store, driver-gated: per-returnflag OLS
    // sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy² as exact decimals)
    // maintained across two manifest-committed merges (even l_orderkeys,
    // then odd, exactly-once txn ids). Decimal addition is lossless, so
    // the incrementally-built store's fit is BIT-IDENTICAL to the
    // one-shot q55 aggregation — which is what the oracle recomputes.
    "ev7_stream_regression_store" -> ((s, dir) => {
      val root = graft.streaming.RegressionStore
        .materializedLineitemRegDir(s, dir)
      graft.streaming.RegressionStore.fit(s, root)
        .withColumnRenamed("group", "l_returnflag")
        .orderBy(col("l_returnflag"))
    }),

    // Correlated LATERAL subquery with per-group LIMIT (top-2 customers by
    // balance per nation) through the SQL front-end.
    "q24_lateral_topn" -> ((s, dir) => {
      Tables(s, dir, "nation").createOrReplaceTempView("graft_q24_nation")
      Tables(s, dir, "customer").createOrReplaceTempView("graft_q24_customer")
      s.sql("""
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM graft_q24_nation n, LATERAL (
          SELECT c_custkey, c_acctbal FROM graft_q24_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""")
    }),

    // Full outer join with COALESCE reconciliation — the two-ledger
    // comparison shape (keys present on either side survive).
    "q31_full_outer" -> ((s, dir) => {
      val orders = Tables(s, dir, "orders")
      val big = orders.filter(col("o_totalprice") > 400000)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_big"))
      val urgent = orders.filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_urgent"))
      big.join(urgent, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          coalesce(col("n_big"), lit(0L)).as("n_big"),
          coalesce(col("n_urgent"), lit(0L)).as("n_urgent"))
        .orderBy(col("o_custkey"))
    }),

    // Positional explode (LATERAL VIEW posexplode) over the embedding
    // arrays — the generator/ordinality operator class.
    "q32_posexplode" -> ((s, dir) =>
      Tables(s, dir, "embeddings")
        .filter(col("vec_id") < 20)
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "val")))
        .filter(col("pos") < 8)
        .select(col("vec_id"), col("pos"),
          col("val").cast("double").as("val"))
        .orderBy(col("vec_id"), col("pos"))),

    // Deterministic train/valid/test split by CONTENT hash (not doc_id):
    // byte-identical texts always land in the same split, so exact
    // duplicates can never leak from train into eval — the split
    // assignment every training-data pipeline needs, as a pure
    // engine-reproducible projection (md5-derived hash60 mod 100).
    "q33_hash_split" -> ((s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          pmod(graft.text.TextFunctions.hash60(col("text")), lit(100L))
            .as("bucket"))
        .select(col("doc_id"),
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "valid")
            .otherwise("test").as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("split"))),

    // Approximate percentile gated on ACCURACY against the exact value —
    // same tolerance-verdict pattern as q16: exact per-group percentile
    // doesn't scale (it buffers every value), percentile_approx streams a
    // bounded sketch; the contract is that the sketch lands within 1% of
    // exact, which both engines can assert.
    "q30_approx_percentile" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(percentile(col("o_totalprice"), lit(0.5)).as("p50_exact"),
          percentile_approx(col("o_totalprice"), lit(0.5), lit(10000))
            .as("p50_approx"))
        .select(col("o_orderstatus"), col("p50_exact"),
          (abs(col("p50_approx") - col("p50_exact")) / col("p50_exact")
            <= 0.01).as("within_tol"))
        .orderBy(col("o_orderstatus"))),

    // CUBE grouping sets with GROUPING() markers — all four grouping
    // combinations in one pass (one Expand + hash-agg, no re-scan per set).
    "q26_cube_orders" -> ((s, dir) =>
      Tables(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("revenue"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_prio"))
        .orderBy(col("g_status"), col("g_prio"),
          col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // Explicit GROUPING SETS — mixed granularities rollup/cube can't
    // express (detail, by-priority, grand total in ONE pass; Spark plans a
    // single Expand + hash-agg, not three scans).
    "q34_grouping_sets" -> ((s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("graft_q34_orders")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
          CAST(grouping(o_orderstatus) AS INT) AS g_status,
          CAST(grouping(o_orderpriority) AS INT) AS g_prio
        FROM graft_q34_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          (o_orderpriority), ())
        ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
          o_orderpriority NULLS FIRST""")
    }),

    // UNPIVOT (wide → long melt) — the inverse of q20's pivot; narrow
    // Expand node, no shuffle.
    "q35_unpivot" -> ((s, dir) =>
      Tables(s, dir, "orders").filter(col("o_orderkey") <= 500)
        .select(col("o_orderkey"),
          col("o_custkey").cast("double").as("custkey"),
          year(col("o_orderdate")).cast("double").as("orderyear"),
          col("o_totalprice").cast("double").as("totalprice"))
        .unpivot(Array(col("o_orderkey")),
          Array(col("custkey"), col("orderyear"), col("totalprice")),
          "metric", "val")
        .orderBy(col("o_orderkey"), col("metric"))),

    // Ordered string aggregation (LISTAGG ... WITHIN GROUP) — deterministic
    // via a unique (priority, orderkey) sort inside the aggregate.
    "q36_listagg" -> ((s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("graft_q36_orders")
      s.sql("""
        SELECT o_orderstatus,
          listagg(o_orderpriority, ',')
            WITHIN GROUP (ORDER BY o_orderpriority, o_orderkey) AS prios
        FROM graft_q36_orders
        WHERE o_orderkey <= 200
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""")
    }),

    // Ordered funnel analysis (view -> click -> purchase, 12 h conversion
    // window per step): each step's timestamp is the MIN event time
    // strictly after the previous step and within the window — the
    // product-analytics sequential-pattern query. One conditional-min
    // aggregation per funnel step, every stage keyed on user_id: the agg
    // outputs are already hash-partitioned by the join key, so the
    // step-over-step joins add no extra exchange on the accumulating
    // (one-row-per-user) side, and nothing ever collects event lists.
    // First-order MARKOV transition matrix over per-user event sequences
    // (the behavioral-sequence summary a recommendation/curation pipeline
    // builds): LEAD over (ts, event_id) within each user, transition
    // counts, and row-normalized probabilities. One window exchange keyed
    // by user (bounded per-user sequences) + one O(types²) agg; the
    // probability is a single integer-count division — bit-exact
    // cross-engine, no grid.
    "q56_markov_transitions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val trans = Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n_transitions"))
      val totals = trans.groupBy(col("event_type"))
        .agg(sum(col("n_transitions")).as("total"))
      trans.join(broadcast(totals), Seq("event_type"))
        .select(col("event_type"), col("next_type"), col("n_transitions"),
          (col("n_transitions").cast("double") / col("total")).as("prob"))
        .orderBy(col("event_type"), col("next_type"))
    }),

    "q37_funnel" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val ta = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val tb = ev.filter(col("event_type") === "click")
        .join(ta, "user_id")
        .filter(col("ts") > col("t_view") &&
          col("ts") <= col("t_view") + expr("INTERVAL 12 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val tc = ev.filter(col("event_type") === "purchase")
        .join(tb, "user_id")
        .filter(col("ts") > col("t_click") &&
          col("ts") <= col("t_click") + expr("INTERVAL 12 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      ev.select(col("user_id")).distinct()
        .join(ta, Seq("user_id"), "left")
        .join(tb, Seq("user_id"), "left")
        .join(tc, Seq("user_id"), "left")
        .withColumn("funnel_depth",
          when(col("t_purchase").isNotNull, 3L)
            .when(col("t_click").isNotNull, 2L)
            .when(col("t_view").isNotNull, 1L)
            .otherwise(0L))
        .select(col("user_id"), col("funnel_depth"), col("t_view"),
          col("t_click"), col("t_purchase"))
        .orderBy(col("user_id"))
    }),

    // Regex extraction + string function family (codegen'd, narrow — the
    // shape of a log-parsing / URL-splitting pass at lake scale).
    "q27_regex_strings" -> ((s, dir) =>
      Tables(s, dir, "orders").select(
          col("o_orderkey"),
          regexp_extract(col("o_orderpriority"), "^(\\d+)-(.+)$", 1)
            .cast("int").as("prio_num"),
          regexp_extract(col("o_orderpriority"), "^(\\d+)-(.+)$", 2)
            .as("prio_word"),
          lower(col("o_orderstatus")).as("st_lower"),
          concat_ws("|", col("o_orderstatus"), col("o_orderpriority"))
            .as("combo"),
          length(col("o_orderpriority")).as("prio_len"))
        .orderBy(col("o_orderkey"))),

    // Calendar bucketing: ISO-week truncation + per-bucket distincts — the
    // partition-by-time rollup every retention/usage pipeline runs.
    "q29_time_buckets" -> ((s, dir) =>
      Tables(s, dir, "events")
        .groupBy(date_trunc("week", col("ts")).cast("timestamp_ntz").as("wk"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("wk"))),

    // The streaming ST4 surface, driver-gated: a real multi-micro-batch
    // Structured Streaming run (file source over range-split event chunks →
    // tumbling 1-hour windowed agg, complete output → foreachBatch store)
    // materializes once per sfDir; this READS the streamed store and the
    // oracle recomputes it relationally.
    "ev1_stream_hourly" -> ((s, dir) => {
      val store =
        graft.streaming.EventWindowStream.materializedHourlyDir(s, dir)
      s.read.parquet(store)
        .select(col("window.start").cast("timestamp_ntz").as("hour_start"),
          col("event_type"), col("n_events"),
          col("sum_value_dec").cast("double").as("sum_value"))
        .orderBy(col("hour_start"), col("event_type"))
    }),

    // STREAM-STATIC join + APPEND-mode windowed agg driver-gated: the
    // event stream enriched against the static customer dimension, daily
    // windows per market segment emitted exactly once behind the
    // watermark (sentinel-flushed) — the production streaming shape
    // ev1's complete-mode gate defers. Must equal the batch join+agg.
    "ev13_stream_static_join" -> ((s, dir) => {
      val store = graft.streaming.EventWindowStream
        .materializedSegmentDailyDir(s, dir)
      s.read.parquet(store)
        .select(col("window.start").cast("timestamp_ntz").as("day_start"),
          col("segment"), col("n_events"),
          col("sum_value_dec").cast("double").as("sum_value"))
        .orderBy(col("day_start"), col("segment"))
    }),

    // STANDING KMV sketch store, driver-gated: per-type distinct-user
    // sketches maintained across two manifest-committed merges (even
    // event_ids, then odd, exactly-once txn ids). Because bottom-k merge
    // is lossless — bottom-k(A∪B) = bottom-k(bottom-k(A) ∪ bottom-k(B)) —
    // the incrementally-built store's estimates are BIT-IDENTICAL to a
    // one-shot sketch over all events, which is what the oracle recomputes
    // relationally.
    "ev3_stream_kmv_store" -> ((s, dir) => {
      val root = graft.streaming.KmvStore
        .materializedEventsKmvDir(s, dir, k = 16)
      graft.streaming.KmvStore.estimates(s, root, k = 16)
        .withColumnRenamed("group", "event_type")
        .orderBy(col("event_type"))
    }),

    // STANDING heavy-hitters, driver-gated: ONE Misra-Gries counter
    // summary (≤ capacity rows) maintained across two manifest-committed
    // merges (even doc_ids, then odd, exactly-once txn ids). MG summaries
    // merge with the one-shot error bound, so the store provably contains
    // every token with count > n/(capacity+1); the readout broadcast-joins
    // the candidates back to the corpus for EXACT counts — deterministic,
    // equal to the naive full GROUP BY the oracle runs, while the store
    // itself stays O(capacity) at any corpus scale.
    "ev14_stream_heavyhitters" -> ((s, dir) => {
      val (root, capacity) = graft.streaming.HeavyHitterStore
        .materializedDocsHittersDir(s, dir, threshold = 150)
      val corpus = Tables(s, dir, "documents")
        .select(explode(graft.text.TextFunctions.tokens(col("text")))
          .as("tok"))
      graft.streaming.HeavyHitterStore
        .verifiedHitters(s, root, corpus, capacity, threshold = 150)
        .orderBy(col("tok"))
    }),

    // STANDING weighted sample, driver-gated: the top-(K+1) priority-
    // sampling rows maintained across two manifest-committed merges (even
    // event_ids, then odd, exactly-once txn ids). Because top-k merge is
    // lossless — top-k(A∪B) = top-k(top-k(A) ∪ top-k(B)) — the
    // incrementally-built store is BIT-IDENTICAL to one-shot priority
    // sampling over all events, which the oracle recomputes relationally.
    "ev4_stream_priority_sample" -> ((s, dir) => {
      val root = graft.streaming.PrioritySampleStore
        .materializedEventsPriorityDir(s, dir, k = 32)
      graft.streaming.PrioritySampleStore.sample(s, root, k = 32)
        .withColumnRenamed("id", "event_id")
        .orderBy(col("rank"))
    }),

    // CONTINUOUS drift monitoring, driver-gated: per-(type,bin) histogram
    // cells maintained across two manifest-committed merges (even
    // event_ids, then odd, exactly-once txn ids) against bin edges FROZEN
    // at store creation. Counter merge is additive — incremental ≡
    // one-shot — so the TVD readout off the standing store is
    // BIT-IDENTICAL to the relational recompute the oracle runs; drift
    // checks are O(types·bins), the corpus is never rescanned.
    "ev5_stream_drift_cells" -> ((s, dir) => {
      val root = graft.streaming.HistogramStore
        .materializedEventsDriftDir(s, dir)
      graft.streaming.HistogramStore.tvd(s, root)
        .withColumnRenamed("group", "event_type")
        .orderBy(col("event_type"))
    }),

    // Watermarked STREAM-STREAM interval join, driver-gated: a real
    // two-stream run (clicks ⋈ purchases within a 1-hour attribution
    // window per user, both sides watermarked, pairs forming ACROSS
    // micro-batches) appends to a store; this READS it and the oracle
    // recomputes the interval join relationally — the appended multiset
    // must equal the batch join exactly.
    "ev2_stream_attribution" -> ((s, dir) => {
      val store =
        graft.streaming.StreamJoin.materializedAttributionDir(s, dir)
      s.read.parquet(store)
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
          col("value"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    }),

    // LEFT OUTER stream-stream interval join, driver-gated: clicks that
    // converted nothing MUST still appear (NULL purchase) — emitted only
    // once the purchase-side watermark passes their window, flushed by
    // the fixture's sentinel event. The appended store must equal the
    // batch LEFT JOIN exactly; the oracle orders NULLS FIRST to match
    // Spark's ASC default.
    "ev12_stream_outer_join" -> ((s, dir) => {
      val store =
        graft.streaming.StreamJoin.materializedOuterAttributionDir(s, dir)
      s.read.parquet(store)
        .select(col("user_id"), col("click_id"),
          col("click_ts").cast("timestamp_ntz").as("click_ts"),
          col("purchase_id"), col("value"))
        .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
    }),

    // Behavioral cohort retention: users grouped by their FIRST event type
    // (row_number argmin — the rn=1 filter directly above the window plans
    // a WindowGroupLimit, top-1 per user before the shuffle), crossed with
    // the distinct (user, week) activity matrix. Both sides shuffle on
    // user_id once; the output is O(cohorts × weeks), a broadcast-sized
    // retention matrix at any event volume.
    "q38_retention_cohorts" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val firstEv = ev.select(col("user_id"), col("event_type"),
          row_number().over(Window.partitionBy(col("user_id"))
            .orderBy(col("ts"), col("event_id"))).as("rn"))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("cohort"))
      val uw = ev.select(col("user_id"),
          date_trunc("week", col("ts")).cast("timestamp_ntz").as("wk"))
        .distinct()
      uw.join(firstEv, "user_id")
        .groupBy(col("cohort"), col("wk"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort"), col("wk"))
    }),

    // Array-column statistics over embeddings: size / element access /
    // order-free min-max — all codegen'd collection expressions, no
    // interpreted lambda folds (SNIPPETS/HOF pitfall).
    "q28_array_stats" -> ((s, dir) =>
      Tables(s, dir, "embeddings").select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          array_min(col("embedding")).cast("double").as("min_e"),
          array_max(col("embedding")).cast("double").as("max_e"),
          element_at(col("embedding"), 1).cast("double").as("first_e"))
        .orderBy(col("vec_id"))),

    // Salted skew join gated against the PLAIN join in DuckDB: salting must
    // be a pure physical rewrite — row-for-row identical results. Events'
    // user_id is the skewable big side; the customer dim replicates per salt.
    "sj1_salted_join" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("value"))
      val dim = Tables(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_acctbal"))
      graft.joins.SaltedJoin.saltedJoin(ev, dim, Seq("user_id"), 8)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double")
            .as("sum_value"),
          max(col("c_acctbal")).as("bal"))
        .orderBy(col("user_id"))
    }),

    // Navigation window functions: first/nth value, ntile, rank-based
    // fractions (exact doubles — pure integer-ratio formulas).
    "q22_window_navigation" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables(s, dir, "events").select(
          col("user_id"), col("event_id"),
          first(col("value")).over(w).as("first_v"),
          nth_value(col("value"), 2).over(w).as("second_v"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Equi-depth histogram (the statistics a CBO or data-profiler collects):
    // 10 same-population bins over order totals under the total order
    // (price, key). The oracle runs the definitional NTILE; this side runs
    // the SCALABLE equivalent — a global NTILE is a single-task sort of the
    // whole fact table (the round-5 audit's one scale-killer), but NTILE is
    // a pure function of (global rank, N), so the rank comes from the
    // PrefixSum two-phase decomposition (price-range buckets → per-bucket
    // counts → tiny offset cumsum → partitioned within-bucket row_number)
    // and the standard-SQL tile formula (first N%10 tiles get one extra
    // row) is applied scan-side. Bit-identical to NTILE at any scale; every
    // corpus-sized window is partitioned.
    "q44_equidepth_hist" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .select(col("o_totalprice"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("__cents"))
      // bounded driver-free metadata: 2-value bounds + 1-value count rows,
      // broadcast back (monotone integer bucketing needs the cents range)
      val bounds = o.agg(min(col("__cents")).as("__lo"),
        (max(col("__cents")) - min(col("__cents")) + 1).as("__span"))
      val tot = o.agg(count(lit(1)).as("__n"))
      val ranked = graft.pack.PrefixSum.globalRowNumber(
        o.crossJoin(broadcast(bounds)),
        expr("(__cents - __lo) * 2048 div __span"),
        Seq(col("o_totalprice"), col("o_orderkey")), "__rank")
      ranked.crossJoin(broadcast(tot))
        .select(col("o_totalprice"),
          expr("""CAST(CASE
            WHEN __rank <= (__n DIV 10 + 1) * (__n % 10)
            THEN (__rank + __n DIV 10) DIV (__n DIV 10 + 1)
            ELSE __n % 10 +
              (__rank - (__n DIV 10 + 1) * (__n % 10) + __n DIV 10 - 1)
                DIV (__n DIV 10)
          END AS INT)""").as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_totalprice")).cast(DecimalType(18, 2)).cast("double")
            .as("lo"),
          max(col("o_totalprice")).cast(DecimalType(18, 2)).cast("double")
            .as("hi"))
        .orderBy(col("bin"))
    }),

    // KMV distinct-count via the native AGGREGATE (functions.KmvSketchAgg,
    // the library's TypedImperativeAggregate): one hash-agg pass with an
    // O(K) ordered buffer per group — no DISTINCT shuffle, no per-group
    // WindowGroupLimit sort (the q45 construction this supersedes at
    // scale). Bottom-k-distinct is a semilattice, so partial/merge order
    // cannot change the result; the estimator is the q45 textbook one
    // ((K-1)·2^60/θ when saturated), two correctly-rounded IEEE ops.
    "q137_kmv_distinct" -> ((s, dir) => {
      val K = 16
      val Dom = 1L << 60
      import org.apache.spark.sql.GraftBridge
      val ev = Tables(s, dir, "events")
        .select(col("event_type"), col("user_id"),
          graft.functions.Hash60(col("user_id").cast("string")).as("h"))
      val sk = GraftBridge.column(
        graft.functions.KmvSketchAgg(GraftBridge.expression(col("h")), K)
          .toAggregateExpression())
      ev.groupBy(col("event_type"))
        .agg(sk.as("sk"), countDistinct(col("user_id")).as("exact_distinct"))
        .select(col("event_type"),
          size(col("sk")).cast("long").as("n_sketch"),
          when(size(col("sk")) < K, size(col("sk")).cast("double"))
            .otherwise(lit((K - 1).toDouble) * lit(Dom.toDouble) /
              element_at(col("sk"), K).cast("double")).as("est_distinct"),
          col("exact_distinct"))
        .orderBy(col("event_type"))
    }),

    // Optimizer-planned distributed running windows: the SAME
    // partitionless-window SQL that melted in the round-5 q44 audit, left
    // AS WRITTEN — `graft.plans.GlobalRunningWindowStrategy` (installed
    // here the way er3 installs the SQL kernels) plans it as a range
    // exchange + two-pass prefix-combine instead of the single-task
    // WindowExec. Exercises every supported shape at once on the raw
    // orders fact table: decimal running SUM over a total order (ROWS)
    // and over a tied order (RANGE default, per-day ties), ROW_NUMBER,
    // RANK/DENSE_RANK over ties, and the q44-shaped NTILE(10). Running
    // decimal sums reassociate exactly; the final cast to double is
    // exact (cents magnitudes < 2^53).
    "q135_running_window" -> ((s, dir) => {
      graft.plans.RunningWindow.install(s)
      val total = Window.orderBy(col("o_orderdate"), col("o_orderkey"))
      val totalRows = total
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val byDay = Window.orderBy(col("o_orderdate"))
      Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("price"))
        .select(col("o_orderkey"),
          sum(col("price")).over(totalRows).cast("double").as("run_rev"),
          row_number().over(total).as("rn"),
          rank().over(byDay).as("rk"),
          dense_rank().over(byDay).as("dr"),
          ntile(10).over(total).as("decile"),
          percent_rank().over(byDay).as("pr"),
          cume_dist().over(byDay).as("cd"),
          sum(col("price")).over(byDay).cast("double").as("day_run_rev"))
        .orderBy(col("o_orderkey"))
    }),

    // Global OFFSET windows (LEAD/LAG with no PARTITION BY) planned
    // distributed: q135's running shapes plus the offset class — inter-
    // event gaps, first differences, and a deliberately partition-
    // spanning 1000-row lookahead over the whole events table, ordered
    // globally. The strategy ships each partition's O(offset) boundary
    // heads/tails through the driver (the joins.RangeLead discipline,
    // now planner-applied), so no single-task WindowExec appears.
    "q140_global_offsets" -> ((s, dir) => {
      graft.plans.RunningWindow.install(s)
      val w = Window.orderBy(col("ts"), col("event_id"))
      Tables(s, dir, "events")
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("event_type"),
          col("value").cast(DecimalType(18, 2)).as("v"))
        .select(col("event_id"),
          (lead(col("ts"), 1).over(w).cast("long") -
            col("ts").cast("long")).as("gap_s"),
          (col("v") - lag(col("v"), 1).over(w)).cast("double").as("dv"),
          lead(col("event_type"), 3, "END").over(w).as("et_next3"),
          lead(col("v"), 1000).over(w).cast("double").as("v_next_1000"))
        .orderBy(col("event_id"))
    }),

    // The running-window family as PURE spark.sql on a foreign session
    // (the er3 discipline): GraftExtensions.registerAll installs the
    // planner strategy on the driver's own plain session, and the SQL —
    // byte-for-byte the oracle's SQL — plans through
    // GlobalRunningWindowExec with no DataFrame code in the path.
    "q142_running_sql" -> ((s, dir) => {
      graft.functions.GraftExtensions.registerAll(s)
      Tables(s, dir, "orders").createOrReplaceTempView("orders_rw")
      s.sql("""SELECT o_orderkey,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS run_rev,
          LEAD(o_orderkey, 5) OVER
            (ORDER BY o_orderdate, o_orderkey) AS k_next5,
          CUME_DIST() OVER (ORDER BY o_orderdate) AS cd
        FROM orders_rw ORDER BY o_orderkey""")
    }),

    // Priority sampling (Duffield–Lund–Thorup, JACM '07) — the one-pass
    // fixed-size WEIGHTED sample a 100 TB pipeline takes instead of
    // sorting the world: priority q_i = w_i/u_i with u_i ∈ (0,1] derived
    // deterministically from the 60-bit md5 hash, keep the K largest
    // priorities (TakeOrderedAndProject: per-partition top-K, then a
    // driver merge of K·numPartitions rows — no full shuffle), and the
    // (K+1)th priority τ gives the unbiased subset-sum estimator
    // ŵ_i = max(w_i, τ). Unlike the log-based gates, cross-engine
    // determinism here needs NO quantization grid: u and q are two
    // IEEE-754 divisions (correctly rounded everywhere), never libm.
    "q46_priority_sample" -> ((s, dir) => {
      val K = 64
      val Dom = (1L << 60).toDouble
      val pr = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").as("weight"),
          (col("o_totalprice") /
            ((graft.functions.Hash60(col("o_orderkey").cast("string")) +
              lit(1L)).cast("double") / lit(Dom))).as("priority"))
      val top = pr.orderBy(col("priority").desc, col("o_orderkey"))
        .limit(K + 1)
      // bounded global window: input is exactly the K+1 retained rows
      val w = Window.orderBy(col("priority").desc, col("o_orderkey"))
      val ranked = top.withColumn("rank", row_number().over(w))
      val tau = ranked.filter(col("rank") === K + 1)
        .select(col("priority").as("tau"))
      ranked.filter(col("rank") <= K)
        .join(broadcast(tau), lit(true), "left")
        .select(col("rank"), col("o_orderkey"), col("weight"),
          greatest(col("weight"), coalesce(col("tau"), lit(0.0)))
            .as("est_weight"))
        .orderBy(col("rank"))
    }),

    // PageRank over the customer–supplier purchase graph (3 damped power
    // iterations, undirected edges from orders⋈lineitem; supplier node ids
    // offset into their own range). Each iteration is one equi-join + one
    // hash agg — key-partitioned shuffles that scale horizontally; the
    // grid-quantized contributions make both engines' sums exact (see
    // PageRank). Top-50 nodes by rank.
    "q43_pagerank" -> ((s, dir) => {
      val edges = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
      graft.graph.PageRank.pageRank(edges, iters = 3)
        .orderBy(col("pr").desc, col("id")).limit(50)
    }),

    // PERSONALIZED PageRank over the q43 purchase graph: restart mass
    // pinned to the ~1% customer seed set (c_custkey % 97 == 0) — the
    // top-30 is "nodes closest to THESE customers", not global
    // centrality. Same per-round join+agg shape and 2^-20 grid-exact
    // sums as q43; the oracle unrolls the same 3 rounds with the seeded
    // teleport vector.
    "q109_ppr" -> ((s, dir) => {
      val edges = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
      val seeds = Tables(s, dir, "customer")
        .select(col("c_custkey").as("id"))
        .filter(col("id") % 97 === 0)
      graft.graph.PageRank.personalized(edges, seeds, iters = 3)
        .orderBy(col("pr").desc, col("id")).limit(30)
    }),

    // Label-propagation communities over the same purchase graph as q43:
    // two synchronous rounds of most-frequent-neighbor-label (count desc,
    // label asc tie-break — a shuffle-free max(struct) argmax, no window).
    // Deterministic by construction; the oracle unrolls both rounds.
    "q57_label_propagation" -> ((s, dir) => {
      val edges = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
      graft.graph.LabelPropagation.propagate(edges, rounds = 2)
        .orderBy(col("id"))
    }),

    // The WITH RECURSIVE workload: per-customer ancestor-chain rollup
    // over the id-halving forest (parent = custkey div 2, root = 1) —
    // chain length and chain balance in integer cents. Spark has no
    // recursive CTE; graph/Hierarchy evaluates it by pointer doubling in
    // ⌈log₂ depth⌉ self-joins (5 rounds cover ids < 2³²) while the oracle
    // runs DuckDB's native WITH RECURSIVE. Long-cents sums make splice
    // order irrelevant in both engines.
    "q54_hierarchy_rollup" -> ((s, dir) => {
      val nodes = Tables(s, dir, "customer").select(
        col("c_custkey").cast("long").as("id"),
        when(col("c_custkey") >= 2,
          expr("CAST(c_custkey AS BIGINT) div 2")).as("parent"),
        (col("c_acctbal").cast("decimal(12,2)") * 100).cast("long")
          .as("weight"))
      graft.graph.Hierarchy.chainAgg(nodes, rounds = 5)
        .select(col("id").as("c_custkey"), col("chain_len"),
          col("chain_sum").as("chain_cents"))
        .orderBy(col("c_custkey"))
    }),

    // Bloom-index point lookup on a SECONDARY column of the clustered
    // events table: zone maps serve the ts clustering column, the
    // manifest-resident per-segment blooms serve user_id — the lookup
    // opens only the (expected 1 + fpp·15 of 16) segments that might hold
    // the user. The oracle is the plain filter; index pruning must be
    // row-for-row invisible.
    "zm2_bloom_lookup" -> ((s, dir) => {
      val root = graft.streaming.ClusteredTable.materializedEventsDir(s, dir)
      graft.streaming.BloomIndex.lookup(s, root, 5L)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .orderBy(col("event_id"))
    }),

    // Fuzzy (edit-distance) join with FastSS deletion-neighborhood blocking:
    // a deterministic typo is derived from every part-name word (one char
    // deleted at a hash-picked position) and matched back against the vocab
    // at Levenshtein distance <= 1. The blocking trick: two strings within
    // distance 1 always share a member of their single-deletion
    // neighborhoods (incl. the string itself), so candidate generation is a
    // plain EQUI-join on exploded variants — O(len) variants per word, a
    // hash join Spark can shuffle/broadcast like any other, never the
    // all-pairs nested loop a raw `levenshtein(a,b) <= 1` predicate forces.
    // The exact distance then verifies the few candidates.
    "q42_fuzzy_join" -> ((s, dir) => {
      val words = Tables(s, dir, "part")
        .select(explode(split(lower(col("p_name")), " ")).as("w")).distinct()
      val typos = words.filter(length(col("w")) >= 4)
        .withColumn("pos",
          (graft.functions.Hash60(concat(lit("typo:"), col("w")))
            % length(col("w")).cast("long")).cast("int") + 1)
        .selectExpr("concat(substring(w, 1, pos - 1), " +
          "substring(w, pos + 1, length(w))) AS q")
        .distinct()
      // native single-deletion neighborhood (same variant set as the
      // composed concat/transform/substring HOF, without its per-char
      // interpreted lambda frames)
      def delVars(df: DataFrame, c: String) = df.select(col(c),
        explode(graft.text.DeletionVariants(col(c))).as("v"))
      delVars(typos, "q").join(delVars(words, "w"), Seq("v"))
        .select(col("q"), col("w")).distinct()
        .withColumn("dist", levenshtein(col("q"), col("w")).cast("long"))
        .filter(col("dist") <= 1)
        .orderBy(col("q"), col("w"))
    }),

    // Zone-map data skipping: a 3-day range query against the range-CLUSTERED
    // events table. Planning resolves the manifest's per-segment min/max and
    // opens only the overlapping segments (≈3 of 16 at every SF); the oracle
    // recomputes the same aggregate from the flat parquet — pruning must be a
    // pure physical optimization, row-for-row invisible in the result.
    "zm1_clustered_prune" -> ((s, dir) => {
      val root = graft.streaming.ClusteredTable.materializedEventsDir(s, dir)
      val lo = java.time.LocalDateTime.of(2024, 1, 10, 0, 0, 0)
      val hi = java.time.LocalDateTime.of(2024, 1, 12, 23, 59, 59)
      graft.streaming.ClusteredTable.rangeScan(s, root, Some(lo), Some(hi))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double")
            .as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // Per-STRATUM priority sampling — the fixed-k-per-domain weighted
    // sample (cur5's group-cap shape ⊗ q46's estimator): rank by
    // deterministic priority within each event type, keep K+1, per-group
    // τ from the (K+1)th. The rank filter plans as WindowGroupLimit, so
    // every map task pre-limits its groups to K+1 rows BEFORE the
    // exchange — per-group work never concentrates in one task beyond
    // the group's own top rows.
    "q48_group_priority_sample" -> ((s, dir) => {
      val K = 8
      val pr = Tables(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          col("value").as("weight"),
          graft.streaming.PrioritySampleStore
            .priorityOf(col("event_id"), col("value")).as("priority"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("priority").desc, col("event_id"))
      val ranked = pr.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K + 1)
      val tau = ranked.filter(col("rank") === K + 1)
        .select(col("event_type"), col("priority").as("tau"))
      ranked.filter(col("rank") <= K)
        .join(broadcast(tau), Seq("event_type"), "left")
        .select(col("event_type"), col("rank"), col("event_id"),
          col("weight"),
          greatest(col("weight"), coalesce(col("tau"), lit(0.0)))
            .as("est_weight"))
        .orderBy(col("event_type"), col("rank"))
    }),

    // Robust outlier detection (median/MAD z-score — the data-cleaning
    // pass that survives the outliers it hunts, unlike mean/stddev): two
    // passes of the rank-based percentile kernel (median of value, then
    // median of |v−med|), flag |v−med| > 3·MAD. All arithmetic is
    // single-op IEEE (sub, abs, one multiply, compare) on values both
    // engines derive identically — no grids needed; the kernel's
    // interpolation already matches quantile_cont bit-for-bit (q18).
    //
    // ONE fact pass (r13, the r12-verdict q49 adjudication): the r12
    // shape scanned events three times (median kernel, deviation join
    // for the MAD kernel, final flag aggregation) and each kernel call
    // paid its own eager lineage-cut + count barrier — the driver
    // measured the composition SLOWER than the r11 form it replaced.
    // Everything after the first distinct (event_type, value, count)
    // aggregation is derivable from that table alone: the deviation
    // multiset is |v − med| with the same counts (values symmetric
    // around the median merge by re-aggregation — exactly the rows the
    // kernel's internal distinct pass would have produced), and the
    // outlier/row totals are integer sums of the counts. So: one fact
    // aggregation, lineage-cut once, one measured count; both kernel
    // calls run weighted on the compressed table with the cut skipped
    // (their inputs root on the leaf) and the measured size as the
    // shape hint (deviation distincts ≤ value distincts). Bit-identical:
    // same medians (same kernel on the same counts), same deviations
    // (per distinct value instead of per row), same integer sums.
    "q49_mad_outliers" -> ((s, dir) => {
      val counts = graft.graph.GraphOps.checkpoint(
        Tables(s, dir, "events")
          .groupBy(col("event_type"), col("value").cast("double").as("v"))
          .agg(count(lit(1)).as("cnt")))
      val nDistinct = counts.count()
      val med = graft.graph.GraphOps.checkpoint(
        graft.functions.RankPercentiles
          .exactWeighted(counts, "event_type", "v", "cnt",
            Seq("med" -> 0.5), cutInput = false,
            sizeHint = Some(nDistinct))
          .select(col("event_type"), col("med")))
      val devCounts = counts.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), col("med"),
          abs(col("v") - col("med")).as("dev"), col("cnt"))
      val mad = graft.functions.RankPercentiles
        .exactWeighted(devCounts, "event_type", "dev", "cnt",
          Seq("mad" -> 0.5), cutInput = false,
          sizeHint = Some(nDistinct))
        .select(col("event_type"), col("mad"))
      devCounts.join(broadcast(mad), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(first(col("med")).as("median"), first(col("mad")).as("mad"),
          sum(when(col("dev") > lit(3.0) * col("mad"), col("cnt"))
            .otherwise(0L)).as("n_outliers"),
          sum(col("cnt")).as("n"))
        .orderBy(col("event_type"))
    }),

    // Per-vertex TRIANGLE counting + local clustering coefficient over the
    // co-purchase graph (parts that share an order) — the graph statistic
    // behind community detection and spam-cluster pruning in web-graph
    // curation. The edge list is a self-join bounded by order size (≤7
    // lineitems in TPC-H shape); the count uses degree-ordered orientation
    // (graph/Triangles.scala) so the wedge join is bounded by O(√m)
    // out-degrees — no celebrity vertex ever materializes deg² pairs. The
    // coefficient is division-only IEEE arithmetic: bit-exact
    // cross-engine, no quantization grid. Top-100 on the (triangles,
    // part_id) key is a total order → deterministic TakeOrdered. The gate
    // runs on a deterministic 1-in-5 order subset: the full sf0.1
    // co-purchase graph is near-complete (avg degree ~120 over 20k
    // parts — wedge work is quadratic in DENSITY, not data size), which
    // measures graph density, not the operator; the subset keeps the
    // bench honest while TrianglesSpec's skewed-hub case pins the
    // celebrity bound.
    "q50_triangles" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .filter(col("l_orderkey") % 5 === 0)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      graft.graph.Triangles.clusteringCoefficients(edges, "u", "v")
        .filter(col("triangles") > 0)
        .select(col("id").as("part_id"), col("degree"), col("triangles"),
          col("clustering_coeff"))
        .orderBy(col("triangles").desc, col("part_id"))
        .limit(100)
    }),

    // Distribution-DRIFT detection — the monitoring pass a production
    // training pipeline runs between data snapshots: per event type, the
    // `value` distribution of the first half of January vs the rest,
    // compared as total-variation distance over a fixed 20-bin equi-width
    // histogram (bins from the GLOBAL min/max so both snapshots share
    // edges). Scale shape: two scans + one hash agg on (type, bin) — the
    // bin table is O(types·20), so the TVD arithmetic is driver-trivial
    // and the corpus is never joined against itself. Binning is
    // floor/division (correctly-rounded IEEE); the ≤20 |p−q| addends are
    // grid-quantized so the per-type sum is order-exact.
    "q47_drift_tvd" -> ((s, dir) => {
      val G = 1048576L
      val split = lit("2024-01-15 00:00:00").cast("timestamp_ntz")
      val ev = Tables(s, dir, "events")
        .select(col("event_type"), col("ts"), col("value"))
      val bounds = ev.agg(min(col("value")).as("mn"),
        max(col("value")).as("mx"))
      val binned = ev.join(broadcast(bounds))
        .select(col("event_type"), (col("ts") < split).as("is_a"),
          least(floor((col("value") - col("mn")) /
            (col("mx") - col("mn")) * 20.0).cast("long"), lit(19L))
            .as("bin"))
      val cells = binned.groupBy(col("event_type"), col("bin"))
        .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
          sum(when(col("is_a"), 0L).otherwise(1L)).as("cb"))
      val totals = cells.groupBy(col("event_type"))
        .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      cells.join(totals, Seq("event_type"))
        .select(col("event_type"), col("na"), col("nb"),
          (round(abs(col("ca").cast("double") / col("na").cast("double") -
            col("cb").cast("double") / col("nb").cast("double")) * G, 0) / G)
            .as("d"))
        .groupBy(col("event_type"))
        .agg(first(col("na")).as("n_a"), first(col("nb")).as("n_b"),
          (sum(col("d")) / 2.0).as("tvd"))
        .orderBy(col("event_type"))
    }),

    // Two-sample KOLMOGOROV–SMIRNOV drift test per event type (same
    // snapshot split as q47): KS = max |F_a(v) − F_b(v)| over the merged
    // support — the distribution-shape check TVD-over-fixed-bins can
    // smooth away. Scale shape: one hash agg collapses the corpus to
    // distinct (type, value) points, then ONE window per type computes
    // both running CDFs (parallel across types; the window input is
    // already distinct-value-sized). All arithmetic is count division →
    // correctly-rounded IEEE, identical operand bits cross-engine — no
    // quantization grid.
    "q51_ks_drift" -> ((s, dir) => {
      val split = lit("2024-01-15 00:00:00").cast("timestamp_ntz")
      val pts = Tables(s, dir, "events")
        .select(col("event_type"), (col("ts") < split).as("is_a"),
          col("value"))
        .groupBy(col("event_type"), col("value"))
        .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
          sum(when(col("is_a"), 0L).otherwise(1L)).as("cb"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      val cum = pts.select(col("event_type"),
        sum(col("ca")).over(w).as("cca"),
        sum(col("cb")).over(w).as("ccb"))
      val totals = pts.groupBy(col("event_type"))
        .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      cum.join(broadcast(totals), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(first(col("na")).as("n_a"), first(col("nb")).as("n_b"),
          max(abs(col("cca").cast("double") / col("na").cast("double") -
            col("ccb").cast("double") / col("nb").cast("double")))
            .as("ks"))
        .orderBy(col("event_type"))
    }),

    // Time-DECAYED counts — the recency-weighted frequency monitor a
    // continuous ingestion pipeline tracks per event type (a raw count
    // never forgets; a decayed count answers "how hot is this stream
    // NOW"). decayed = Σ 2^(−Δt/halflife) with Δt measured back from the
    // corpus max timestamp, so the gate is deterministic from data alone.
    // One scan + one hash agg; the single libm call (pow) is 2^-20
    // grid-quantized per addend, so the per-type sums (≤ n addends in
    // [0,1]) are exact in double on both engines.
    "q53_decay_counts" -> ((s, dir) => {
      val G = 1048576L
      val hlUs = 6L * 3600 * 1000000 // 6-hour half-life, in microseconds
      val ev = Tables(s, dir, "events")
        .select(col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("ep"))
      val t0 = ev.agg(max(col("ep")).as("t0"))
      ev.crossJoin(broadcast(t0))
        .select(col("event_type"),
          (floor(pow(lit(2.0),
            -((col("t0") - col("ep")).cast("double") / lit(hlUs.toDouble)))
            * G) / lit(G.toDouble)).as("w"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("w")).as("decayed_count"))
        .orderBy(col("event_type"))
    }),

    // Z-ORDER 2-D box query (the OPTIMIZE ZORDER BY (user_id, value)
    // story): Morton-interleaved clustering gives BOTH columns locality,
    // so the manifest's per-column zone maps prune segments on two
    // dimensions at once — a box that 1-D clustering could prune on only
    // one axis. Layout is invisible in the result: the residual
    // conjunction always runs (and lands in PushedFilters), so the oracle
    // is the plain flat-parquet filter.
    "zm3_zorder_prune" -> ((s, dir) => {
      val root = graft.streaming.ClusteredTable
        .materializedEventsZOrderDir(s, dir)
      graft.streaming.ClusteredTable.zScan(s, root,
          Some(3L), Some(40L), Some(20.0), Some(150.0))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("value")).as("vmin"), max(col("value")).as("vmax"))
        .orderBy(col("event_type"))
    }),

    // Trailing-7-day distinct active users per day — the windowed
    // COUNT(DISTINCT) no window function can express (distinct doesn't
    // decompose over frames). Scale shape: the fact table collapses to
    // day-grain (user, day) pairs FIRST (one hash agg over the scan), each
    // pair is then exploded to the ≤7 window-ends it is visible to (a
    // bounded ×7 blowup of the PRE-AGG, never of raw events), and a second
    // distinct + count gives the rolling cardinality. Pure hash exchanges
    // throughout — no range join, no per-day corpus rescan; the oracle
    // derives the same numbers through an INDEPENDENT range-join
    // formulation.
    "q58_rolling_active_users" -> ((s, dir) => {
      val ud = Tables(s, dir, "events")
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
      val days = ud.select(col("d")).distinct()
      val contrib = ud
        .select(col("user_id"),
          explode(sequence(col("d"), date_add(col("d"), 6))).as("win_end"))
        .distinct()
      val counts = contrib.groupBy(col("win_end"))
        .agg(count(lit(1)).as("n_active_7d"))
      days.join(counts, days("d") === counts("win_end"))
        .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
          col("n_active_7d"))
        .orderBy(col("day"))
    })
  )

  /** Three unrolled PageRank rounds as chained CTEs, numerically identical
    * to the Spark loop: same 2^-20 contribution/update quantization, same
    * `(1.0 - 0.85)` teleport constant computed in binary double.
    */
  private def pageRankSql: String = {
    val G = 1048576L
    val iters = (1 to 3).map { i =>
      s"""c$i AS (
        SELECT u.dst AS id, SUM(floor(v.pr / v.outdeg * $G) / $G) AS s
        FROM und u JOIN v${i - 1} v ON u.src = v.id GROUP BY 1
      ), v$i AS (
        SELECT d.id, floor(((1.0::DOUBLE - 0.85::DOUBLE) / n
          + 0.85::DOUBLE * c.s) * $G) / $G AS pr, d.outdeg
        FROM deg d JOIN c$i c USING (id), nn
      )"""
    }.mkString(", ")
    s"""
      WITH e0 AS (
        SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      ), und AS (
        SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
      ), deg AS (
        SELECT src AS id, COUNT(*) AS outdeg FROM und GROUP BY 1
      ), nn AS (
        SELECT COUNT(*) AS n FROM deg
      ), v0 AS (
        SELECT id, 1.0::DOUBLE / n AS pr, outdeg FROM deg, nn
      ), $iters
      SELECT id, pr FROM v3 ORDER BY pr DESC, id LIMIT 50"""
  }

  private def pprSql: String = {
    val G = 1048576L
    val iters = (1 to 3).map { i =>
      s"""c$i AS (
        SELECT u.dst AS id, SUM(floor(v.pr / v.outdeg * $G) / $G) AS s
        FROM und u JOIN v${i - 1} v ON u.src = v.id GROUP BY 1
      ), v$i AS (
        SELECT d.id,
          floor((CASE WHEN d.seed
              THEN (1.0::DOUBLE - 0.85::DOUBLE) / ns.ns
              ELSE 0.0::DOUBLE END
            + 0.85::DOUBLE * c.s) * $G) / $G AS pr, d.outdeg
        FROM deg d JOIN c$i c USING (id), ns
      )"""
    }.mkString(", ")
    s"""
      WITH e0 AS (
        SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      ), und AS (
        SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
      ), seeds AS (
        SELECT DISTINCT c_custkey AS id FROM customer
        WHERE c_custkey % 97 = 0
      ), deg AS (
        SELECT d.id, d.outdeg, s.id IS NOT NULL AS seed FROM (
          SELECT src AS id, COUNT(*) AS outdeg FROM und GROUP BY 1
        ) d LEFT JOIN seeds s ON d.id = s.id
      ), ns AS (
        SELECT COUNT(*) AS ns FROM deg WHERE seed
      ), v0 AS (
        SELECT id,
          CASE WHEN seed THEN 1.0::DOUBLE / ns.ns ELSE 0.0::DOUBLE END
            AS pr, outdeg
        FROM deg, ns
      ), $iters
      SELECT id, pr FROM v3 ORDER BY pr DESC, id LIMIT 30"""
  }

  val oracleSql: Map[String, String] = Map(
    "q109_ppr" -> pprSql,

    "q53_decay_counts" -> """
      WITH ev AS (
        SELECT event_type, epoch_us(ts) AS ep FROM events
      ), t0 AS (
        SELECT MAX(ep) AS t0 FROM ev
      ), wts AS (
        SELECT event_type,
          floor(power(2.0, -(CAST(t0.t0 - ep AS DOUBLE) / 21600000000.0))
            * 1048576) / 1048576.0 AS w
        FROM ev, t0
      )
      SELECT event_type, COUNT(*) AS n_events, SUM(w) AS decayed_count
      FROM wts GROUP BY event_type ORDER BY event_type""",

    "aj1_asof_click_purchase" -> """
      WITH clicks AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
      ), purchases AS (
        SELECT user_id, ts, ts AS purchase_ts, value AS purchase_value
        FROM events WHERE event_type = 'purchase'
      )
      SELECT c.user_id, c.event_id, c.ts, p.purchase_ts, p.purchase_value
      FROM clicks c ASOF LEFT JOIN purchases p
        ON c.user_id = p.user_id AND c.ts >= p.ts
      ORDER BY c.event_id""",

    // Independent formulation: correlated-MIN next-event instead of the
    // union-window fill, tolerance as a CASE over the matched timestamp.
    "aj2_asof_next_error" -> """
      WITH clicks AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
      ), errors AS (
        SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'error'
      ), nxt AS (
        SELECT c.user_id, c.event_id, c.ts,
          (SELECT MIN(e.ts) FROM errors e
           WHERE e.user_id = c.user_id AND e.ts >= c.ts) AS n_ts
        FROM clicks c
      )
      SELECT user_id, event_id, ts,
        CASE WHEN n_ts <= ts + INTERVAL 30 MINUTE THEN n_ts END
          AS error_ts,
        CASE WHEN n_ts <= ts + INTERVAL 30 MINUTE
          THEN epoch_us(n_ts) - epoch_us(ts) END AS gap_us
      FROM nxt ORDER BY event_id""",

    "aj3_asof_nearest" -> """
      WITH views AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'
      ), clicks AS (
        SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'click'
      ), nn AS (
        SELECT v.user_id, v.event_id, v.ts,
          (SELECT MAX(c.ts) FROM clicks c
           WHERE c.user_id = v.user_id AND c.ts <= v.ts) AS prev_ts,
          (SELECT MIN(c.ts) FROM clicks c
           WHERE c.user_id = v.user_id AND c.ts >= v.ts) AS next_ts
        FROM views v
      ), pick AS (
        SELECT user_id, event_id, ts,
          CASE WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
            WHEN next_ts IS NULL THEN prev_ts
            WHEN prev_ts IS NULL THEN next_ts
            WHEN epoch_us(ts) - epoch_us(prev_ts)
              <= epoch_us(next_ts) - epoch_us(ts) THEN prev_ts
            ELSE next_ts END AS nearest_click_ts
        FROM nn
      )
      SELECT user_id, event_id, ts, nearest_click_ts,
        epoch_us(nearest_click_ts) - epoch_us(ts) AS gap_us,
        CASE WHEN nearest_click_ts IS NULL THEN NULL
          WHEN nearest_click_ts <= ts THEN 'before' ELSE 'after' END
          AS direction
      FROM pick ORDER BY event_id""",

    "q12_rollup_orders" -> """
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue
      FROM orders
      GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",

    "q13_setops_customers" -> """
      WITH high AS (
        SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 400000
      ), repeat AS (
        SELECT o_custkey FROM orders GROUP BY o_custkey HAVING COUNT(*) > 12
      )
      SELECT o_custkey, 'both' AS tag
        FROM (SELECT * FROM high INTERSECT SELECT * FROM repeat)
      UNION ALL
      SELECT o_custkey, 'high_only'
        FROM (SELECT * FROM high EXCEPT SELECT * FROM repeat)
      UNION ALL
      SELECT o_custkey, 'repeat_only'
        FROM (SELECT * FROM repeat EXCEPT SELECT * FROM high)
      ORDER BY tag, o_custkey""",

    "q14_sliding_frame" -> """
      SELECT user_id, event_id, ts,
        COUNT(*) OVER w AS n_in_frame,
        MIN(value) OVER w AS min_v,
        MAX(value) OVER w AS max_v,
        CAST(SUM(event_id) OVER w AS BIGINT) AS sum_ids
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id""",

    "q15_count_distinct" -> """
      SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
        COUNT(*) AS n_events
      FROM events GROUP BY event_type ORDER BY event_type""",

    "q16_approx_distinct" -> """
      SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
        TRUE AS within_tol
      FROM events GROUP BY event_type ORDER BY event_type""",

    // Bit-identical sketch mirror: same md5-derived 60-bit hashes, same
    // bottom-K selection, same estimator arithmetic (all left-associative
    // double ops over exactly-representable inputs).
    "q45_kmv_overlap" -> """
      WITH ha AS (
        SELECT DISTINCT event_type,
          ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
      ), hb AS (
        SELECT DISTINCT event_type,
          ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM events WHERE ts >= TIMESTAMP '2024-01-24 00:00:00'
      ), ska AS (
        SELECT event_type, h FROM (
          SELECT event_type, h,
            ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM ha) WHERE rn <= 16
      ), skb AS (
        SELECT event_type, h FROM (
          SELECT event_type, h,
            ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM hb) WHERE rn <= 16
      ), esta AS (
        SELECT event_type,
          CASE WHEN COUNT(*) < 16 THEN 1152921504606846976
               ELSE MAX(h) END AS theta_a,
          CASE WHEN COUNT(*) < 16 THEN COUNT(*)::DOUBLE
               ELSE 15.0 * 1152921504606846976::DOUBLE / MAX(h)::DOUBLE
          END AS est_a
        FROM ska GROUP BY 1
      ), estb AS (
        SELECT event_type,
          CASE WHEN COUNT(*) < 16 THEN 1152921504606846976
               ELSE MAX(h) END AS theta_b,
          CASE WHEN COUNT(*) < 16 THEN COUNT(*)::DOUBLE
               ELSE 15.0 * 1152921504606846976::DOUBLE / MAX(h)::DOUBLE
          END AS est_b
        FROM skb GROUP BY 1
      ), sku AS (
        SELECT event_type, h FROM (
          SELECT event_type, h,
            ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM (SELECT event_type, h FROM ska
                UNION SELECT event_type, h FROM skb)
        ) WHERE rn <= 16
      ), estu AS (
        SELECT event_type,
          CASE WHEN COUNT(*) < 16 THEN COUNT(*)::DOUBLE
               ELSE 15.0 * 1152921504606846976::DOUBLE / MAX(h)::DOUBLE
          END AS est_union
        FROM sku GROUP BY 1
      ), esti AS (
        SELECT c.event_type,
          CASE WHEN MIN(least(ta.theta_a, tb.theta_b)) = 1152921504606846976
               THEN COUNT(*)::DOUBLE
               ELSE COUNT(*)::DOUBLE * 1152921504606846976::DOUBLE
                    / MIN(least(ta.theta_a, tb.theta_b))::DOUBLE
          END AS est_intersect
        FROM (SELECT event_type, h FROM ska
              INTERSECT SELECT event_type, h FROM skb) c
        JOIN esta ta ON c.event_type = ta.event_type
        JOIN estb tb ON c.event_type = tb.event_type
        WHERE c.h < least(ta.theta_a, tb.theta_b)
        GROUP BY 1
      ), exact AS (
        SELECT a.event_type, COUNT(*) AS exact_intersect FROM (
          SELECT DISTINCT event_type, user_id FROM events
          WHERE ts < TIMESTAMP '2024-01-08 00:00:00') a
        JOIN (
          SELECT DISTINCT event_type, user_id FROM events
          WHERE ts >= TIMESTAMP '2024-01-24 00:00:00') b
        ON a.event_type = b.event_type AND a.user_id = b.user_id
        GROUP BY 1
      )
      SELECT esta.event_type, est_a, est_b, est_union,
        COALESCE(est_intersect, 0.0) AS est_intersect,
        COALESCE(exact_intersect, 0) AS exact_intersect
      FROM esta
      JOIN estb USING (event_type)
      JOIN estu USING (event_type)
      LEFT JOIN esti USING (event_type)
      LEFT JOIN exact USING (event_type)
      ORDER BY event_type""",

    "q39_hll_merge" -> """
      SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
        TRUE AS within_tol
      FROM events GROUP BY event_type ORDER BY event_type""",

    "q40_bucketed_join" -> """
      SELECT c_nationkey, COUNT(*) AS n_orders,
        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
          AS DOUBLE) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey ORDER BY c_nationkey""",

    // The oracle joins directly (theta overlap) — binning is an
    // execution-side strategy, invisible in the result.
    "q41_interval_join" -> """
      WITH flagged AS (
        SELECT user_id, event_id, ts,
          CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
               THEN 1
               WHEN LAG(ts) OVER w IS NULL THEN 1
               ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), numbered AS (
        SELECT user_id, ts,
          SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM flagged
      ), s AS (
        SELECT user_id, session_seq, MIN(ts) AS session_start,
          MAX(ts) AS session_end
        FROM numbered GROUP BY user_id, session_seq
      ), w AS (
        SELECT DISTINCT date_trunc('week', ts) AS w_start FROM events
      )
      SELECT w.w_start, COUNT(*) AS n_sessions
      FROM w JOIN s ON s.session_start < w.w_start + INTERVAL 1 DAY
                   AND w.w_start <= s.session_end
      GROUP BY 1 ORDER BY 1""",

    "q17_sessionize" -> """
      WITH flagged AS (
        SELECT user_id, event_id, ts,
          CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
               THEN 1
               WHEN LAG(ts) OVER w IS NULL THEN 1
               ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), numbered AS (
        SELECT user_id, event_id, ts,
          CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts,
            event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS session_seq
        FROM flagged
      )
      SELECT user_id, session_seq, COUNT(*) AS n_events,
        MIN(ts) AS session_start, MAX(ts) AS session_end
      FROM numbered GROUP BY user_id, session_seq
      ORDER BY user_id, session_seq""",

    "q18_percentiles" -> """
      SELECT o_orderstatus,
        quantile_cont(o_totalprice, 0.5) AS p50,
        quantile_cont(o_totalprice, 0.9) AS p90,
        COUNT(*) AS n
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q19_correlated_subquery" -> """
      SELECT c_custkey, c_acctbal FROM customer c
      WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
            (SELECT COUNT(*) FROM customer c2
             WHERE c2.c_nationkey = c.c_nationkey)
          > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer c2
             WHERE c2.c_nationkey = c.c_nationkey)
      ORDER BY c_custkey""",

    "tx6_bigram_docfreq" -> raw"""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
      ), sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          generate_series(1, greatest(len(t) - 1, 1)),
          i -> array_to_string(list_slice(t, i, i + 1), ' ')))) AS bigram
        FROM toks
      )
      SELECT bigram, COUNT(*) AS n_docs FROM sh
      GROUP BY bigram ORDER BY n_docs DESC, bigram LIMIT 20""",

    "q20_pivot_status" -> """
      SELECT o_orderpriority,
        COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
        COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
        COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q21_setops_all" -> """
      WITH big AS (
        SELECT o_custkey FROM orders WHERE o_totalprice > 300000
      ), open_o AS (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      ), tagged AS (
        SELECT o_custkey, 'big_not_open' AS tag
          FROM (SELECT * FROM big EXCEPT ALL SELECT * FROM open_o)
        UNION ALL
        SELECT o_custkey, 'both'
          FROM (SELECT * FROM big INTERSECT ALL SELECT * FROM open_o)
      )
      SELECT tag, o_custkey, COUNT(*) AS multiplicity FROM tagged
      GROUP BY tag, o_custkey ORDER BY tag, o_custkey""",

    "q23_range_frame" -> """
      SELECT user_id, event_id,
        COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_last_hour
      FROM events ORDER BY user_id, event_id""",

    "tx7_tfidf" -> raw"""
      WITH toks AS (
        SELECT doc_id,
          unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
      ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
      ), dfreq AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
      ), scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
          round(tf.tf::DOUBLE * ln((SELECT COUNT(*) FROM documents)::DOUBLE
                             / dfreq.df), 6) AS tfidf
        FROM tf JOIN dfreq USING (term)
      ), ranked AS (
        SELECT doc_id, term, tf, df, tfidf,
          ROW_NUMBER() OVER (PARTITION BY doc_id
                             ORDER BY tfidf DESC, term) AS rk
        FROM scored
      )
      SELECT doc_id, term, tf, df, tfidf, rk FROM ranked
      WHERE rk <= 3 ORDER BY doc_id, rk""",

    "q25_stats_moments" -> """
      WITH sums AS (
        SELECT o_orderstatus, COUNT(*) AS n,
          CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
            AS DOUBLE) AS s1,
          CAST(CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
            * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
            AS VARCHAR) AS DOUBLE) AS s2
        FROM orders GROUP BY o_orderstatus
      )
      SELECT o_orderstatus, n,
        s1 / n AS mean,
        (s2 - s1 * s1 / n) / (n - 1) AS variance,
        sqrt((s2 - s1 * s1 / n) / (n - 1)) AS stddev
      FROM sums ORDER BY o_orderstatus""",

    // Gaps-and-islands recompute of the streamed session table: break at
    // inter-event gap ≥ 30 min, cumulative-sum session ids, bounds + count.
    "ev8_stream_sessions" -> """
      WITH seq AS (
        SELECT user_id, ts,
          CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
            >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        FROM events
      ), ses AS (
        SELECT user_id, ts,
          SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
        FROM seq
      )
      SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_last,
        CAST(COUNT(*) AS BIGINT) AS n_events
      FROM ses GROUP BY user_id, sid
      ORDER BY user_id, session_start""",

    // The incrementally-merged store is decimal-lossless, so its oracle
    // is the one-shot q55 recompute verbatim.
    "ev7_stream_regression_store" -> """
      WITH sums AS (
        SELECT l_returnflag, COUNT(*) AS n,
          CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR)
            AS DOUBLE) AS sx,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
            AS DOUBLE) AS sy,
          CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
            * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
            AS VARCHAR) AS DOUBLE) AS sxy,
          CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
            * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4)))
            AS VARCHAR) AS DOUBLE) AS sx2,
          CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
            AS VARCHAR) AS DOUBLE) AS sy2
        FROM lineitem GROUP BY l_returnflag
      ), fit AS (
        SELECT l_returnflag, n, sx, sy,
          (n * sxy - sx * sy) / (n * sx2 - sx * sx) AS slope,
          (n * sxy - sx * sy)
            / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy))
            AS corr_xy
        FROM sums
      )
      SELECT l_returnflag, n, slope,
        (sy - slope * sx) / n AS intercept, corr_xy
      FROM fit ORDER BY l_returnflag""",

    // Same exact-decimal-sums chain; VARCHAR round-trip on the decimal →
    // double casts reproduces Spark's conversion past 2^53 (the q25 trick).
    "q55_group_regression" -> """
      WITH sums AS (
        SELECT l_returnflag, COUNT(*) AS n,
          CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR)
            AS DOUBLE) AS sx,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)
            AS DOUBLE) AS sy,
          CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
            * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
            AS VARCHAR) AS DOUBLE) AS sxy,
          CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
            * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4)))
            AS VARCHAR) AS DOUBLE) AS sx2,
          CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
            AS VARCHAR) AS DOUBLE) AS sy2
        FROM lineitem GROUP BY l_returnflag
      ), fit AS (
        SELECT l_returnflag, n, sx, sy,
          (n * sxy - sx * sy) / (n * sx2 - sx * sx) AS slope,
          (n * sxy - sx * sy)
            / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy))
            AS corr_xy
        FROM sums
      )
      SELECT l_returnflag, n, slope,
        (sy - slope * sx) / n AS intercept, corr_xy
      FROM fit ORDER BY l_returnflag""",

    "q24_lateral_topn" -> """
      SELECT n.n_name, t.c_custkey, t.c_acctbal
      FROM nation n, LATERAL (
        SELECT c_custkey, c_acctbal FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
      ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""",

    "q31_full_outer" -> """
      WITH big AS (
        SELECT o_custkey, COUNT(*) AS n_big FROM orders
        WHERE o_totalprice > 400000 GROUP BY o_custkey
      ), urgent AS (
        SELECT o_custkey, COUNT(*) AS n_urgent FROM orders
        WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey
      )
      SELECT COALESCE(b.o_custkey, u.o_custkey) AS o_custkey,
        COALESCE(n_big, 0) AS n_big,
        COALESCE(n_urgent, 0) AS n_urgent
      FROM big b FULL OUTER JOIN urgent u ON b.o_custkey = u.o_custkey
      ORDER BY o_custkey""",

    "q32_posexplode" -> """
      SELECT vec_id, CAST(g.i - 1 AS INT) AS pos,
        CAST(embedding[g.i] AS DOUBLE) AS val
      FROM embeddings, generate_series(1, 8) g(i)
      WHERE vec_id < 20 AND g.i <= len(embedding)
      ORDER BY vec_id, pos""",

    "q33_hash_split" -> """
      WITH b AS (
        SELECT doc_id,
          ('0x' || substr(md5(text), 1, 15))::BIGINT % 100 AS bucket
        FROM documents
      )
      SELECT CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'valid'
                  ELSE 'test' END AS split,
        COUNT(*) AS n_docs
      FROM b GROUP BY 1 ORDER BY split""",

    "q30_approx_percentile" -> """
      SELECT o_orderstatus,
        quantile_cont(o_totalprice, 0.5) AS p50_exact,
        TRUE AS within_tol
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q26_cube_orders" -> """
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue,
        CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
      FROM orders
      GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY g_status, g_prio,
        o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",

    "q34_grouping_sets" -> """
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        (o_orderpriority), ())
      ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
        o_orderpriority NULLS FIRST""",

    "q35_unpivot" -> """
      SELECT o_orderkey, metric, val FROM (
        SELECT o_orderkey, 'custkey' AS metric, o_custkey::DOUBLE AS val
        FROM orders WHERE o_orderkey <= 500
        UNION ALL
        SELECT o_orderkey, 'orderyear', year(o_orderdate)::DOUBLE
        FROM orders WHERE o_orderkey <= 500
        UNION ALL
        SELECT o_orderkey, 'totalprice', o_totalprice::DOUBLE
        FROM orders WHERE o_orderkey <= 500
      ) ORDER BY o_orderkey, metric""",

    "q36_listagg" -> """
      SELECT o_orderstatus,
        string_agg(o_orderpriority, ','
          ORDER BY o_orderpriority, o_orderkey) AS prios
      FROM orders WHERE o_orderkey <= 200
      GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q56_markov_transitions" -> """
      WITH seq AS (
        SELECT event_type,
          LEAD(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS next_type
        FROM events
      ), trans AS (
        SELECT event_type, next_type,
          CAST(COUNT(*) AS BIGINT) AS n_transitions
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
      ), totals AS (
        SELECT event_type, CAST(SUM(n_transitions) AS BIGINT) AS total
        FROM trans GROUP BY 1
      )
      SELECT t.event_type, t.next_type, t.n_transitions,
        t.n_transitions::DOUBLE / tot.total AS prob
      FROM trans t JOIN totals tot USING (event_type)
      ORDER BY t.event_type, t.next_type""",

    "q37_funnel" -> """
      WITH ta AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY 1
      ), tb AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN ta USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > ta.t_view
          AND e.ts <= ta.t_view + INTERVAL 12 HOURS
        GROUP BY 1
      ), tc AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN tb USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > tb.t_click
          AND e.ts <= tb.t_click + INTERVAL 12 HOURS
        GROUP BY 1
      )
      SELECT u.user_id,
        CAST(CASE WHEN tc.t_purchase IS NOT NULL THEN 3
                  WHEN tb.t_click IS NOT NULL THEN 2
                  WHEN ta.t_view IS NOT NULL THEN 1
                  ELSE 0 END AS BIGINT) AS funnel_depth,
        ta.t_view, tb.t_click, tc.t_purchase
      FROM (SELECT DISTINCT user_id FROM events) u
      LEFT JOIN ta USING (user_id)
      LEFT JOIN tb USING (user_id)
      LEFT JOIN tc USING (user_id)
      ORDER BY user_id""",

    "q27_regex_strings" -> raw"""
      SELECT o_orderkey,
        CAST(regexp_extract(o_orderpriority, '^(\d+)-(.+)$$', 1) AS INT)
          AS prio_num,
        regexp_extract(o_orderpriority, '^(\d+)-(.+)$$', 2) AS prio_word,
        lower(o_orderstatus) AS st_lower,
        concat_ws('|', o_orderstatus, o_orderpriority) AS combo,
        CAST(length(o_orderpriority) AS INT) AS prio_len
      FROM orders ORDER BY o_orderkey""",

    "q38_retention_cohorts" -> """
      WITH first_ev AS (
        SELECT user_id, event_type AS cohort FROM (
          SELECT user_id, event_type,
            row_number() OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS rn
          FROM events) WHERE rn = 1
      ), uw AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
      )
      SELECT cohort, wk, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM uw JOIN first_ev USING (user_id)
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "q29_time_buckets" -> """
      SELECT date_trunc('week', ts) AS wk, COUNT(*) AS n_events,
        COUNT(DISTINCT user_id) AS n_users
      FROM events GROUP BY 1 ORDER BY 1""",

    "q28_array_stats" -> """
      SELECT vec_id,
        CAST(len(embedding) AS INT) AS dim,
        CAST(list_min(embedding) AS DOUBLE) AS min_e,
        CAST(list_max(embedding) AS DOUBLE) AS max_e,
        CAST(embedding[1] AS DOUBLE) AS first_e
      FROM embeddings ORDER BY vec_id""",

    "sj1_salted_join" -> """
      SELECT user_id, COUNT(*) AS n,
        CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
          AS sum_value,
        MAX(c_acctbal) AS bal
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY user_id ORDER BY user_id""",

    "q22_window_navigation" -> """
      SELECT user_id, event_id,
        FIRST_VALUE(value) OVER w AS first_v,
        NTH_VALUE(value, 2) OVER w AS second_v,
        NTILE(4) OVER w AS quartile,
        PERCENT_RANK() OVER w AS pct_rank,
        CUME_DIST() OVER w AS cume
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, event_id""",

    // One-shot recompute of the incrementally-merged priority sample:
    // same two-division priority arithmetic as q46, over ALL events.
    "ev4_stream_priority_sample" -> """
      WITH pr AS (
        SELECT event_id, value AS weight,
          value /
            ((('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                ::BIGINT + 1)::DOUBLE
             / 1152921504606846976::DOUBLE) AS priority
        FROM events
      ), ranked AS (
        SELECT event_id, weight, priority,
          ROW_NUMBER() OVER (ORDER BY priority DESC, event_id) AS rank
        FROM pr
      ), tau AS (
        SELECT priority AS tau FROM ranked WHERE rank = 33
      )
      SELECT rank, event_id, weight,
        greatest(weight, COALESCE(tau, 0.0::DOUBLE)) AS est_weight
      FROM ranked LEFT JOIN tau ON TRUE
      WHERE rank <= 32 ORDER BY rank""",

    // Streamed complete-mode hourly agg must equal the relational GROUP BY.
    // One-shot relational recompute of the incrementally-merged store:
    // bottom-16 md5-hash sketch per type over ALL events + the same
    // estimator arithmetic as the Spark side.
    "ev3_stream_kmv_store" -> """
      WITH hs AS (
        SELECT DISTINCT event_type,
          ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM events
      ), sk AS (
        SELECT event_type, h FROM (
          SELECT event_type, h,
            ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM hs) WHERE rn <= 16
      )
      SELECT event_type,
        CASE WHEN COUNT(*) < 16 THEN COUNT(*)::DOUBLE
             ELSE 15.0 * 1152921504606846976::DOUBLE / MAX(h)::DOUBLE
        END AS est_distinct
      FROM sk GROUP BY 1 ORDER BY event_type""",

    // The exact one-shot recompute the store's verified readout equals.
    "ev14_stream_heavyhitters" -> raw"""
      WITH toks AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents
      )
      SELECT tok, COUNT(*) AS n_occurrences
      FROM toks GROUP BY tok HAVING COUNT(*) >= 150
      ORDER BY tok""",

    "ev1_stream_hourly" -> """
      SELECT date_trunc('hour', ts) AS hour_start, event_type,
        COUNT(*) AS n_events,
        CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
          AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    "ev13_stream_static_join" -> """
      SELECT date_trunc('day', ts) AS day_start,
        c_mktsegment AS segment, COUNT(*) AS n_events,
        CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
          AS sum_value
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY 1, 2 ORDER BY 1, 2""",

    // The streamed LEFT OUTER store must equal the batch left join —
    // NULLS FIRST mirrors Spark's ASC null ordering.
    "ev12_stream_outer_join" -> """
      SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
        p.event_id AS purchase_id, p.value
      FROM events c LEFT JOIN events p
        ON c.user_id = p.user_id AND p.event_type = 'purchase'
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      WHERE c.event_type = 'click'
      ORDER BY c.user_id, click_id, purchase_id NULLS FIRST""",

    // The streamed attribution store must equal the batch interval join.
    "ev2_stream_attribution" -> """
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        p.ts AS purchase_ts, p.value
      FROM events c JOIN events p
        ON c.user_id = p.user_id
        AND c.event_type = 'click' AND p.event_type = 'purchase'
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      ORDER BY c.user_id, click_id, purchase_id""",

    "q44_equidepth_hist" -> """
      SELECT bin, COUNT(*) AS n_orders,
        CAST(CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
          AS DOUBLE) AS lo,
        CAST(CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
          AS DOUBLE) AS hi
      FROM (
        SELECT o_totalprice,
          NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
        FROM orders)
      GROUP BY bin ORDER BY bin""",

    "q137_kmv_distinct" -> """
      WITH h AS (
        SELECT DISTINCT event_type,
          ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
            AS h
        FROM events
      ), sk AS (
        SELECT event_type, h,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM h
      ), top AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sketch,
          MAX(CASE WHEN rn = 16 THEN h END) AS hk
        FROM sk WHERE rn <= 16 GROUP BY 1
      ), ex AS (
        SELECT event_type,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
        FROM events GROUP BY 1
      )
      SELECT t.event_type, n_sketch,
        CASE WHEN n_sketch < 16 THEN n_sketch::DOUBLE
             ELSE 15.0 * 1152921504606846976::DOUBLE / hk::DOUBLE
        END AS est_distinct,
        exact_distinct
      FROM top t JOIN ex USING (event_type) ORDER BY t.event_type""",

    "q140_global_offsets" -> """
      SELECT event_id,
        epoch_us(LEAD(ts) OVER w) // 1000000
          - epoch_us(ts) // 1000000 AS gap_s,
        CAST(CAST(value AS DECIMAL(18,2))
          - LAG(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS dv,
        LEAD(event_type, 3, 'END') OVER w AS et_next3,
        CAST(LEAD(CAST(value AS DECIMAL(18,2)), 1000) OVER w AS DOUBLE)
          AS v_next_1000
      FROM events
      WINDOW w AS (ORDER BY ts, event_id)
      ORDER BY event_id""",

    // byte-for-byte the Spark side's SQL (modulo the view name)
    "q142_running_sql" -> """
      SELECT o_orderkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
          OVER (ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS DOUBLE) AS run_rev,
        LEAD(o_orderkey, 5) OVER
          (ORDER BY o_orderdate, o_orderkey) AS k_next5,
        CUME_DIST() OVER (ORDER BY o_orderdate) AS cd
      FROM orders ORDER BY o_orderkey""",

    // The definitional partitionless windows, verbatim (DuckDB's default
    // frame for an ORDER BY window is the same RANGE UNBOUNDED
    // PRECEDING..CURRENT ROW as Spark's).
    "q135_running_window" -> """
      SELECT o_orderkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
          OVER (ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS DOUBLE) AS run_rev,
        ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS rn,
        RANK() OVER (ORDER BY o_orderdate) AS rk,
        DENSE_RANK() OVER (ORDER BY o_orderdate) AS dr,
        NTILE(10) OVER (ORDER BY o_orderdate, o_orderkey) AS decile,
        PERCENT_RANK() OVER (ORDER BY o_orderdate) AS pr,
        CUME_DIST() OVER (ORDER BY o_orderdate) AS cd,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
          OVER (ORDER BY o_orderdate) AS DOUBLE) AS day_run_rev
      FROM orders ORDER BY o_orderkey""",

    // Same two-division priority arithmetic; o_totalprice is a raw parquet
    // DOUBLE, so both engines start from identical bits and every derived
    // value is a correctly-rounded IEEE op — bit-exact with no grid.
    "q46_priority_sample" -> """
      WITH pr AS (
        SELECT o_orderkey, o_totalprice AS weight,
          o_totalprice /
            ((('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                ::BIGINT + 1)::DOUBLE
             / 1152921504606846976::DOUBLE) AS priority
        FROM orders
      ), ranked AS (
        SELECT o_orderkey, weight, priority,
          ROW_NUMBER() OVER (ORDER BY priority DESC, o_orderkey) AS rank
        FROM pr
      ), tau AS (
        SELECT priority AS tau FROM ranked WHERE rank = 65
      )
      SELECT rank, o_orderkey, weight,
        greatest(weight, COALESCE(tau, 0.0::DOUBLE)) AS est_weight
      FROM ranked LEFT JOIN tau ON TRUE
      WHERE rank <= 64 ORDER BY rank""",

    // Unrolled twin of the quantized power iteration (PageRank.scala).
    // DuckDB parses bare decimals as DECIMAL, so every rank constant is
    // cast ::DOUBLE to reproduce Spark's binary-double arithmetic exactly.
    "q43_pagerank" -> pageRankSql,

    // Two unrolled synchronous LPA rounds over the q43 edge derivation;
    // per-node argmax as ROW_NUMBER (count desc, label asc).
    "q57_label_propagation" -> """
      WITH e0 AS (
        SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      ), und AS (
        SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
      ), l0 AS (
        SELECT DISTINCT src AS id, src AS label FROM und
      ), cnt1 AS (
        SELECT u.src AS id, l.label, COUNT(*) AS c
        FROM und u JOIN l0 l ON u.dst = l.id GROUP BY 1, 2
      ), r1 AS (
        SELECT id, label FROM (
          SELECT id, label,
            ROW_NUMBER() OVER (PARTITION BY id
                               ORDER BY c DESC, label) AS rn
          FROM cnt1
        ) WHERE rn = 1
      ), cnt2 AS (
        SELECT u.src AS id, l.label, COUNT(*) AS c
        FROM und u JOIN r1 l ON u.dst = l.id GROUP BY 1, 2
      ), r2 AS (
        SELECT id, label FROM (
          SELECT id, label,
            ROW_NUMBER() OVER (PARTITION BY id
                               ORDER BY c DESC, label) AS rn
          FROM cnt2
        ) WHERE rn = 1
      )
      SELECT id, label FROM r2 ORDER BY id""",

    // DuckDB's NATIVE recursive CTE — the engine-independent definition of
    // the chain rollup the pointer-doubling operator computes.
    "q54_hierarchy_rollup" -> """
      WITH RECURSIVE anc AS (
        SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
          CAST(c_custkey AS BIGINT) AS a
        FROM customer
        UNION ALL
        SELECT c_custkey, a // 2 FROM anc WHERE a >= 2
      )
      SELECT anc.c_custkey, CAST(COUNT(*) AS BIGINT) AS chain_len,
        CAST(SUM(CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT))
          AS BIGINT) AS chain_cents
      FROM anc JOIN customer c ON CAST(c.c_custkey AS BIGINT) = anc.a
      GROUP BY 1 ORDER BY 1""",

    // Same deletion-neighborhood candidate join; DuckDB's levenshtein is
    // the same classic DP distance as Spark's.
    "q42_fuzzy_join" -> """
      WITH words AS (
        SELECT DISTINCT unnest(string_split(lower(p_name), ' ')) AS w
        FROM part
      ), typos AS (
        SELECT DISTINCT substr(w, 1, pos - 1) || substr(w, pos + 1, length(w))
          AS q
        FROM (
          SELECT w, CAST(('0x' || substr(md5('typo:' || w), 1, 15))::BIGINT
            % length(w) AS INT) + 1 AS pos
          FROM words WHERE length(w) >= 4)
      ), wv AS (
        SELECT w, unnest(list_append(list_transform(
          generate_series(1, length(w)),
          i -> substr(w, 1, i - 1) || substr(w, i + 1, length(w))), w)) AS v
        FROM words
      ), qv AS (
        SELECT q, unnest(list_append(list_transform(
          generate_series(1, length(q)),
          i -> substr(q, 1, i - 1) || substr(q, i + 1, length(q))), q)) AS v
        FROM typos
      )
      SELECT q, w, CAST(levenshtein(q, w) AS BIGINT) AS dist
      FROM (SELECT DISTINCT q.q, wv.w FROM qv q JOIN wv ON q.v = wv.v) t(q, w)
      WHERE levenshtein(q, w) <= 1
      ORDER BY q, w""",

    // The bloom-pruned lookup must equal the flat-parquet equality filter.
    "zm2_bloom_lookup" -> """
      SELECT event_id, ts, user_id, event_type, value
      FROM events WHERE user_id = 5
      ORDER BY event_id""",

    // The zone-map-pruned range scan must equal the flat-parquet filter.
    "zm1_clustered_prune" -> """
      SELECT event_type, COUNT(*) AS n_events,
        COUNT(DISTINCT user_id) AS n_users,
        CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
          AS sum_value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        AND ts <= TIMESTAMP '2024-01-12 23:59:59'
      GROUP BY 1 ORDER BY 1""",

    // One-shot relational recompute of the incrementally-merged drift
    // cells — same SQL as q47 (additive merges are lossless, edges frozen
    // from the same global range).
    "ev5_stream_drift_cells" -> """
      WITH b AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
      binned AS (
        SELECT event_type,
          ts < TIMESTAMP '2024-01-15 00:00:00' AS is_a,
          least(CAST(floor((value - mn) / (mx - mn) * 20.0::DOUBLE)
            AS BIGINT), 19) AS bin
        FROM events, b
      ), cells AS (
        SELECT event_type, bin,
          SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
          SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb
        FROM binned GROUP BY 1, 2
      ), totals AS (
        SELECT event_type, CAST(SUM(ca) AS BIGINT) AS na,
          CAST(SUM(cb) AS BIGINT) AS nb
        FROM cells GROUP BY 1
      )
      SELECT event_type, MAX(na) AS n_a, MAX(nb) AS n_b,
        SUM(round(abs(ca::DOUBLE / na::DOUBLE - cb::DOUBLE / nb::DOUBLE)
          * 1048576) / 1048576) / 2.0::DOUBLE AS tvd
      FROM cells JOIN totals USING (event_type)
      GROUP BY event_type ORDER BY event_type""",

    // Same distinct-point CDF construction; window SUM defaults to RANGE
    // UNBOUNDED PRECEDING..CURRENT ROW on both engines and the points are
    // distinct per (type, value), so the running counts agree row-for-row.
    // Divisions of identical integer operands are correctly rounded →
    // identical bits; abs/max exact.
    "q51_ks_drift" -> """
      WITH pts AS (
        SELECT event_type, value,
          SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
            THEN 1 ELSE 0 END) AS ca,
          SUM(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
            THEN 0 ELSE 1 END) AS cb
        FROM events GROUP BY 1, 2
      ), cum AS (
        SELECT event_type,
          SUM(ca) OVER (PARTITION BY event_type ORDER BY value) AS cca,
          SUM(cb) OVER (PARTITION BY event_type ORDER BY value) AS ccb
        FROM pts
      ), tot AS (
        SELECT event_type, CAST(SUM(ca) AS BIGINT) AS na,
          CAST(SUM(cb) AS BIGINT) AS nb
        FROM pts GROUP BY 1
      )
      SELECT c.event_type, MAX(t.na) AS n_a, MAX(t.nb) AS n_b,
        MAX(abs(c.cca::DOUBLE / t.na::DOUBLE - c.ccb::DOUBLE / t.nb::DOUBLE))
          AS ks
      FROM cum c JOIN tot t USING (event_type)
      GROUP BY c.event_type ORDER BY c.event_type""",

    // Same per-group rank + τ arithmetic, QUALIFY-style.
    "q48_group_priority_sample" -> """
      WITH pr AS (
        SELECT event_type, event_id, value AS weight,
          value /
            ((('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                ::BIGINT + 1)::DOUBLE
             / 1152921504606846976::DOUBLE) AS priority
        FROM events
      ), ranked AS (
        SELECT event_type, event_id, weight, priority,
          ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY priority DESC, event_id) AS rank
        FROM pr
      ), tau AS (
        SELECT event_type, priority AS tau FROM ranked WHERE rank = 9
      )
      SELECT r.event_type, r.rank, r.event_id, r.weight,
        greatest(r.weight, COALESCE(t.tau, 0.0::DOUBLE)) AS est_weight
      FROM ranked r LEFT JOIN tau t USING (event_type)
      WHERE r.rank <= 8 ORDER BY r.event_type, r.rank""",

    // quantile_cont twice (the kernel matches it bit-for-bit, see q18);
    // dev/compare arithmetic is single-op IEEE on identical inputs.
    "q49_mad_outliers" -> """
      WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS median
        FROM events GROUP BY 1
      ), dev AS (
        SELECT e.event_type, m.median, abs(e.value - m.median) AS dev
        FROM events e JOIN med m USING (event_type)
      ), mad AS (
        SELECT event_type, quantile_cont(dev, 0.5) AS mad
        FROM dev GROUP BY 1
      )
      SELECT d.event_type, MAX(d.median) AS median, MAX(m.mad) AS mad,
        CAST(SUM(CASE WHEN d.dev > 3.0::DOUBLE * m.mad THEN 1 ELSE 0 END)
          AS BIGINT) AS n_outliers,
        COUNT(*) AS n
      FROM dev d JOIN mad m USING (event_type)
      GROUP BY d.event_type ORDER BY d.event_type""",

    // Canonical u<v edges; triangles enumerated once as a<b<c paths
    // (e1=(a,b), e2=(b,c), e3=(a,c)); per-vertex counts are
    // algorithm-independent, so the oracle's naive 3-way join matches the
    // oriented-wedge plan exactly. 2T and d(d-1) are exact integers → the
    // single division is correctly rounded on both engines.
    "q50_triangles" -> """
      WITH e AS (
        SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
               greatest(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        WHERE a.l_orderkey % 5 = 0
      ), deg AS (
        SELECT id, COUNT(*) AS degree FROM (
          SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e)
        GROUP BY 1
      ), tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
      ), corners AS (
        SELECT id, COUNT(*) AS triangles FROM (
          SELECT a AS id FROM tri UNION ALL SELECT b AS id FROM tri
          UNION ALL SELECT c AS id FROM tri)
        GROUP BY 1
      )
      SELECT d.id AS part_id, d.degree, c.triangles,
        CAST(2 * c.triangles AS DOUBLE) /
          CAST(d.degree * (d.degree - 1) AS DOUBLE) AS clustering_coeff
      FROM deg d JOIN corners c ON c.id = d.id
      WHERE c.triangles > 0
      ORDER BY c.triangles DESC, part_id LIMIT 100""",

    // Same fixed-edge 20-bin histogram + grid-quantized |p−q| sum; /2 is
    // a power-of-two division, exact in binary double.
    "q47_drift_tvd" -> """
      WITH b AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
      binned AS (
        SELECT event_type,
          ts < TIMESTAMP '2024-01-15 00:00:00' AS is_a,
          least(CAST(floor((value - mn) / (mx - mn) * 20.0::DOUBLE)
            AS BIGINT), 19) AS bin
        FROM events, b
      ), cells AS (
        SELECT event_type, bin,
          SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
          SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb
        FROM binned GROUP BY 1, 2
      ), totals AS (
        SELECT event_type, CAST(SUM(ca) AS BIGINT) AS na,
          CAST(SUM(cb) AS BIGINT) AS nb
        FROM cells GROUP BY 1
      )
      SELECT event_type, MAX(na) AS n_a, MAX(nb) AS n_b,
        SUM(round(abs(ca::DOUBLE / na::DOUBLE - cb::DOUBLE / nb::DOUBLE)
          * 1048576) / 1048576) / 2.0::DOUBLE AS tvd
      FROM cells JOIN totals USING (event_type)
      GROUP BY event_type ORDER BY event_type""",

    // The Z-order-pruned 2-D box scan must equal the flat-parquet filter;
    // min/max of double are exact picks (no float-sum hazard).
    "zm3_zorder_prune" -> """
      SELECT event_type, COUNT(*) AS n_events,
        COUNT(DISTINCT user_id) AS n_users,
        MIN(value) AS vmin, MAX(value) AS vmax
      FROM events
      WHERE user_id >= 3 AND user_id <= 40
        AND value >= 20.0 AND value <= 150.0
      GROUP BY 1 ORDER BY 1""",

    // Independent derivation on purpose: the oracle counts distinct users
    // through a 7-day range join, the Spark plan through pre-agg +
    // window-end explosion — matching integer counts check the REWRITE,
    // not just the arithmetic.
    "q58_rolling_active_users" -> """
      WITH ud AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
      ), days AS (SELECT DISTINCT d FROM ud)
      SELECT strftime(days.d, '%Y-%m-%d') AS day,
        COUNT(DISTINCT ud.user_id) AS n_active_7d
      FROM days JOIN ud ON ud.d BETWEEN days.d - 6 AND days.d
      GROUP BY days.d
      ORDER BY day"""
  )
}
