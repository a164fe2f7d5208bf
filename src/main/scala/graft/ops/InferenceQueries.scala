package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Statistical-inference and distribution-comparison operators — the
  * measurement layer a training-data pipeline runs BETWEEN ingestion and
  * training: is this week's data distributed like last week's (PSI, JSD),
  * do two cohorts genuinely differ (Welch t), do two labeling rules agree
  * beyond chance (Cohen's kappa), how concentrated is the corpus (Gini),
  * which items predict each other (resource-allocation link prediction).
  * The reference pipeline (josephmachado/change_data_capture README.md:86-125)
  * lands CDC data and derives SCD2 state; these are the checks a 100 TB
  * deployment of that lake would run on every landed partition.
  *
  * Exactness discipline (established q89/q101/q102): every sufficient
  * statistic is an exact integer or DECIMAL(38,0); logarithms enter only
  * as per-value grid-quantized integers `round(ln(x)·2^20)`; the final
  * real-valued answer is either an exact integral division (ppm / grid
  * units) or a single grid-floored double, so both engines land on
  * identical bits.
  */
object InferenceQueries {

  private val Dec38 = DecimalType(38, 0)

  /** Grid-quantized natural log: `round(ln(x)·2^20)` as a long — exact
    * integer arithmetic downstream, mirrored verbatim in the oracles
    * (q89's discipline).
    */
  private def lng(c: Column): Column =
    round(log(c.cast("double")) * 1048576L).cast("long")

  /** Shared STL pipeline (q122/q131): monthly cents → centered 2×12 MA
    * trend on the ×24 grid → per-calendar-month lower-median seasonal.
    * Columns: month, rev_cents, mi, moy, trend_c24 (NULL at edges),
    * detr_c24, seasonal_c24. All integer; windows run over the
    * calendar-bounded monthly aggregate only.
    */
  private def stlComponents(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long"))
        .as("rev_cents"))
      .withColumn("mi", year(col("month")) * 12 + month(col("month")))
    // bounded global windows: input is one row per calendar month
    val wA = Window.orderBy(col("mi")).rangeBetween(-6, 5)
    val wB = Window.orderBy(col("mi")).rangeBetween(-5, 6)
    val trended = monthly
      .withColumn("trend_c24",
        when(count(lit(1)).over(wA) === 12 &&
          count(lit(1)).over(wB) === 12,
          sum(col("rev_cents")).over(wA) +
            sum(col("rev_cents")).over(wB)))
      .withColumn("detr_c24", col("rev_cents") * 24 - col("trend_c24"))
      .withColumn("moy", (col("mi") % 12).cast("int"))
    val interior = trended.filter(col("detr_c24").isNotNull)
    val byMoy = Window.partitionBy(col("moy"))
      .orderBy(col("detr_c24"), col("month"))
    val seasonal = interior
      .withColumn("rn", row_number().over(byMoy))
      .withColumn("nm",
        count(lit(1)).over(Window.partitionBy(col("moy"))))
      .filter(col("rn") === expr("(nm + 1) div 2"))
      .select(col("moy"), col("detr_c24").as("seasonal_c24"))
    trended.join(broadcast(seasonal), Seq("moy"), "left")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // RESOURCE-ALLOCATION link prediction (Zhou–Lü–Zhang, EPJ B 2009):
    // q103's common-neighbor count weighted by 1/deg(shared part) — a
    // promiscuous part contributes little evidence, a rare part a lot.
    // The weight is kept EXACT as floor(1e12/deg) per part (rational, no
    // libm), so scores are integers and the top-20 is deterministically
    // ordered. Same celebrity prune (deg ≤ 64 parts only) and the same
    // bounded per-part wedge enumeration as q103: the degree filter runs
    // BEFORE the collect, so no agg buffer exceeds 64 buyers, and the
    // wedge generator is a scan-side slice explode — never an all-pairs
    // join.
    "q110_resource_alloc" -> ((s, dir) => {
      // distinct edges cut once; pair key packed into one long when the
      // measured id range allows — same rationale as q103 (r13)
      val edges = graft.graph.GraphOps.checkpoint(Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("p"), col("o_custkey").as("c"))
        .distinct())
      // one Wedges.stats action: id range (pack decision) + measured
      // wedge mass (explode-stage parallelism) — same rationale as q103
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
        .withColumn("w", expr("1000000000000 div size(cs)"))
      val pairs = grouped
        .select(posexplode(col("cs")).as(Seq("i", "c1")), col("cs"),
          col("w"))
        .select(col("c1"), explode(
          slice(col("cs"), col("i") + 2, size(col("cs")))).as("c2"),
          col("w"))
      if (packed)
        pairs
          .select(graft.graph.PackedPairs.pack(col("c1"), col("c2"))
            .as("pr"), col("w"))
          .groupBy(col("pr"))
          .agg(count(lit(1)).as("n_common"), sum(col("w")).as("ra_score"))
          .orderBy(col("ra_score").desc, col("pr"))
          .limit(20)
          .select(graft.graph.PackedPairs.hi(col("pr")).as("c1"),
            graft.graph.PackedPairs.lo(col("pr")).as("c2"),
            col("n_common"), col("ra_score"))
      else
        pairs
          .groupBy(col("c1"), col("c2"))
          .agg(count(lit(1)).as("n_common"), sum(col("w")).as("ra_score"))
          .orderBy(col("ra_score").desc, col("c1"), col("c2"))
          .limit(20)
    }),

    // GINI COEFFICIENT of customer revenue concentration — the one-number
    // inequality summary (0 = uniform spend, →1 = one whale). Exact
    // integer end-to-end: with per-customer cent totals x sorted
    // ascending, G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx); the rank sums come
    // from the compressed (value, count) table — a tie block of count c
    // ending at inclusive cumulative count `cum` contributes
    // x·(2·c·cum − c·(c−1)) to 2·Σ i·x_i (ties are order-invariant since
    // the tied x are equal). The running count rides PrefixSum (cent
    // totals are near-unique, their domain scales with the customer
    // dimension), products ride DECIMAL(38,0), and the output is one
    // exact ppm integral division — no doubles anywhere.
    "q111_gini" -> ((s, dir) => {
      val cust = Tables(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
      val byV = cust.groupBy(col("x")).agg(count(lit(1)).as("cnt"))
      // measured-size adaptive (r13): one constant-partition window over
      // the kernel-cut compressed table below the cap, decomposition above
      val cum = graft.pack.PrefixSum.runningSumAdaptive(byV,
        expr("x div 100000"), Seq(col("x")), col("cnt"), "cum")
      cum
        .select(col("cnt"),
          expr("CAST(x AS DECIMAL(38,0)) * cnt").as("xc"),
          expr("CAST(x AS DECIMAL(38,0)) * (2*cnt*cum - cnt*(cnt-1))")
            .as("two_ix"))
        .agg(sum(col("cnt")).as("n"), sum(col("xc")).as("sx"),
          sum(col("two_ix")).as("sixx"))
        .select(col("n").as("n_customers"),
          expr("CAST((1000000 * (sixx - (n+1)*sx)) div (n * sx) AS BIGINT)")
            .as("gini_ppm"))
    }),

    // POPULATION STABILITY INDEX between the first and second half of the
    // order-date range — the standard model-monitoring drift score
    // (PSI < 0.1 stable, > 0.25 action). Bins are the EXPECTED period's
    // equi-depth deciles, derived q86-style from the compressed distinct
    // cent table (9 cut points via one bounded selection — never a
    // fact-table NTILE); bin membership is computed once per DISTINCT
    // cent value against the broadcast 9-row cut table and joined back,
    // so the fact table never fans out. Laplace +1 smoothing keeps
    // ln defined when a decile is empty in the actual period. PSI itself
    // is exact-integer: Σ (na'·NB' − nb'·NA')·Δlng over bins in
    // DECIMAL(38,0), divided integrally by NA'·NB' → grid units.
    "q112_psi" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .select(round(col("o_totalprice") * 100).cast("long").as("v"),
          // parquet lands NTZ; the session is pinned UTC, so the cast is
          // the identity and both engines see identical micros
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("us"))
      val span = o.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
        .select(expr("(lo + hi) div 2").as("mid"))
      // ONE compressed pass over the facts — distinct cent value with its
      // per-period counts. Every later stage (decile cuts, bin
      // assignment, per-bin counts) derives from this bounded table, so
      // the fact table is scanned exactly TWICE (span + here); the r11
      // shape scanned it four times and re-joined the FACTS against the
      // bin table (guide §2.3 "aggregate before you shuffle" / §2.4 —
      // that fact-sized join is gone, the counts fold on the compressed
      // rows instead; same integers, r12 optimization round).
      val byV = graft.graph.GraphOps.checkpoint(o
        .crossJoin(broadcast(span))
        .groupBy(col("v"))
        .agg(sum(when(col("us") < col("mid"), 1L).otherwise(0L)).as("ca"),
          sum(when(col("us") < col("mid"), 0L).otherwise(1L)).as("cb")))
      // ^ lineage-cut (r12): byV feeds the decile cuts, the bin
      // assignment and the per-bin fold — three references that each
      // re-ran the fact aggregation (53 Exchange nodes in the plan)
      // expected-period decile cuts from the compressed distinct table
      val byVa = byV.filter(col("ca") > 0)
        .select(col("v"), col("ca").as("cnt"))
      // measured-size adaptive (r13; the kernel cuts its input, one cheap
      // job over byV's cached blocks)
      val cum = graft.pack.PrefixSum.runningSumAdaptive(byVa,
        expr("v div 100000"), Seq(col("v")), col("cnt"), "cum")
      val na = byVa.agg(sum(col("cnt")).as("na"))
      val cuts = cum.crossJoin(broadcast(na))
        .select(col("v"), explode(sequence(lit(1), lit(9))).as("k"),
          col("cum"), col("na"))
        .filter(col("cum") * 10 >= col("k") * col("na"))
        .groupBy(col("k")).agg(min(col("v")).as("cut"))
      // bin per DISTINCT value (bin = #cuts <= v), folded with the
      // compressed per-period counts — never against the raw facts
      val binOf = byV.select(col("v"))
        .join(broadcast(cuts), col("cut") <= col("v"), "left_outer")
        .groupBy(col("v"))
        .agg(count(col("k")).cast("int").as("bin"))
      val cells = byV.join(binOf, Seq("v"))
        .groupBy(col("bin"))
        .agg(sum(col("ca")).as("na_raw"), sum(col("cb")).as("nb_raw"))
      // all 10 bins present even when one period misses a bin entirely
      val bins = cells.sparkSession.range(10)
        .select(col("id").cast("int").as("bin"))
      val sm = bins.join(cells, Seq("bin"), "left_outer")
        .select(col("bin"),
          (coalesce(col("na_raw"), lit(0L)) + 1).as("a"),
          (coalesce(col("nb_raw"), lit(0L)) + 1).as("b"))
      val tot = sm.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
      sm.crossJoin(broadcast(tot))
        .select(col("ta"), col("tb"),
          ((col("a") * col("tb") - col("b") * col("ta")).cast(Dec38) *
            (lng(col("a")) - lng(col("ta")) - lng(col("b")) +
              lng(col("tb"))).cast(Dec38)).as("term"))
        .agg(max(col("ta")).as("ta"), max(col("tb")).as("tb"),
          sum(col("term")).as("s"))
        // +1-nat shift before the integral division: exact PSI is ≥ 0 but
        // the grid-rounded logs can push s a hair negative, where Spark's
        // trunc-div and DuckDB's floor-div disagree (q114's discipline)
        .select((col("ta") - 10).as("n_expected"),
          (col("tb") - 10).as("n_actual"),
          expr("""CAST((s + 1048576 * CAST(ta AS DECIMAL(38,0)) * tb)
            div (CAST(ta AS DECIMAL(38,0)) * tb) - 1048576 AS BIGINT)""")
            .as("psi_grid"))
        .withColumn("psi_nats",
          col("psi_grid").cast("double") / lit(1048576.0))
    }),

    // WELCH'S t — the unequal-variance two-sample test (the default; the
    // pooled Student t is wrong whenever cohort variances differ), here
    // between BUILDING and MACHINERY customers' order values. Sufficient
    // statistics (n, Σcents, Σcents²) are exact DECIMAL(38,0); t and the
    // Welch–Satterthwaite df are each one short double chain from the
    // exact integers, grid-floored to absorb the cross-engine
    // HUGEINT→DOUBLE ulp (q102's landing discipline).
    "q113_welch_t" -> ((s, dir) => {
      val j = Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select((col("c_mktsegment") === "BUILDING").as("is_a"),
          round(col("o_totalprice") * 100).cast("long").cast(Dec38)
            .as("cents"))
      val st = j.groupBy(col("is_a"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s1"),
          sum((col("cents") * col("cents")).cast(Dec38)).as("s2"))
      val wide = st
        .agg(max(when(col("is_a"), col("n"))).as("na"),
          max(when(col("is_a"), col("s1"))).as("s1a"),
          max(when(col("is_a"), col("s2"))).as("s2a"),
          max(when(!col("is_a"), col("n"))).as("nb"),
          max(when(!col("is_a"), col("s1"))).as("s1b"),
          max(when(!col("is_a"), col("s2"))).as("s2b"))
      def se(n: String, s1: String, s2: String): Column =
        ((col(s2).cast("double") -
          col(s1).cast("double") * col(s1).cast("double") /
            col(n).cast("double")) /
          (col(n).cast("double") - 1.0)) / col(n).cast("double")
      wide
        .withColumn("sea", se("na", "s1a", "s2a"))
        .withColumn("seb", se("nb", "s1b", "s2b"))
        .select(col("na").as("n_a"), col("nb").as("n_b"),
          (floor((col("s1a").cast("double") / col("na").cast("double") -
            col("s1b").cast("double") / col("nb").cast("double")) /
            sqrt(col("sea") + col("seb")) * lit(1048576.0)) /
            lit(1048576.0)).as("t_grid"),
          (floor((col("sea") + col("seb")) * (col("sea") + col("seb")) /
            (col("sea") * col("sea") / (col("na").cast("double") - 1.0) +
             col("seb") * col("seb") / (col("nb").cast("double") - 1.0)) *
            lit(1048576.0)) / lit(1048576.0)).as("df_grid"))
    }),

    // COHEN'S KAPPA — chance-corrected agreement between two labeling
    // rules on the events table: rule A "value ≥ corpus median", rule B
    // "event is a purchase". THE weak-supervision diagnostic: raw
    // agreement overstates rule quality whenever marginals are skewed.
    // The median is the exact lower median selected from the compressed
    // distinct cent-value table; κ is exact-rational —
    // (n·Σdiag − Σ row·col)/(n² − Σ row·col) — shifted by +1 before the
    // ppm floor-division (κ ∈ [−1,1], so the shifted numerator is
    // nonnegative and trunc-div ≡ floor-div in BOTH engines), then
    // shifted back in exact integers.
    "q114_kappa" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(round(col("value") * 100).cast("long").as("v"),
          (col("event_type") === "purchase").as("b"))
      // lineage-cut (r13): byV feeds the rank pass AND the total; the cut
      // also lets the measured-size adaptive below count it for free
      val byV = graft.graph.GraphOps.checkpoint(
        ev.groupBy(col("v")).agg(count(lit(1)).as("cnt")))
      val cum = graft.pack.PrefixSum.runningSumAdaptive(byV,
        expr("v div 100000"), Seq(col("v")), col("cnt"), "cum")
      val tot = byV.agg(sum(col("cnt")).as("n"))
      val med = cum.crossJoin(broadcast(tot))
        .filter(col("cum") * 2 >= col("n"))
        .agg(min(col("v")).as("med"))
      val cells = ev.crossJoin(broadcast(med))
        .groupBy((col("v") >= col("med")).as("a"), col("b"))
        .agg(count(lit(1)).as("c"))
      cells
        .agg(sum(col("c")).as("n"),
          sum(when(col("a") === col("b"), col("c")).otherwise(0L))
            .as("d"),
          sum(when(col("a"), col("c")).otherwise(0L)).as("ra"),
          sum(when(col("b"), col("c")).otherwise(0L)).as("cb"))
        // Σ row·col for the 2×2 table = ra·cb + (n−ra)·(n−cb)
        .select(col("n").as("n_events"), col("d").as("n_agree"),
          expr("""CAST((1000000 *
              ((CAST(n AS DECIMAL(38,0)) * d - (CAST(ra AS DECIMAL(38,0)) * cb + CAST(n - ra AS DECIMAL(38,0)) * (n - cb)))
               + (CAST(n AS DECIMAL(38,0)) * n - (CAST(ra AS DECIMAL(38,0)) * cb + CAST(n - ra AS DECIMAL(38,0)) * (n - cb)))))
            div (CAST(n AS DECIMAL(38,0)) * n - (CAST(ra AS DECIMAL(38,0)) * cb + CAST(n - ra AS DECIMAL(38,0)) * (n - cb)))
            - 1000000 AS BIGINT)""").as("kappa_ppm"))
    }),

    // JARO–WINKLER fuzzy-match verify: the record-linkage scorer (Winkler
    // 1990) driven through the er1 pipeline shape — deterministic typo
    // records, FastSS deletion-neighborhood blocking (candidates are an
    // equi-join on shared variants, NEVER all-pairs), then the native
    // `jaro_winkler` codegen kernel scores each candidate pair once and
    // the top-50 matches surface. The kernel is BIT-identical to DuckDB's
    // `jaro_winkler_similarity` (5000-pair fuzz pins the operation order;
    // pure IEEE + − · / — no libm, no grid), so the oracle uses the
    // builtin directly: a genuine two-implementations-one-answer gate.
    "er2_jaro_verify" -> ((s, dir) => {
      val cust = Tables(s, dir, "customer").select(
        col("c_custkey").cast("long").as("id"),
        lower(col("c_name")).as("name"))
      val typo = cust.filter(col("id") % 5 === 0)
        .withColumn("pos",
          (graft.functions.Hash60(concat(lit("er2:"), col("name")))
            % length(col("name")).cast("long")).cast("int") + 1)
        .selectExpr("id + 10000000 AS id",
          "concat(substring(name, 1, pos - 1), " +
            "substring(name, pos + 1, length(name))) AS name")
      val records = cust.unionByName(typo)
      // materialized ONCE (r13, er1's pattern): the executed self-join
      // ran the DeletionVariants explode DAG on BOTH sides (the
      // broadcast build and the stream) — the cut computes the variant
      // table once and both sides read the leaf. Length-bucketed
      // blocking was adjudicated and REJECTED here: the join key is the
      // variant string itself, and equal variants already have equal
      // lengths (the ±1-length relation between the ORIGINAL names is
      // implied by sharing a variant), so a length predicate adds no
      // selectivity and no shuffle reduction.
      val vars = graft.graph.GraphOps.checkpoint(
        records.select(col("id"),
          explode(graft.text.DeletionVariants(col("name"))).as("v")))
      val cand = vars.as("a").join(vars.as("b"),
          col("a.v") === col("b.v") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      cand
        .join(records.select(col("id").as("id_a"),
          col("name").as("name_a")), "id_a")
        .join(records.select(col("id").as("id_b"),
          col("name").as("name_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          graft.functions.JaroWinkler(col("name_a"), col("name_b"))
            .as("jw"))
        .orderBy(col("jw").desc, col("id_a"), col("id_b"))
        .limit(50)
    }),

    // JENSEN–SHANNON DIVERGENCE between the unigram word distributions of
    // two document sources — the symmetric, bounded ([0, ln 2]) corpus-
    // drift measure (KL is undefined the moment one side misses a word;
    // JSD's mixture denominator never is, so no smoothing is needed:
    // 0·ln 0 terms vanish exactly). With integer counts a_i (total A) and
    // b_i (total B): 2AB·JSD = Σ a·B·[ln a − ln A − ln(aB+bA) + ln 2AB]
    //                        + Σ b·A·[ln b − ln B − ln(aB+bA) + ln 2AB],
    // every log grid-quantized, products in DECIMAL(38,0), one exact
    // integral division at the end. Tokenization is the corpus convention
    // (whitespace split of lower(trim(text))); the word-level full outer
    // join is an equi-join on the token — vocabulary-sized, never O(n²).
    "q115_jsd" -> ((s, dir) => {
      // ONE conditional aggregation over one tokenize pass (r12
      // optimization round, guide §2.3): the r11 shape tokenized the
      // corpus twice (one filtered pass per source) and full-outer-joined
      // the two vocab tables — same integers as conditional sums over the
      // union'd pass (a word absent from a source lands 0 directly, where
      // the outer join produced NULL→coalesce 0), one scan and zero joins
      // cheaper.
      val toks = Tables(s, dir, "documents")
        .filter(col("source").isin("src1", "src2"))
        .select(col("source"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      val joined = toks.groupBy(col("w"))
        .agg(sum(when(col("source") === "src1", 1L).otherwise(0L)).as("a"),
          sum(when(col("source") === "src1", 0L).otherwise(1L)).as("b"))
      val tot = joined.agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
      joined.crossJoin(broadcast(tot))
        .select(col("ta"), col("tb"),
          (when(col("a") > 0,
            (col("a") * col("tb")).cast(Dec38) *
              (lng(col("a")) - lng(col("ta")) -
               lng(col("a") * col("tb") + col("b") * col("ta")) +
               lng(lit(2L) * col("ta") * col("tb"))).cast(Dec38))
            .otherwise(lit(BigDecimal(0)).cast(Dec38)) +
           when(col("b") > 0,
            (col("b") * col("ta")).cast(Dec38) *
              (lng(col("b")) - lng(col("tb")) -
               lng(col("a") * col("tb") + col("b") * col("ta")) +
               lng(lit(2L) * col("ta") * col("tb"))).cast(Dec38))
            .otherwise(lit(BigDecimal(0)).cast(Dec38))).as("term"))
        .agg(max(col("ta")).as("ta"), max(col("tb")).as("tb"),
          count(lit(1)).as("vocab"), sum(col("term")).as("s"))
        .select(col("ta").as("n_tokens_a"), col("tb").as("n_tokens_b"),
          col("vocab"),
          // same +1-nat shift as q112: exact JSD ∈ [0, ln 2] but grid
          // rounding can push s epsilon-negative, where trunc ≠ floor
          expr("""CAST((s + 2097152 * CAST(ta AS DECIMAL(38,0)) * tb)
            div (2 * CAST(ta AS DECIMAL(38,0)) * tb) - 1048576
            AS BIGINT)""").as("jsd_grid"))
        .withColumn("jsd_nats",
          col("jsd_grid").cast("double") / lit(1048576.0))
    }),

    // KRUSKAL–WALLIS H across the five order priorities — the rank-based
    // k-group test (the nonparametric ANOVA): does order value DISTRIBUTION
    // differ by priority, without assuming normality. Average ranks for
    // ties come exactly from the compressed distinct-cent table: a tie
    // block of count c with inclusive cumulative count cum has doubled
    // average rank r2 = 2·cum − c + 1 (an integer), so each group's
    // doubled rank-sum R2_g = Σ c_{g,v}·r2_v is an exact BIGINT. The
    // running count rides PrefixSum (never a fact-table global window);
    // per-(group, value) counts join the vocabulary-sized rank table on v.
    // H and its tie-corrected form are each one fixed-association double
    // chain from the five exact (n_g, R2_g) pairs — pivoted to columns so
    // no nondeterministic-order double SUM exists — grid-floored once
    // (q113's landing discipline).
    "q116_kruskal_wallis" -> ((s, dir) => {
      val ev = Tables(s, dir, "orders")
        .select(round(col("o_totalprice") * 100).cast("long").as("v"),
          substring(col("o_orderpriority"), 1, 1).as("g"))
      // ONE fact pass (r12): the per-(group, value) table is lineage-cut
      // and byV re-aggregates it — the r11 shape scanned the fact once
      // for byV and once for the per-group fold, and byV's two consumers
      // (rank decomposition + tie term) re-ran the aggregation
      val byGV = graft.graph.GraphOps.checkpoint(
        ev.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c")))
      val byV = byGV.groupBy(col("v")).agg(sum(col("c")).as("cnt"))
      // measured-size adaptive (r13; the kernel cuts byV — one cheap
      // aggregation job over byGV's cached blocks)
      val cum = graft.pack.PrefixSum.runningSumAdaptive(byV,
        expr("v div 100000"), Seq(col("v")), col("cnt"), "cum")
      val r2 = cum.select(col("v"),
        (lit(2L) * col("cum") - col("cnt") + 1L).as("r2"))
      val ties = byV.agg(
        expr("""CAST(SUM(CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt)
          AS BIGINT)""").as("t"))
      val st = byGV
        .join(r2, Seq("v"))
        .groupBy(col("g"))
        .agg(sum(col("c")).as("n"),
          expr("CAST(SUM(CAST(c AS DECIMAL(38,0)) * r2) AS BIGINT)")
            .as("rs"))
      def pick(k: Int, c: String): Column =
        max(when(col("g") === k.toString, col(c)))
      val wide = st.agg(
        pick(1, "n").as("n1"), pick(1, "rs").as("r1"),
        pick(2, "n").as("n2"), pick(2, "rs").as("r2"),
        pick(3, "n").as("n3"), pick(3, "rs").as("r3"),
        pick(4, "n").as("n4"), pick(4, "rs").as("r4"),
        pick(5, "n").as("n5"), pick(5, "rs").as("r5"))
        .crossJoin(broadcast(ties))
      // H = 12/(N(N+1))·Σ R_g²/n_g − 3(N+1) with R_g = R2_g/2 → the 12/4
      // folds to 3. Fixed left-to-right association in BOTH engines.
      wide.selectExpr(
        "n1 + n2 + n3 + n4 + n5 AS n_total",
        """floor((3.0 * (CAST(r1 AS DOUBLE) * r1 / n1
             + CAST(r2 AS DOUBLE) * r2 / n2
             + CAST(r3 AS DOUBLE) * r3 / n3
             + CAST(r4 AS DOUBLE) * r4 / n4
             + CAST(r5 AS DOUBLE) * r5 / n5)
            / (CAST(n1 + n2 + n3 + n4 + n5 AS DOUBLE)
               * (n1 + n2 + n3 + n4 + n5 + 1))
            - 3.0 * (n1 + n2 + n3 + n4 + n5 + 1)) * double(1048576)) / double(1048576)
          AS h_grid""",
        """floor((3.0 * (CAST(r1 AS DOUBLE) * r1 / n1
             + CAST(r2 AS DOUBLE) * r2 / n2
             + CAST(r3 AS DOUBLE) * r3 / n3
             + CAST(r4 AS DOUBLE) * r4 / n4
             + CAST(r5 AS DOUBLE) * r5 / n5)
            / (CAST(n1 + n2 + n3 + n4 + n5 AS DOUBLE)
               * (n1 + n2 + n3 + n4 + n5 + 1))
            - 3.0 * (n1 + n2 + n3 + n4 + n5 + 1))
           / (1.0 - CAST(t AS DOUBLE) /
              (CAST(CAST(n1 + n2 + n3 + n4 + n5 AS DECIMAL(38,0))
                 * (n1 + n2 + n3 + n4 + n5)
                 * (n1 + n2 + n3 + n4 + n5)
                 - (n1 + n2 + n3 + n4 + n5) AS DOUBLE)))
           * double(1048576)) / double(1048576) AS h_tie_grid""")
    }),

    // ONE-WAY ANOVA F across the same five priorities — the parametric
    // twin of q116 (equal-variance k-group mean test) plus η² effect size.
    // Sufficient statistics per group are exact: n_g, S_g = Σ dollars,
    // Q_g = Σ dollars² (DECIMAL(38,0) internally, cast to BIGINT — dollar
    // units keep Q_g inside int64 where cents would overflow it). SSB and
    // SSW are the classic decompositions Σ S_g²/n_g − S²/N and
    // Q − Σ S_g²/n_g, evaluated as one fixed-association double chain from
    // the pivoted exact integers, grid-floored once.
    "q117_anova_f" -> ((s, dir) => {
      val ev = Tables(s, dir, "orders")
        .select(round(col("o_totalprice")).cast("long").as("d"),
          substring(col("o_orderpriority"), 1, 1).as("g"))
      val st = ev.groupBy(col("g"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(SUM(CAST(d AS DECIMAL(38,0))) AS BIGINT)").as("s"),
          expr("CAST(SUM(CAST(d AS DECIMAL(38,0)) * d) AS BIGINT)")
            .as("q"))
      def pick(k: Int, c: String): Column =
        max(when(col("g") === k.toString, col(c)))
      val wide = st.agg(
        pick(1, "n").as("n1"), pick(1, "s").as("s1"), pick(1, "q").as("q1"),
        pick(2, "n").as("n2"), pick(2, "s").as("s2"), pick(2, "q").as("q2"),
        pick(3, "n").as("n3"), pick(3, "s").as("s3"), pick(3, "q").as("q3"),
        pick(4, "n").as("n4"), pick(4, "s").as("s4"), pick(4, "q").as("q4"),
        pick(5, "n").as("n5"), pick(5, "s").as("s5"), pick(5, "q").as("q5"))
      wide
        .withColumn("bg",
          expr("""CAST(s1 AS DOUBLE) * s1 / n1 + CAST(s2 AS DOUBLE) * s2 / n2
            + CAST(s3 AS DOUBLE) * s3 / n3 + CAST(s4 AS DOUBLE) * s4 / n4
            + CAST(s5 AS DOUBLE) * s5 / n5"""))
        .withColumn("nn", expr("n1 + n2 + n3 + n4 + n5"))
        .withColumn("ssb", expr("""bg -
          CAST(s1 + s2 + s3 + s4 + s5 AS DOUBLE) * (s1 + s2 + s3 + s4 + s5)
            / nn"""))
        .withColumn("ssw",
          expr("CAST(q1 + q2 + q3 + q4 + q5 AS DOUBLE) - bg"))
        .selectExpr("nn AS n_total",
          """floor((ssb / 4.0) / (ssw / (nn - 5)) * double(1048576)) / double(1048576)
            AS f_grid""",
          "floor(ssb / (ssb + ssw) * double(1048576)) / double(1048576) AS eta2_grid")
    }),

    // DEGREE ASSORTATIVITY of the supplier co-purchase graph (Newman, PRL
    // 2002): do well-connected suppliers co-sell with other hubs (r > 0)
    // or with the periphery (r < 0)? Edges are q82's co-purchase pairs
    // (≥ 3 shared customers on the 10% order sample — the bounded
    // equi-join construction, never all-pairs); degrees are counted IN
    // that pair graph. r is the Pearson correlation of endpoint degrees
    // over both orientations of each edge: every sufficient statistic
    // (M = 2|E|, Σdx, Σdx·dy, Σdx²) is an exact BIGINT because degrees
    // are bounded by the co-purchase fan-out, and r is one
    // fixed-association double chain, grid-floored.
    "q118_assortativity" -> ((s, dir) => {
      val e = Tables(s, dir, "orders")
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct()
      // lineage-cut (r12): pairs is referenced three times (both degree
      // unions + the final stat join) and each reference re-ran the
      // co-purchase self-join + aggregation (40 Exchange nodes); the
      // min-support pair graph is the bounded table this gate is
      // designed around — materialize it once
      val pairs = graft.graph.GraphOps.checkpoint(e.as("a").join(e.as("b"),
          col("a.cust") === col("b.cust") &&
            col("a.supp") < col("b.supp"))
        .groupBy(col("a.supp").as("sa"), col("b.supp").as("sb"))
        .agg(count(lit(1)).as("nc"))
        .filter(col("nc") >= 3)
        .select(col("sa"), col("sb")))
      val deg = pairs.select(col("sa").as("node"))
        .unionAll(pairs.select(col("sb").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      pairs
        .join(deg.select(col("node").as("sa"), col("deg").as("da")), "sa")
        .join(deg.select(col("node").as("sb"), col("deg").as("db")), "sb")
        .agg(count(lit(1)).as("ne"),
          expr("CAST(SUM(da + db) AS BIGINT)").as("sx"),
          expr("CAST(SUM(CAST(da AS DECIMAL(38,0)) * db) AS BIGINT)")
            .as("sxy"),
          expr("""CAST(SUM(CAST(da AS DECIMAL(38,0)) * da
            + CAST(db AS DECIMAL(38,0)) * db) AS BIGINT)""").as("sxx"))
        // zero degree variance (a degree-regular pair graph — the tiny-SF
        // shape) leaves r undefined: NULL on both sides, never a 0/0
        .withColumn("mu", expr("CAST(sx AS DOUBLE) / (2 * greatest(ne, 1))"))
        .withColumn("num",
          expr("CAST(2 * sxy AS DOUBLE) / (2 * greatest(ne, 1)) - mu * mu"))
        .withColumn("den",
          expr("CAST(sxx AS DOUBLE) / (2 * greatest(ne, 1)) - mu * mu"))
        .selectExpr("ne AS n_edges",
          """CASE WHEN ne = 0 OR den = double(0) THEN CAST(NULL AS DOUBLE)
             ELSE floor(num / den * double(1048576)) / double(1048576)
             END AS r_grid""")
    }),

    // TRIMMED + WINSORIZED MEAN of order value — the robust-location pair
    // (trim discards the tail rows, winsorize clamps them to the cut
    // values; both kill the whale-order distortion a plain mean has).
    // Exact to the row via the compressed distinct-cent table: a value
    // block occupying ranks (cum−cnt, cum] keeps
    // max(0, min(cum,U) − max(cum−cnt, L)) rows inside the (L, U] window
    // with L = floor(0.05·N), U = floor(0.95·N); the winsorized tails add
    // L copies of the (L+1)-th value and N−U copies of the U-th. Rank
    // arithmetic rides PrefixSum, sums ride DECIMAL(38,0), and both means
    // land as exact ppm integral divisions — no doubles anywhere.
    "q120_trimmed_mean" -> ((s, dir) => {
      // lineage-cut (r12): byV feeds the rank decomposition, the total
      // and (via cum) the cut probe + kept fold — references that each
      // re-ran the fact aggregation
      val byV = graft.graph.GraphOps.checkpoint(Tables(s, dir, "orders")
        .select(round(col("o_totalprice") * 100).cast("long").as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("cnt")))
      // measured-size adaptive (r13): the checkpointed compressed table
      // counts for free; below the cap the running count is ONE
      // constant-partition window instead of the 4-step decomposition
      val cum = graft.pack.PrefixSum.runningSumAdaptive(byV,
        expr("v div 100000"), Seq(col("v")), col("cnt"), "cum")
      val tot = byV.agg(sum(col("cnt")).as("n"))
        .select(col("n"), expr("n div 20").as("l"),
          expr("n - n div 20").as("u"))
      val marked = cum.crossJoin(broadcast(tot))
      val cuts = marked.agg(
        min(when(col("cum") >= col("l") + 1, col("v"))).as("vl"),
        min(when(col("cum") >= col("u"), col("v"))).as("vu"))
      marked
        .select(col("n"), col("l"), col("u"), col("v"),
          greatest(lit(0L), least(col("cum"), col("u")) -
            greatest(col("cum") - col("cnt"), col("l"))).as("kept"))
        .groupBy(col("n"), col("l"), col("u"))
        .agg(sum(col("kept")).as("nk"),
          sum(expr("CAST(v AS DECIMAL(38,0)) * kept")).as("sk"))
        .crossJoin(broadcast(cuts))
        .select(col("n").as("n_total"),
          expr("CAST((1000000 * sk) div nk AS BIGINT)")
            .as("trimmed_mean_ppm_cents"),
          expr("""CAST((1000000 * (sk + CAST(l AS DECIMAL(38,0)) * vl
            + CAST(n - u AS DECIMAL(38,0)) * vu)) div n AS BIGINT)""")
            .as("winsorized_mean_ppm_cents"))
    }),

    // MANN–KENDALL trend test on the daily order-count series — the
    // standard nonparametric is-this-drifting monitor (no linearity or
    // normality assumed; ties handled exactly). S = Σ_{i<j} sgn(x_j−x_i)
    // over the TIME order and the tie-corrected variance
    // 18·Var = n(n−1)(2n+5) − Σ t(t−1)(2t+5) are exact integers; the
    // continuity-corrected z is one grid-floored double chain. The pair
    // enumeration is a self-join of the DAILY table — bounded by the
    // calendar span (~2.4k rows at every SF: TPC-H dates span 7 years),
    // never the fact table, so the quadratic is a constant ~3M sign
    // evaluations; the fact table contributes one hash agg.
    "q121_mann_kendall" -> ((s, dir) => {
      // lineage-cut (r12): daily feeds the pair self-join, the tie term
      // and the count — the cut runs the fact aggregation once
      val daily = graft.graph.GraphOps.checkpoint(Tables(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("x")))
      val st = daily.as("a").join(daily.as("b"),
          col("a.day") < col("b.day"))
        .agg(sum(signum(col("b.x") - col("a.x")).cast("long")).as("s"))
      val ties = daily.groupBy(col("x")).agg(count(lit(1)).as("t"))
        .agg(sum(expr("CAST(t AS DECIMAL(38,0)) * (t-1) * (2*t+5)"))
          .as("tt"))
      val n = daily.agg(count(lit(1)).as("n"))
      st.crossJoin(broadcast(ties)).crossJoin(broadcast(n))
        .select(col("n").as("n_days"), col("s").as("s_stat"),
          expr("""CAST(CAST(n AS DECIMAL(38,0)) * (n-1) * (2*n+5) - tt
            AS BIGINT)""").as("var18"))
        .selectExpr("n_days", "s_stat",
          """CASE WHEN s_stat = 0 THEN CAST(0.0 AS DOUBLE)
             ELSE floor((CAST(s_stat AS DOUBLE)
               - CAST(SIGN(s_stat) AS DOUBLE))
               / sqrt(CAST(var18 AS DOUBLE) / 18.0)
               * double(1048576)) / double(1048576) END AS z_grid""")
    }),

    // CLASSICAL SEASONAL DECOMPOSITION (the STL shape, additive, MA
    // trend) of the monthly revenue series: trend = centered 2×12 moving
    // average (the standard even-period trend filter — a 13-term window
    // with half-weight ends), seasonal = per-calendar-month lower median
    // of the detrended values, remainder = what's left. Everything stays
    // on the ×24 integer grid (the 2×12 MA's natural denominator):
    // trend_c24 = Σ rows(−6..+5) + Σ rows(−5..+6) of monthly cents,
    // detrended_c24 = 24·rev − trend_c24, and the medians are order
    // statistics of integers — zero doubles, bit-exact cross-engine.
    // Scale shape: the fact table is reduced by ONE hash agg to a
    // calendar-bounded monthly table (~84 rows at every SF); all windows
    // run over that aggregate (PlanGuard-benign), and the seasonal
    // medians are 12 groups of ≤ span/12 rows.
    "q122_stl_decompose" -> ((s, dir) =>
      stlComponents(s, dir)
        .select(col("month").cast("timestamp_ntz").as("month"),
          col("rev_cents"), col("trend_c24"), col("seasonal_c24"),
          (col("detr_c24") - col("seasonal_c24")).as("remainder_c24"))
        .orderBy(col("month"))),

    // STL STRENGTH measures (Hyndman's Fs/Ft): how much of the series'
    // variation the seasonal and trend components actually explain —
    // Fs = 1 − Var(remainder)/Var(seasonal + remainder), Ft likewise
    // against (trend + remainder), each clamped at 0. Every variance
    // rides the exact n·Σx² − (Σx)² form in DECIMAL(38,0) over the
    // interior months, and the ratio is ONE ppm integral division (equal
    // n's cancel) — zero doubles. One row, bounded input.
    "q131_stl_strength" -> ((s, dir) => {
      val comp = stlComponents(s, dir)
        .filter(col("trend_c24").isNotNull)
        .select((col("detr_c24") - col("seasonal_c24")).as("r"),
          col("detr_c24").as("sr"), // seasonal + remainder
          (col("rev_cents") * 24 - col("seasonal_c24")).as("tr"))
      comp.agg(count(lit(1)).as("n"),
          sum(col("r")).as("s_r"),
          sum(expr("CAST(r AS DECIMAL(38,0)) * r")).as("ss_r"),
          sum(col("sr")).as("s_sr"),
          sum(expr("CAST(sr AS DECIMAL(38,0)) * sr")).as("ss_sr"),
          sum(col("tr")).as("s_tr"),
          sum(expr("CAST(tr AS DECIMAL(38,0)) * tr")).as("ss_tr"))
        .select(col("n").as("n_interior"),
          expr("""greatest(0L, 1000000 - CAST(
            (1000000 * (n * ss_r - CAST(s_r AS DECIMAL(38,0)) * s_r))
            div (n * ss_sr - CAST(s_sr AS DECIMAL(38,0)) * s_sr)
            AS BIGINT))""").as("seasonal_strength_ppm"),
          expr("""greatest(0L, 1000000 - CAST(
            (1000000 * (n * ss_r - CAST(s_r AS DECIMAL(38,0)) * s_r))
            div (n * ss_tr - CAST(s_tr AS DECIMAL(38,0)) * s_tr)
            AS BIGINT))""").as("trend_strength_ppm"))
    }),

    // BINARY SEGMENTATION changepoint search over the daily order series
    // — q74's single CUSUM peak, recursed one level: find the best split
    // of the whole series, then the best split WITHIN each half (the
    // standard multiple-changepoint construction; depth 2 → up to 3
    // breaks). The statistic is the segment-scaled CUSUM
    // |n_seg·cum_k − k·S_seg| — exact integers throughout, with the
    // argmax tie broken to the earliest day. Endpoints are excluded
    // (k = n_seg splits nothing). Scale shape: one fact-table hash agg
    // to the calendar-bounded daily table; every window is partitioned
    // by segment or runs over the bounded aggregate; the level-0 split
    // joins back as a broadcast scalar.
    "q123_binseg_changepoint" -> ((s, dir) => {
      // NOT lineage-cut (r12, deliberate): daily is multi-referenced,
      // but its partitionless level-0 window is only provably bounded
      // to the plan guard while the window's child is the Aggregate
      // itself — a checkpoint leaf would hide that; runtime exchange
      // reuse already dedups the shared partial aggregation
      val daily = Tables(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("x"))
      // bounded global window: one row per distinct order day
      val byDay = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = daily.agg(sum(col("x")).as("s0"),
        count(lit(1)).as("n0"))
      val scored0 = daily
        .withColumn("k", count(lit(1)).over(byDay))
        .withColumn("cum", sum(col("x")).over(byDay))
        .crossJoin(broadcast(tot))
        .withColumn("d", abs(col("n0") * col("cum") - col("k") * col("s0")))
        .filter(col("k") < col("n0"))
      val best0 = scored0.orderBy(col("d").desc, col("day")).limit(1)
        .select(col("day").as("split0"), col("d").as("d0"),
          col("n0"), col("s0"))
      val tagged = daily.crossJoin(broadcast(best0))
        .withColumn("seg", when(col("day") <= col("split0"), lit("L"))
          .otherwise(lit("R")))
      val bySegDay = Window.partitionBy(col("seg")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val segTot = tagged.groupBy(col("seg"))
        .agg(sum(col("x")).as("ss"), count(lit(1)).as("ns"),
          min(col("day")).as("lo"), max(col("day")).as("hi"))
      val scored1 = tagged
        .withColumn("k", count(lit(1)).over(bySegDay))
        .withColumn("cum", sum(col("x")).over(bySegDay))
        .join(broadcast(segTot), "seg")
        .withColumn("d", abs(col("ns") * col("cum") - col("k") * col("ss")))
        .filter(col("k") < col("ns"))
      val best1 = scored1
        .withColumn("rk", row_number().over(Window.partitionBy(col("seg"))
          .orderBy(col("d").desc, col("day"))))
        .filter(col("rk") === 1)
        .select(lit(1).as("level"), col("lo"), col("hi"),
          col("day").as("split_day"), col("d").as("d_stat"),
          col("ns").as("n_days"))
      val lvl0 = best0.crossJoin(broadcast(
          daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))))
        .select(lit(0).as("level"), col("lo"), col("hi"),
          col("split0").as("split_day"), col("d0").as("d_stat"),
          col("n0").as("n_days"))
      lvl0.unionAll(best1)
        .select(col("level"), col("lo").cast("timestamp_ntz").as("seg_lo"),
          col("hi").cast("timestamp_ntz").as("seg_hi"),
          col("split_day").cast("timestamp_ntz").as("split_day"),
          col("d_stat"), col("n_days"))
        .orderBy(col("level"), col("seg_lo"))
    }),

    // THEIL–SEN robust slope of monthly revenue per region — the median
    // of all pairwise slopes (breakdown point 29%, vs 0% for OLS: one
    // whale month can't bend it). Slopes live on the ppm grid as
    // (rev_b − rev_a)·1e6 div (mi_b − mi_a) with TRUNCATING integer
    // division on both engines (Spark `div` ≡ DuckDB `//` on BIGINT,
    // both toward zero — the q119-measured semantics); the median is the
    // lower order statistic, a value pick that is tie-order invariant.
    // Scale shape: facts reduce via one hash agg to region×month
    // (~5×84 rows at every SF); the pair quadratic is a per-region
    // slice-explode over a ≤span-month collected array — calendar-
    // bounded, never a fact-table self-join.
    "q124_theil_sen" -> ((s, dir) => {
      val monthly = Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .join(Tables(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .as("mi"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev"))
      // bounded per-region collect: one struct per calendar month
      val series = monthly
        .groupBy(col("region"))
        .agg(array_sort(collect_list(struct(col("mi"), col("rev"))))
          .as("pts"))
      val slopes = series
        .select(col("region"), size(col("pts")).as("n_months"),
          posexplode(col("pts")).as(Seq("i", "a")), col("pts"))
        .select(col("region"), col("n_months"), col("a"),
          explode(slice(col("pts"), col("i") + 2,
            size(col("pts")))).as("b"))
        .select(col("region"), col("n_months"),
          expr("(b.rev - a.rev) * 1000000L div (b.mi - a.mi)")
            .as("slope_ppm"))
      val byRegion = Window.partitionBy(col("region"))
        .orderBy(col("slope_ppm"))
      slopes
        .withColumn("rn", row_number().over(byRegion))
        .withColumn("np",
          count(lit(1)).over(Window.partitionBy(col("region"))))
        .filter(col("rn") === expr("(np + 1) div 2"))
        .select(col("region"), col("n_months"), col("np").as("n_pairs"),
          col("slope_ppm").as("sen_slope_ppm_cents_per_month"))
        .orderBy(col("region"))
    }),

    // KENDALL τ-b rank correlation between daily order COUNT and daily
    // revenue — q102's Spearman asks "do the ranks line up", τ-b asks
    // the sturdier pairwise question "if one went up, did the other"
    // (bounded influence per pair, exact tie correction). S = Σ_{i<j}
    // sgn(Δx)·sgn(Δy) and the tie terms n1 = Σ t(t−1)/2 are exact
    // integers; τ-b itself is one grid-floored double over a product
    // that stays under 2^53 (the day count is calendar-bounded, q121's
    // argument — the pair quadratic runs over ~2.4k daily rows at every
    // SF, never the fact table).
    "q125_kendall_tau" -> ((s, dir) => {
      val daily = Tables(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("x"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("y"))
      val st = daily.as("a").join(daily.as("b"),
          col("a.day") < col("b.day"))
        .agg(sum((signum(col("b.x") - col("a.x")) *
          signum(col("b.y") - col("a.y"))).cast("long")).as("s"))
      val tx = daily.groupBy(col("x")).agg(count(lit(1)).as("t"))
        .agg(sum(expr("t * (t - 1) div 2")).as("n1"))
      val ty = daily.groupBy(col("y")).agg(count(lit(1)).as("t"))
        .agg(sum(expr("t * (t - 1) div 2")).as("n2"))
      val n = daily.agg(count(lit(1)).as("n"))
      st.crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
        .crossJoin(broadcast(n))
        .select(col("n").as("n_days"), col("s").as("s_stat"),
          col("n1").as("n1_ties"), col("n2").as("n2_ties"),
          expr("n * (n - 1) div 2").as("n0"))
        .selectExpr("n_days", "s_stat", "n1_ties", "n2_ties",
          """CASE WHEN n0 = n1_ties OR n0 = n2_ties
             THEN CAST(NULL AS DOUBLE)
             ELSE floor(CAST(s_stat AS DOUBLE)
               / sqrt(CAST((n0 - n1_ties) * (n0 - n2_ties) AS DOUBLE))
               * double(1048576)) / double(1048576) END AS tau_b_grid""")
    }),

    // LORENZ CURVE DECILES of customer revenue — the curve behind q111's
    // one-number Gini: cumulative revenue share at each population decile
    // (the "bottom 50% of customers hold X% of revenue" statement an
    // equity/concentration audit actually quotes). Rank mass rides
    // PrefixSum over the compressed cent table; each decile's share is
    // one exact ppm division — a tie block straddling a decile edge
    // contributes pro-rata mass (value × rows-inside), keeping the curve
    // exact without per-row ranking.
    "q133_lorenz_deciles" -> ((s, dir) => {
      val cust = Tables(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
      // lineage-cut (r13): byV feeds the rank pass AND the total; the cut
      // also lets the measured-size adaptive below count it for free
      val byV = graft.graph.GraphOps.checkpoint(
        cust.groupBy(col("x")).agg(count(lit(1)).as("cnt")))
      val cum = graft.pack.PrefixSum.runningSumAdaptive(byV,
        expr("x div 100000"), Seq(col("x")), col("cnt"), "cum")
      val tot = byV.agg(sum(col("cnt")).as("n"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * cnt")).as("sx"))
      val deciles = s.range(1, 11).select(col("id").cast("int").as("d"))
      cum.crossJoin(broadcast(tot)).crossJoin(broadcast(deciles))
        // rows of this value block inside decile d's population prefix
        .select(col("d"), col("n"), col("sx"),
          expr("""CAST(x AS DECIMAL(38,0)) *
            greatest(0L, least(cum, (d * n) div 10) - (cum - cnt))""")
            .as("mass"))
        .groupBy(col("d"), col("n"), col("sx"))
        .agg(sum(col("mass")).as("cmass"))
        .select(col("d").as("decile"),
          expr("(d * n) div 10").as("n_customers"),
          expr("CAST((1000000 * cmass) div sx AS BIGINT)")
            .as("cum_revenue_ppm"))
        .orderBy(col("decile"))
    }),

    // CHAPMAN CAPTURE–RECAPTURE estimate of the active customer
    // population from the two date halves — the mark-recapture estimator
    // ecology uses and data teams rediscover for "how many customers
    // exist that we HAVEN'T seen": N̂ = (n1+1)(n2+1)/(m+1) − 1 from the
    // half-1 captures, half-2 captures, and the overlap. Exact ppm
    // integral division; the three counts come from one activity agg
    // (q132's pairing, without the customer-dimension universe).
    "q134_capture_recapture" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .select(col("o_custkey"),
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("us"))
      val mid = o.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      o.crossJoin(broadcast(mid))
        .groupBy(col("o_custkey"))
        .agg(max(when(col("us") < col("mid"), 1L).otherwise(0L)).as("h1"),
          max(when(col("us") >= col("mid"), 1L).otherwise(0L)).as("h2"))
        .agg(sum(col("h1")).as("n1"), sum(col("h2")).as("n2"),
          sum(expr("h1 * h2")).as("m"),
          count(lit(1)).as("n_observed"))
        .selectExpr("n1", "n2", "m", "n_observed",
          """CAST((CAST(n1 + 1 AS DECIMAL(38,0)) * (n2 + 1) * 1000000)
             div (m + 1) - 1000000 AS BIGINT) AS n_hat_ppm""")
    }),

    // McNEMAR'S TEST on paired customer activity — did the population's
    // ordering behavior CHANGE between the two halves of the date range?
    // The paired design uses only the DISCORDANT cells (active→inactive
    // b vs inactive→active c): χ² = (b−c)²/(b+c), exact ppm integers —
    // the concordant mass that drowns a naive two-proportion test drops
    // out by construction. One join + one contingency agg; the customer
    // dimension is the pairing universe.
    "q132_mcnemar" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .select(col("o_custkey"),
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("us"))
      val mid = o.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val act = o.crossJoin(broadcast(mid))
        .groupBy(col("o_custkey"))
        .agg(max(when(col("us") < col("mid"), 1L).otherwise(0L)).as("h1"),
          max(when(col("us") >= col("mid"), 1L).otherwise(0L)).as("h2"))
      Tables(s, dir, "customer").select(col("c_custkey"))
        .join(act, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("h1"), lit(0L)).as("h1"),
          coalesce(col("h2"), lit(0L)).as("h2"))
        .agg(sum(expr("h1 * h2")).as("n_both"),
          sum(expr("h1 * (1 - h2)")).as("n_lost"),
          sum(expr("(1 - h1) * h2")).as("n_gained"),
          sum(expr("(1 - h1) * (1 - h2)")).as("n_neither"))
        .selectExpr("n_both", "n_lost", "n_gained", "n_neither",
          """CASE WHEN n_lost + n_gained = 0 THEN CAST(NULL AS BIGINT)
             ELSE CAST(1000000 * (n_lost - n_gained) * (n_lost - n_gained)
               div (n_lost + n_gained) AS BIGINT) END AS chi2_ppm""")
    }),

    // TUKEY MEDIAN POLISH of the region × calendar-month revenue grid —
    // the robust two-way decomposition (row effect + column effect +
    // residual, fitted by alternating MEDIAN removal instead of ANOVA's
    // means, so one anomalous cell stays in ITS residual instead of
    // leaking into every effect that touches it). Two full sweeps on a
    // BOUNDED grid (|regions| × 12 cells — the fact table reduces via one
    // hash agg); lower medians keep every quantity an exact integer, and
    // the additive identity rev = row_eff + col_eff + residual holds by
    // construction on every cell.
    "q130_median_polish" -> ((s, dir) => {
      def lowMed(in: DataFrame, value: String, part: String,
                 out: String): DataFrame = {
        val w = Window.partitionBy(col(part))
          .orderBy(col(value), col("region"), col("moy"))
        in.withColumn("__rn", row_number().over(w))
          .withColumn("__nm",
            count(lit(1)).over(Window.partitionBy(col(part))))
          .withColumn(out, min(when(
            col("__rn") === expr("(__nm + 1) div 2"), col(value)))
            .over(Window.partitionBy(col(part))))
          .drop("__rn", "__nm")
      }
      val cells = Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .join(Tables(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"),
          month(col("o_orderdate")).as("moy"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("rev"))
      val s1 = lowMed(cells.withColumn("v", col("rev")), "v", "region", "a1")
        .withColumn("v", col("v") - col("a1"))
      val s2 = lowMed(s1, "v", "moy", "b1")
        .withColumn("v", col("v") - col("b1"))
      val s3 = lowMed(s2, "v", "region", "a2")
        .withColumn("v", col("v") - col("a2"))
      val s4 = lowMed(s3, "v", "moy", "b2")
        .withColumn("v", col("v") - col("b2"))
      s4.select(col("region"), col("moy"), col("rev"),
          (col("a1") + col("a2")).as("row_eff"),
          (col("b1") + col("b2")).as("col_eff"),
          col("v").as("residual"))
        .orderBy(col("region"), col("moy"))
    }),

    // WALD–WOLFOWITZ RUNS TEST on the daily order series — the
    // is-this-sequence-random monitor (trend AND oscillation both shrink
    // or inflate the run count; the mean-level tests q74/q121 can miss
    // pure alternation). Days are classified above/below the lower
    // median of the compressed value table (ties at the median drop, the
    // classical treatment); R = 1 + sign changes along the day order.
    // Counts are exact integers; z is one grid-floored double. All
    // windows run over the calendar-bounded daily aggregate.
    "q128_runs_test" -> ((s, dir) => {
      val daily = Tables(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("x"))
      val byV = daily.groupBy(col("x")).agg(count(lit(1)).as("c"))
      // bounded global window: one row per distinct daily count
      val byX = Window.orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val n = daily.agg(count(lit(1)).as("n"))
      val med = byV.withColumn("cum", sum(col("c")).over(byX))
        .crossJoin(broadcast(n))
        .filter(col("cum") >= expr("(n + 1) div 2"))
        .agg(min(col("x")).as("med"))
      val signed = daily.crossJoin(broadcast(med))
        .filter(col("x") =!= col("med"))
        .withColumn("s", when(col("x") > col("med"), 1).otherwise(-1))
      // bounded global lag: the filtered daily aggregate
      val byDay = Window.orderBy(col("day"))
      signed
        .withColumn("prev", lag(col("s"), 1).over(byDay))
        .agg(sum(when(col("s") === 1, 1L).otherwise(0L)).as("n_above"),
          sum(when(col("s") === -1, 1L).otherwise(0L)).as("n_below"),
          (sum(when(col("prev").isNotNull && col("prev") =!= col("s"), 1L)
            .otherwise(0L)) + 1L).as("n_runs"))
        .selectExpr("n_above", "n_below", "n_runs",
          """CASE WHEN n_above = 0 OR n_below = 0 THEN CAST(NULL AS DOUBLE)
             ELSE floor((CAST(n_runs AS DOUBLE)
               - (2.0 * n_above * n_below / (n_above + n_below) + 1.0))
               / sqrt(2.0 * n_above * n_below
                 * (2.0 * n_above * n_below - n_above - n_below)
                 / (CAST(n_above + n_below AS DOUBLE)
                   * (n_above + n_below)
                   * (n_above + n_below - 1)))
               * double(1048576)) / double(1048576) END AS z_grid""")
    }),

    // TURNING-POINTS randomness test — q128's high-frequency companion:
    // counts strict local maxima/minima along the daily series (an
    // oscillating series turns nearly every day, a trending one almost
    // never; for an i.i.d. one E[T] = 2(n−2)/3, Var = (16n−29)/90).
    // The lag/lead pair runs over the bounded daily aggregate; T is an
    // exact integer and z one grid-floored double.
    "q129_turning_points" -> ((s, dir) => {
      val daily = Tables(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("x"))
      // bounded global window: one row per distinct order day
      val byDay = Window.orderBy(col("day"))
      daily
        .withColumn("p", lag(col("x"), 1).over(byDay))
        .withColumn("f", lead(col("x"), 1).over(byDay))
        .filter(col("p").isNotNull && col("f").isNotNull)
        .agg(count(lit(1)).as("n_interior"),
          sum(when((col("x") > col("p") && col("x") > col("f")) ||
            (col("x") < col("p") && col("x") < col("f")), 1L)
            .otherwise(0L)).as("n_turning"))
        .selectExpr("n_interior", "n_turning",
          """floor((CAST(n_turning AS DOUBLE)
             - 2.0 * n_interior / 3.0)
             / sqrt((16.0 * (n_interior + 2) - 29.0) / 90.0)
             * double(1048576)) / double(1048576) AS z_grid""")
    }),

    // HODGES–LEHMANN pseudo-median of the daily order count — the robust
    // location estimate that beats both the mean (unbounded influence)
    // and the raw median (low efficiency): the median of all Walsh
    // averages (x_i + x_j)/2, i ≤ j. Reported ×2 so it stays integer.
    // The pair quadratic runs over the COMPRESSED distinct-value table
    // (a value pair (v_a ≤ v_b) carries weight c_a·c_b, the diagonal
    // c(c+1)/2), so the Walsh histogram is |distinct|² rows — bounded by
    // the value domain, not the day count, and the lower-median rank
    // probe is one running sum over that bounded aggregate.
    "q127_hodges_lehmann" -> ((s, dir) => {
      val daily = Tables(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("x"))
      val byV = daily.groupBy(col("x")).agg(count(lit(1)).as("c"))
      val pairs = byV.as("a").join(broadcast(byV.as("b")),
          col("a.x") <= col("b.x"))
        .select((col("a.x") + col("b.x")).as("w2"),
          when(col("a.x") === col("b.x"), expr("a.c * (a.c + 1) div 2"))
            .otherwise(expr("a.c * b.c")).as("cnt"))
        .groupBy(col("w2")).agg(sum(col("cnt")).as("cnt"))
      val n = daily.agg(count(lit(1)).as("n"))
        .select(col("n"), expr("n * (n + 1) div 2").as("npairs"))
      // bounded global window: one row per distinct Walsh sum
      val byW = Window.orderBy(col("w2"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pairs.withColumn("cum", sum(col("cnt")).over(byW))
        .crossJoin(broadcast(n))
        .filter(col("cum") >= expr("(npairs + 1) div 2"))
        .groupBy(col("n"), col("npairs"))
        .agg(min(col("w2")).as("hl_x2"))
        .select(col("n").as("n_days"), col("npairs").as("n_walsh_pairs"),
          col("hl_x2").as("hl_center_x2"))
    }),

    // CRAMÉR–VON MISES two-sample drift between the first and second
    // half of the order-date range — the whole-distribution companion
    // of q51's KS (KS sees only the single worst ECDF gap; CvM
    // integrates EVERY gap, catching broad small shifts KS misses).
    // T = Σ_pooled (F_n − G_m)² · nm/N² is computed EXACTLY over the
    // compressed distinct-cent table: per value block,
    // (ca+cb)·(m·cumA − n·cumB)² in DECIMAL(38,0), with one final ppm
    // integral division — zero doubles on either side. (38 digits cap
    // exactness near n≈10⁹ per side — q76's documented bound; pre-scale
    // or partition the audit beyond that.) The running counts ride
    // PrefixSum; the fact table contributes one hash agg.
    "q126_cvm_drift" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .select(round(col("o_totalprice") * 100).cast("long").as("v"),
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("us"))
      // ONE fact pass (r12): o_orderdate is day-granular, so the
      // per-(value, day) aggregate is a compressed table the midpoint
      // probe AND the per-period split both fold from — the r11 shape
      // scanned the fact once for min/max and again for the tagged
      // aggregation; min/max over the compressed table are the same
      // values, and the re-aggregated per-period counts the same
      // integers
      val byVU = graft.graph.GraphOps.checkpoint(
        o.groupBy(col("v"), col("us")).agg(count(lit(1)).as("c")))
      val mid = byVU.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val byV = byVU.crossJoin(broadcast(mid))
        .groupBy(col("v"))
        .agg(sum(when(col("us") < col("mid"), col("c")).otherwise(0L))
          .as("ca"),
          sum(when(col("us") < col("mid"), 0L).otherwise(col("c")))
          .as("cb"))
      // both running counts in ONE prefix-sum pass (r12: the chained
      // single-column calls re-ran the bucket pass per column); the pass
      // is measured-size adaptive (r13; the kernel cuts byV — one cheap
      // aggregation job over byVU's cached blocks)
      val cum = graft.pack.PrefixSum.runningSumsAdaptive(byV,
        expr("v div 100000"), Seq(col("v")),
        Seq(col("ca") -> "cuma", col("cb") -> "cumb"))
      val tot = byV.agg(sum(col("ca")).as("n"), sum(col("cb")).as("m"))
      cum.crossJoin(broadcast(tot))
        .select(col("n"), col("m"),
          expr("""CAST(ca + cb AS DECIMAL(38,0)) *
            (CAST(m AS DECIMAL(38,0)) * cuma
              - CAST(n AS DECIMAL(38,0)) * cumb) *
            (CAST(m AS DECIMAL(38,0)) * cuma
              - CAST(n AS DECIMAL(38,0)) * cumb)""").as("term"))
        .groupBy(col("n"), col("m"))
        .agg(sum(col("term")).as("tnum"))
        .select(col("n").as("n_expected"), col("m").as("n_actual"),
          expr("""CAST((1000000 * tnum) div (CAST(n AS DECIMAL(38,0))
            * m * (n + m) * (n + m)) AS BIGINT)""").as("cvm_ppm"))
    }),

    // SQL-SURFACE end-to-end: the er2 linkage pipeline expressed ENTIRELY
    // as a spark.sql text — deletion-variant blocking, candidate
    // equi-join, native jaro_winkler scoring — against a session that was
    // built WITHOUT the graft extension (the driver's). Proves
    // [[graft.functions.GraftExtensions.registerAll]] makes every native
    // kernel available to plain-SQL users on any live session, and that
    // the SQL-path plans are the same bounded equi-join shapes the
    // DataFrame path produces. Different typo slice (id % 7) and salt
    // than er2, so the two gates cover distinct fixtures.
    "er3_sql_surface" -> ((s, dir) => {
      graft.functions.GraftExtensions.registerAll(s)
      Tables(s, dir, "customer").createOrReplaceTempView("er3_customer")
      s.sql("""
        WITH cust AS (
          SELECT CAST(c_custkey AS BIGINT) AS id, lower(c_name) AS name
          FROM er3_customer
        ), typo AS (
          SELECT id + 10000000 AS id,
            concat(substring(name, 1, pos - 1),
              substring(name, pos + 1, length(name))) AS name
          FROM (SELECT id, name,
            CAST(hash60(concat('er3:', name)) % CAST(length(name) AS BIGINT)
              AS INT) + 1 AS pos
            FROM cust WHERE id % 7 = 0)
        ), records AS (
          SELECT * FROM cust UNION ALL SELECT * FROM typo
        ), vars AS (
          SELECT id, explode(deletion_variants(name)) AS v FROM records
        ), cand AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM vars a JOIN vars b ON a.v = b.v AND a.id < b.id
        )
        SELECT id_a, id_b, jaro_winkler(na.name, nb.name) AS jw
        FROM cand
        JOIN records na ON na.id = cand.id_a
        JOIN records nb ON nb.id = cand.id_b
        ORDER BY jw DESC, id_a, id_b LIMIT 50""")
    }))

  /** Shared DuckDB STL chain (q122/q131): monthly → mi → tr (2×12 MA) →
    * det → seas — the SQL twin of [[stlComponents]].
    */
  private val StlCte: String = """
      WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS month,
          CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS rev_cents
        FROM orders GROUP BY 1
      ), mi AS (
        SELECT month, rev_cents,
          CAST(date_part('year', month) * 12 + date_part('month', month)
            AS INT) AS mi
        FROM monthly
      ), tr AS (
        SELECT month, rev_cents, mi,
          CAST(CASE WHEN COUNT(*) OVER wa = 12 AND COUNT(*) OVER wb = 12
            THEN SUM(rev_cents) OVER wa + SUM(rev_cents) OVER wb
            END AS BIGINT) AS trend_c24
        FROM mi
        WINDOW wa AS (ORDER BY mi RANGE BETWEEN 6 PRECEDING
          AND 5 FOLLOWING),
        wb AS (ORDER BY mi RANGE BETWEEN 5 PRECEDING AND 6 FOLLOWING)
      ), det AS (
        SELECT month, rev_cents, trend_c24,
          rev_cents * 24 - trend_c24 AS detr_c24, mi % 12 AS moy
        FROM tr
      ), seas AS (
        SELECT moy, CAST(detr_c24 AS BIGINT) AS seasonal_c24 FROM (
          SELECT moy, detr_c24,
            row_number() OVER (PARTITION BY moy ORDER BY detr_c24, month)
              AS rn,
            COUNT(*) OVER (PARTITION BY moy) AS nm
          FROM det WHERE detr_c24 IS NOT NULL)
        WHERE rn = (nm + 1) // 2
      )"""

  def oracleSql: Map[String, String] = Map(

    "q110_resource_alloc" -> """
      WITH edges AS (
        SELECT DISTINCT l_partkey AS p, o_custkey AS c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      ), deg AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS deg FROM edges
        GROUP BY p HAVING COUNT(*) <= 64
      ), pruned AS (
        SELECT e.p, e.c, d.deg FROM edges e JOIN deg d USING (p)
      ), pairs AS (
        SELECT a.c AS c1, b.c AS c2, CAST(COUNT(*) AS BIGINT) AS n_common,
          CAST(SUM(1000000000000 // a.deg) AS BIGINT) AS ra_score
        FROM pruned a JOIN pruned b ON a.p = b.p AND a.c < b.c
        GROUP BY 1, 2
      )
      SELECT c1, c2, n_common, ra_score FROM pairs
      ORDER BY ra_score DESC, c1, c2 LIMIT 20""",

    // HUGEINT keeps the rank-sum products exact; the single division is
    // integral, so no doubles exist on either side.
    "q111_gini" -> """
      WITH cust AS (
        SELECT o_custkey,
          CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS x
        FROM orders GROUP BY 1
      ), bv AS (
        SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM cust GROUP BY x
      ), cum AS (
        SELECT x, cnt, CAST(SUM(cnt) OVER (ORDER BY x
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum
        FROM bv
      ), s AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n,
          SUM(CAST(x AS HUGEINT) * cnt) AS sx,
          SUM(CAST(x AS HUGEINT) * (2*cnt*cum - cnt*(cnt-1))) AS sixx
        FROM cum
      )
      SELECT n AS n_customers,
        CAST((1000000 * (sixx - (n+1)*sx)) // (n * sx) AS BIGINT)
          AS gini_ppm
      FROM s""",

    "q112_psi" -> """
      WITH o AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
          epoch_us(o_orderdate) AS us
        FROM orders
      ), mid AS (
        SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM o
      ), tagged AS (
        SELECT v, us < mid AS is_a FROM o, mid
      ), bva AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM tagged
        WHERE is_a GROUP BY v
      ), cum AS (
        SELECT v, CAST(SUM(cnt) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum
        FROM bva
      ), na AS (SELECT CAST(SUM(cnt) AS BIGINT) AS na FROM bva),
      cuts AS (
        SELECT k, MIN(v) AS cut
        FROM cum, na, (SELECT UNNEST(range(1, 10)) AS k)
        WHERE cum * 10 >= k * na GROUP BY k
      ), binof AS (
        SELECT t.v, CAST(COUNT(c.k) AS INT) AS bin
        FROM (SELECT DISTINCT v FROM tagged) t
        LEFT JOIN cuts c ON c.cut <= t.v
        GROUP BY t.v
      ), cells AS (
        SELECT bin,
          CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na_raw,
          CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS nb_raw
        FROM tagged JOIN binof USING (v) GROUP BY bin
      ), sm AS (
        SELECT CAST(r.b AS INT) AS bin,
          COALESCE(na_raw, 0) + 1 AS a, COALESCE(nb_raw, 0) + 1 AS b
        FROM (SELECT UNNEST(range(0, 10)) AS b) r
        LEFT JOIN cells ON cells.bin = r.b
      ), tot AS (
        SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb
        FROM sm
      ), agg AS (
        SELECT MAX(ta) AS ta, MAX(tb) AS tb,
          SUM(CAST(a * tb - b * ta AS HUGEINT) *
            (CAST(round(ln(a::DOUBLE) * 1048576) AS BIGINT)
             - CAST(round(ln(ta::DOUBLE) * 1048576) AS BIGINT)
             - CAST(round(ln(b::DOUBLE) * 1048576) AS BIGINT)
             + CAST(round(ln(tb::DOUBLE) * 1048576) AS BIGINT))) AS s
        FROM sm, tot
      )
      SELECT ta - 10 AS n_expected, tb - 10 AS n_actual,
        CAST((s + 1048576 * CAST(ta AS HUGEINT) * tb)
          // (CAST(ta AS HUGEINT) * tb) - 1048576 AS BIGINT) AS psi_grid,
        CAST(CAST((s + 1048576 * CAST(ta AS HUGEINT) * tb)
          // (CAST(ta AS HUGEINT) * tb) - 1048576 AS BIGINT) AS DOUBLE)
          / 1048576.0 AS psi_nats
      FROM agg""",

    "q113_welch_t" -> """
      WITH j AS (
        SELECT c_mktsegment = 'BUILDING' AS is_a,
          CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      ), st AS (
        SELECT is_a, CAST(COUNT(*) AS BIGINT) AS n,
          SUM(CAST(cents AS HUGEINT)) AS s1,
          SUM(CAST(cents AS HUGEINT) * cents) AS s2
        FROM j GROUP BY is_a
      ), wide AS (
        SELECT MAX(CASE WHEN is_a THEN n END) AS na,
          MAX(CASE WHEN is_a THEN s1 END) AS s1a,
          MAX(CASE WHEN is_a THEN s2 END) AS s2a,
          MAX(CASE WHEN NOT is_a THEN n END) AS nb,
          MAX(CASE WHEN NOT is_a THEN s1 END) AS s1b,
          MAX(CASE WHEN NOT is_a THEN s2 END) AS s2b
        FROM st
      ), se AS (
        SELECT na, nb, s1a, s1b,
          (CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE)
            / CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0)
            / CAST(na AS DOUBLE) AS sea,
          (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE)
            / CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0)
            / CAST(nb AS DOUBLE) AS seb
        FROM wide
      )
      SELECT na AS n_a, nb AS n_b,
        floor((CAST(s1a AS DOUBLE) / CAST(na AS DOUBLE)
          - CAST(s1b AS DOUBLE) / CAST(nb AS DOUBLE))
          / sqrt(sea + seb) * 1048576.0) / 1048576.0 AS t_grid,
        floor((sea + seb) * (sea + seb)
          / (sea * sea / (CAST(na AS DOUBLE) - 1.0)
           + seb * seb / (CAST(nb AS DOUBLE) - 1.0))
          * 1048576.0) / 1048576.0 AS df_grid
      FROM se""",

    // The +1-shift makes the ppm numerator nonnegative (κ ≥ −1), so
    // DuckDB's floor-division and Spark's trunc-division agree; the shift
    // is removed in exact integers after the division.
    "q114_kappa" -> """
      WITH ev AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS v,
          event_type = 'purchase' AS b
        FROM events
      ), bv AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM ev GROUP BY v
      ), cum AS (
        SELECT v, CAST(SUM(cnt) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum
        FROM bv
      ), tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM bv),
      med AS (
        SELECT MIN(v) AS med FROM cum, tot WHERE cum * 2 >= n
      ), cells AS (
        SELECT v >= med AS a, b, CAST(COUNT(*) AS BIGINT) AS c
        FROM ev, med GROUP BY 1, 2
      ), agg AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS d,
          CAST(SUM(CASE WHEN a THEN c ELSE 0 END) AS BIGINT) AS ra,
          CAST(SUM(CASE WHEN b THEN c ELSE 0 END) AS BIGINT) AS cb
        FROM cells
      )
      SELECT n AS n_events, d AS n_agree,
        CAST((1000000 *
            ((CAST(n AS HUGEINT) * d - (CAST(ra AS HUGEINT) * cb + CAST(n - ra AS HUGEINT) * (n - cb)))
             + (CAST(n AS HUGEINT) * n - (CAST(ra AS HUGEINT) * cb + CAST(n - ra AS HUGEINT) * (n - cb)))))
          // (CAST(n AS HUGEINT) * n - (CAST(ra AS HUGEINT) * cb + CAST(n - ra AS HUGEINT) * (n - cb)))
          - 1000000 AS BIGINT) AS kappa_ppm
      FROM agg""",

    // The oracle scores candidates with DuckDB's OWN builtin — the two
    // engines implement the algorithm independently and must agree on
    // every double bit (no grid anywhere in this gate).
    "er2_jaro_verify" -> """
      WITH cust AS (
        SELECT CAST(c_custkey AS BIGINT) AS id, lower(c_name) AS name
        FROM customer
      ), typo AS (
        SELECT id + 10000000 AS id,
          substr(name, 1, pos - 1) || substr(name, pos + 1, length(name))
            AS name
        FROM (SELECT id, name,
          CAST(('0x' || substr(md5('er2:' || name), 1, 15))::BIGINT
            % length(name) AS INT) + 1 AS pos
          FROM cust WHERE id % 5 = 0)
      ), records AS (
        SELECT * FROM cust UNION ALL SELECT * FROM typo
      ), vars AS (
        SELECT id, unnest(list_append(list_transform(
          generate_series(1, length(name)),
          i -> substr(name, 1, i - 1) || substr(name, i + 1, length(name))),
          name)) AS v
        FROM records
      ), cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM vars a JOIN vars b ON a.v = b.v AND a.id < b.id
      )
      SELECT id_a, id_b,
        jaro_winkler_similarity(na.name, nb.name) AS jw
      FROM cand
      JOIN records na ON na.id = cand.id_a
      JOIN records nb ON nb.id = cand.id_b
      ORDER BY jw DESC, id_a, id_b LIMIT 50""",

    "q115_jsd" -> """
      WITH ca AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS a FROM (
          SELECT UNNEST(regexp_split_to_array(trim(lower(text)), '\s+'))
            AS w
          FROM documents WHERE source = 'src1') GROUP BY w
      ), cb AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS b FROM (
          SELECT UNNEST(regexp_split_to_array(trim(lower(text)), '\s+'))
            AS w
          FROM documents WHERE source = 'src2') GROUP BY w
      ), joined AS (
        SELECT COALESCE(ca.w, cb.w) AS w, COALESCE(a, 0) AS a,
          COALESCE(b, 0) AS b
        FROM ca FULL OUTER JOIN cb ON ca.w = cb.w
      ), tot AS (
        SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb
        FROM joined
      ), agg AS (
        SELECT MAX(ta) AS ta, MAX(tb) AS tb,
          CAST(COUNT(*) AS BIGINT) AS vocab,
          SUM(
            CASE WHEN a > 0 THEN CAST(a * tb AS HUGEINT) *
              (CAST(round(ln(a::DOUBLE) * 1048576) AS BIGINT)
               - CAST(round(ln(ta::DOUBLE) * 1048576) AS BIGINT)
               - CAST(round(ln((a * tb + b * ta)::DOUBLE) * 1048576)
                   AS BIGINT)
               + CAST(round(ln((2 * ta * tb)::DOUBLE) * 1048576)
                   AS BIGINT))
            ELSE 0 END +
            CASE WHEN b > 0 THEN CAST(b * ta AS HUGEINT) *
              (CAST(round(ln(b::DOUBLE) * 1048576) AS BIGINT)
               - CAST(round(ln(tb::DOUBLE) * 1048576) AS BIGINT)
               - CAST(round(ln((a * tb + b * ta)::DOUBLE) * 1048576)
                   AS BIGINT)
               + CAST(round(ln((2 * ta * tb)::DOUBLE) * 1048576)
                   AS BIGINT))
            ELSE 0 END) AS s
        FROM joined, tot
      )
      SELECT ta AS n_tokens_a, tb AS n_tokens_b, vocab,
        CAST((s + 2097152 * CAST(ta AS HUGEINT) * tb)
          // (2 * CAST(ta AS HUGEINT) * tb) - 1048576 AS BIGINT)
          AS jsd_grid,
        CAST(CAST((s + 2097152 * CAST(ta AS HUGEINT) * tb)
          // (2 * CAST(ta AS HUGEINT) * tb) - 1048576 AS BIGINT)
          AS DOUBLE) / 1048576.0 AS jsd_nats
      FROM agg""",

    // Double chains textually mirror the Spark side: same fixed
    // left-to-right association, same single floor-to-grid landing.
    "q116_kruskal_wallis" -> """
      WITH ev AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
          substr(o_orderpriority, 1, 1) AS g
        FROM orders
      ), bv AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM ev GROUP BY v
      ), cum AS (
        SELECT v, cnt, CAST(SUM(cnt) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum
        FROM bv
      ), r2t AS (
        SELECT v, 2 * cum - cnt + 1 AS r2 FROM cum
      ), ties AS (
        SELECT CAST(SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS BIGINT)
          AS t
        FROM bv
      ), gv AS (
        SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM ev GROUP BY 1, 2
      ), st AS (
        SELECT g, CAST(SUM(c) AS BIGINT) AS n,
          CAST(SUM(CAST(c AS HUGEINT) * r2) AS BIGINT) AS rs
        FROM gv JOIN r2t USING (v) GROUP BY g
      ), wide AS (
        SELECT
          MAX(CASE WHEN g = '1' THEN n END) AS n1,
          MAX(CASE WHEN g = '1' THEN rs END) AS r1,
          MAX(CASE WHEN g = '2' THEN n END) AS n2,
          MAX(CASE WHEN g = '2' THEN rs END) AS r2,
          MAX(CASE WHEN g = '3' THEN n END) AS n3,
          MAX(CASE WHEN g = '3' THEN rs END) AS r3,
          MAX(CASE WHEN g = '4' THEN n END) AS n4,
          MAX(CASE WHEN g = '4' THEN rs END) AS r4,
          MAX(CASE WHEN g = '5' THEN n END) AS n5,
          MAX(CASE WHEN g = '5' THEN rs END) AS r5
        FROM st
      )
      SELECT n1 + n2 + n3 + n4 + n5 AS n_total,
        floor((3.0 * (CAST(r1 AS DOUBLE) * r1 / n1
            + CAST(r2 AS DOUBLE) * r2 / n2
            + CAST(r3 AS DOUBLE) * r3 / n3
            + CAST(r4 AS DOUBLE) * r4 / n4
            + CAST(r5 AS DOUBLE) * r5 / n5)
           / (CAST(n1 + n2 + n3 + n4 + n5 AS DOUBLE)
              * (n1 + n2 + n3 + n4 + n5 + 1))
           - 3.0 * (n1 + n2 + n3 + n4 + n5 + 1)) * 1048576.0) / 1048576.0
          AS h_grid,
        floor((3.0 * (CAST(r1 AS DOUBLE) * r1 / n1
            + CAST(r2 AS DOUBLE) * r2 / n2
            + CAST(r3 AS DOUBLE) * r3 / n3
            + CAST(r4 AS DOUBLE) * r4 / n4
            + CAST(r5 AS DOUBLE) * r5 / n5)
           / (CAST(n1 + n2 + n3 + n4 + n5 AS DOUBLE)
              * (n1 + n2 + n3 + n4 + n5 + 1))
           - 3.0 * (n1 + n2 + n3 + n4 + n5 + 1))
          / (1.0 - CAST(t AS DOUBLE) /
             (CAST(CAST(n1 + n2 + n3 + n4 + n5 AS HUGEINT)
                * (n1 + n2 + n3 + n4 + n5)
                * (n1 + n2 + n3 + n4 + n5)
                - (n1 + n2 + n3 + n4 + n5) AS DOUBLE)))
          * 1048576.0) / 1048576.0 AS h_tie_grid
      FROM wide, ties""",

    "q117_anova_f" -> """
      WITH ev AS (
        SELECT CAST(round(o_totalprice) AS BIGINT) AS d,
          substr(o_orderpriority, 1, 1) AS g
        FROM orders
      ), st AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(d AS HUGEINT)) AS BIGINT) AS s,
          CAST(SUM(CAST(d AS HUGEINT) * d) AS BIGINT) AS q
        FROM ev GROUP BY g
      ), wide AS (
        SELECT
          MAX(CASE WHEN g = '1' THEN n END) AS n1,
          MAX(CASE WHEN g = '1' THEN s END) AS s1,
          MAX(CASE WHEN g = '1' THEN q END) AS q1,
          MAX(CASE WHEN g = '2' THEN n END) AS n2,
          MAX(CASE WHEN g = '2' THEN s END) AS s2,
          MAX(CASE WHEN g = '2' THEN q END) AS q2,
          MAX(CASE WHEN g = '3' THEN n END) AS n3,
          MAX(CASE WHEN g = '3' THEN s END) AS s3,
          MAX(CASE WHEN g = '3' THEN q END) AS q3,
          MAX(CASE WHEN g = '4' THEN n END) AS n4,
          MAX(CASE WHEN g = '4' THEN s END) AS s4,
          MAX(CASE WHEN g = '4' THEN q END) AS q4,
          MAX(CASE WHEN g = '5' THEN n END) AS n5,
          MAX(CASE WHEN g = '5' THEN s END) AS s5,
          MAX(CASE WHEN g = '5' THEN q END) AS q5
        FROM st
      ), d AS (
        SELECT n1 + n2 + n3 + n4 + n5 AS nn,
          CAST(s1 AS DOUBLE) * s1 / n1 + CAST(s2 AS DOUBLE) * s2 / n2
            + CAST(s3 AS DOUBLE) * s3 / n3 + CAST(s4 AS DOUBLE) * s4 / n4
            + CAST(s5 AS DOUBLE) * s5 / n5 AS bg,
          s1 + s2 + s3 + s4 + s5 AS ss,
          q1 + q2 + q3 + q4 + q5 AS qq
        FROM wide
      ), e AS (
        SELECT nn, bg - CAST(ss AS DOUBLE) * ss / nn AS ssb,
          CAST(qq AS DOUBLE) - bg AS ssw
        FROM d
      )
      SELECT nn AS n_total,
        floor((ssb / 4.0) / (ssw / (nn - 5)) * 1048576.0) / 1048576.0
          AS f_grid,
        floor(ssb / (ssb + ssw) * 1048576.0) / 1048576.0 AS eta2_grid
      FROM e""",

    "q118_assortativity" -> """
      WITH e AS (
        SELECT DISTINCT CAST(o_custkey AS BIGINT) AS cust,
          CAST(l_suppkey AS BIGINT) AS supp
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey % 10 = 0
      ), pairs AS (
        SELECT a.supp AS sa, b.supp AS sb
        FROM e a JOIN e b ON a.cust = b.cust AND a.supp < b.supp
        GROUP BY 1, 2 HAVING COUNT(*) >= 3
      ), deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
          SELECT sa AS node FROM pairs
          UNION ALL SELECT sb AS node FROM pairs)
        GROUP BY node
      ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS ne,
          CAST(SUM(da.deg + db.deg) AS BIGINT) AS sx,
          CAST(SUM(CAST(da.deg AS HUGEINT) * db.deg) AS BIGINT) AS sxy,
          CAST(SUM(CAST(da.deg AS HUGEINT) * da.deg
            + CAST(db.deg AS HUGEINT) * db.deg) AS BIGINT) AS sxx
        FROM pairs
        JOIN deg da ON da.node = pairs.sa
        JOIN deg db ON db.node = pairs.sb
      ), fin AS (
        SELECT ne, CAST(sx AS DOUBLE) / (2 * greatest(ne, 1)) AS mu,
          CAST(2 * sxy AS DOUBLE) / (2 * greatest(ne, 1)) AS sxy2m,
          CAST(sxx AS DOUBLE) / (2 * greatest(ne, 1)) AS sxxm
        FROM agg
      )
      SELECT ne AS n_edges,
        CASE WHEN ne = 0 OR sxxm - mu * mu = 0 THEN CAST(NULL AS DOUBLE)
        ELSE floor((sxy2m - mu * mu) / (sxxm - mu * mu) * 1048576.0)
          / 1048576.0
        END AS r_grid
      FROM fin""",

    "q120_trimmed_mean" -> """
      WITH bv AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
          CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1
      ), cum AS (
        SELECT v, cnt, CAST(SUM(cnt) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum
        FROM bv
      ), tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n,
          CAST(SUM(cnt) AS BIGINT) // 20 AS l,
          CAST(SUM(cnt) AS BIGINT) - CAST(SUM(cnt) AS BIGINT) // 20 AS u
        FROM bv
      ), cuts AS (
        SELECT MIN(CASE WHEN cum >= l + 1 THEN v END) AS vl,
          MIN(CASE WHEN cum >= u THEN v END) AS vu
        FROM cum, tot
      ), kept AS (
        SELECT n, l, u, v,
          greatest(0, least(cum, u) - greatest(cum - cnt, l)) AS kept
        FROM cum, tot
      ), agg AS (
        SELECT n, l, u, CAST(SUM(kept) AS BIGINT) AS nk,
          SUM(CAST(v AS HUGEINT) * kept) AS sk
        FROM kept GROUP BY n, l, u
      )
      SELECT n AS n_total,
        CAST((1000000 * sk) // nk AS BIGINT) AS trimmed_mean_ppm_cents,
        CAST((1000000 * (sk + CAST(l AS HUGEINT) * vl
          + CAST(n - u AS HUGEINT) * vu)) // n AS BIGINT)
          AS winsorized_mean_ppm_cents
      FROM agg, cuts""",

    "q121_mann_kendall" -> """
      WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
      ), st AS (
        SELECT CAST(SUM(SIGN(b.x - a.x)) AS BIGINT) AS s_stat
        FROM daily a JOIN daily b ON a.day < b.day
      ), ties AS (
        SELECT SUM(CAST(t AS HUGEINT) * (t-1) * (2*t+5)) AS tt FROM (
          SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY x)
      ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily)
      SELECT n AS n_days, s_stat,
        CASE WHEN s_stat = 0 THEN CAST(0.0 AS DOUBLE)
        ELSE floor((CAST(s_stat AS DOUBLE)
          - CAST(SIGN(s_stat) AS DOUBLE))
          / sqrt(CAST(CAST(n AS HUGEINT) * (n-1) * (2*n+5) - tt AS DOUBLE)
            / 18.0)
          * 1048576.0) / 1048576.0 END AS z_grid
      FROM st, ties, nn""",

    // Same two-independent-implementations shape as er2 (DuckDB's builtin
    // jaro_winkler_similarity vs the graft kernel), on the % 7 typo slice
    // with the 'er3:' salt.
    "er3_sql_surface" -> """
      WITH cust AS (
        SELECT CAST(c_custkey AS BIGINT) AS id, lower(c_name) AS name
        FROM customer
      ), typo AS (
        SELECT id + 10000000 AS id,
          substr(name, 1, pos - 1) || substr(name, pos + 1, length(name))
            AS name
        FROM (SELECT id, name,
          CAST(('0x' || substr(md5('er3:' || name), 1, 15))::BIGINT
            % length(name) AS INT) + 1 AS pos
          FROM cust WHERE id % 7 = 0)
      ), records AS (
        SELECT * FROM cust UNION ALL SELECT * FROM typo
      ), vars AS (
        SELECT id, unnest(list_append(list_transform(
          generate_series(1, length(name)),
          i -> substr(name, 1, i - 1) || substr(name, i + 1, length(name))),
          name)) AS v
        FROM records
      ), cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM vars a JOIN vars b ON a.v = b.v AND a.id < b.id
      )
      SELECT id_a, id_b,
        jaro_winkler_similarity(na.name, nb.name) AS jw
      FROM cand
      JOIN records na ON na.id = cand.id_a
      JOIN records nb ON nb.id = cand.id_b
      ORDER BY jw DESC, id_a, id_b LIMIT 50""",

    "q122_stl_decompose" -> s"""$StlCte
      SELECT d.month, d.rev_cents, d.trend_c24, s.seasonal_c24,
        CAST(d.detr_c24 - s.seasonal_c24 AS BIGINT) AS remainder_c24
      FROM det d LEFT JOIN seas s USING (moy)
      ORDER BY d.month""",

    "q131_stl_strength" -> s"""$StlCte, comp AS (
        SELECT CAST(d.detr_c24 - s.seasonal_c24 AS BIGINT) AS r,
          d.detr_c24 AS sr,
          CAST(d.rev_cents * 24 - s.seasonal_c24 AS BIGINT) AS tr
        FROM det d JOIN seas s USING (moy)
        WHERE d.trend_c24 IS NOT NULL
      ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
          SUM(CAST(r AS HUGEINT)) AS s_r,
          SUM(CAST(r AS HUGEINT) * r) AS ss_r,
          SUM(CAST(sr AS HUGEINT)) AS s_sr,
          SUM(CAST(sr AS HUGEINT) * sr) AS ss_sr,
          SUM(CAST(tr AS HUGEINT)) AS s_tr,
          SUM(CAST(tr AS HUGEINT) * tr) AS ss_tr
        FROM comp
      )
      SELECT n AS n_interior,
        CAST(greatest(0, 1000000 - CAST(
          (1000000 * (n * ss_r - s_r * s_r))
          // (n * ss_sr - s_sr * s_sr) AS BIGINT)) AS BIGINT)
          AS seasonal_strength_ppm,
        CAST(greatest(0, 1000000 - CAST(
          (1000000 * (n * ss_r - s_r * s_r))
          // (n * ss_tr - s_tr * s_tr) AS BIGINT)) AS BIGINT)
          AS trend_strength_ppm
      FROM agg""",

    "q123_binseg_changepoint" -> """
      WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
      ), tot AS (
        SELECT CAST(SUM(x) AS BIGINT) AS s0, CAST(COUNT(*) AS BIGINT)
          AS n0, MIN(day) AS lo0, MAX(day) AS hi0
        FROM daily
      ), scored0 AS (
        SELECT day,
          CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
          CAST(SUM(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
            PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM daily
      ), d0 AS (
        SELECT day, abs(n0 * cum - k * s0) AS d, n0, s0, lo0, hi0
        FROM scored0, tot WHERE k < n0
      ), best0 AS (
        SELECT * FROM d0 ORDER BY d DESC, day LIMIT 1
      ), tagged AS (
        SELECT daily.day, daily.x,
          CASE WHEN daily.day <= best0.day THEN 'L' ELSE 'R' END AS seg
        FROM daily, best0
      ), segtot AS (
        SELECT seg, CAST(SUM(x) AS BIGINT) AS ss,
          CAST(COUNT(*) AS BIGINT) AS ns, MIN(day) AS lo, MAX(day) AS hi
        FROM tagged GROUP BY seg
      ), scored1 AS (
        SELECT seg, day,
          CAST(row_number() OVER (PARTITION BY seg ORDER BY day)
            AS BIGINT) AS k,
          CAST(SUM(x) OVER (PARTITION BY seg ORDER BY day ROWS BETWEEN
            UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM tagged
      ), d1 AS (
        SELECT s.seg, s.day, abs(t.ns * s.cum - s.k * t.ss) AS d,
          t.ns, t.lo, t.hi
        FROM scored1 s JOIN segtot t USING (seg) WHERE s.k < t.ns
      ), best1 AS (
        SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY seg
          ORDER BY d DESC, day) AS rk FROM d1) WHERE rk = 1
      )
      SELECT * FROM (
        SELECT CAST(0 AS INT) AS level, CAST(lo0 AS TIMESTAMP) AS seg_lo,
          CAST(hi0 AS TIMESTAMP) AS seg_hi,
          CAST(day AS TIMESTAMP) AS split_day, CAST(d AS BIGINT) AS d_stat,
          n0 AS n_days
        FROM best0
        UNION ALL
        SELECT CAST(1 AS INT), CAST(lo AS TIMESTAMP),
          CAST(hi AS TIMESTAMP), CAST(day AS TIMESTAMP),
          CAST(d AS BIGINT), ns
        FROM best1)
      ORDER BY level, seg_lo""",

    "q124_theil_sen" -> """
      WITH monthly AS (
        SELECT r_name AS region,
          CAST(date_part('year', o_orderdate) * 12
            + date_part('month', o_orderdate) AS INT) AS mi,
          CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2
      ), nm AS (
        SELECT region, CAST(COUNT(*) AS INT) AS n_months
        FROM monthly GROUP BY 1
      ), slopes AS (
        SELECT a.region,
          (b.rev - a.rev) * 1000000 // CAST(b.mi - a.mi AS BIGINT)
            AS slope_ppm
        FROM monthly a JOIN monthly b
          ON a.region = b.region AND a.mi < b.mi
      ), ranked AS (
        SELECT region, slope_ppm,
          row_number() OVER (PARTITION BY region ORDER BY slope_ppm)
            AS rn,
          CAST(COUNT(*) OVER (PARTITION BY region) AS BIGINT) AS np
        FROM slopes
      )
      SELECT r.region, n.n_months, r.np AS n_pairs,
        CAST(r.slope_ppm AS BIGINT) AS sen_slope_ppm_cents_per_month
      FROM ranked r JOIN nm n USING (region)
      WHERE rn = (np + 1) // 2
      ORDER BY region""",

    "q125_kendall_tau" -> """
      WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS x,
          CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS y
        FROM orders GROUP BY 1
      ), st AS (
        SELECT CAST(SUM(SIGN(b.x - a.x) * SIGN(b.y - a.y)) AS BIGINT)
          AS s_stat
        FROM daily a JOIN daily b ON a.day < b.day
      ), tx AS (
        SELECT CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS n1 FROM (
          SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY x)
      ), ty AS (
        SELECT CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS n2 FROM (
          SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY y)
      ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT) AS n0
        FROM daily
      )
      SELECT n AS n_days, s_stat, n1 AS n1_ties, n2 AS n2_ties,
        CASE WHEN n0 = n1 OR n0 = n2 THEN CAST(NULL AS DOUBLE)
        ELSE floor(CAST(s_stat AS DOUBLE)
          / sqrt(CAST((n0 - n1) * (n0 - n2) AS DOUBLE))
          * 1048576.0) / 1048576.0 END AS tau_b_grid
      FROM st, tx, ty, nn""",

    "q133_lorenz_deciles" -> """
      WITH cust AS (
        SELECT o_custkey,
          CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS x
        FROM orders GROUP BY 1
      ), bv AS (
        SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM cust GROUP BY x
      ), cum AS (
        SELECT x, cnt, CAST(SUM(cnt) OVER (ORDER BY x
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum
        FROM bv
      ), tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n,
          SUM(CAST(x AS HUGEINT) * cnt) AS sx
        FROM bv
      ), d AS (SELECT CAST(UNNEST(range(1, 11)) AS INT) AS d)
      SELECT d AS decile, (d * n) // 10 AS n_customers,
        CAST((1000000 * SUM(CAST(x AS HUGEINT) *
          greatest(0, least(cum, (d * n) // 10) - (cum - cnt))))
          // sx AS BIGINT) AS cum_revenue_ppm
      FROM cum, tot, d
      GROUP BY d, n, sx ORDER BY decile""",

    "q134_capture_recapture" -> """
      WITH o AS (
        SELECT o_custkey, epoch_us(o_orderdate) AS us FROM orders
      ), mid AS (
        SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM o
      ), act AS (
        SELECT o_custkey,
          CAST(MAX(CASE WHEN us < mid THEN 1 ELSE 0 END) AS BIGINT) AS h1,
          CAST(MAX(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS BIGINT) AS h2
        FROM o, mid GROUP BY 1
      ), agg AS (
        SELECT CAST(SUM(h1) AS BIGINT) AS n1,
          CAST(SUM(h2) AS BIGINT) AS n2,
          CAST(SUM(h1 * h2) AS BIGINT) AS m,
          CAST(COUNT(*) AS BIGINT) AS n_observed
        FROM act
      )
      SELECT n1, n2, m, n_observed,
        CAST((CAST(n1 + 1 AS HUGEINT) * (n2 + 1) * 1000000) // (m + 1)
          - 1000000 AS BIGINT) AS n_hat_ppm
      FROM agg""",

    "q132_mcnemar" -> """
      WITH o AS (
        SELECT o_custkey, epoch_us(o_orderdate) AS us FROM orders
      ), mid AS (
        SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM o
      ), act AS (
        SELECT o_custkey,
          CAST(MAX(CASE WHEN us < mid THEN 1 ELSE 0 END) AS BIGINT) AS h1,
          CAST(MAX(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS BIGINT) AS h2
        FROM o, mid GROUP BY 1
      ), paired AS (
        SELECT COALESCE(a.h1, 0) AS h1, COALESCE(a.h2, 0) AS h2
        FROM customer c LEFT JOIN act a ON c.c_custkey = a.o_custkey
      ), agg AS (
        SELECT CAST(SUM(h1 * h2) AS BIGINT) AS n_both,
          CAST(SUM(h1 * (1 - h2)) AS BIGINT) AS n_lost,
          CAST(SUM((1 - h1) * h2) AS BIGINT) AS n_gained,
          CAST(SUM((1 - h1) * (1 - h2)) AS BIGINT) AS n_neither
        FROM paired
      )
      SELECT n_both, n_lost, n_gained, n_neither,
        CASE WHEN n_lost + n_gained = 0 THEN CAST(NULL AS BIGINT)
        ELSE CAST(1000000 * (n_lost - n_gained) * (n_lost - n_gained)
          // (n_lost + n_gained) AS BIGINT) END AS chi2_ppm
      FROM agg""",

    "q130_median_polish" -> """
      WITH cells AS (
        SELECT r_name AS region,
          CAST(date_part('month', o_orderdate) AS INT) AS moy,
          CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2
      ), c0 AS (
        SELECT region, moy, rev, rev AS v FROM cells
      ), m1 AS (
        SELECT region, v AS e1 FROM (
          SELECT region, v, row_number() OVER (PARTITION BY region
            ORDER BY v, region, moy) AS rn,
            COUNT(*) OVER (PARTITION BY region) AS nm
          FROM c0)
        WHERE rn = (nm + 1) // 2
      ), c1 AS (
        SELECT region, moy, rev, v - e1 AS v, e1
        FROM c0 JOIN m1 USING (region)
      ), m2 AS (
        SELECT moy, v AS f1 FROM (
          SELECT moy, v, row_number() OVER (PARTITION BY moy
            ORDER BY v, region, moy) AS rn,
            COUNT(*) OVER (PARTITION BY moy) AS nm
          FROM c1)
        WHERE rn = (nm + 1) // 2
      ), c2 AS (
        SELECT region, moy, rev, v - f1 AS v, e1, f1
        FROM c1 JOIN m2 USING (moy)
      ), m3 AS (
        SELECT region, v AS e2 FROM (
          SELECT region, v, row_number() OVER (PARTITION BY region
            ORDER BY v, region, moy) AS rn,
            COUNT(*) OVER (PARTITION BY region) AS nm
          FROM c2)
        WHERE rn = (nm + 1) // 2
      ), c3 AS (
        SELECT region, moy, rev, v - e2 AS v, e1, f1, e2
        FROM c2 JOIN m3 USING (region)
      ), m4 AS (
        SELECT moy, v AS f2 FROM (
          SELECT moy, v, row_number() OVER (PARTITION BY moy
            ORDER BY v, region, moy) AS rn,
            COUNT(*) OVER (PARTITION BY moy) AS nm
          FROM c3)
        WHERE rn = (nm + 1) // 2
      ), c4 AS (
        SELECT region, moy, rev, v - f2 AS v, e1, f1, e2, f2
        FROM c3 JOIN m4 USING (moy)
      )
      SELECT region, moy, rev, CAST(e1 + e2 AS BIGINT) AS row_eff,
        CAST(f1 + f2 AS BIGINT) AS col_eff, CAST(v AS BIGINT) AS residual
      FROM c4 ORDER BY region, moy""",

    "q128_runs_test" -> """
      WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
      ), byv AS (
        SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM daily GROUP BY 1
      ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
      med AS (
        SELECT MIN(x) AS med FROM (
          SELECT x, CAST(SUM(c) OVER (ORDER BY x
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum
          FROM byv), nn
        WHERE cum >= (n + 1) // 2
      ), signed AS (
        SELECT day, CASE WHEN x > med THEN 1 ELSE -1 END AS s
        FROM daily, med WHERE x <> med
      ), lagged AS (
        SELECT s, LAG(s) OVER (ORDER BY day) AS prev FROM signed
      ), agg AS (
        SELECT
          CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_above,
          CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_below,
          CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> s THEN 1
            ELSE 0 END) + 1 AS BIGINT) AS n_runs
        FROM lagged
      )
      SELECT n_above, n_below, n_runs,
        CASE WHEN n_above = 0 OR n_below = 0 THEN CAST(NULL AS DOUBLE)
        ELSE floor((CAST(n_runs AS DOUBLE)
          - (2.0 * n_above * n_below / (n_above + n_below) + 1.0))
          / sqrt(2.0 * n_above * n_below
            * (2.0 * n_above * n_below - n_above - n_below)
            / (CAST(n_above + n_below AS DOUBLE)
              * (n_above + n_below)
              * (n_above + n_below - 1)))
          * 1048576.0) / 1048576.0 END AS z_grid
      FROM agg""",

    "q129_turning_points" -> """
      WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
      ), lagged AS (
        SELECT x, LAG(x) OVER (ORDER BY day) AS p,
          LEAD(x) OVER (ORDER BY day) AS f
        FROM daily
      ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_interior,
          CAST(SUM(CASE WHEN (x > p AND x > f) OR (x < p AND x < f)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_turning
        FROM lagged WHERE p IS NOT NULL AND f IS NOT NULL
      )
      SELECT n_interior, n_turning,
        floor((CAST(n_turning AS DOUBLE) - 2.0 * n_interior / 3.0)
          / sqrt((16.0 * (n_interior + 2) - 29.0) / 90.0)
          * 1048576.0) / 1048576.0 AS z_grid
      FROM agg""",

    "q127_hodges_lehmann" -> """
      WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
          CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
      ), byv AS (
        SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM daily GROUP BY 1
      ), pairs AS (
        SELECT a.x + b.x AS w2,
          CAST(SUM(CASE WHEN a.x = b.x THEN a.c * (a.c + 1) // 2
            ELSE a.c * b.c END) AS BIGINT) AS cnt
        FROM byv a JOIN byv b ON a.x <= b.x
        GROUP BY 1
      ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(COUNT(*) * (COUNT(*) + 1) // 2 AS BIGINT) AS npairs
        FROM daily
      ), cum AS (
        SELECT w2, CAST(SUM(cnt) OVER (ORDER BY w2
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum
        FROM pairs
      )
      SELECT n AS n_days, npairs AS n_walsh_pairs,
        CAST(MIN(w2) AS BIGINT) AS hl_center_x2
      FROM cum, nn
      WHERE cum >= (npairs + 1) // 2
      GROUP BY n, npairs""",

    "q126_cvm_drift" -> """
      WITH o AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
          epoch_us(o_orderdate) AS us
        FROM orders
      ), mid AS (
        SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM o
      ), tagged AS (
        SELECT v, us < mid AS is_a FROM o, mid
      ), byv AS (
        SELECT v,
          CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
          CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        FROM tagged GROUP BY v
      ), cum AS (
        SELECT v, ca, cb,
          CAST(SUM(ca) OVER w AS BIGINT) AS cuma,
          CAST(SUM(cb) OVER w AS BIGINT) AS cumb
        FROM byv
        WINDOW w AS (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ), tot AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS n, CAST(SUM(cb) AS BIGINT) AS m
        FROM byv
      )
      SELECT n AS n_expected, m AS n_actual,
        CAST((1000000 * SUM((ca + cb)
            * (CAST(m AS HUGEINT) * cuma - CAST(n AS HUGEINT) * cumb)
            * (CAST(m AS HUGEINT) * cuma - CAST(n AS HUGEINT) * cumb)))
          // (CAST(n AS HUGEINT) * m * (n + m) * (n + m)) AS BIGINT)
          AS cvm_ppm
      FROM cum, tot GROUP BY n, m""")
}
