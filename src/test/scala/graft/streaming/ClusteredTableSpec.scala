package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Zone-map clustering invariants: pruning is a pure physical optimization
  * (rangeScan ≡ full-scan filter on every probe), the pruning decision is
  * manifest-only and actually skips segments, and the encoded zone values
  * survive hostile data (tabs/newlines in string bounds, all-null segments).
  */
class ClusteredTableSpec extends SparkSpec {

  import spark.implicits._

  private def freshRoot() =
    Files.createTempDirectory("graft-clustered").toString + "/t"

  test("rangeScan equals full-scan filter and prunes segments (long key)") {
    val root = freshRoot()
    val df = spark.range(0, 10000).toDF("k")
      .withColumn("payload", col("k") * 7)
    ClusteredTable.write(spark, df, root, "k", numSegments = 16)

    // narrow range: a 16-segment layout over 0..9999 gives ~625-wide
    // slices; [3000, 3400] can overlap at most 2-3 of them
    val segs = ClusteredTable.resolveSegments(spark, root, Some(3000L), Some(3400L))
    assert(segs.nonEmpty && segs.size <= 3,
      s"expected <=3 overlapping segments, got $segs")

    val pruned = ClusteredTable.rangeScan(spark, root, Some(3000L), Some(3400L))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = (3000L to 3400L).map(k => (k, k * 7))
    assert(pruned.toSeq == expected)
  }

  test("zScan: 2-D Morton layout prunes on both axes and equals the " +
      "full-scan box filter") {
    val root = freshRoot()
    // a 100×100 grid: both axes uniform, so 1-D clustering on x would
    // leave y zone maps spanning the full range in every segment
    val df = spark.range(0, 10000).toDF("id")
      .withColumn("x", col("id") % 100)
      .withColumn("y", (col("id") / 100).cast("long"))
      .withColumn("payload", col("id") * 3)
    ClusteredTable.writeZOrdered(spark, df, root, "x", "y", numSegments = 16)

    // a tight 2-D box: Morton locality must keep it inside a minority of
    // segments — impossible for 1-D layouts on EITHER axis alone, which
    // is the whole point of Z-ordering
    val segs = ClusteredTable.resolveSegments2D(spark, root,
      Some(10L), Some(30L), Some(10L), Some(30L))
    assert(segs.nonEmpty && segs.size <= 8,
      s"2-D box should prune to a minority of 16 segments, got $segs")

    def box(loX: Option[Any], hiX: Option[Any],
            loY: Option[Any], hiY: Option[Any]): Seq[(Long, Long, Long)] =
      ClusteredTable.zScan(spark, root, loX, hiX, loY, hiY)
        .select("id", "x", "y").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    def oracle(loX: Long, hiX: Long, loY: Long, hiY: Long) =
      (0L until 10000L).map(i => (i, i % 100, i / 100))
        .filter(t => t._2 >= loX && t._2 <= hiX && t._3 >= loY && t._3 <= hiY)
        .sorted
    assert(box(Some(10L), Some(30L), Some(10L), Some(30L)) ==
      oracle(10, 30, 10, 30))
    // open bounds on one axis; miss box is empty
    assert(box(Some(95L), None, None, Some(2L)) == oracle(95, 99, 0, 2))
    assert(box(Some(200L), Some(300L), None, None).isEmpty)
    // unbounded scan returns the whole table
    assert(box(None, None, None, None).size == 10000)
  }

  test("open-ended bounds and miss ranges") {
    val root = freshRoot()
    ClusteredTable.write(spark,
      spark.range(0, 1000).toDF("k"), root, "k", numSegments = 8)

    // hi-only: everything <= 99
    assert(ClusteredTable.rangeScan(spark, root, None, Some(99L))
      .count() == 100)
    // lo-only: everything >= 900
    assert(ClusteredTable.rangeScan(spark, root, Some(900L), None)
      .count() == 100)
    // a range entirely above the table resolves ZERO segments and an
    // empty (but correctly-typed) frame
    assert(ClusteredTable.resolveSegments(spark, root,
      Some(5000L), Some(6000L)).isEmpty)
    val empty = ClusteredTable.rangeScan(spark, root, Some(5000L), Some(6000L))
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("k"))
  }

  test("string cluster column with hostile bytes; nulls never match") {
    val root = freshRoot()
    val rows = Seq("alpha", "bravo", "tab\there", "line\nbreak", null,
      "zulu", "mike").map(Tuple1(_))
    ClusteredTable.write(spark, rows.toDF("name"), root, "name",
      numSegments = 2)

    val got = ClusteredTable.rangeScan(spark, root, Some("a"), Some("n"))
      .as[String].collect().sorted
    assert(got.toSeq == Seq("alpha", "bravo", "line\nbreak", "mike"))
    // bounded scan excludes NULL (range predicates never match it)...
    assert(ClusteredTable.rangeScan(spark, root, Some(""), None).count() == 6)
    // ...but a fully UNBOUNDED scan has no predicate: ≡ readTable,
    // null rows included (even when they sit in an all-null segment)
    assert(ClusteredTable.rangeScan(spark, root, None, None).count() == 7)
    // the raw table retains the null row
    assert(ClusteredTable.readTable(spark, root).count() == 7)
  }

  test("all-null segment is skippable; timestamp_ntz bounds round-trip") {
    val root = freshRoot()
    val df = spark.range(0, 100).toDF("i")
      .withColumn("ts", when(col("i") < 50,
        timestamp_micros(col("i") * 1000000L).cast("timestamp_ntz")))
    // 4 range partitions: NULLs sort first, so segment 0 is all-null
    ClusteredTable.write(spark, df, root, "ts", numSegments = 4)

    val lo = java.time.LocalDateTime.ofEpochSecond(10, 0, java.time.ZoneOffset.UTC)
    val hi = java.time.LocalDateTime.ofEpochSecond(20, 0, java.time.ZoneOffset.UTC)
    val segs = ClusteredTable.resolveSegments(spark, root, Some(lo), Some(hi))
    val all = ClusteredTable.resolveSegments(spark, root, None, None)
    assert(segs.size < all.size, s"expected pruning, got $segs of $all")
    assert(ClusteredTable.rangeScan(spark, root, Some(lo), Some(hi))
      .count() == 11) // seconds 10..20 inclusive
  }

  test("append keeps answers exact while overlapping; optimize restores " +
       "tight pruning; old versions stay time-travelable") {
    val root = freshRoot()
    ClusteredTable.write(spark,
      spark.range(0, 4000).toDF("k"), root, "k", numSegments = 8)
    // two out-of-order batches, each spanning the full key range —
    // their segments overlap every existing one
    ClusteredTable.append(spark,
      spark.range(4000, 8000, 2).toDF("k"), root, segmentsPerBatch = 4)
    ClusteredTable.append(spark,
      spark.range(4001, 8000, 2).toDF("k"), root, segmentsPerBatch = 4)

    def probe() = ClusteredTable.rangeScan(spark, root, Some(3900L), Some(4100L))
      .as[Long].collect().sorted.toSeq
    assert(probe() == (3900L to 4100L))
    val before = ClusteredTable.resolveSegments(spark, root,
      Some(3900L), Some(4100L)).size

    val vPre = ManifestStore.latest(spark, root).get.version
    ClusteredTable.optimize(spark, root, numSegments = 16)
    assert(probe() == (3900L to 4100L)) // identical answers post-optimize
    val after = ClusteredTable.resolveSegments(spark, root,
      Some(3900L), Some(4100L)).size
    assert(after < before,
      s"optimize should tighten pruning: $before -> $after")
    assert(after <= 2, s"a 200-wide range over 16 tight segments: $after")
    // the pre-optimize snapshot still reads exactly as committed
    assert(ManifestStore.readAt(spark, root, vPre).count() == 8000)
    assert(ClusteredTable.readTable(spark, root).count() == 8000)
  }

  test("append widens the recorded schema: a batch's new column survives " +
       "the explicit-schema fast path; old segments NULL-extend") {
    val root = freshRoot()
    ClusteredTable.write(spark,
      spark.range(0, 100).toDF("k"), root, "k", numSegments = 2)
    ClusteredTable.append(spark,
      spark.range(100, 200).toDF("k").withColumn("tag", lit("new")),
      root, segmentsPerBatch = 2)
    val all = ClusteredTable.readTable(spark, root)
    assert(all.columns.sorted.toSeq == Seq("k", "tag"))
    // the PRUNED read (the fast path the stale slot used to starve)
    // also sees the widened schema, on both old and new segments
    val lo = ClusteredTable.rangeScan(spark, root, Some(0L), Some(10L))
    assert(lo.columns.contains("tag"))
    assert(lo.select("tag").as[Option[String]].collect()
      .forall(_.isEmpty), "pre-evolution rows must NULL-extend")
    val hi = ClusteredTable.rangeScan(spark, root, Some(150L), Some(160L))
    assert(hi.select("tag").as[String].collect().forall(_ == "new"))
    // a same-name type CHANGE is refused loudly, not recorded
    val e = intercept[IllegalArgumentException] {
      ClusteredTable.append(spark,
        spark.range(0, 5).toDF("k").withColumn("tag", lit(1)),
        root, segmentsPerBatch = 1)
    }
    assert(e.getMessage.contains("type evolution"))
  }

  test("fastCount answers COUNT(*) from the manifest alone") {
    val root = freshRoot()
    ClusteredTable.write(spark,
      spark.range(0, 1234).toDF("k"), root, "k", numSegments = 8)
    assert(ClusteredTable.fastCount(spark, root) == 1234)
    ClusteredTable.append(spark, spark.range(1234, 1500).toDF("k"), root, 2)
    assert(ClusteredTable.fastCount(spark, root) == 1500)
    ClusteredTable.optimize(spark, root, numSegments = 4)
    assert(ClusteredTable.fastCount(spark, root) == 1500)
    assert(ClusteredTable.readTable(spark, root).count() == 1500)
  }

  test("staged-but-uncommitted segments are invisible to readers") {
    val root = freshRoot()
    ClusteredTable.write(spark,
      spark.range(0, 100).toDF("k"), root, "k", numSegments = 4)
    // "crash": a writer stages a full extra version's worth of data but
    // dies before the manifest commit
    val orphanRel = ManifestStore.dataRel(
      ManifestStore.versionAfter(ManifestStore.latest(spark, root)))
    spark.range(1000, 1100).toDF("k")
      .withColumn("__seg", spark_partition_id())
      .write.partitionBy("__seg").parquet(s"$root/$orphanRel")
    assert(ClusteredTable.readTable(spark, root).count() == 100)
    assert(ClusteredTable.rangeScan(spark, root, Some(0L), None)
      .count() == 100)
    // the next successful writer skips past the orphan's version
    ClusteredTable.append(spark, spark.range(100, 120).toDF("k"), root, 2)
    assert(ClusteredTable.readTable(spark, root).count() == 120)
  }

  test("the zm1 gate's events table prunes to a minority of segments " +
       "and the residual filter reaches the parquet scan") {
    val root = ClusteredTable.materializedEventsDir(spark, sfDir)
    val lo = java.time.LocalDateTime.of(2024, 1, 10, 0, 0, 0)
    val hi = java.time.LocalDateTime.of(2024, 1, 12, 23, 59, 59)
    val segs = ClusteredTable.resolveSegments(spark, root, Some(lo), Some(hi))
    val all = ClusteredTable.resolveSegments(spark, root, None, None)
    assert(all.size >= 8, s"fixture should have many segments, got $all")
    // 3 days of a 30-day span across 16 segments: at most 4 survive
    assert(segs.nonEmpty && segs.size <= 4,
      s"3/30-day range should prune to <=4 of ${all.size} segments, got $segs")

    // two-tier skipping: the residual lands in PushedFilters for row-group
    // pruning inside the kept segments
    val plan = ClusteredTable.rangeScan(spark, root, Some(lo), Some(hi))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("\\s", "").contains("GreaterThanOrEqual(ts"),
      s"expected ts bounds pushed to the scan:\n$plan")
  }
}
