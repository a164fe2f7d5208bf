package graft.tools

/** Dev tool: Iceberg-export long-horizon soak — the [[DeltaSoak]] twin
  * for the second table format.
  *
  * `runMain graft.tools.IcebergSoak [cycles] [expireEvery]`
  *
  * Builds a merge table and runs `cycles` (default 60) rounds of
  * (small MERGE → [[graft.streaming.IcebergExport.export]]), timing each
  * export, with `expireSnapshots(keepLast = 5)` every `expireEvery`
  * (default 20) cycles — the maintenance cadence a real table runs.
  * Export cost must stay FLAT: each export reads ONE previous manifest
  * (carried counts/stats/sequences), writes one manifest + one list +
  * one metadata json — O(live files), never O(snapshots). The tool
  * prints per-decade averages and a FLAT/GROWING verdict, checks the
  * metadata directory's file count stays bounded under expiration,
  * re-reads the final table through both the Iceberg metadata and the
  * native manifest read, time-travels to a retained snapshot, and
  * fails loudly on any mismatch. Every 7th cycle also routes a
  * merge-on-read DELETE through `deleteFiles = true` (position mode)
  * so the soak covers the delete-manifest path long-horizon.
  */
object IcebergSoak {
  def main(args: Array[String]): Unit = {
    val cycles = if (args.nonEmpty) args(0).toInt else 60
    val expireEvery = if (args.length > 1) args(1).toInt else 20
    val spark = graft.GraftSession.local()
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("iceberg-soak")
      .toString + "/t"
    graft.streaming.MergeInto.mergeBatch(spark,
      (0L until 200L).map(i => (i, s"v0-$i", i * 1.0)).toDF("k", "s", "x"),
      root, "k", numBuckets = 8)
    graft.streaming.IcebergExport.export(spark, root)

    val deleted = scala.collection.mutable.Set.empty[Long]
    val times = (1 to cycles).map { i =>
      val del = i % 7 == 0
      if (del) {
        // a fresh merge-on-read delete (key 100+i/7 — never remerged)
        val k = 100L + i / 7
        graft.streaming.MergeInto.deleteVector(spark, root, "k",
          Seq(k).toDF("k"))
        deleted += k
      } else {
        graft.streaming.MergeInto.mergeBatch(spark,
          Seq((i % 100L, s"v$i", i * 1.0)).toDF("k", "s", "x"),
          root, "k", numBuckets = 8)
      }
      val t0 = System.nanoTime()
      // first half soaks the v2 position-delete publish; past half the
      // table upgrades to v3 and every later delete publishes as a
      // PUFFIN DELETION VECTOR (auto once v3) — both shapes long-
      // horizon, decade averages comparable across the switch
      val (sid, _) = graft.streaming.IcebergExport.export(spark, root,
        deleteFiles = true, deletionVectors = i > cycles / 2)
      val sec = (System.nanoTime() - t0) / 1e9
      require(sid == i + 1, s"expected iceberg snapshot ${i + 1}, got $sid")
      if (i % expireEvery == 0) {
        val removed = graft.streaming.IcebergExport
          .expireSnapshots(spark, root, keepLast = 5)
        println(f"[icebergsoak] cycle $i%2d: expired, removed $removed " +
          "metadata files")
      }
      sec
    }
    def avg(r: Range) = r.map(times(_)).sum / r.size
    val decades = (0 until cycles / 10).map(d =>
      d -> avg(d * 10 until math.min((d + 1) * 10, cycles)))
    decades.foreach { case (d, a) =>
      println(f"[icebergsoak] exports ${d * 10}%2d..${d * 10 + 9}: " +
        f"avg ${a}%.3f s")
    }
    val early = decades(1)._2
    val late = decades.last._2
    val curve = late / early
    println(f"[icebergsoak] curve late/early = $curve%.2f " +
      (if (curve < 2.0) "FLAT" else "GROWING — replay cost leak"))
    require(curve < 2.0,
      f"per-export cost grew $curve%.2fx across the soak")

    // metadata volume bounded under the expire cadence: snapshots
    // retained <= 5 + expireEvery, and the avro/delete file count
    // tracks the retained snapshots, not the full history
    val snaps = graft.streaming.IcebergExport.snapshots(spark, root)
    require(snaps.size <= 5 + expireEvery,
      s"retained ${snaps.size} snapshots — expiration not bounding")
    val metaFiles = new java.io.File(root, "metadata").listFiles()
      .map(_.getName)
    val avros = metaFiles.count(_.endsWith(".avro"))
    require(avros <= 3 * (5 + expireEvery),
      s"$avros avro files in metadata/ — expiration leaking manifests")
    val jsons = metaFiles.count(_.endsWith(".metadata.json"))
    require(jsons <= 12,
      s"$jsons metadata jsons retained — trim-after-commit leaking")
    println(s"[icebergsoak] retained snapshots=${snaps.size}, " +
      s"avro files=$avros, metadata jsons=$jsons")

    // final correctness: iceberg head == native manifest read, and a
    // retained old snapshot still answers
    val ice = graft.streaming.IcebergExport.read(spark, root)
      .select("k", "s").as[(Long, String)].collect().sorted.toSeq
    val native = graft.streaming.MergeInto.readTable(spark, root)
      .select("k", "s").as[(Long, String)].collect().sorted.toSeq
    require(ice == native,
      s"iceberg head diverged from the native read: ${ice.size} vs " +
        s"${native.size} rows")
    require(deleted.forall(k => !ice.exists(_._1 == k)),
      "a merge-on-read deleted key survived in the iceberg read")
    val old = snaps.head
    val oldRows = graft.streaming.IcebergExport
      .readAt(spark, root, old.snapshotId).count()
    require(oldRows > 0, s"retained snapshot ${old.snapshotId} is empty")
    println(s"[icebergsoak] head rows=${ice.size} (== native), " +
      s"snapshot ${old.snapshotId} rows=$oldRows — OK")

    // GROWTH phase: incremental manifest reuse must keep export
    // metadata cost O(new files) while the LIVE FILE COUNT grows ~60x.
    // A 256-bucket table gains two fresh buckets per cycle (pure
    // appends — nothing removed), so a full-rewrite exporter would
    // write linearly more manifest bytes per export; the carry path
    // writes one small manifest (2 entries + survivors of the
    // occasional compaction) regardless of table size.
    val root2 = java.nio.file.Files.createTempDirectory("iceberg-soak")
      .toString + "/t2"
    val keyByBucket: Map[Int, Long] = spark.range(200000)
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.hash(
            org.apache.spark.sql.functions.col("id")),
          org.apache.spark.sql.functions.lit(256)).as("b"))
      .groupBy("b")
      .agg(org.apache.spark.sql.functions.min("id").as("k"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    def metaBytes(): Map[String, Long] =
      Option(new java.io.File(root2, "metadata").listFiles())
        .toSeq.flatten.map(f => f.getName -> f.length()).toMap
    graft.streaming.MergeInto.mergeBatch(spark,
      Seq((keyByBucket(0), "g0"), (keyByBucket(1), "g1")).toDF("k", "s"),
      root2, "k", numBuckets = 256)
    graft.streaming.IcebergExport.export(spark, root2)
    val growCycles = math.min(cycles, 60)
    val written = (1 to growCycles).map { i =>
      val b0 = 2 * i; val b1 = 2 * i + 1
      graft.streaming.MergeInto.mergeBatch(spark,
        Seq((keyByBucket(b0), s"g$b0"), (keyByBucket(b1), s"g$b1"))
          .toDF("k", "s"), root2, "k", numBuckets = 256)
      val before = metaBytes()
      graft.streaming.IcebergExport.export(spark, root2)
      val after = metaBytes()
      // the real maintenance cadence, same as phase 1: without it the
      // metadata.json's snapshot array grows one entry per commit and
      // would dominate the byte measurement (that growth is snapshot
      // RETENTION, not manifest-rewrite cost)
      if (i % expireEvery == 0)
        graft.streaming.IcebergExport.expireSnapshots(spark, root2,
          keepLast = 5)
      (after.keySet -- before.keySet).toSeq.map(after).sum
    }
    def wavg(r: Range) = r.map(written(_)).sum.toDouble / r.size
    val wEarly = wavg(0 until 10)
    val wLate = wavg(growCycles - 10 until growCycles)
    val liveFiles = graft.streaming.IcebergExport.read(spark, root2)
      .select(org.apache.spark.sql.functions
        .input_file_name()).distinct().count()
    println(f"[icebergsoak] growth: live files=$liveFiles, metadata " +
      f"bytes/export early=${wEarly}%.0f late=${wLate}%.0f " +
      f"ratio=${wLate / wEarly}%.2f")
    require(liveFiles >= 2L * growCycles,
      s"growth phase expected >=${2 * growCycles} live files, " +
        s"got $liveFiles")
    // full-rewrite would be ~60x here; the amortized carry path stays
    // within a small constant of the first decade (compaction every
    // ~8th export rewrites O(live) once — hence the 3x allowance, not
    // a linear one)
    require(wLate / wEarly < 3.0,
      f"metadata bytes per export grew ${wLate / wEarly}%.2fx while " +
        "live files grew — manifest carry is not incremental")
    val g = graft.streaming.IcebergExport.read(spark, root2)
      .select("k", "s").as[(Long, String)].collect().toSet
    val wantG = (0 until 2 * (growCycles + 1))
      .map(b => keyByBucket(b) -> s"g$b").toSet
    require(g == wantG, s"growth table diverged: ${g.size} rows vs " +
      s"${wantG.size} expected")
    println(s"[icebergsoak] growth table rows=${g.size} — OK")
    spark.stop()
  }
}
