package graft.tools

/** Dev tool: Delta-export soak (verdict #4's done-criterion).
  *
  * `runMain graft.tools.DeltaSoak [cycles] [checkpointInterval]`
  *
  * Builds a merge table and runs `cycles` (default 60) rounds of
  * (small MERGE → [[graft.streaming.DeltaExport.export]]), timing each
  * export. Without checkpoint compaction every export replays the whole
  * log — O(total versions), a straight line UP; with the classic
  * checkpoint every N versions, replay is bounded by the checkpoint load
  * + at most N JSON diffs, so per-export time must go FLAT. The tool
  * prints the per-decade averages and a FLAT/GROWING verdict, then
  * re-reads the final table through both the delta log and the native
  * manifest read and fails loudly on any mismatch (including a read at
  * the mid-run checkpoint version).
  */
object DeltaSoak {
  def main(args: Array[String]): Unit = {
    val cycles = if (args.nonEmpty) args(0).toInt else 60
    val interval = if (args.length > 1) args(1).toInt else 10
    val spark = graft.GraftSession.local()
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("delta-soak")
      .toString + "/t"
    graft.streaming.MergeInto.mergeBatch(spark,
      (0L until 200L).map(i => (i, s"v0-$i", i * 1.0)).toDF("k", "s", "x"),
      root, "k", numBuckets = 8)
    graft.streaming.DeltaExport.export(spark, root, interval)

    // every export also publishes its CHANGE DATA FEED (cdc actions) so
    // the soak exercises the checkpoint × CDF interplay end to end
    val times = (1 to cycles).map { i =>
      graft.streaming.MergeInto.mergeBatch(spark,
        Seq((i % 200L, s"v$i", i * 1.0)).toDF("k", "s", "x"),
        root, "k", numBuckets = 8)
      val t0 = System.nanoTime()
      val (v, _) = graft.streaming.DeltaExport.export(spark, root, interval,
        changeDataKey = Some("k"))
      val sec = (System.nanoTime() - t0) / 1e9
      require(v == i, s"expected delta version $i, got $v")
      sec
    }
    def avg(r: Range) = r.map(times(_)).sum / r.size
    val decades = (0 until cycles / 10).map(d =>
      d -> avg(d * 10 until math.min((d + 1) * 10, cycles)))
    decades.foreach { case (d, a) =>
      println(f"[deltasoak] exports ${d * 10}%2d..${d * 10 + 9}: " +
        f"avg ${a}%.3f s")
    }
    val early = decades(1)._2 // decade 10..19 (first post-checkpoint)
    val late = decades.last._2
    val curve = late / early
    println(f"[deltasoak] late/early export-time curve: $curve%.2f " +
      f"(${if (curve < 2.0) "FLAT — replay is O(interval)" else
        "GROWING — replay is O(versions), checkpointing broken"})")
    require(curve < 2.0, f"replay cost grew $curve%.2fx from decade 1 " +
      "to the last decade — checkpoint compaction is not bounding it")

    // correctness: delta view == native view at HEAD, and at the last
    // checkpoint version both views of history agree
    val viaDelta = graft.streaming.DeltaExport.read(spark, root)
      .select("k", "s", "x").as[(Long, String, Double)].collect().sorted
    val viaManifest = graft.streaming.MergeInto.readTable(spark, root)
      .select("k", "s", "x").as[(Long, String, Double)].collect().sorted
    require(viaDelta.toSeq == viaManifest.toSeq,
      "delta read diverged from the native manifest read at HEAD")
    val lastCp = (cycles / interval) * interval
    val atCp = graft.streaming.DeltaExport
      .readAt(spark, root, lastCp.toLong).count()
    require(atCp == 200L, s"read at checkpoint version $lastCp: $atCp rows")
    println(s"[deltasoak] HEAD equivalence + checkpoint-version read OK " +
      s"($cycles versions, interval $interval)")

    // CDF × checkpoint interplay: every merge from v1 on rewrites ONE
    // existing key, so each version's feed is exactly one pre/post pair.
    // A table_changes window STRADDLING each checkpoint boundary must
    // reconstruct 2 rows per version with dense _commit_versions — and
    // the window cost must stay flat as the log grows (each version's
    // cdc file is addressed directly; no replay).
    val cdfTimes = (interval to lastCp by interval).flatMap { cp =>
      if (cp - 3 >= 1 && cp + 3 <= cycles) {
        val t0 = System.nanoTime()
        val w = graft.streaming.DeltaExport
          .readChanges(spark, root, cp - 3L, cp + 3L)
        val got = w.select("_commit_version").as[Long].collect().sorted
        val sec = (System.nanoTime() - t0) / 1e9
        require(got.toSeq == (cp - 3L to cp + 3L).flatMap(v => Seq(v, v)),
          s"cdf window ${cp - 3}..${cp + 3}: got ${got.mkString(",")}")
        println(f"[deltasoak] cdf window straddling checkpoint $cp%3d: " +
          f"14 rows in $sec%.3f s")
        Some(sec)
      } else None
    }
    require(cdfTimes.last / cdfTimes.head < 3.0,
      f"fixed-width CDF window cost grew ${cdfTimes.last / cdfTimes.head}%.2fx" +
        " across the log — table_changes is replaying instead of addressing")

    // LOG-EXPIRATION horizon: after cleanLog, a window fully at-or-above
    // the horizon answers; one touching the expired prefix refuses BY
    // NAME (never a silently partial feed)
    val removed = graft.streaming.DeltaExport.cleanLog(spark, root)
    require(removed > 0, "cleanLog expired nothing — soak misconfigured")
    val above = graft.streaming.DeltaExport
      .readChanges(spark, root, lastCp.toLong, cycles.toLong).count()
    require(above == 2L * (cycles - lastCp + 1),
      s"post-clean window $lastCp..$cycles: $above rows")
    val refused =
      try { graft.streaming.DeltaExport
        .readChanges(spark, root, lastCp - 5L, lastCp.toLong).count(); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("not retained") }
    require(refused,
      "a CDF window into the expired prefix must refuse loudly")
    println(s"[deltasoak] CDF horizon OK: window at/above checkpoint " +
      s"$lastCp answers after cleanLog ($removed files expired); " +
      "windows below refuse by name")

    // COLMAP × CDF leg: a mid-life RENAME turns the log into a
    // name-mode column-mapped one from the next export on — cdc files
    // switch to PHYSICAL column names like every other file of a
    // mapped log, and table_changes must keep answering under the
    // post-rename logical schema, one dense pre/post pair per version.
    graft.streaming.MergeInto.renameColumn(spark, root, "s", "label")
    val extra = 6
    (cycles + 1 to cycles + extra).foreach { i =>
      graft.streaming.MergeInto.mergeBatch(spark,
        Seq((i % 200L, s"v$i", i * 1.0)).toDF("k", "label", "x"),
        root, "k", numBuckets = 8)
      val (v, _) = graft.streaming.DeltaExport.export(spark, root,
        interval, changeDataKey = Some("k"))
      require(v == i, s"expected delta version $i post-rename, got $v")
    }
    val mapped = graft.streaming.DeltaExport
      .readChanges(spark, root, cycles + 1L, (cycles + extra).toLong)
    require(mapped.columns.contains("label") &&
      !mapped.columns.contains("s"),
      s"mapped feed must speak logical names, got " +
        mapped.columns.mkString(","))
    val mappedVs = mapped.select("_commit_version").as[Long]
      .collect().sorted
    require(mappedVs.toSeq ==
      (cycles + 1L to cycles + extra.toLong).flatMap(v => Seq(v, v)),
      s"colmap CDF pairs: got ${mappedVs.mkString(",")}")
    // the mapped table still reads whole through BOTH paths
    val mHead = graft.streaming.DeltaExport.read(spark, root)
      .select("k", "label", "x").as[(Long, String, Double)]
      .collect().sorted
    val mNative = graft.streaming.MergeInto.readTable(spark, root)
      .select("k", "label", "x").as[(Long, String, Double)]
      .collect().sorted
    require(mHead.toSeq == mNative.toSeq,
      "post-rename delta read diverged from the native manifest read")
    println(s"[deltasoak] COLMAP x CDF OK: $extra mapped versions, " +
      "physical-named cdc files, logical feed, dense pairs")
    spark.stop()
  }
}
