package graft.tools

/** Dev tool: manifest-metadata soak (verdict #7 — the round-7 additions,
  * `__schema` slot + `__fs:` file-status slots, under 100+ versions).
  *
  * `runMain graft.tools.ManifestSoak [commits]`
  *
  * Runs `commits` (default 120) small MERGEs into one table and times,
  * every 10 commits, the three metadata-fed read surfaces:
  * snapshot resolution (`ManifestStore.latest` — the hint probe),
  * read PLANNING (`readTable` + one `count()` over the recorded file
  * statuses and schema), and a commit itself (stats inheritance sweeps
  * the whole entry map every commit). Each curve must stay FLAT as the
  * version count grows — per-version manifests mean `latest` never
  * replays history, and the `__fs:` inheritance is O(entries), not
  * O(versions). Ends with a vacuum + full re-read so 100+ retired
  * versions reclaim cleanly.
  */
object ManifestSoak {
  def main(args: Array[String]): Unit = {
    val commits = if (args.nonEmpty) args(0).toInt else 120
    val spark = graft.GraftSession.local()
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("manifest-soak")
      .toString + "/t"
    graft.streaming.MergeInto.mergeBatch(spark,
      (0L until 500L).map(i => (i, s"v0-$i", i * 1.0)).toDF("k", "s", "x"),
      root, "k", numBuckets = 16)

    case class Probe(version: Long, latestMs: Double, readMs: Double,
        commitMs: Double)
    val probes = scala.collection.mutable.ArrayBuffer.empty[Probe]
    (1 to commits).foreach { i =>
      val t0 = System.nanoTime()
      graft.streaming.MergeInto.mergeBatch(spark,
        Seq((i % 500L, s"v$i", i * 1.0)).toDF("k", "s", "x"),
        root, "k", numBuckets = 16)
      val commitMs = (System.nanoTime() - t0) / 1e6
      if (i % 10 == 0) {
        val t1 = System.nanoTime()
        val snap = graft.streaming.ManifestStore.latest(spark, root).get
        val latestMs = (System.nanoTime() - t1) / 1e6
        val t2 = System.nanoTime()
        val n = graft.streaming.MergeInto.readTable(spark, root).count()
        val readMs = (System.nanoTime() - t2) / 1e6
        require(n == 500L, s"row count drifted at v${snap.version}: $n")
        probes += Probe(snap.version, latestMs, readMs, commitMs)
      }
    }
    probes.foreach { p =>
      println(f"[manifestsoak] v${p.version}%3d latest=${p.latestMs}%7.1f ms" +
        f" read+count=${p.readMs}%7.1f ms merge+commit=${p.commitMs}%7.1f ms")
    }
    def curve(f: Probe => Double): Double = {
      val early = probes.slice(1, 4).map(f).sum / 3
      val late = probes.takeRight(3).map(f).sum / 3
      late / early
    }
    val (cl, cr, cc) = (curve(_.latestMs), curve(_.readMs), curve(_.commitMs))
    println(f"[manifestsoak] curves over ${commits} versions: " +
      f"latest $cl%.2f read $cr%.2f commit $cc%.2f (flat < 2.0)")
    require(cl < 2.0 && cr < 2.0 && cc < 2.0,
      f"a metadata surface grew super-flat: latest $cl%.2f read $cr%.2f " +
        f"commit $cc%.2f")

    // 100+ retired versions reclaim cleanly and the survivor still reads
    graft.streaming.ManifestStore.vacuum(spark, root)
    val after = graft.streaming.MergeInto.readTable(spark, root).count()
    require(after == 500L, s"post-vacuum count: $after")
    println(s"[manifestsoak] vacuum over $commits retired versions OK")
    spark.stop()
  }
}
