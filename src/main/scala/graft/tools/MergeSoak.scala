package graft.tools

import org.apache.spark.sql.functions._

import graft.streaming.MergeInto

/** Dev tool: MERGE scale proof — a small batch merged into a growing
  * table must cost O(touched buckets + batch), NOT O(store). Loads a
  * store of N rows (64 buckets), then times a 5-key merge at each N; the
  * wall should stay flat as N grows 10×, because only the ~5 buckets the
  * keys hash into are read and rewritten. `runMain graft.tools.MergeSoak`
  */
object MergeSoak {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()

    for (n <- Seq(100000L, 1000000L, 3000000L)) {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_merge_soak_$n").toString
      val t0 = System.nanoTime()
      MergeInto.mergeBatch(spark,
        spark.range(n).select(col("id").as("k"),
          concat(lit("v"), col("id")).as("s"), (col("id") * 2).as("v")),
        root, "k")
      val load = (System.nanoTime() - t0) / 1e9
      // steady-state small merge: 5 keys → ≤5 touched buckets
      val batch = spark.range(5).select((col("id") * 7919).as("k"),
        lit("UPD").as("s"), lit(-1L).as("v"))
      val t1 = System.nanoTime()
      MergeInto.mergeBatch(spark, batch, root, "k")
      val merge = (System.nanoTime() - t1) / 1e9
      val rows = MergeInto.readTable(spark, root).count()
      println(f"[mergesoak] n=$n%8d load=$load%6.2fs smallMerge=$merge%6.2fs rows=$rows")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
    spark.stop()
  }
}
