package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.streaming.ManifestStore

/** Bytes of the data files the latest manifest of a table references. */
object ManifestLive {
  def bytes(spark: SparkSession, root: String): Double = {
    val snap = ManifestStore.latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed table under $root"))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    ManifestStore.resolvePaths(root, snap).map { p =>
      val path = new Path(p)
      if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
    }.sum.toDouble
  }
}
