package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: hot-key blowup soak for the keyed CDC paths (round-3 verdict
  * #5). A synthetic change log with ONE pathological key carrying
  * `hotChanges` events (default 1M — a stuck upstream row / heartbeat id)
  * plus ~1M well-behaved keys, run through both SCD2 formulations:
  *
  *   - `Scd2.scd2`        — the default window path; the hot key's whole
  *     history serializes into one sorted task (indivisible by AQE);
  *   - `Scd2.scd2Skewed`  — the RangeLead two-phase fallback; the hot key
  *     spans many range partitions.
  *
  * Reports wall seconds for each and a checksum-equality verdict (the two
  * must be bit-identical). `runMain graft.tools.SkewSoak [hotChanges]`
  */
object SkewSoak {
  def main(args: Array[String]): Unit = {
    val hotChanges = if (args.nonEmpty) args(0).toInt else 1000000
    val spark = graft.GraftSession.local()
    import spark.implicits._

    val out = System.getProperty("java.io.tmpdir") +
      s"/graft_skew_${hotChanges}"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(out, "_READY"))) {
      // hot key id=0 with hotChanges LSNs; 1M cold keys with 1-2 changes
      val hot = spark.range(hotChanges).select(
        lit(0L).as("id"), (col("id") + 1).as("lsn"),
        timestamp_millis(lit(1704067200000L) + col("id") * 1000).as("source_timestamp"),
        concat(lit("h"), col("id")).as("payload"))
      val cold = spark.range(1500000).select(
        (col("id") % 1000000 + 1).as("id"),
        (col("id") / 1000000 + 1).as("lsn"),
        timestamp_millis(lit(1704067200000L) + col("id") * 777).as("source_timestamp"),
        concat(lit("c"), col("id")).as("payload"))
      hot.unionByName(cold).repartition(32)
        .write.mode("overwrite").parquet(s"$out/changes.parquet")
      java.nio.file.Files.createFile(java.nio.file.Paths.get(out, "_READY"))
    }
    val changes = spark.read.parquet(s"$out/changes.parquet")

    def run(label: String)(f: => org.apache.spark.sql.DataFrame): (Long, Long) = {
      val t0 = System.nanoTime()
      val df = f
      val r = df.select(
        coalesce(sum(hash(df.columns.map(col): _*).cast("long")), lit(0L)),
        count(lit(1))).head
      println(f"[skew] $label%-14s ${(System.nanoTime() - t0) / 1e9}%7.2f s " +
        f"rows=${r.getLong(1)}%9d hash=${r.getLong(0)}")
      (r.getLong(0), r.getLong(1))
    }
    val args4 = ("id", "lsn", "source_timestamp", Seq("payload"))
    // twice each: second run is steady-state (JIT/IO warm)
    run("window#1")(graft.cdc.Scd2.scd2(changes, args4._1, args4._2, args4._3, args4._4))
    val w = run("window#2")(graft.cdc.Scd2.scd2(changes, args4._1, args4._2, args4._3, args4._4))
    run("rangelead#1")(graft.cdc.Scd2.scd2Skewed(changes, args4._1, args4._2, args4._3, args4._4))
    val s = run("rangelead#2")(graft.cdc.Scd2.scd2Skewed(changes, args4._1, args4._2, args4._3, args4._4))
    println(s"[skew] verdict: ${if (w == s) "IDENTICAL" else s"MISMATCH $w vs $s"}")
    spark.stop()
  }
}
