package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: synthetic N× soak for the heavy-tail queries (verdict #5).
  *
  * `runMain graft.tools.Soak [baseSfDir] [factor] [queries...]`
  *
  * No sf1 exists in /root/testdata, so the next magnitude step is
  * synthesized deterministically from sf0.1: `factor` stacked copies of
  * `documents` (doc_id offset by a copy stride; a per-copy suffix token is
  * appended to `text` so copies are NEAR-duplicates — n-gram sets overlap
  * heavily but exact dedup can't collapse them, which stresses the banded
  * joins and connected components with factor-sized duplicate clusters)
  * and of `embeddings` (vec_id offset; one coordinate deterministically
  * nudged per copy so vectors are near- but not exact-duplicates).
  *
  * Per query it reports: wall seconds at 1× vs N× (runtime curvature — a
  * super-linear blowup here is the 100 TB red flag the small gates can't
  * see) and a bit-exact determinism verdict (the N× result checksummed
  * twice; hash(*) is a bit-hash, so any run-to-run float or ordering drift
  * flips it).
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    // "ALL" = the full-catalog scale rung: every gate timed 1× and N×,
    // curvature only (the double-checksum determinism pass is skipped —
    // it quadruples the N× executions and is covered by the targeted
    // soak); anything else = the targeted deep soak with determinism.
    val full = args.length > 2 && args(2) == "ALL"
    val names =
      if (full) graft.SparkEntry.queries.keys.toSeq.sorted
      else if (args.length > 2) args.drop(2).toSeq
      else Seq("dd2_minhash_neardups", "dd5_dup_clusters", "dd6_passage_dups",
        "sm5_topk_kmeans", "cur4_pipeline", "pk1_doc_packing",
        "q18_percentiles", "cur2_dedup_corpus")

    val spark = graft.GraftSession.local()

    val out = System.getProperty("java.io.tmpdir") +
      s"/graft_soak_${factor}x_v3" // v3: orders + lineitem scaled too
    val marker = java.nio.file.Paths.get(out, "_READY")
    if (!java.nio.file.Files.exists(marker)) {
      val docs = graft.ops.Tables(spark, base, "documents")
      val docStride = docs.agg(max("doc_id")).head.getLong(0) + 1
      val docsN = (0 until factor).map { i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i * docStride))
          .withColumn("text",
            if (i == 0) col("text")
            else concat(col("text"), lit(s" soakcopy$i")))
      }.reduce(_ unionByName _)
      docsN.write.mode("overwrite").parquet(s"$out/documents.parquet")

      val emb = graft.ops.Tables(spark, base, "embeddings")
      val vecStride = emb.agg(max("vec_id")).head.getLong(0) + 1
      val embN = (0 until factor).map { i =>
        emb.withColumn("vec_id", col("vec_id") + lit(i * vecStride))
          .withColumn("embedding",
            if (i == 0) col("embedding")
            else transform(col("embedding"),
              (v, j) => when(j === i % 64, v + lit(0.01f * i)).otherwise(v)))
      }.reduce(_ unionByName _)
      embN.write.mode("overwrite").parquet(s"$out/embeddings.parquet")

      // events: factor stacked copies shifted +35 days per copy — history
      // GROWS while any fixed time window stays constant-sized, which is
      // exactly the regime zone-map pruning must keep flat
      val ev = graft.ops.Tables(spark, base, "events")
      val evStride = ev.agg(max("event_id")).head.getLong(0) + 1
      val evN = (0 until factor).map { i =>
        ev.withColumn("event_id", col("event_id") + lit(i * evStride))
          .withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 35} DAYS"))
      }.reduce(_ unionByName _)
      evN.write.mode("overwrite").parquet(s"$out/events.parquet")

      // orders + lineitem: factor stacked copies with matching orderkey
      // offsets (joins stay consistent), prices nudged +i cents per copy
      // so value domains GROW with the data — the regime the PrefixSum
      // range-bucketed windows must keep partition-parallel. Dimension
      // keys (cust/part/supp) stay 1×, so per-key fan-in grows ×factor —
      // deliberately stressing degree-bounded joins and rank domains.
      val ord = graft.ops.Tables(spark, base, "orders")
      val ordStride = ord.agg(max("o_orderkey")).head.getLong(0) + 1
      val ordN = (0 until factor).map { i =>
        ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * ordStride))
          .withColumn("o_totalprice", col("o_totalprice") + lit(i * 0.01))
      }.reduce(_ unionByName _)
      ordN.write.mode("overwrite").parquet(s"$out/orders.parquet")
      val li = graft.ops.Tables(spark, base, "lineitem")
      val liN = (0 until factor).map { i =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(i * ordStride))
      }.reduce(_ unionByName _)
      liN.write.mode("overwrite").parquet(s"$out/lineitem.parquet")

      // remaining relational tables pass through 1×
      Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
        spark.read.format("parquet")
          .option("recursiveFileLookup", "true")
          .load(s"$base/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
      java.nio.file.Files.createFile(marker)
    }

    def time(dir: String, name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def checksum(dir: String, name: String): (Long, Long) = {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val r = df.select(
        coalesce(sum(hash(df.columns.map(col): _*).cast("long")), lit(0L))
          .as("h"), count(lit(1)).as("n")).head
      (r.getLong(0), r.getLong(1))
    }

    names.foreach { n =>
      try {
        if (full) {
          val t1 = time(base, n)
          val tN1 = time(out, n)
          val tN2 = time(out, n)
          val curve = (tN1 min tN2) / t1
          println(f"[soak] $n%-26s 1x=${t1}%6.2fs " +
            f"${factor}x=${tN1 min tN2}%7.2fs curve=${curve}%5.2f")
        } else {
          val t1 = time(base, n)
          val tN1 = time(out, n)
          val tN2 = time(out, n)
          val c1 = checksum(out, n)
          val c2 = checksum(out, n)
          val det = if (c1 == c2) "DETERMINISTIC" else s"NONDET $c1 vs $c2"
          val curve = (tN1 min tN2) / t1
          println(f"[soak] $n%-22s 1x=${t1}%6.2fs ${factor}x=${tN1 min tN2}%7.2fs" +
            f" curve=${curve}%5.2f rows=${c1._2}%9d $det")
        }
      } catch { case e: Throwable =>
        println(s"[soak] $n ERROR ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(200))
      }
    }
    spark.stop()
  }
}
