package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sim.Similarity

/** Dev tool: sweep ANN parameters on a SF dir, print recall@5 vs brute
  * force and wall seconds per setting — the measurement behind the
  * library's default probe budgets.
  */
object RecallTune {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local()

    val emb = graft.ops.Tables(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = emb.filter(col("id") < 10)

    def pairs(df: DataFrame) =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs(Similarity.bruteForceTopK(q, emb, 5))

    def m(label: String)(f: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val p = pairs(f)
      val sec = (System.nanoTime() - t0) / 1e9
      val rec = (p & bf).size.toDouble / bf.size
      println(f"[tune] $label%-40s recall=$rec%.3f sec=$sec%.2f")
    }

    m("ivf DEFAULTS")(Similarity.ivfTopK(q, emb, 5))
    m("lsh DEFAULTS")(Similarity.lshTopK(q, emb, 5))
    m("kmeans DEFAULTS")(Similarity.kmeansIvfTopK(q, emb, 5))
    m("pq DEFAULTS (rerank)")(Similarity.pqTopK(q, emb, 5, 16, 16))
    m("ivfpq DEFAULTS")(Similarity.ivfPqTopK(q, emb, 5, 16, 16))
    for (c <- Seq(256, 64, 45); np <- Seq(2, 4, 8, 16))
      m(s"ivf c=$c probe=$np")(Similarity.ivfTopK(q, emb, 5, c, np))
    for (p <- Seq(4, 3); mp <- Seq(true, false))
      m(s"lsh planes=$p multi=$mp")(Similarity.lshTopK(q, emb, 5, p, 64, mp))
    for (c <- Seq(16, 32); np <- Seq(2, 4, 6))
      m(s"kmeans c=$c probe=$np")(
        Similarity.kmeansIvfTopK(q, emb, 5, c, 2, np))
    for (cb <- Seq(16, 32))
      m(s"pq m=16 cb=$cb norerank")(
        Similarity.pqTopK(q, emb, 5, 16, cb, 2, rerank = 0))
    for (np <- Seq(16, 20, 24); rr <- Seq(64, 128))
      m(s"ivfpq probe=$np rerank=$rr")(
        Similarity.ivfPqTopK(q, emb, 5, 16, 16, nProbe = np, rerank = rr))
    // probe-fraction sweep at auto cell count (the ivf/ivfpq 0.8 hunt):
    // recall tracks the probed FRACTION; wall is dominated by the
    // bucketed candidate scan either way
    val nEmb = emb.count()
    val autoC = math.max(16, math.min(65536,
      math.ceil(math.sqrt(nEmb.toDouble)).toInt)) // = autoCentroids
    for (frac <- Seq(4, 3, 2))
      m(s"ivf c=auto($autoC) probe=c/$frac")(
        Similarity.ivfTopK(q, emb, 5, autoC, (autoC / frac).max(16)))
    for (frac <- Seq(4, 3, 2); rr <- Seq(128, 192))
      m(s"ivfpq probe=c/$frac rerank=$rr")(
        Similarity.ivfPqTopK(q, emb, 5, 16, 16,
          numCentroids = autoC, nProbe = (autoC / frac).max(16),
          rerank = rr))
    m("rp DEFAULTS")(Similarity.rpTopK(q, emb, 5))
    for (rd <- Seq(16, 24, 32); div <- Seq(8, 6, 4))
      m(s"rp rpDims=$rd rerank=n/$div")(
        Similarity.rpTopK(q, emb, 5, rpDims = rd,
          rerank = (2000 / div).max(64)))
    m("bq DEFAULTS")(Similarity.bqTopK(q, emb, 5))
    for (div <- Seq(8, 6, 4))
      m(s"bq rerank=n/$div")(
        Similarity.bqTopK(q, emb, 5, rerank = (2000 / div).max(64)))
    for (p <- Seq(2, 3, 4))
      m(s"lsh planes=$p multi=true")(Similarity.lshTopK(q, emb, 5, p))
    spark.stop()
  }
}
