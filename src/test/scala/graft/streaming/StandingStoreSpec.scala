package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sim.IvfStore
import graft.text.PostingStore

/** The [[StandingStore]] protocol, checked once per store through each
  * store's PUBLIC merge/append and read-out:
  *   1. one merge of rows 0..59 reads out equal to three merges of the
  *      same rows (every store here documents incremental ≡ one-shot —
  *      HeavyHitter through `verifiedHitters`, Ivf/Posting after an
  *      identical bootstrap batch);
  *   2. replaying the last txn leaves the manifest version and the
  *      read-out unchanged;
  *   3. a txn-less merge keeps `__lastTxn`, so replaying that txn after
  *      it is still a no-op;
  *   4. a staged data dir holding REAL parquet files (a copy of the last
  *      commit's) but no manifest is invisible to the read-out.
  */
class StandingStoreSpec extends SparkSpec {

  import spark.implicits._

  /** @param rows    the store's input shape for row ids `ids`
    * @param setup   `create`/`bootstrap` (identical on every root)
    * @param merge   the store's merge/append with an optional txn
    * @param readout the store's documented read-out, canonically ordered
    */
  private case class Store(name: String, rows: Range => DataFrame,
      setup: String => Unit,
      merge: (String, DataFrame, Option[Long]) => Unit,
      readout: String => Seq[String])

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  private def ids(r: Range) = r.map(_.toLong).toDF("i")

  private val docs: Range => DataFrame = r => r.map(i =>
      (i.toLong, s"alpha beta gamma doc$i " + ("alpha " * (i % 3))))
    .toDF("doc_id", "text")

  private val vecs: Range => DataFrame = r => r.map { i =>
      (i.toLong, Array.tabulate(8)(d => (if (d == i % 8) 1.0f else 0.0f) +
        (if (d == (i / 8) % 8) 0.5f else 0.0f)).toSeq)
    }.toDF("id", "vec")

  private val toks: Range => DataFrame = r => ids(r).select(
    when(col("i") % 2 === 0, lit("a"))
      .when(col("i") % 3 === 0, lit("b"))
      .otherwise(concat(lit("t"), col("i").cast("string"))).as("tok"))

  private val HhCapacity = 8

  private val stores: Seq[Store] = Seq(
    Store("KmvStore",
      r => ids(r).select(concat(lit("g"), (col("i") % 3).cast("string"))
        .as("group"), ((col("i") * 37 + 5) % 101).as("h")),
      _ => (),
      (root, b, t) => KmvStore.merge(spark, root, b, 4, t),
      root => canon(KmvStore.estimates(spark, root, 4))),
    Store("HistogramStore",
      r => ids(r).select(concat(lit("g"), (col("i") % 2).cast("string"))
        .as("group"), (col("i") % 3 === 0).as("is_ref"),
        (col("i") * 1.7 % 100).as("value")),
      root => HistogramStore.create(spark, root, 0.0, 100.0, 10),
      (root, b, t) => HistogramStore.merge(spark, root, b, t),
      root => canon(HistogramStore.cells(spark, root))),
    Store("StatStore",
      r => ids(r).select((col("i") % 13).as("x"),
        concat(lit("s"), (col("i") % 7).cast("string")).as("s")),
      _ => (),
      (root, b, t) => StatStore.merge(spark, root,
        StatStore.cellsOf(b, Seq("x"), Seq("s"), 4), 4, t),
      root => canon(StatStore.report(spark, root))),
    Store("RegressionStore",
      r => ids(r).select(concat(lit("g"), (col("i") % 2).cast("string"))
        .as("group"), (col("i") * 0.5).as("x"),
        (col("i") * 1.25 + 3).as("y")),
      _ => (),
      (root, b, t) => RegressionStore.merge(spark, root, b, t),
      root => canon(RegressionStore.sums(spark, root))),
    Store("CovarianceStore", vecs, _ => (),
      (root, b, t) => CovarianceStore.merge(spark, root, b, t),
      root => canon(CovarianceStore.cells(spark, root))),
    Store("PrioritySampleStore",
      r => ids(r).select(col("i").as("id"),
        (col("i") % 7 + 1).cast("double").as("weight"))
        .withColumn("priority",
          PrioritySampleStore.priorityOf(col("id"), col("weight"))),
      _ => (),
      (root, b, t) => PrioritySampleStore.merge(spark, root, b, 5, t),
      root => canon(PrioritySampleStore.sample(spark, root, 5))),
    Store("HeavyHitterStore", toks, _ => (),
      (root, b, t) => HeavyHitterStore.merge(spark, root, b, HhCapacity, t),
      // 70 occurrences at most: threshold 8 > 70/(capacity+1)
      root => canon(HeavyHitterStore.verifiedHitters(spark, root,
        toks(0 until 70), HhCapacity, 8L))),
    Store("ClusterStore",
      r => ids(r).filter(col("i") % 5 =!= 4)
        .select(col("i").as("id_a"), (col("i") + 1).as("id_b")),
      root => ClusterStore.create(spark, root),
      (root, b, t) => ClusterStore.merge(spark, root, b, "id_a", "id_b", t),
      root => canon(ClusterStore.labels(spark, root))),
    Store("CorpusCardStore",
      r => docs(r).select(
        when(col("doc_id") % 2 === 0, lit("en")).otherwise(lit("de"))
          .as("lang"),
        concat(lit("s"), (col("doc_id") % 3).cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"), col("text")),
      _ => (),
      (root, b, t) => CorpusCardStore.merge(spark, root,
        CorpusCardStore.cardOf(b), t),
      root => canon(CorpusCardStore.report(spark, root))),
    Store("DqStore",
      r => ids(r).select(col("i").as("user_id"),
        when(col("i") % 4 === 0, lit(150.0)).otherwise(lit(5.0)).as("value"),
        when(col("i") % 5 === 0, lit("weird")).otherwise(lit("view"))
          .as("event_type"),
        lit("2024-01-05").cast("timestamp_ntz").as("ts")),
      _ => (),
      (root, b, t) => DqStore.merge(spark, root, DqStore.eventsAudit(b), t),
      root => canon(DqStore.report(spark, root))),
    Store("IvfStore", vecs,
      root => IvfStore.bootstrap(spark, vecs(1000 until 1032), root,
        numCentroids = 4),
      (root, b, t) => IvfStore.append(spark, b, root, t),
      root => canon(IvfStore.topK(spark, root, vecs(0 until 3), k = 4,
        nProbe = 2).select("query_id", "corpus_id", "rank"))),
    Store("PostingStore", docs,
      root => PostingStore.bootstrap(spark, docs(1000 until 1020), root,
        numBuckets = 4),
      (root, b, t) => PostingStore.append(spark, b, root, t),
      root => canon(PostingStore.topK(spark, root, Seq("alpha", "beta"), 10)))
  )

  private def freshRoot(): String =
    Files.createTempDirectory("graft-standing").resolve("store").toString

  private def snap(root: String) = ManifestStore.latest(spark, root).get

  /** Copy a committed data dir's files to a fresh staging dir of the next
    * version — real parquet a listing reader would pick up — and commit
    * nothing.
    */
  private def stageOrphanCopy(root: String): Unit = {
    val s = snap(root)
    val prefix = f"data/v${s.version}%020d-"
    val rel = s.entries.values.find(_.startsWith(prefix)).get
      .split('/').take(2).mkString("/")
    val src = Paths.get(root, rel)
    val dst = Paths.get(root, ManifestStore.dataRel(s.version + 1))
    val walk = Files.walk(src)
    try walk.forEach { (p: Path) =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    } finally walk.close()
  }

  for (st <- stores) test(s"${st.name}: 1 vs 3 merges agree; a replayed " +
      "txn is a no-op, also after a txn-less merge; uncommitted staging " +
      "is invisible") {
    val one = freshRoot()
    st.setup(one)
    st.merge(one, st.rows(0 until 60), Some(1L))
    val three = freshRoot()
    st.setup(three)
    Seq(0 until 20, 20 until 40, 40 until 60).zipWithIndex.foreach {
      case (r, i) => st.merge(three, st.rows(r), Some(i + 1L))
    }
    val out = st.readout(three)
    assert(out.nonEmpty)
    assert(out == st.readout(one), "incremental diverged from one-shot")

    val v = snap(three).version
    st.merge(three, st.rows(40 until 60), Some(3L))
    assert(snap(three).version == v, "replayed txn committed")
    assert(st.readout(three) == out, "replayed txn changed the read-out")

    st.merge(three, st.rows(60 until 70), None)
    assert(snap(three).version == v + 1)
    assert(snap(three).entries.get("__lastTxn").contains("3"),
      "a txn-less merge dropped the replay guard")
    val corrected = st.readout(three)
    st.merge(three, st.rows(60 until 70), Some(3L))
    assert(snap(three).version == v + 1,
      "replay after a txn-less merge committed")
    assert(st.readout(three) == corrected)

    stageOrphanCopy(three)
    assert(st.readout(three) == corrected,
      "staged-but-uncommitted files leaked into the read-out")
  }
}
