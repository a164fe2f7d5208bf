package perfbench

import java.nio.file.Paths

import graft.streaming.{DeltaExport, IcebergExport, MergeInto, Scd2Stream}

/** The benchmark's own tests: generator determinism and op mix, and that
  * the output checks fail on a corrupted table. Run through
  * `python3 perfbench/run.py --selftest`; exits non-zero on a failure.
  */
object SelfTest {

  private var failures = 0

  private def expect(what: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Exception => System.err.println(e); false }
    System.err.println(s"${if (pass) "PASS" else "FAIL"} $what")
    if (!pass) failures += 1
  }

  private def ops(lines: Seq[String], op: Char) = lines.count(_.contains(s""""op":"$op""""))

  private def ids(lines: Seq[String]) =
    lines.map(l => """"id":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong)

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args.grouped(2).collect { case Array("--work", w) => w }.next())

    // generator: byte-identical per seed, different across seeds
    val (a, mix) = Gen.orderStream(7, 40000, 10)
    val (b, _) = Gen.orderStream(7, 40000, 10)
    val (c, _) = Gen.orderStream(8, 40000, 10)
    expect("same seed gives byte-identical stream files")(a == b)
    expect("another seed gives other files")(a != c)
    val all = a.flatten
    val keys = 40000.0
    expect("every key is created exactly once")(ops(all, 'c') + ops(all, 'r') == 40000 &&
      ids(all.filter(l => l.contains(""""op":"c"""") || l.contains(""""op":"r""""))).distinct.size == 40000)
    expect("~10% of keys updated")(math.abs(ops(all, 'u') / keys - 0.10) < 0.01)
    expect("~5% of keys deleted")(math.abs(ops(all, 'd') / keys - 0.05) < 0.01)
    expect("a few r snapshots")(ops(all, 'r') / keys > 0.01 && ops(all, 'r') / keys < 0.03)
    expect("each delete is followed by a tombstone")(all.zip(all.drop(1)).count { case (x, y) =>
      x.contains(""""op":"d"""") && y == Gen.Tombstone } == ops(all, 'd') &&
      all.count(_ == Gen.Tombstone) == ops(all, 'd'))
    expect("the mix counters agree with the lines")(mix.lines == all.size &&
      mix.updates == ops(all, 'u') && mix.deletes == ops(all, 'd'))
    val created = a.zipWithIndex.flatMap { case (ls, f) =>
      ids(ls.filter(l => l.contains(""""op":"c"""") || l.contains(""""op":"r""""))).map(_ -> f) }.toMap
    expect("some updates and deletes hit keys created in earlier files")(a.zipWithIndex.exists {
      case (ls, f) => ids(ls.filter(l => l.contains(""""op":"u"""") || l.contains(""""op":"d"""")))
        .exists(created(_) < f) })

    val m1 = new Gen.MergeModel(3, 10000)
    val m2 = new Gen.MergeModel(3, 10000)
    val bs1 = (0 until 3).map(i => Gen.mergeBatch(m1, i, 2000, i * 10000L))
    val bs2 = (0 until 3).map(i => Gen.mergeBatch(m2, i, 2000, i * 10000L))
    expect("same seed gives byte-identical merge batches")(bs1 == bs2)
    expect("merge batches hold distinct keys")(bs1.forall(bs => ids(bs).distinct.size == bs.size))
    expect("~5% of merge events are deletes")(math.abs(bs1.map(ops(_, 'd')).sum / 6000.0 - 0.05) < 0.015)

    // the output checks pass on a clean run and fail on a corrupted table
    val spark = Main.session(work)
    try {
      val ctx = new Ctx(spark, 5, 30, new Tracer(false, spark), work, new Ops)
      val p = MergePublishWorkload.prepare(spark, ctx.dir("merge"), 5, 3000, 2, 500)
      MergePublishWorkload.drain(ctx, p, Long.MaxValue)
      expect("merge check passes on the maintained table")(
        MergePublishWorkload.check(ctx, p.root, p.model) && ctx.ops.failed == 0)
      import spark.implicits._
      val live = (0L until 3000L).find(p.model.current(_).isDefined).get
      val rogue = Seq((live, "X", 1.0)).toDF("id", "status", "totalprice")
      MergeInto.mergeBatch(spark, rogue, p.root, "id", MergePublishWorkload.Buckets)
      DeltaExport.export(spark, p.root)
      IcebergExport.export(spark, p.root)
      val bad = new Ctx(spark, 5, 30, new Tracer(false, spark), work, new Ops)
      expect("merge check fails on a corrupted table, through every reader")(
        !MergePublishWorkload.check(bad, p.root, p.model) && bad.ops.failed == MergePublishWorkload.Readers.size)

      val base = ctx.dir("stream")
      val staged = Scd2StreamWorkload.stage(ctx.dir("stream-staged"), 5, 3, 300)
      val d = Scd2StreamWorkload.drain(ctx, base, staged, Long.MaxValue)
      val dim = base.resolve("dim").toString
      expect("stream check passes on the maintained dimension")(
        d.latMs.size == 3 && Scd2StreamWorkload.check(spark, dim, d.offered))
      val fake = Seq(Scd2Stream.Version(1L, Some("X"), Some(1.0),
        java.sql.Timestamp.valueOf("2001-01-01 00:00:00"), Scd2Stream.sentinel,
        closed = false, lsn = 1L)).toDS()
      Scd2Stream.upsertBatch(spark, fake, dim, Scd2StreamWorkload.Buckets)
      expect("stream check fails on a corrupted dimension")(
        !Scd2StreamWorkload.check(spark, dim, d.offered))
    } finally spark.stop()
    if (failures > 0) {
      System.err.println(s"perfbench selftest: $failures failure(s)")
      sys.exit(1)
    }
  }
}
