package graft.cdc

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.SparkSpec
import graft.streaming.Scd2Stream
import graft.streaming.Scd2Stream.{Change, Version}

/** Property-based SCD2 checks (SURVEY §5.3): ScalaCheck generators drive
  * random change logs through the batch derivation and the streaming fold,
  * with FIXED seeds so every run replays the identical cases (a failing
  * seed is a reproducible regression, not a flake).
  *
  * Invariants (for every multi-event key): version count == event count,
  * exactly one open (sentinel) version, versions contiguous
  * (expiration(i) == start(i+1)) and non-degenerate (start < expiration).
  * Equivalence: folding the same events through [[Scd2Stream.foldKey]] in
  * arbitrary consecutive batch splits, each batch against the stored open
  * row the previous one left, reproduces the batch rows exactly — also
  * when a batch carries a duplicated event or is folded twice.
  */
class Scd2PropertySpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000)
  private val sentinel = Timestamp.valueOf("9999-01-01 00:00:00")

  /** Random case: distinct key ids → events per key (1..6). */
  private val caseGen: Gen[Map[Long, Int]] = for {
    nKeys <- Gen.choose(1, 8)
    ids <- Gen.pick(nKeys, 1L to 20L)
    counts <- Gen.listOfN(nKeys, Gen.choose(1, 6))
  } yield ids.zip(counts).toMap

  /** Deterministic events for a case: strictly increasing lsn AND ts per
    * key (same-ts versions are covered by DimensionUpsertSpec).
    */
  private def events(c: Map[Long, Int]): Seq[Change] =
    c.toSeq.flatMap { case (id, n) =>
      (0 until n).map { i =>
        Change(id, Some(s"s$i"), Some(id * 100.0 + i), "UPDATE",
          id * 100 + i, ts(1000 + id * 1000 + i * 7))
      }
    }

  private def batchScd2(evs: Seq[Change]) =
    Scd2.scd2(evs.toDS().toDF(), "id", "log_seq_num",
      "source_timestamp", Seq("status", "totalprice"))

  test("SCD2 invariants hold for seeded random change logs") {
    val params = Gen.Parameters.default
    (1 to 25).foreach { seedI =>
      val cs = caseGen.pureApply(params, org.scalacheck.rng.Seed(seedI.toLong))
      val out = batchScd2(events(cs))
        .orderBy(col("id"), col("row_valid_start_timestamp"))
        .collect()
      val byKey = out.groupBy(_.getLong(0))
      val multi = cs.filter(_._2 > 1)
      assert(byKey.keySet == multi.keySet,
        s"seed $seedI: published keys must be exactly the multi-event keys")
      multi.foreach { case (id, n) =>
        val rows = byKey(id)
        assert(rows.length == n, s"seed $seedI key $id: version per event")
        assert(rows.count(_.getTimestamp(4) == sentinel) == 1,
          s"seed $seedI key $id: exactly one open version")
        rows.sliding(2).foreach {
          case Array(a, b) =>
            assert(a.getTimestamp(4) == b.getTimestamp(3),
              s"seed $seedI key $id: versions must be contiguous")
          case _ =>
        }
        rows.foreach(r => assert(r.getTimestamp(3).before(r.getTimestamp(4)),
          s"seed $seedI key $id: start < expiration"))
      }
    }
  }

  test("streaming foldKey over arbitrary batch splits == batch SCD2") {
    val params = Gen.Parameters.default
    (1 to 15).foreach { seedI =>
      val cs = caseGen.pureApply(params, org.scalacheck.rng.Seed(100L + seedI))
      val evs = events(cs)
      val rnd = new scala.util.Random(seedI)
      // the dimension's rows: a fold's rows replace the key's stored open
      // row, which the next batch folds against
      var stored = Vector.empty[Version]
      evs.groupBy(_.id).foreach { case (id, keyEvs) =>
        val sorted = keyEvs.sortBy(_.log_seq_num)
        var prior: Option[Version] = None
        var idx = 0
        while (idx < sorted.length) {
          val slice = sorted.slice(idx, idx + 1 + rnd.nextInt(3))
          idx += slice.size
          // adversarial delivery: a duplicated event inside the batch, and
          // the whole batch folded a second time (a re-delivered batch)
          val dup = rnd.nextInt(3) == 0
          val batch = rnd.shuffle(
            if (dup) slice :+ slice(rnd.nextInt(slice.size)) else slice)
          val folds = if (rnd.nextInt(3) == 0) 2 else 1
          (1 to folds).foreach { _ =>
            val out = Scd2Stream.foldKey(id, batch, prior)
            stored = stored.filterNot(prior.contains) ++ out
            prior = out.find(!_.closed)
          }
        }
      }
      val multiKeys = cs.filter(_._2 > 1).keySet
      val batchRows = batchScd2(evs).collect()
        .map(r => (r.getLong(0), r.getTimestamp(3), r.getTimestamp(4),
          r.getString(1)))
        .toSeq.sortBy(r => (r._1, r._2.getTime))
      val streamRows = stored
        .filter(v => multiKeys.contains(v.id))
        .map(v => (v.id, v.row_valid_start_timestamp,
          v.row_valid_expiration_timestamp, v.status.orNull))
        .sortBy(r => (r._1, r._2.getTime))
      assert(streamRows == batchRows, s"seed $seedI: stream/batch divergence")
    }
  }
}
