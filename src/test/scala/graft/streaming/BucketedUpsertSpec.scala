package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BucketedUpsertSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("bucketed_upsert").toString

  private def row(id: Long, v: String, lsn: Long, deleted: Boolean = false) =
    (id, v, lsn, deleted)

  private def upsert(root: String, rows: Seq[(Long, String, Long, Boolean)]) =
    BucketedUpsert.upsertBatch(spark,
      rows.toDF("id", "v", "lsn", "deleted"), root, "id", "lsn",
      numBuckets = 4)

  private def state(root: String): Map[Long, (String, Long, Boolean)] =
    ManifestStore.read(spark, root)
      .select("id", "v", "lsn", "deleted")
      .as[(Long, String, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  test("batch-split invariance: many small upserts == one big upsert") {
    val a = tmp(); val b = tmp()
    val rows = Seq(row(1, "a1", 10), row(2, "b1", 11), row(1, "a2", 20),
      row(3, "c1", 12), row(2, "b2", 21), row(1, "a3", 30))
    upsert(a, rows)
    rows.grouped(2).foreach(g => upsert(b, g))
    assert(state(a) == state(b))
    assert(state(a)(1L) == (("a3", 30L, false)))
  }

  test("tombstone retention drops a late lower-LSN replay") {
    val root = tmp()
    upsert(root, Seq(row(1, "live", 10)))
    upsert(root, Seq(row(1, "gone", 20, deleted = true)))
    // late replay of the pre-delete state must NOT resurrect the key
    upsert(root, Seq(row(1, "live", 10)))
    assert(state(root)(1L) == (("gone", 20L, true)))
  }

  test("a batch rewrites only the buckets its keys hash into") {
    val root = tmp()
    upsert(root, Seq(row(1, "a", 1), row(2, "b", 1), row(3, "c", 1),
      row(4, "d", 1), row(5, "e", 1), row(6, "f", 1)))
    // __fs: stats slots mirror data entries 1:1; rewrite accounting is
    // about DATA entries
    def data(m: Map[String, String]) = m.filterNot(
      _._1.startsWith(ManifestStore.FileStatsPrefix))
    val before = data(ManifestStore.latest(spark, root).get.entries)
    upsert(root, Seq(row(1, "a2", 2)))
    val after = data(ManifestStore.latest(spark, root).get.entries)
    val changed = after.filter { case (k, v) => before.get(k).contains(v) == false }
    // exactly the one bucket id=1 hashes to is re-pointed
    assert(changed.size == 1)
    assert(before.keySet == after.keySet)
  }

  test("an empty batch commits no version and stages no data dir") {
    val root = tmp()
    upsert(root, Seq(row(1, "a", 1), row(2, "b", 1)))
    val dirs = new java.io.File(s"$root/data").list().toSet
    upsert(root, Nil)
    assert(ManifestStore.latest(spark, root).get.version == 1L)
    assert(new java.io.File(s"$root/data").list().toSet == dirs)
    assert(state(root).keySet == Set(1L, 2L))
  }

  test("purgeTombstones drops only tombstones behind the replay horizon") {
    val root = tmp()
    upsert(root, Seq(row(1, "a1", 10), row(2, "b1", 11), row(3, "c1", 12)))
    // delete keys 1 and 2 at lsn 20/40; key 3 stays live
    upsert(root, Seq(row(1, "DEL", 20, deleted = true),
      row(2, "DEL", 40, deleted = true)))

    // horizon 30: key 1's tombstone (lsn 20) is unreplayable -> purged;
    // key 2's (lsn 40) still guards; key 3 untouched
    BucketedUpsert.purgeTombstones(spark, root, "deleted", "lsn",
      horizon = 30L)
    val s1 = state(root)
    assert(!s1.contains(1L), s"purged tombstone resurfaced: $s1")
    assert(s1(2L) == (("DEL", 40L, true)))
    assert(s1(3L) == (("c1", 12L, false)))

    // the surviving tombstone still wins against a late replay below it
    upsert(root, Seq(row(2, "late-replay", 35)))
    assert(state(root)(2L) == (("DEL", 40L, true)))

    // but key 1 was purged PAST the horizon, so nothing blocks a genuine
    // re-create above it
    upsert(root, Seq(row(1, "recreated", 50)))
    assert(state(root)(1L) == (("recreated", 50L, false)))
  }
}
