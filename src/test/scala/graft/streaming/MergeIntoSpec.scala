package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MergeIntoSpec extends SparkSpec {

  import spark.implicits._

  private def table(root: String) =
    MergeInto.readTable(spark, root)

  test("merge: insert, replace, physical delete in one statement") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "s", "v"),
      root, "k", numBuckets = 4)
    // replace k=2, delete k=3, insert k=4; a delete for an absent key (9)
    // is a no-op
    MergeInto.mergeBatch(spark,
      Seq((2L, "B", 21, false), (3L, "", 0, true), (4L, "d", 40, false),
          (9L, "", 0, true))
        .toDF("k", "s", "v", "del"),
      root, "k", numBuckets = 4, deleteCol = Some("del"))
    val got = table(root).select("k", "s", "v")
      .as[(Long, String, Int)].collect().sorted.toSeq
    assert(got == Seq((1L, "a", 10), (2L, "B", 21), (4L, "d", 40)))
  }

  test("generated column: metadata-only add, computed on read and time " +
      "travel, CHECK-visible, write-refused, drop order enforced") {
    val root = java.nio.file.Files.createTempDirectory("gen").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, 10), (2L, 25), (3L, 31)).toDF("k", "v"),
      root, "k", numBuckets = 4)
    val vPre = ManifestStore.latest(spark, root).get.version
    MergeInto.addGeneratedColumn(spark, root, "band", "v div 10")
    // computed on read, exactly the expression
    val got = table(root).select("k", "band").as[(Long, Long)]
      .collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    // time travel BEFORE the add reads without it
    assert(!MergeInto.readTableAt(spark, root, vPre)
      .columns.contains("band"))
    // a CHECK over the generated value guards merges
    MergeInto.addCheckConstraint(spark, root, "band_small", "band < 10")
    intercept[IllegalArgumentException] {
      MergeInto.mergeBatch(spark, Seq((4L, 999)).toDF("k", "v"), root, "k",
        numBuckets = 4)
    }
    // writing the generated column is refused
    intercept[IllegalArgumentException] {
      MergeInto.mergeBatch(spark,
        Seq((4L, 40, 4L)).toDF("k", "v", "band"), root, "k", numBuckets = 4)
    }
    // valid merge passes and the band updates with the stored value
    MergeInto.mergeBatch(spark, Seq((2L, 47)).toDF("k", "v"), root, "k",
      numBuckets = 4)
    assert(table(root).filter(col("k") === 2L)
      .select("band").as[Long].head() == 4L)
    // rename of a referenced column refused; drop CHECK before gen col
    intercept[IllegalArgumentException] {
      MergeInto.renameColumn(spark, root, "v", "value")
    }
    intercept[IllegalArgumentException] {
      MergeInto.dropGeneratedColumn(spark, root, "band")
    }
    MergeInto.dropCheckConstraint(spark, root, "band_small")
    MergeInto.dropGeneratedColumn(spark, root, "band")
    assert(!table(root).columns.contains("band"))
  }

  test("STORED generated column: materialize rewrites once, merges " +
      "recompute on write, writes/renames refused, time travel keeps " +
      "the virtual definition before the rewrite") {
    val root = java.nio.file.Files.createTempDirectory("genst").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, 10), (2L, 25), (3L, 31)).toDF("k", "v"),
      root, "k", numBuckets = 4)
    MergeInto.addGeneratedColumn(spark, root, "band", "v div 10")
    val vVirtual = ManifestStore.latest(spark, root).get.version
    MergeInto.materializeGeneratedColumn(spark, root, "band")
    val snap = ManifestStore.latest(spark, root).get
    assert(!snap.entries.contains(MergeInto.GenPrefix + "band"))
    assert(snap.entries(MergeInto.GenStoredPrefix + "band") == "v div 10")
    // the value is PHYSICALLY in the buckets now
    val paths = ManifestStore.resolvePaths(root, snap)
    val raw = spark.read.parquet(paths: _*)
    assert(raw.columns.contains("band"))
    assert(table(root).select("k", "band").as[(Long, Long)]
      .collect().toMap == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    // a merge RECOMPUTES the stored value for the rows it writes
    MergeInto.mergeBatch(spark, Seq((2L, 47), (4L, 52)).toDF("k", "v"),
      root, "k", numBuckets = 4)
    assert(table(root).select("k", "band").as[(Long, Long)]
      .collect().toMap ==
      Map(1L -> 1L, 2L -> 4L, 3L -> 3L, 4L -> 5L))
    // writing it stays refused; renaming it or its source stays refused
    intercept[IllegalArgumentException] {
      MergeInto.mergeBatch(spark,
        Seq((5L, 50, 9L)).toDF("k", "v", "band"), root, "k",
        numBuckets = 4)
    }
    intercept[IllegalArgumentException] {
      MergeInto.renameColumn(spark, root, "band", "band2")
    }
    intercept[IllegalArgumentException] {
      MergeInto.renameColumn(spark, root, "v", "value")
    }
    // time travel to the virtual-era version still computes on read
    assert(MergeInto.readTableAt(spark, root, vVirtual)
      .select("k", "band").as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    // syncSnapshot recomputes too and carries the slot
    MergeInto.syncSnapshot(spark,
      Seq((1L, 99), (2L, 11)).toDF("k", "v"), root, "k", numBuckets = 4)
    assert(table(root).select("k", "band").as[(Long, Long)]
      .collect().toMap == Map(1L -> 9L, 2L -> 1L))
    assert(ManifestStore.latest(spark, root).get
      .entries.contains(MergeInto.GenStoredPrefix + "band"))
  }

  test("rebucket: rows survive the rewrite, the DV materializes, history " +
      "reads under the old spec, and the old count is refused after") {
    val root = java.nio.file.Files.createTempDirectory("rebucket").toString
    MergeInto.mergeBatch(spark,
      (1L to 40L).map(k => (k, s"v$k")).toDF("k", "s"),
      root, "k", numBuckets = 4)
    MergeInto.deleteVector(spark, root, "k", Seq(7L, 13L).toDF("k"))
    val vOld = ManifestStore.latest(spark, root).get.version
    MergeInto.addCheckConstraint(spark, root, "nonempty", "s IS NOT NULL")
    MergeInto.rebucket(spark, root, "k", newNumBuckets = 8)
    val snap = ManifestStore.latest(spark, root).get
    assert(snap.entries(MergeInto.NumBucketsSlot) == "8")
    // DV materialized: slot gone, keys gone, everything else intact
    assert(!snap.entries.contains("aux-dv"))
    assert(snap.entries.contains(MergeInto.CheckPrefix + "nonempty"))
    val keys = table(root).select("k").as[Long].collect().toSet
    assert(keys == (1L to 40L).toSet -- Set(7L, 13L))
    // time travel to the pre-rebucket version: old bucketing, DV applied
    assert(MergeInto.readTableAt(spark, root, vOld)
      .select("k").as[Long].collect().toSet == keys)
    // the old bucket count is refused; the new one merges fine
    intercept[IllegalArgumentException] {
      MergeInto.mergeBatch(spark, Seq((41L, "x")).toDF("k", "s"), root,
        "k", numBuckets = 4)
    }
    MergeInto.mergeBatch(spark, Seq((41L, "x")).toDF("k", "s"), root, "k",
      numBuckets = 8)
    assert(table(root).count() == 39)
    // a no-op rebucket is refused
    intercept[IllegalArgumentException] {
      MergeInto.rebucket(spark, root, "k", newNumBuckets = 8)
    }
  }

  test("optimistic concurrency: a stale writer is refused after a faster " +
      "commit; racing merge writers all land via retry") {
    val root = java.nio.file.Files.createTempDirectory("occ").toString
    MergeInto.mergeBatch(spark, Seq((1L, "a")).toDF("k", "s"), root, "k",
      numBuckets = 4)
    // deterministic stale-writer: version computed BEFORE a faster commit
    val stale = ManifestStore.nextVersion(spark, root)
    MergeInto.mergeBatch(spark, Seq((2L, "b")).toDF("k", "s"), root, "k",
      numBuckets = 4)
    intercept[IllegalStateException] {
      ManifestStore.commit(spark, root, stale, Map("0" -> "nowhere"))
    }
    // nothing corrupted: the fast writer's state is intact
    assert(table(root).count() == 2)

    // real race: four writers on disjoint keys, catch-and-retry — every
    // batch must land exactly once, versions strictly increase
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        val rows = Seq((100L + t, s"w$t")).toDF("k", "s")
        var done = false
        var attempts = 0
        while (!done && attempts < 20) {
          attempts += 1
          try {
            MergeInto.mergeBatch(spark, rows, root, "k", numBuckets = 4)
            done = true
          } catch { case _: Exception => Thread.sleep(10L * attempts) }
        }
        assert(done, s"writer $t never landed")
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val got = table(root).select("k", "s").as[(Long, String)]
      .collect().toMap
    assert((0 until 4).forall(t => got(100L + t) == s"w$t"))
    assert(got.size == 6)
    val versions = ManifestStore.versions(spark, root)
    assert(versions == versions.sorted && versions.distinct == versions)
  }

  test("ANALYZE: stats committed as metadata, replaced on re-analyze, " +
      "versioned with the table") {
    val root = java.nio.file.Files.createTempDirectory("an").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, null, 30.0))
        .toDF("k", "s", "v"), root, "k", numBuckets = 4)
    MergeInto.analyzeTable(spark, root, Seq("k", "v"), Seq("s"), sketchK = 8)
    val st = MergeInto.readStats(spark, root).orderBy("column")
      .collect()
    assert(st.map(_.getString(0)).toSeq == Seq("k", "s", "v"))
    val sRow = st(1)
    assert(sRow.getLong(1) == 3 && sRow.getLong(2) == 1 && // rows, nulls
      sRow.getLong(3) == 2) // ndv excludes the null
    assert(sRow.getString(7) == "a" && sRow.getString(8) == "b")
    val kRow = st(0)
    assert(kRow.getDouble(4) == 3.0) // undersized sketch: est == exact
    assert(kRow.getDouble(5) == 1.0 && kRow.getDouble(6) == 3.0)
    // re-analyze after a merge REPLACES the stats (no stale slots)...
    MergeInto.mergeBatch(spark, Seq((4L, "c", 40.0)).toDF("k", "s", "v"),
      root, "k", numBuckets = 4)
    MergeInto.analyzeTable(spark, root, Seq("k", "v"), Seq("s"), sketchK = 8)
    val st2 = MergeInto.readStats(spark, root).orderBy("column").collect()
    assert(st2(0).getLong(1) == 4 && st2(0).getDouble(6) == 4.0)
    // ...and time travel still sees the OLD stats on the old version
    val oldSnap = ManifestStore.snapshotAt(spark, root, 2L).get
    assert(oldSnap.entries(MergeInto.StatPrefix + "k").contains("ndv=3"))
  }

  test("changeFeed: insert/delete/update pairs; identical rewrites silent") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "s", "v"),
      root, "k", numBuckets = 4)
    // v2: update k=2, delete k=3, insert k=4, rewrite k=1 IDENTICALLY
    MergeInto.mergeBatch(spark,
      Seq((1L, "a", 10, false), (2L, "B", 21, false), (3L, "", 0, true),
          (4L, "d", 40, false)).toDF("k", "s", "v", "del"),
      root, "k", numBuckets = 4, deleteCol = Some("del"))
    val feed = MergeInto.changeFeed(spark, root, "k", 1L, 2L)
      .select("k", "s", "v", "_change_type")
      .as[(Long, String, Int, String)].collect().sortBy(r => (r._1, r._4))
    assert(feed.toSeq == Seq( // 'update_postimage' < 'update_preimage'
      (2L, "B", 21, "update_postimage"), (2L, "b", 20, "update_preimage"),
      (3L, "c", 30, "delete"), (4L, "d", 40, "insert")),
      s"got ${feed.toSeq}") // k=1 rewritten to identical values: no row
  }

  test("changeFeed spans a schema evolution: new column diffs as null-pre") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root, "k", numBuckets = 2)
    MergeInto.mergeBatch(spark,
      Seq((2L, "b", "X")).toDF("k", "s", "extra"), root, "k", numBuckets = 2)
    val feed = MergeInto.changeFeed(spark, root, "k", 1L, 2L)
      .select("k", "s", "extra", "_change_type")
      .as[(Long, String, Option[String], String)].collect()
      .sortBy(r => (r._1, r._4)).toSeq
    // k=2 changed only by GAINING extra=X; k=1 untouched (null == null)
    assert(feed == Seq(
      (2L, "b", Some("X"), "update_postimage"),
      (2L, "b", None, "update_preimage")), s"got $feed")
  }

  test("changeFeed: a deleted NULL-key row reports delete, not a " +
    "fabricated all-NULL insert (null-safe key join)") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    // mergeBatch rejects NULL keys, so stage the versions directly: v1
    // holds a NULL-key row, v2 drops it and updates k=1
    Seq((Option(1L), "a"), (Option.empty[Long], "x")).toDF("k", "s")
      .coalesce(1).write.parquet(s"$root/data/v1/rows")
    ManifestStore.commit(spark, root, 1L, Map("rows" -> "data/v1/rows"))
    Seq((Option(1L), "A")).toDF("k", "s")
      .coalesce(1).write.parquet(s"$root/data/v2/rows")
    ManifestStore.commit(spark, root, 2L, Map("rows" -> "data/v2/rows"))
    val feed = MergeInto.changeFeed(spark, root, "k", 1L, 2L)
      .select("k", "s", "_change_type")
      .as[(Option[Long], String, String)].collect()
      .sortBy(r => (r._1.getOrElse(Long.MinValue), r._3)).toSeq
    assert(feed == Seq(
      (None, "x", "delete"),
      (Some(1L), "A", "update_postimage"),
      (Some(1L), "a", "update_preimage")), s"got $feed")
  }

  test("deletion vector: merge-on-read delete, time travel, lookup, " +
    "materialization") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, "d", 40))
        .toDF("k", "s", "v"), root, "k", numBuckets = 4) // v1
    MergeInto.deleteVector(spark, root, "k", Seq(2L, 4L).toDF("k")) // v2
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("k").as[Long].collect().sorted.toSeq
    // merge-on-read: no bucket rewritten, keys gone
    assert(keys(MergeInto.readTable(spark, root)) == Seq(1L, 3L))
    // pre-DV version unaffected
    assert(keys(MergeInto.readTableAt(spark, root, 1L)) ==
      Seq(1L, 2L, 3L, 4L))
    // point lookup subtracts the DV too
    assert(MergeInto.lookupKey(spark, root, "k", 2L).isEmpty)
    assert(keys(MergeInto.lookupKey(spark, root, "k", 1L)) == Seq(1L))
    MergeInto.materializeDeletes(spark, root, "k") // v3
    assert(keys(MergeInto.readTable(spark, root)) == Seq(1L, 3L))
    // DV slot cleared after materialization; DV-era version still reads
    // with its DV view
    assert(!ManifestStore.latest(spark, root).get.entries
      .contains(MergeInto.DvSlot))
    assert(keys(MergeInto.readTableAt(spark, root, 2L)) == Seq(1L, 3L))
  }

  test("a merge over a DV'd key resurrects it (DELETE-then-INSERT) and " +
    "never resurrects other DV'd keys sharing its bucket") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, "d", 40))
        .toDF("k", "s", "v"), root, "k", numBuckets = 2) // collisions likely
    MergeInto.deleteVector(spark, root, "k", Seq(2L, 4L).toDF("k"))
    MergeInto.mergeBatch(spark, Seq((2L, "B", 21)).toDF("k", "s", "v"),
      root, "k", numBuckets = 2)
    val got = MergeInto.readTable(spark, root).select("k", "s", "v")
      .as[(Long, String, Int)].collect().sorted.toSeq
    assert(got == Seq((1L, "a", 10), (2L, "B", 21), (3L, "c", 30)),
      s"got $got")
    assert(MergeInto.lookupKey(spark, root, "k", 4L).isEmpty)
  }

  test("vacuum retains the DV sidecar (aux slot is live data)") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "s", "v"),
      root, "k", numBuckets = 2)
    MergeInto.deleteVector(spark, root, "k", Seq(2L).toDF("k"))
    ManifestStore.vacuum(spark, root, keepVersions = 1)
    assert(MergeInto.readTable(spark, root).select("k").as[Long]
      .collect().toSeq == Seq(1L))
  }

  test("CHECK constraints: violating statements fail atomically; valid " +
    "ones pass; drop lifts the guard") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "s", "v"),
      root, "k", numBuckets = 2)
    MergeInto.addCheckConstraint(spark, root, "pos", "v >= 0")
    val vBefore = ManifestStore.latest(spark, root).get.version
    val err = intercept[IllegalArgumentException] {
      MergeInto.mergeBatch(spark, Seq((9L, "z", -5)).toDF("k", "s", "v"),
        root, "k", numBuckets = 2)
    }
    assert(err.getMessage.contains("CHECK constraint 'pos'"))
    // nothing committed
    assert(ManifestStore.latest(spark, root).get.version == vBefore)
    assert(MergeInto.readTable(spark, root).count() == 2)
    // valid rows pass; a partial update that breaks the constraint fails
    MergeInto.mergeBatch(spark, Seq((9L, "z", 5)).toDF("k", "s", "v"),
      root, "k", numBuckets = 2)
    val err2 = intercept[IllegalArgumentException] {
      MergeInto.mergeBatch(spark, Seq((9L, -1)).toDF("k", "v"),
        root, "k", numBuckets = 2, updateCols = Seq("v"))
    }
    assert(err2.getMessage.contains("CHECK constraint 'pos'"))
    // a constraint the existing data violates cannot be added
    val err3 = intercept[IllegalArgumentException] {
      MergeInto.addCheckConstraint(spark, root, "small", "v < 3")
    }
    assert(err3.getMessage.contains("existing rows violate"))
    // dropping the constraint lifts the guard
    MergeInto.dropCheckConstraint(spark, root, "pos")
    MergeInto.mergeBatch(spark, Seq((7L, "n", -1)).toDF("k", "s", "v"),
      root, "k", numBuckets = 2)
    assert(MergeInto.readTable(spark, root).filter($"v" < 0).count() == 1)
  }

  test("CHECK constraints survive a snapshot sync and guard it") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, "a", 10)).toDF("k", "s", "v"), root, "k", numBuckets = 2)
    MergeInto.addCheckConstraint(spark, root, "pos", "v >= 0")
    val err = intercept[IllegalArgumentException] {
      MergeInto.syncSnapshot(spark,
        Seq((1L, "a", -10)).toDF("k", "s", "v"), root, "k", numBuckets = 2)
    }
    assert(err.getMessage.contains("CHECK constraint 'pos'"))
    MergeInto.syncSnapshot(spark,
      Seq((1L, "a", 11), (2L, "b", 22)).toDF("k", "s", "v"),
      root, "k", numBuckets = 2)
    // the rebuilt manifest still carries the constraint
    assert(ManifestStore.latest(spark, root).get.entries
      .contains(MergeInto.CheckPrefix + "pos"))
  }

  test("restore rolls back to a prior version; history stays readable") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "s", "v"),
      root, "k", numBuckets = 2) // v1
    MergeInto.mergeBatch(spark, Seq((2L, "B", 21)).toDF("k", "s", "v"),
      root, "k", numBuckets = 2) // v2
    ManifestStore.restore(spark, root, 1L) // v3 = v1's files
    val got = MergeInto.readTable(spark, root).select("k", "s", "v")
      .as[(Long, String, Int)].collect().sorted.toSeq
    assert(got == Seq((1L, "a", 10), (2L, "b", 20)))
    // the rolled-back state is still time-travelable
    assert(MergeInto.readTableAt(spark, root, 2L)
      .filter($"k" === 2L).select("s").as[String].head() == "B")
    // restore copied no data: v3 staged nothing under data/
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "data", f"v${3L}%020d")))
  }

  test("shallow clone borrows source files and diverges copy-on-write") {
    val base = java.nio.file.Files.createTempDirectory("merge")
    val src = base.resolve("src").toString
    val dst = base.resolve("dst").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "s", "v"),
      src, "k", numBuckets = 2)
    ManifestStore.shallowClone(spark, src, dst)
    // zero copy: the clone root holds no data files yet
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dst, "data")))
    def keys(root: String) = MergeInto.readTable(spark, root)
      .select("k").as[Long].collect().sorted.toSeq
    assert(keys(dst) == Seq(1L, 2L, 3L))
    // divergence rewrites only the clone
    MergeInto.deleteWhere(spark, dst, $"k" === 2L)
    assert(keys(dst) == Seq(1L, 3L))
    assert(keys(src) == Seq(1L, 2L, 3L))
    // and merging into the clone leaves the source untouched too
    MergeInto.mergeBatch(spark, Seq((4L, "d", 40)).toDF("k", "s", "v"),
      dst, "k", numBuckets = 2)
    assert(keys(dst) == Seq(1L, 3L, 4L))
    assert(keys(src) == Seq(1L, 2L, 3L))
  }

  test("clone refuses a target that already holds a table") {
    val base = java.nio.file.Files.createTempDirectory("merge")
    val src = base.resolve("src").toString
    val dst = base.resolve("dst").toString
    MergeInto.mergeBatch(spark, Seq((1L, "a", 10)).toDF("k", "s", "v"),
      src, "k", numBuckets = 2)
    MergeInto.mergeBatch(spark, Seq((9L, "z", 90)).toDF("k", "s", "v"),
      dst, "k", numBuckets = 2)
    val err = intercept[IllegalArgumentException] {
      ManifestStore.shallowClone(spark, src, dst)
    }
    assert(err.getMessage.contains("already holds"))
  }

  test("merge rejects a NULL-key source row loudly") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    val err = intercept[IllegalArgumentException] {
      MergeInto.mergeBatch(spark,
        Seq((Option(1L), "a"), (Option.empty[Long], "b")).toDF("k", "s"),
        root, "k")
    }
    assert(err.getMessage.contains("NULL"))
  }

  test("merge rejects a DIFFERENT bucket key after the first commit — a " +
      "partial re-key would leave untouched buckets hashed by the old " +
      "key under a declared HashPartitioning(newKey)") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "k2", "s"), root, "k")
    val err = intercept[IllegalArgumentException] {
      MergeInto.mergeBatch(spark,
        Seq((3L, 30L, "c")).toDF("k", "k2", "s"), root, "k2")
    }
    assert(err.getMessage.contains("bucket key is immutable"))
    // syncSnapshot rewrites every bucket, so it MAY legitimately re-key
    MergeInto.syncSnapshot(spark,
      Seq((1L, 10L, "a"), (3L, 30L, "c")).toDF("k", "k2", "s"), root, "k2")
    assert(MergeInto.readTable(spark, root).select("k2")
      .as[Long].collect().sorted.toSeq == Seq(10L, 30L))
    // …and merges keyed by the NEW key proceed
    MergeInto.mergeBatch(spark,
      Seq((4L, 40L, "d")).toDF("k", "k2", "s"), root, "k2")
    assert(MergeInto.readTable(spark, root).count() == 3)
  }

  test("merge rejects an ambiguous multi-row-per-key source") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    val err = intercept[IllegalArgumentException] {
      MergeInto.mergeBatch(spark,
        Seq((1L, "a"), (1L, "b")).toDF("k", "s"), root, "k")
    }
    assert(err.getMessage.contains("multiple source rows"))
  }

  test("untouched buckets carry their manifest entries (and files) forward") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    MergeInto.mergeBatch(spark,
      (0L until 64L).map(i => (i, s"v$i")).toDF("k", "s"),
      root, "k", numBuckets = 8)
    val before = ManifestStore.latest(spark, root).get.entries
    // touch exactly one key → at most one bucket rewrites
    MergeInto.mergeBatch(spark, Seq((0L, "V0")).toDF("k", "s"),
      root, "k", numBuckets = 8)
    val after = ManifestStore.latest(spark, root).get.entries
    // __fs: stats slots mirror the data entries 1:1 (commit maintains
    // them); the rewrite accounting below is about DATA entries
    def data(m: Map[String, String]) = m.filterNot(
      _._1.startsWith(ManifestStore.FileStatsPrefix))
    val changed = data(after).filter {
      case (slot, rel) => before.get(slot) != Some(rel)
    }
    assert(changed.size == 1, s"expected 1 rewritten bucket, got $changed")
    // unchanged entries still point at the ORIGINAL v1 files — no rewrite
    assert((data(after) -- changed.keys) == (data(before) -- changed.keys))
    assert(table(root).count() == 64)
  }

  test("schema evolution: new source column widens, old buckets read as null") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root, "k", numBuckets = 2)
    // second batch adds a `score` column and touches only k=1's bucket
    MergeInto.mergeBatch(spark,
      Seq((1L, "A", 0.9)).toDF("k", "s", "score"), root, "k", numBuckets = 2)
    val got = table(root).select(col("k"), col("s"), col("score"))
      .as[(Long, String, Option[Double])].collect().sorted.toSeq
    assert(got == Seq((1L, "A", Some(0.9)), (2L, "b", None)))
  }

  test("schema evolution tolerates NESTED nullability drift: the same " +
       "array column with differing containsNull is not a type change") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    // Seq[Int] encodes as array<int> containsNull=false…
    MergeInto.mergeBatch(spark,
      Seq((1L, Seq(1, 2))).toDF("k", "xs"), root, "k", numBuckets = 2)
    // …Seq[Option[Int]] as containsNull=true — same parquet storage type;
    // refusing it would be a false-positive write failure
    MergeInto.mergeBatch(spark,
      Seq((2L, Seq(Option.empty[Int], Some(3)))).toDF("k", "xs"),
      root, "k", numBuckets = 2)
    val got = table(root).select(col("k"), col("xs"))
      .as[(Long, Seq[Option[Int]])].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, Seq(Some(1), Some(2))),
      (2L, Seq(None, Some(3)))))
    // a genuine element-type change is still refused loudly
    val e = intercept[IllegalArgumentException] {
      MergeInto.mergeBatch(spark,
        Seq((3L, Seq("x"))).toDF("k", "xs"), root, "k", numBuckets = 2)
    }
    assert(e.getMessage.contains("type evolution"))
  }

  test("time travel: every version reads exactly as committed") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    MergeInto.mergeBatch(spark, Seq((1L, "a")).toDF("k", "s"), root, "k")
    MergeInto.mergeBatch(spark, Seq((1L, "b"), (2L, "c")).toDF("k", "s"),
      root, "k")
    MergeInto.mergeBatch(spark,
      Seq((1L, "", true)).toDF("k", "s", "del"), root, "k",
      deleteCol = Some("del"))
    val vs = ManifestStore.versions(spark, root)
    assert(vs == Seq(1L, 2L, 3L))
    def at(v: Long) = MergeInto.readTableAt(spark, root, v)
      .select("k", "s").as[(Long, String)].collect().sorted.toSeq
    assert(at(1L) == Seq((1L, "a")))
    assert(at(2L) == Seq((1L, "b"), (2L, "c")))
    assert(at(3L) == Seq((2L, "c")))
    // retention vacuum: keep the last TWO versions time-travelable
    ManifestStore.vacuum(spark, root, keepVersions = 2)
    assert(ManifestStore.versions(spark, root) == Seq(2L, 3L))
    assert(at(2L) == Seq((1L, "b"), (2L, "c")))
    assert(at(3L) == Seq((2L, "c")))
    assert(intercept[IllegalStateException](at(1L))
      .getMessage.contains("vacuumed or never written"))
    // then tighten to latest-only (the default)
    ManifestStore.vacuum(spark, root)
    assert(ManifestStore.versions(spark, root) == Seq(3L))
    assert(at(3L) == Seq((2L, "c")))
  }

  test("delete-to-empty removes the bucket's manifest entry") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    MergeInto.mergeBatch(spark, Seq((1L, "a")).toDF("k", "s"),
      root, "k", numBuckets = 2)
    val v1Dirs = new java.io.File(s"$root/data").list().toSet
    MergeInto.mergeBatch(spark,
      Seq((1L, "", true)).toDF("k", "s", "del"), root, "k", numBuckets = 2,
      deleteCol = Some("del"))
    // only the metadata slots survive — no data entry left
    assert(ManifestStore.latest(spark, root).get.entries.keySet ==
      Set(MergeInto.NumBucketsSlot, MergeInto.SchemaSlot,
        MergeInto.BucketKeySlot))
    // the merge's staging dir holds no bucket directory: the emptied
    // bucket is known empty from the staging listing alone
    val staged = new java.io.File(s"$root/data").listFiles()
      .filterNot(d => v1Dirs(d.getName))
    assert(staged.forall(_.list().forall(!_.startsWith("__dir="))))
  }

  test("partial-column update: matched rows keep unlisted columns") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, "a", 10, "keep1"), (2L, "b", 20, "keep2"))
        .toDF("k", "s", "v", "note"),
      root, "k", numBuckets = 4)
    // update ONLY (s, v) for k=1 (note must survive), insert k=3 whole;
    // the source's note column is ignored for matched rows
    MergeInto.mergeBatch(spark,
      Seq((1L, "A", 11, "SHOULD-NOT-LAND"), (3L, "c", 30, "keep3"))
        .toDF("k", "s", "v", "note"),
      root, "k", numBuckets = 4, updateCols = Seq("s", "v"))
    val got = MergeInto.readTable(spark, root)
      .select("k", "s", "v", "note")
      .as[(Long, String, Int, String)].collect().sorted.toSeq
    assert(got == Seq((1L, "A", 11, "keep1"), (2L, "b", 20, "keep2"),
      (3L, "c", 30, "keep3")))
  }

  test("partial update with a NEW column widens matched rows only (plus inserts)") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root, "k", numBuckets = 2)
    MergeInto.mergeBatch(spark,
      Seq((1L, "zzz", 0.9)).toDF("k", "ignored", "score"),
      root, "k", numBuckets = 2, updateCols = Seq("score"))
    val got = MergeInto.readTable(spark, root)
      .select(col("k"), col("s"), col("score"))
      .as[(Long, String, Option[Double])].collect().sorted.toSeq
    // k=1 gains score, keeps s (the source's other column never lands);
    // k=2 untouched, reads null for the new column
    assert(got == Seq((1L, "a", Some(0.9)), (2L, "b", None)))
  }

  test("bucket count is immutable after the first commit") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    MergeInto.mergeBatch(spark, Seq((1L, "a")).toDF("k", "s"),
      root, "k", numBuckets = 4)
    val err = intercept[IllegalArgumentException] {
      MergeInto.mergeBatch(spark, Seq((2L, "b")).toDF("k", "s"),
        root, "k", numBuckets = 8)
    }
    assert(err.getMessage.contains("immutable"))
  }

  test("point lookup reads only the key's bucket") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    MergeInto.mergeBatch(spark,
      (0L until 100L).map(i => (i, s"v$i")).toDF("k", "s"),
      root, "k", numBuckets = 16)
    val hit = MergeInto.lookupKey(spark, root, "k", 42L)
    assert(hit.select("k", "s").as[(Long, String)].collect().toSeq ==
      Seq((42L, "v42")))
    // plan-level proof: the lookup's scan touches ONE bucket directory
    val dirs = hit.inputFiles.map(f =>
      f.substring(0, f.lastIndexOf('/'))).distinct
    assert(dirs.length == 1 && dirs.head.contains("__dir="),
      s"lookup read ${dirs.length} bucket dirs: ${dirs.mkString(",")}")
    // absent key in an existing bucket → empty
    assert(MergeInto.lookupKey(spark, root, "k", 4242L).count() == 0)
  }

  test("deleteWhere rewrites only matching buckets; NULL predicate rows " +
       "are kept; no-match is a version no-op") {
    val root = java.nio.file.Files.createTempDirectory("merge").toString
    MergeInto.mergeBatch(spark,
      (0L until 100L).map(i =>
        (i, if (i == 7) null else s"u${i % 10}")).toDF("k", "owner"),
      root, "k", numBuckets = 8)
    val before = ManifestStore.latest(spark, root).get

    // GDPR-style erasure of one owner's rows (predicate is NULL for k=7,
    // which SQL DELETE keeps)
    val deleted = MergeInto.deleteWhere(spark, root, col("owner") === "u3")
    assert(deleted == 10)
    val after = ManifestStore.latest(spark, root).get
    assert(after.version == before.version + 1)
    val got = table(root).select("k").as[Long].collect().toSet
    assert(got.size == 90 && !got.exists(_ % 10 == 3) && got.contains(7L))

    // buckets with no matching rows carried their entries forward verbatim
    val changed = after.entries.filter { case (slot, rel) =>
      !ManifestStore.isMetaSlot(slot) && before.entries.get(slot) != Some(rel)
    }
    assert(changed.nonEmpty && changed.size < 8,
      s"expected a strict subset of buckets rewritten, got ${changed.size}")

    // no-match delete: no new version, nothing changes
    assert(MergeInto.deleteWhere(spark, root, col("owner") === "nobody") == 0)
    assert(ManifestStore.latest(spark, root).get.version == after.version)
  }

  private def recordedFields(root: String): Seq[String] = {
    val json = ManifestStore.latest(spark, root).get
      .entries(MergeInto.SchemaSlot)
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
  }

  test("recorded schema: the manifest slot — not file footers — drives " +
      "an evolved read, and pre-evolution buckets NULL-extend through it") {
    val root = java.nio.file.Files.createTempDirectory("schema").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root, "k", numBuckets = 2)
    assert(recordedFields(root).sorted == Seq("__bucket", "k", "s"))
    // evolve: `score` lands in k=1's bucket only; the slot unions it in
    MergeInto.mergeBatch(spark,
      Seq((1L, "A", 0.9)).toDF("k", "s", "score"), root, "k", numBuckets = 2)
    assert(recordedFields(root).sorted == Seq("__bucket", "k", "s", "score"))
    // the pre-evolution bucket (k=2, never rewritten) NULL-extends under
    // the explicit recorded schema — no footer reconciliation involved
    val got = table(root).select(col("k"), col("score"))
      .as[(Long, Option[Double])].collect().sorted.toSeq
    assert(got == Seq((1L, Some(0.9)), (2L, None)))
    // PROOF the read plans from the slot and not from footers: tamper the
    // recorded schema (drop `score`) in a metadata-only commit — the
    // files still contain the column, so a footer-driven read would keep
    // showing it; the slot-driven read must not.
    val snap = ManifestStore.latest(spark, root).get
    val full = org.apache.spark.sql.types.DataType
      .fromJson(snap.entries(MergeInto.SchemaSlot))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val narrowed = org.apache.spark.sql.types.StructType(
      full.fields.filterNot(_.name == "score"))
    ManifestStore.commit(spark, root, ManifestStore.versionAfter(Some(snap)),
      snap.entries + (MergeInto.SchemaSlot -> narrowed.json))
    assert(!table(root).columns.contains("score"),
      "read consulted file footers instead of the recorded schema")
    // time travel to the untampered snapshot still reads the full schema
    assert(MergeInto.readTableAt(spark, root, snap.version)
      .columns.contains("score"))
  }

  test("recorded schema: a same-name type change is refused loudly") {
    val root = java.nio.file.Files.createTempDirectory("schema").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, 10)).toDF("k", "v"), root, "k", numBuckets = 2)
    val e = intercept[IllegalArgumentException] {
      MergeInto.mergeBatch(spark,
        Seq((2L, "ten")).toDF("k", "v"), root, "k", numBuckets = 2)
    }
    assert(e.getMessage.contains("type evolution is not supported"))
  }

  test("pre-slot table: footer-merge fallback reads correctly and the " +
      "next write backfills the slot") {
    val root = java.nio.file.Files.createTempDirectory("preslot").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root, "k", numBuckets = 2)
    MergeInto.mergeBatch(spark,
      Seq((1L, "A", 0.9)).toDF("k", "s", "score"), root, "k", numBuckets = 2)
    // simulate a table committed before the slot existed
    val snap = ManifestStore.latest(spark, root).get
    ManifestStore.commit(spark, root, ManifestStore.versionAfter(Some(snap)),
      snap.entries - MergeInto.SchemaSlot)
    assert(!ManifestStore.latest(spark, root).get.entries
      .contains(MergeInto.SchemaSlot))
    // fallback read: schema-merged across generations, rows intact
    val got = table(root).select(col("k"), col("score"))
      .as[(Long, Option[Double])].collect().sorted.toSeq
    assert(got == Seq((1L, Some(0.9)), (2L, None)))
    // any data-writing statement backfills the union schema into the slot
    MergeInto.mergeBatch(spark, Seq((3L, "c")).toDF("k", "s"),
      root, "k", numBuckets = 2)
    assert(recordedFields(root).sorted == Seq("__bucket", "k", "s", "score"))
  }

  test("table reads plan from manifest file statuses: metadata-fed " +
      "index, exact optimizer stats, fallback when stats are absent") {
    val root = java.nio.file.Files.createTempDirectory("fstats").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"),
      root, "k", numBuckets = 2)
    val df = table(root)
    assert(df.queryExecution.executedPlan.toString
      .contains("ManifestFileIndex"),
      "merge-table read planned through a listing-based FileIndex")
    assert(df.select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // a manifest stripped of its __fs: slots (pre-stats table) falls
    // back to the listed read — same rows, listing-based plan
    val snap = ManifestStore.latest(spark, root).get
    ManifestStore.commit(spark, root, ManifestStore.versionAfter(Some(snap)),
      snap.entries.filterNot(_._1.startsWith(ManifestStore.FileStatsPrefix)))
    // (commit re-records stats for still-referenced dirs — strip must
    // therefore be asserted against what commit actually kept)
    val s2 = ManifestStore.latest(spark, root).get
    val hasStats = s2.entries.keys
      .exists(_.startsWith(ManifestStore.FileStatsPrefix))
    val df2 = table(root)
    assert(df2.select("k").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    assert(hasStats == df2.queryExecution.executedPlan.toString
      .contains("ManifestFileIndex"))
  }

  test("export: at-version sidecar round-trip; a stale export of a " +
      "vacuumed version fails loudly, never reads partial data") {
    val root = java.nio.file.Files.createTempDirectory("export").toString
    MergeInto.mergeBatch(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root, "k", numBuckets = 2)
    MergeInto.mergeBatch(spark,
      Seq((1L, "A", 0.9), (3L, "c", 0.1)).toDF("k", "s", "score"),
      root, "k", numBuckets = 2)
    val (v1, m1) = MergeInto.exportFileManifestAt(spark, root, 1L)
    assert(v1 == 1L)
    // schema sidecar exported beside the list — the v1 export reads the
    // NARROW as-of schema even though later files carry `score`
    val r1 = MergeInto.readExport(spark, m1)
    assert(r1.columns.sorted.toSeq == Seq("__bucket", "k", "s"))
    assert(r1.select("k", "s").as[(Long, String)].collect().sorted.toSeq
      == Seq((1L, "a"), (2L, "b")))
    // exporting a never-committed version names the available ones
    assert(intercept[IllegalStateException] {
      MergeInto.exportFileManifestAt(spark, root, 99L)
    }.getMessage.contains("no such committed manifest"))
    // full rewrite orphans v1's files, vacuum reclaims them → the stale
    // v1 export must fail LOUDLY naming a missing file
    MergeInto.syncSnapshot(spark,
      Seq((1L, "Z", 1.0)).toDF("k", "s", "score"), root, "k",
      numBuckets = 2)
    ManifestStore.vacuum(spark, root)
    val e = intercept[IllegalArgumentException] {
      MergeInto.readExport(spark, m1)
    }
    assert(e.getMessage.contains("no longer exist"))
    // and the CURRENT snapshot exports + reads back fine after vacuum
    val (_, m3) = MergeInto.exportFileManifest(spark, root)
    assert(MergeInto.readExport(spark, m3).select("k", "s", "score")
      .as[(Long, String, Double)].collect().toSeq == Seq((1L, "Z", 1.0)))
  }
}
