package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.SparkSpec
import graft.streaming.Scd2Stream.{Change, Version}

/** Crash-injection coverage for the manifest-pointer commit protocol: a
  * writer killed between the data write (stage) and the manifest publish
  * (commit) must leave every reader on the OLD table state — never a mix of
  * old and new buckets, never a torn read.
  */
class ManifestStoreSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000)
  private def chg(id: Long, st: String, lsn: Long, t: Long) =
    Change(id, Option(st), Some(lsn * 1.0), "UPDATE", lsn, ts(t))

  private def versionsOf(changes: Seq[Change]): Seq[Version] =
    changes.groupBy(_.id).toSeq.flatMap { case (id, evs) =>
      Scd2Stream.foldKey(id, evs, None)
    }

  test("crash between stage and commit: readers see the old dimension " +
       "exactly; commit flips them to the new one; vacuum reclaims orphans") {
    val dim = Files.createTempDirectory("graft-manifest").toString + "/dim"

    // Commit 1: two keys.
    Scd2Stream.upsertBatch(spark,
      versionsOf(Seq(chg(1, "a", 1, 10), chg(2, "x", 1, 15))).toDS(), dim)
    val before = Scd2Stream.readDimension(spark, dim).collect().toSet
    assert(before.map(_.id) == Set(1L, 2L))

    // "Crash": stage a second batch (touches key 1 AND new key 3) but die
    // before the manifest commit.
    val staged = versionsOf(Seq(chg(1, "b", 2, 20), chg(3, "z", 1, 30)))
    val liveDirs = ManifestStore.latest(spark, dim).get.entries.values
      .map(_.split('/').take(2).mkString("/")).toSet
    val (stagedVersion, stagedEntries) =
      Scd2Stream.stageBatch(spark, staged.toDS(), dim, 64).get

    // The staged files exist on disk (under the staging's writer-unique
    // data dir — the one entry dir that wasn't live before)...
    def newDirs(entries: Map[String, String]) = entries.values
      .map(_.split('/').take(2).mkString("/")).toSet -- liveDirs
    val stagedDir = newDirs(stagedEntries).head
    assert(Files.exists(Paths.get(dim, stagedDir)))
    // ...but every read still resolves the OLD manifest: identical rows, no
    // mix (key 1 not updated, key 3 absent).
    assert(Scd2Stream.readDimension(spark, dim).collect().toSet == before)

    // Recovery path A — the writer retries the whole batch: same CAS
    // version (nothing committed since), but a DISJOINT writer-unique
    // staging dir — no collision with the orphan...
    val (retryVersion, retryEntries) =
      Scd2Stream.stageBatch(spark, staged.toDS(), dim, 64).get
    assert(retryVersion >= stagedVersion)
    assert(newDirs(retryEntries).head != stagedDir)
    ManifestStore.commit(spark, dim, retryVersion, retryEntries)
    val after = Scd2Stream.readDimension(spark, dim).collect()
    assert(after.map(_.id).toSet == Set(1L, 2L, 3L))
    assert(after.count(_.id == 1L) == 2) // a(closed) + b(open)
    // the first, never-committed staging is dead weight, not data
    assert(ManifestStore.latest(spark, dim).get.version == retryVersion)

    // Recovery path B — the ORIGINAL crashed writer wakes up and tries to
    // commit its stale staging: its version is now below the latest commit,
    // so the publish must fail loudly (conflict, not a silently invisible
    // manifest).
    intercept[IllegalStateException] {
      ManifestStore.commit(spark, dim, stagedVersion, stagedEntries)
    }

    // Vacuum drops the orphaned staging dir and superseded data, keeps all
    // live entries readable.
    ManifestStore.vacuum(spark, dim)
    assert(!Files.exists(Paths.get(dim, stagedDir)))
    assert(Scd2Stream.readDimension(spark, dim).collect().toSet ==
      after.toSet)
  }

  test("incomplete manifest temp files are never resolved as a commit") {
    val dim = Files.createTempDirectory("graft-manifest-tmp").toString + "/dim"
    Scd2Stream.upsertBatch(spark,
      versionsOf(Seq(chg(1, "a", 1, 10))).toDS(), dim)
    val v1 = ManifestStore.latest(spark, dim).get

    // A writer died mid-write of the NEXT manifest: a dot-temp with partial
    // content sits in _manifests/.
    Files.write(
      Paths.get(dim, "_manifests", ".tmp-v00000000000000000099-dead"),
      "99\ngarbage".getBytes)
    assert(ManifestStore.latest(spark, dim).get == v1)
  }

  test("the append-only dedup store ignores uncommitted segments") {
    val store = Files.createTempDirectory("graft-manifest-seg").toString + "/s"
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "wholly unrelated text"))
      .toDF("doc_id", "text")
    IncrementalDedupStream.appendBatch(docs, store, "text", "doc_id",
      tau = 0.8, shingleN = 3, bands = 4, rowsPerBand = 3)
    val committed = ManifestStore.read(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(committed == Seq(1L, 2L))

    // Crash: a segment written but never committed.
    val orphanRel = ManifestStore.dataRel(
      ManifestStore.versionAfter(ManifestStore.latest(spark, store)))
    Seq((99L, "orphan row")).toDF("doc_id", "text")
      .write.parquet(s"$store/$orphanRel")
    assert(ManifestStore.read(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))

    // The next successful append must not collide with the orphan and must
    // leave exactly the committed rows visible.
    IncrementalDedupStream.appendBatch(
      Seq((3L, "a third completely different document")).toDF("doc_id", "text"),
      store, "text", "doc_id", 0.8, 3, 4, 3)
    assert(ManifestStore.read(spark, store)
      .select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("duplicate commit of the same version fails loudly") {
    val root = Files.createTempDirectory("graft-manifest-dup").toString + "/t"
    Seq((1L, "x")).toDF("id", "v").write.parquet(s"$root/data/v1")
    ManifestStore.commit(spark, root, 1L, Map("s" -> "data/v1"))
    intercept[IllegalStateException] {
      ManifestStore.commit(spark, root, 1L, Map("s" -> "data/v1"))
    }
  }

  test("versions are dense: a gapped commit is refused") {
    val root = Files.createTempDirectory("graft-manifest-gap").toString + "/t"
    ManifestStore.commit(spark, root, 1L, Map("a" -> "data/v1"))
    // density is what makes the latest-hint forward probe sound — a
    // committed version must never hide above a gap
    intercept[IllegalStateException] {
      ManifestStore.commit(spark, root, 3L, Map("a" -> "data/v3"))
    }
    ManifestStore.commit(spark, root, 2L, Map("a" -> "data/v2"))
    assert(ManifestStore.latest(spark, root).get.version == 2L)
  }

  test("latest() survives a stale, corrupt, or missing hint") {
    val root = Files.createTempDirectory("graft-manifest-hint").toString + "/t"
    (1 to 5).foreach(v =>
      ManifestStore.commit(spark, root, v.toLong, Map("a" -> s"data/v$v")))
    val hint = Paths.get(root, "_manifests", "_latest.hint")
    assert(Files.exists(hint)) // commit maintains it
    assert(ManifestStore.latest(spark, root).get.version == 5L)

    // stale (points behind): the forward probe walks to the newest
    Files.writeString(hint, "2")
    assert(ManifestStore.latest(spark, root).get.version == 5L)

    // corrupt: ignored, full-listing fallback
    Files.writeString(hint, "not-a-number")
    assert(ManifestStore.latest(spark, root).get.version == 5L)

    // ahead of reality (phantom version): unverifiable, fallback
    Files.writeString(hint, "99")
    assert(ManifestStore.latest(spark, root).get.version == 5L)

    // missing: fallback
    Files.delete(hint)
    assert(ManifestStore.latest(spark, root).get.version == 5L)

    // a fresh commit repairs it and the fast path resumes
    ManifestStore.commit(spark, root, 6L, Map("a" -> "data/v6"))
    assert(Files.readString(hint).trim == "6")
    assert(ManifestStore.latest(spark, root).get.version == 6L)

    // the hint never leaks into history or time travel
    assert(ManifestStore.versions(spark, root) == (1L to 6L))
    assert(ManifestStore.snapshotAt(spark, root, 3L).get
      .entries("a") == "data/v3")
  }

  test("commit records __fs: file statuses for new data dirs, carries " +
      "them forward, drops stale ones; fileStats round-trips") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("fstats").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "s")
      .coalesce(1).write.parquet(s"$root/data/v1/d0")
    ManifestStore.commit(spark, root, 1L, Map("0" -> "data/v1/d0"))
    val s1 = ManifestStore.latest(spark, root).get
    val slot = ManifestStore.FileStatsPrefix + "data/v1/d0"
    assert(s1.entries.contains(slot), s"missing $slot in ${s1.entries}")
    val stats = ManifestStore.fileStats(root, s1, Seq("data/v1/d0")).get
    assert(stats.nonEmpty)
    stats.foreach { case (p, len, _) =>
      val f = new java.io.File(new java.net.URI("file://" + p).getPath)
      assert(f.exists() && f.length() == len, s"wrong stats for $p")
    }
    // carry the entry forward + replace it with a new dir: the stale
    // slot is dropped, the new dir gains one (no writer involvement)
    Seq((3L, "c")).toDF("k", "s")
      .coalesce(1).write.parquet(s"$root/data/v2/d0")
    ManifestStore.commit(spark, root, 2L,
      s1.entries - "0" + ("0" -> "data/v2/d0"))
    val s2 = ManifestStore.latest(spark, root).get
    assert(!s2.entries.contains(slot))
    assert(s2.entries.contains(ManifestStore.FileStatsPrefix + "data/v2/d0"))
    // incomplete coverage -> None (never a partial plan)
    assert(ManifestStore.fileStats(root, s2,
      Seq("data/v2/d0", "data/v9/nope")).isEmpty)
    // history keeps the as-of stats
    assert(ManifestStore.snapshotAt(spark, root, 1L).get
      .entries.contains(slot))
  }

  /** The `listFiles(base, true)` encoding `statFiles` produced before it
    * switched to a `listStatus` walk — kept as the oracle the walk must
    * reproduce byte for byte.
    */
  private def listFilesStats(f: FileSystem, root: String,
      rel: String): Option[String] = {
    val base = new Path(s"$root/$rel")
    if (!f.exists(base)) return None
    val baseUri = base.toUri.getPath.stripSuffix("/")
    val it = f.listFiles(base, true)
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (name.endsWith(".parquet") || name.startsWith("part-")) {
        val relName = st.getPath.toUri.getPath
          .stripPrefix(baseUri).stripPrefix("/")
        if (relName.exists(c => "|;\t\n\r".contains(c))) return None
        parts += s"$relName|${st.getLen}|${st.getModificationTime}"
      }
    }
    Some(parts.sorted.mkString(";"))
  }

  test("statFiles' listStatus walk encodes every entry shape exactly as " +
       "the listFiles walk did") {
    val root = Files.createTempDirectory("graft-statfiles").toString
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a staged version dir: one-file bucket dirs, each with a .crc sidecar,
    // under a parent holding _SUCCESS
    val written = MergeInto.stageBuckets(spark,
      Seq((1L, 3), (2L, 5), (3L, 5)).toDF("id", "__bucket"), root, "data/v1")
    assert(written == Set(3, 5))
    val part = new java.io.File(s"$root/data/v1/__dir=3").list()
      .filter(_.startsWith("part-")).head
    // a plain Spark write: several part files plus _SUCCESS and .crc files
    spark.range(0, 100, 1, 3).write.parquet(s"$root/plain")
    assert(new java.io.File(s"$root/plain").list()
      .exists(n => n.endsWith(".crc")))
    // a file whose name carries a manifest delimiter cannot be encoded
    Files.createDirectories(Paths.get(root, "odd"))
    Files.write(Paths.get(root, "odd", "part-a;b.parquet"), Array[Byte](1))
    val shapes = Seq(
      "data/v1/__dir=3" -> 1, // one-file bucket directory
      "data/v1" -> 2, // nested directory
      s"data/v1/__dir=3/$part" -> 1, // single-file entry: empty rel name
      "plain" -> 3) // _SUCCESS and .crc files beside the data
    shapes.foreach { case (rel, files) =>
      val got = ManifestStore.statFiles(f, root, rel)
      assert(got == listFilesStats(f, root, rel), rel)
      assert(got.get.split(';').length == files, rel)
    }
    assert(ManifestStore.statFiles(f, root, s"data/v1/__dir=3/$part").get
      .startsWith("|"))
    Seq("odd", "missing").foreach { rel =>
      assert(ManifestStore.statFiles(f, root, rel).isEmpty, rel)
      assert(listFilesStats(f, root, rel).isEmpty, rel)
    }
  }

  test("dimensionStream commits dense versions whose entries point into " +
       "their own staging dir and carry the listFiles-identical stats") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-dim-manifests").toString
    val dim = s"$base/dim"
    val f = new Path(dim).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Change]
    val q = Scd2Stream.dimensionStream(input.toDS(), dim, s"$base/ckpt",
      numBuckets = 8)
    try {
      Seq(Seq(chg(1, "a", 1, 10), chg(2, "x", 1, 15), chg(3, "p", 1, 16)),
          Seq(chg(1, "b", 2, 20), chg(4, "q", 1, 21)),
          Seq(chg(2, "y", 2, 25), chg(1, "c", 3, 30))).foreach { b =>
        input.addData(b)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(ManifestStore.versions(spark, dim) == Seq(1L, 2L, 3L))
    var prev = Map.empty[String, String]
    (1L to 3L).foreach { v =>
      val e = ManifestStore.snapshotAt(spark, dim, v).get.entries
      val data = e.filterNot(kv => ManifestStore.isMetaSlot(kv._1))
      // rewritten slots point into this version's staging dir, the rest
      // carry forward unchanged
      data.foreach { case (slot, rel) =>
        if (!prev.get(slot).contains(rel))
          assert(rel.startsWith(f"data/v$v%020d-") &&
            rel.endsWith(s"/__dir=$slot"), s"v$v slot $slot -> $rel")
      }
      assert(prev.keySet.subsetOf(data.keySet))
      assert(e(MergeInto.NumBucketsSlot) == "8")
      assert(e(MergeInto.BucketKeySlot) == "id")
      // one stats slot per referenced dir, as the oracle lists it now
      val stats = e.filter(_._1.startsWith(ManifestStore.FileStatsPrefix))
      assert(stats.keySet == data.values
        .map(ManifestStore.FileStatsPrefix + _).toSet)
      data.values.foreach { rel =>
        assert(stats.get(ManifestStore.FileStatsPrefix + rel) ==
          listFilesStats(f, dim, rel), rel)
      }
      prev = data
    }
  }
}
