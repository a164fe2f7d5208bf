package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Range-clustered table with manifest ZONE MAPS — the data-skipping half of
  * a transactional table format (Delta `OPTIMIZE ZORDER` / liquid clustering,
  * Iceberg sort orders + manifest column stats), built on [[ManifestStore]]'s
  * atomic commits.
  *
  * Why it matters at 100 TB: a time-range query against an unclustered table
  * must open every file, because every file spans the full value range. Here
  * the writer range-partitions on ONE clustering column so each segment owns
  * a disjoint value slice, records each segment's min/max in the manifest
  * (metadata slots, committed atomically with the data), and [[rangeScan]]
  * prunes on the driver from the manifest alone — planning is O(manifest),
  * no listing, no footer reads, and only overlapping segments are ever
  * opened. A day's query against a year of history reads ~1/365 of the
  * files instead of all of them.
  *
  * The residual predicate is still applied to the survivors (zone maps are
  * a superset filter), and it lands in the parquet scan's `PushedFilters`,
  * so within a kept segment row-group stats prune again — two tiers of
  * skipping from one declarative filter.
  *
  * Determinism note: `repartitionByRange` samples to pick bounds, which is
  * seed-stable for a given input, but the CONTENT of the table never depends
  * on where a boundary lands — only which segment a row sits in. Readers
  * always apply the residual filter, so query results are boundary-invariant
  * (the spec asserts rangeScan ≡ full-scan filter on every probe).
  */
object ClusteredTable {

  /** Metadata slot names. Zone values are typed-encoded (see [[encode]]);
    * an all-null segment stores the `N:` marker and is skippable for every
    * range because a range predicate never matches NULL.
    */
  private val ClusterColSlot = "__clusterCol"
  private def zminSlot(seg: Int) = s"__zmin.$seg"
  private def zmaxSlot(seg: Int) = s"__zmax.$seg"
  private def zrowsSlot(seg: Int) = s"__zrows.$seg"

  /** Typed order-preserving encoding for manifest metadata values. Strings
    * are URL-encoded so the manifest's tab-separated line format can never
    * be corrupted by data bytes.
    */
  private[streaming] def encode(v: Any): String = v match {
    case null                       => "N:"
    case l: Long                    => s"L:$l"
    case i: Int                     => s"L:${i.toLong}"
    case d: Double                  => s"D:$d"
    case t: java.sql.Timestamp      => s"T:${t.getTime * 1000 + t.getNanos / 1000 % 1000}"
    case t: java.time.LocalDateTime =>
      s"T:${t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000}"
    case d: java.sql.Date           => s"A:${d.toLocalDate.toEpochDay}"
    case d: java.time.LocalDate     => s"A:${d.toEpochDay}"
    case s: String =>
      "S:" + java.net.URLEncoder.encode(s, "UTF-8")
    case o => throw new IllegalArgumentException(
      s"unsupported clustering value type ${o.getClass.getName}")
  }

  /** Driver-side ordering on encoded values; None = all-null segment. */
  private[streaming] def decode(e: String): Option[Any] = {
    val (tag, body) = (e.take(2), e.drop(2))
    tag match {
      case "N:" => None
      case "L:" => Some(body.toLong)
      case "D:" => Some(body.toDouble)
      case "T:" => Some(body.toLong) // epoch micros
      case "A:" => Some(body.toLong) // epoch days
      case "S:" => Some(java.net.URLDecoder.decode(body, "UTF-8"))
      case _ => throw new IllegalArgumentException(s"bad zone value: $e")
    }
  }

  private def lt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long)     => x < y
    case (x: Double, y: Double) => x < y
    case (x: String, y: String) => x < y
    case _ => throw new IllegalArgumentException(
      s"zone bound type mismatch: ${a.getClass} vs ${b.getClass}")
  }

  /** Write `df` as a new clustered-table version: range-partition on
    * `clusterCol` into ~`numSegments` disjoint value slices, stage each
    * slice as an immutable segment directory, record per-segment min/max
    * zone values, and commit everything in ONE atomic manifest.
    *
    * Each call commits a full replacement snapshot (like `INSERT OVERWRITE`
    * of a clustered table); incremental appends would stage additional
    * segments and merge manifests, which [[MergeInto]] already demonstrates
    * for the bucketed layout.
    */
  def write(spark: SparkSession, df: DataFrame, root: String,
            clusterCol: String, numSegments: Int): Unit = {
    require(numSegments >= 1, "need at least one segment")
    val version = ManifestStore.versionAfter(ManifestStore.latest(spark, root))
    val rel = ManifestStore.dataRel(version)
    // repartitionByRange puts NULLs first and assigns each partition a
    // disjoint slice of the cluster column; the partition id IS the
    // segment id, so __seg doubles as the Hive partition directory.
    // sortWithinPartitions: rows inside a segment are ordered by the
    // cluster column, so parquet row-group min/max are tight slices and
    // the pushed residual filter skips row groups, not just segments
    df.repartitionByRange(numSegments, col(clusterCol))
      .sortWithinPartitions(col(clusterCol))
      .withColumn("__seg", spark_partition_id())
      .write.mode("errorifexists").partitionBy("__seg")
      .parquet(s"$root/$rel")
    // Zone stats: one narrow agg over the just-written data (cluster column
    // + partition column only). Driver collect is bounded by numSegments.
    val stats = spark.read.parquet(s"$root/$rel")
      .groupBy(col("__seg"))
      .agg(min(col(clusterCol)).as("mn"), max(col(clusterCol)).as("mx"),
        count(lit(1)).as("n"))
      .collect()
    val entries = stats.flatMap { r =>
      val seg = r.getInt(0)
      Seq(seg.toString -> s"$rel/__seg=$seg",
        zminSlot(seg) -> encode(r.get(1)),
        zmaxSlot(seg) -> encode(r.get(2)),
        zrowsSlot(seg) -> r.getLong(3).toString)
    }.toMap + (ClusterColSlot -> clusterCol) +
      // recorded schema: pruned reads pass it explicitly (and with the
      // commit-recorded __fs: statuses plan with zero filesystem I/O)
      (MergeInto.SchemaSlot -> df.schema.json)
    ManifestStore.commit(spark, root, version, entries)
  }

  /** Incremental ingest: range-partition the BATCH on the table's
    * clustering column, stage its segments, and commit them alongside the
    * existing ones (slot ids continue from the current maximum). Appended
    * batches may OVERLAP existing segments' value ranges — correctness is
    * untouched (zone pruning is a superset filter and the residual
    * predicate always runs), but a range query may open more segments
    * after many out-of-order appends. [[optimize]] restores the tight
    * layout; this is exactly the ingest-vs-OPTIMIZE split of a table
    * format's clustering story.
    */
  def append(spark: SparkSession, df: DataFrame, root: String,
             segmentsPerBatch: Int): Unit = {
    val snap = ManifestStore.latest(spark, root).getOrElse(
      throw new IllegalStateException(
        s"no clustered table under $root — use write first"))
    val cc = clusterColOf(spark, root)
    val version = ManifestStore.versionAfter(Some(snap))
    val rel = ManifestStore.dataRel(version)
    df.repartitionByRange(segmentsPerBatch, col(cc))
      .sortWithinPartitions(col(cc))
      .withColumn("__seg", spark_partition_id())
      .write.mode("errorifexists").partitionBy("__seg")
      .parquet(s"$root/$rel")
    val stats = spark.read.parquet(s"$root/$rel")
      .groupBy(col("__seg"))
      .agg(min(col(cc)).as("mn"), max(col(cc)).as("mx"),
        count(lit(1)).as("n"))
      .collect()
    val base = snap.entries.keys
      .collect { case s if !ManifestStore.isMetaSlot(s) => s.toInt }
      .foldLeft(-1)(math.max) + 1
    val added = stats.flatMap { r =>
      val dir = r.getInt(0)
      val slot = base + dir
      Seq(slot.toString -> s"$rel/__seg=$dir",
        zminSlot(slot) -> encode(r.get(1)),
        zmaxSlot(slot) -> encode(r.get(2)),
        zrowsSlot(slot) -> r.getLong(3).toString)
    }.toMap
    // The recorded schema must COVER the appended batch, not just the
    // original write: carrying the old slot verbatim would make the
    // explicit-schema fast path silently drop a column a later batch
    // added. Union like MergeInto does (old segments NULL-extend; a
    // same-name type change is refused loudly there).
    val schemaSlot = snap.entries.get(MergeInto.SchemaSlot).map { prev =>
      MergeInto.SchemaSlot -> MergeInto.unionSchema(
        DataType.fromJson(prev).asInstanceOf[StructType], df.schema).json
    }
    ManifestStore.commit(spark, root, version,
      snap.entries ++ added ++ schemaSlot)
  }

  /** Re-cluster the whole table into `numSegments` disjoint slices and
    * commit the result as a full replacement snapshot (the OPTIMIZE /
    * re-cluster maintenance pass). Old versions stay time-travelable until
    * [[ManifestStore.vacuum]].
    */
  def optimize(spark: SparkSession, root: String, numSegments: Int): Unit = {
    val cc = clusterColOf(spark, root)
    write(spark, readTable(spark, root), root, cc, numSegments)
  }

  /** METADATA-ONLY COUNT(*): resolved entirely from the manifest's
    * per-segment row stats — zero data files opened, zero tasks launched,
    * the table-format trick behind instant counts at any table size.
    */
  def fastCount(spark: SparkSession, root: String): Long = {
    val snap = ManifestStore.latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no clustered table under $root"))
    // toSeq before mapping to counts: the key set's Set semantics would
    // otherwise collapse equal per-segment counts before the sum
    snap.entries.keys
      .collect { case s if !ManifestStore.isMetaSlot(s) => s.toInt }
      .toSeq
      .map { seg =>
        snap.entries.getOrElse(zrowsSlot(seg),
          throw new IllegalStateException(
            s"segment $seg has no row stats — table predates them; " +
              s"run optimize to rewrite with stats")).toLong
      }.sum
  }

  /** The clustering column a table was written with. */
  def clusterColOf(spark: SparkSession, root: String): String =
    ManifestStore.latest(spark, root).getOrElse(throw new IllegalStateException(
      s"no committed clustered table under $root"))
      .entries.getOrElse(ClusterColSlot, throw new IllegalStateException(
        s"table at $root carries no $ClusterColSlot metadata"))

  /** PRUNING DECISION, driver-side, manifest-only: the segment ids whose
    * [min, max] zone intersects [lo, hi] (either bound optional). All-null
    * segments never match a range. Exposed for the spec and for plan
    * assertions; [[rangeScan]] is the reading twin.
    */
  def resolveSegments(spark: SparkSession, root: String,
                      lo: Option[Any], hi: Option[Any]): Seq[Int] = {
    val snap = ManifestStore.latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed table under $root"))
    val loE = lo.map(v => decode(encode(v)).get)
    val hiE = hi.map(v => decode(encode(v)).get)
    snap.entries.keys.collect {
      case slot if !ManifestStore.isMetaSlot(slot) => slot.toInt
    }.toSeq.sorted.filter { seg =>
      (decode(snap.entries(zminSlot(seg))), decode(snap.entries(zmaxSlot(seg)))) match {
        case (Some(mn), Some(mx)) =>
          // overlap: NOT (segment entirely below lo or entirely above hi)
          !loE.exists(l => lt(mx, l)) && !hiE.exists(h => lt(h, mn))
        case _ =>
          // all-null segment: no range PREDICATE matches NULL, but a fully
          // unbounded scan has no predicate — it must equal readTable,
          // null rows included (mixed segments already return theirs)
          loE.isEmpty && hiE.isEmpty
      }
    }
  }

  /** Range query with manifest pruning: open ONLY the overlapping segments,
    * then apply the residual predicate (which Spark pushes into the parquet
    * scan, so row-group stats prune a second time). Bounds are inclusive;
    * either side may be open.
    */
  def rangeScan(spark: SparkSession, root: String,
                lo: Option[Any], hi: Option[Any]): DataFrame = {
    val snap = ManifestStore.latest(spark, root).get
    val cc = clusterColOf(spark, root)
    val segs = resolveSegments(spark, root, lo, hi)
    if (segs.isEmpty) {
      // nothing can match: an empty frame with the RECORDED table schema
      // (segmentRead over every segment, never executed)
      segmentRead(spark, root, snap, allSegments(snap))
        .drop("__seg").filter(lit(false))
    } else {
      val base = segmentRead(spark, root, snap, segs)
      val residual = (lo.map(col(cc) >= lit(_)) ++ hi.map(col(cc) <= lit(_)))
        .reduceOption(_ && _).getOrElse(lit(true))
      base.filter(residual).drop("__seg")
    }
  }

  /** Read the chosen segments. With a recorded schema AND recorded file
    * statuses (both manifest metadata), the scan is built with zero
    * filesystem calls; otherwise falls back to the listed, footer-
    * inferred read.
    */
  private def segmentRead(spark: SparkSession, root: String,
      snap: ManifestStore.Snapshot, segs: Seq[Int]): DataFrame = {
    val rels = segs.map(s => snap.entries(s.toString))
    val fast = for {
      sj <- snap.entries.get(MergeInto.SchemaSlot)
      files <- ManifestStore.fileStats(root, snap, rels)
      if files.nonEmpty
    } yield org.apache.spark.sql.GraftFiles.parquet(spark, files,
      DataType.fromJson(sj).asInstanceOf[StructType])
    fast.getOrElse(
      spark.read.parquet(rels.map(rel => s"$root/$rel"): _*))
  }

  private def allSegments(snap: ManifestStore.Snapshot): Seq[Int] =
    snap.entries.keys
      .collect { case s if !ManifestStore.isMetaSlot(s) => s.toInt }
      .toSeq.sorted

  /** Full table (every segment), bookkeeping column dropped. Goes through
    * [[segmentRead]] so the RECORDED schema governs — after an append
    * widened the table, a single-footer read would miss the new column.
    */
  def readTable(spark: SparkSession, root: String): DataFrame = {
    val snap = ManifestStore.latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no clustered table under $root"))
    segmentRead(spark, root, snap, allSegments(snap)).drop("__seg")
  }

  // ---------------------------------------------------------------------
  // Z-ORDER (multi-dimensional) clustering — the OPTIMIZE ZORDER BY (a, b)
  // half of the table-format story. 1-D range clustering makes range
  // queries on THE clustering column cheap and leaves every other column
  // unclustered; Morton-interleaving two columns' quantized ranks gives
  // BOTH columns locality, so a 2-D box query prunes on two zone maps at
  // once. Layout is a pure performance choice: readers always apply the
  // residual predicate, so results are identical under any clustering
  // (the spec asserts zScan ≡ full-scan filter on every probe).
  // ---------------------------------------------------------------------

  private val ZColsSlot = "__zCols"
  private def zminSlot2(c: Int, seg: Int) = s"__zmin$c.$seg"
  private def zmaxSlot2(c: Int, seg: Int) = s"__zmax$c.$seg"

  /** Spread the low 16 bits of a non-negative long so one zero bit
    * separates consecutive data bits (the classic mask-shift Morton
    * dilation) — plain Column arithmetic, fully codegen'd, no UDF.
    */
  private def spread16(c: Column): Column = {
    val s1 = (c.bitwiseOR(shiftleft(c, 8))).bitwiseAND(lit(0x00FF00FFL))
    val s2 = (s1.bitwiseOR(shiftleft(s1, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val s3 = (s2.bitwiseOR(shiftleft(s2, 2))).bitwiseAND(lit(0x33333333L))
    (s3.bitwiseOR(shiftleft(s3, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton code of two 16-bit quantized columns. Quantization is
    * min/max linear scaling (one tiny agg for the bounds, then pure
    * map-side arithmetic — no global rank window, which would serialize at
    * scale). Heavily skewed columns would want rank quantiles instead;
    * linear keeps the write path one-pass and is right for the fixture's
    * near-uniform columns.
    */
  private def zCode(qa: Column, qb: Column): Column =
    spread16(qa).bitwiseOR(shiftleft(spread16(qb), 1))

  private def quantize16(c: Column, mn: Column, mx: Column): Column = {
    val span = mx.cast("double") - mn.cast("double")
    val frac = when(span > 0,
      (c.cast("double") - mn.cast("double")) / span).otherwise(lit(0.0))
    least(floor(frac * 65536.0).cast("long"), lit(65535L))
  }

  /** Write `df` Z-ordered on two numeric columns: quantize each to 16-bit
    * by its global min/max, interleave to a 32-bit Morton key, range-
    * partition + sort on the key, and commit per-segment min/max zone maps
    * for BOTH columns (plus row counts). Null in either column sorts to
    * z-code 0 (quantize of null is null → coalesced to 0); zone maps track
    * the real per-column min/max so pruning stays a superset filter.
    */
  def writeZOrdered(spark: SparkSession, df: DataFrame, root: String,
                    colA: String, colB: String, numSegments: Int): Unit = {
    require(numSegments >= 1, "need at least one segment")
    val version = ManifestStore.versionAfter(ManifestStore.latest(spark, root))
    val rel = ManifestStore.dataRel(version)
    val bounds = df.agg(min(col(colA)), max(col(colA)),
      min(col(colB)), max(col(colB))).collect()(0)
    val (mnA, mxA, mnB, mxB) =
      (lit(bounds.get(0)), lit(bounds.get(1)),
        lit(bounds.get(2)), lit(bounds.get(3)))
    val z = coalesce(zCode(quantize16(col(colA), mnA, mxA),
      quantize16(col(colB), mnB, mxB)), lit(0L))
    df.withColumn("__z", z)
      .repartitionByRange(numSegments, col("__z"))
      .sortWithinPartitions(col("__z"))
      .withColumn("__seg", spark_partition_id())
      .drop("__z")
      .write.mode("errorifexists").partitionBy("__seg")
      .parquet(s"$root/$rel")
    val stats = spark.read.parquet(s"$root/$rel")
      .groupBy(col("__seg"))
      .agg(min(col(colA)).as("mnA"), max(col(colA)).as("mxA"),
        min(col(colB)).as("mnB"), max(col(colB)).as("mxB"),
        count(lit(1)).as("n"))
      .collect()
    val entries = stats.flatMap { r =>
      val seg = r.getInt(0)
      Seq(seg.toString -> s"$rel/__seg=$seg",
        zminSlot2(0, seg) -> encode(r.get(1)),
        zmaxSlot2(0, seg) -> encode(r.get(2)),
        zminSlot2(1, seg) -> encode(r.get(3)),
        zmaxSlot2(1, seg) -> encode(r.get(4)),
        zrowsSlot(seg) -> r.getLong(5).toString)
    }.toMap + (ZColsSlot -> s"$colA,$colB") +
      (MergeInto.SchemaSlot -> df.schema.json)
    ManifestStore.commit(spark, root, version, entries)
  }

  /** 2-D pruning decision, driver-side, manifest-only: segments whose
    * per-column zones BOTH intersect the query box. A segment whose zone
    * is missing a bound (all-null column slice) survives only an
    * unbounded query on that column — same null contract as 1-D.
    */
  def resolveSegments2D(spark: SparkSession, root: String,
                        loA: Option[Any], hiA: Option[Any],
                        loB: Option[Any], hiB: Option[Any]): Seq[Int] = {
    val snap = ManifestStore.latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed table under $root"))
    def overlaps(c: Int, seg: Int, lo: Option[Any], hi: Option[Any]) = {
      val loE = lo.map(v => decode(encode(v)).get)
      val hiE = hi.map(v => decode(encode(v)).get)
      (decode(snap.entries(zminSlot2(c, seg))),
        decode(snap.entries(zmaxSlot2(c, seg)))) match {
        case (Some(mn), Some(mx)) =>
          !loE.exists(l => lt(mx, l)) && !hiE.exists(h => lt(h, mn))
        case _ => loE.isEmpty && hiE.isEmpty
      }
    }
    snap.entries.keys.collect {
      case slot if !ManifestStore.isMetaSlot(slot) => slot.toInt
    }.toSeq.sorted
      .filter(seg => overlaps(0, seg, loA, hiA) && overlaps(1, seg, loB, hiB))
  }

  /** The Z-ordered columns a table was written with. */
  def zColsOf(spark: SparkSession, root: String): (String, String) = {
    val s = ManifestStore.latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed table under $root"))
      .entries.getOrElse(ZColsSlot, throw new IllegalStateException(
        s"table at $root is not Z-ordered"))
    val Array(a, b) = s.split(',')
    (a, b)
  }

  /** 2-D box query with manifest pruning on both zone maps; the residual
    * conjunction lands in PushedFilters for row-group pruning inside the
    * kept segments.
    */
  def zScan(spark: SparkSession, root: String,
            loA: Option[Any], hiA: Option[Any],
            loB: Option[Any], hiB: Option[Any]): DataFrame = {
    val snap = ManifestStore.latest(spark, root).get
    val (ca, cb) = zColsOf(spark, root)
    val segs = resolveSegments2D(spark, root, loA, hiA, loB, hiB)
    if (segs.isEmpty) {
      ManifestStore.read(spark, root).drop("__seg").filter(lit(false))
    } else {
      val residual = (loA.map(col(ca) >= lit(_)) ++ hiA.map(col(ca) <= lit(_)) ++
        loB.map(col(cb) >= lit(_)) ++ hiB.map(col(cb) <= lit(_)))
        .reduceOption(_ && _).getOrElse(lit(true))
      segmentRead(spark, root, snap, segs).filter(residual).drop("__seg")
    }
  }

  /** Materialize the clustered EVENTS table once per scale factor (the
    * gate fixture): events clustered by `ts` into 16 segments under the
    * shared fixture-lake base. `_DONE` written only after the manifest
    * commit succeeds; versioned root so layout changes can never pick up a
    * stale cache.
    */

  /** Materialize the Z-ORDERED events table once per scale factor: Morton
    * clustering on (user_id, value) into 16 segments — the 2-D fixture the
    * zm3 gate's box query prunes against.
    */
  def materializedEventsZOrderDir(spark: SparkSession,
                                  sfDir: String): String = {
    val root = FixtureLock.root(sfDir, "events_zorder_v2")
    FixtureLock.once(root) {
        writeZOrdered(spark, graft.ops.Tables(spark, sfDir, "events"),
          root.toString, "user_id", "value", numSegments = 16)
    }
    root.toString
  }

  def materializedEventsDir(spark: SparkSession, sfDir: String): String = {
    // v5: + recorded schema slot (v4 user_id bloom index, v3 sorted
    // segments, v2 __zrows stats)
    val root = FixtureLock.root(sfDir, "events_clustered_v5")
    FixtureLock.once(root) {
        write(spark, graft.ops.Tables(spark, sfDir, "events"),
          root.toString, "ts", numSegments = 16)
        BloomIndex.build(spark, root.toString, "user_id",
          expectedItems = 100000L)
    }
    root.toString
  }
}
