package graft.streaming

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Delta-protocol interop for the manifest-committed table format.
  *
  * [[export]] publishes the table's latest committed snapshot as one more
  * version of a Delta transaction log (`_delta_log/<v>.json` under the
  * table root, per the OPEN Delta protocol spec: `protocol`, `metaData`,
  * `add`/`remove` actions as newline-delimited JSON) — so any engine that
  * speaks the Delta protocol (Spark+delta-jars, delta-rs, DuckDB's delta
  * extension, Trino) reads the exported snapshot AS a Delta table, files
  * in place, nothing copied. `add`/`remove` paths are percent-encoded on
  * write and decoded on read, per the protocol's RFC 2396 rule — a path
  * with a space or '%' round-trips through foreign engines. Every
  * `checkpointInterval` versions the export also writes a
  * `<v>.checkpoint.parquet` + `_last_checkpoint` (the protocol's classic
  * single-part checkpoint), so log replay is O(interval) actions no
  * matter how many versions the table has accumulated — without it, a
  * table exported every batch for a year carries 10k+ versions and every
  * export/read re-reads them all.
  *
  * [[read]]/[[readAt]] are the inverse: a NATIVE Delta log reader —
  * `_last_checkpoint` replay over classic single/multi-part AND v2
  * UUID-named checkpoints (sidecar actions resolved from
  * `_delta_log/_sidecars/`), PARTITIONED tables whose partition columns
  * are reconstructed from `add.partitionValues` as real columns with
  * metadata-only partition pruning, deletion vectors, and name-mode
  * column mapping; anything beyond (id-mode/nested mapping, unknown
  * reader features) is refused LOUDLY by name, never misread — used both
  * to self-verify exports and to consume foreign Delta tables without
  * delta jars on the classpath.
  *
  * Scale notes: log replay is O(actions since last checkpoint) driver-side
  * JSON — the same metadata volume every Delta engine processes; data
  * reads pass the log's `schemaString` explicitly and plan over the log's
  * recorded file sizes ([[org.apache.spark.sql.GraftFiles]]), so planning
  * opens zero parquet footers and performs zero filesystem listings.
  * Exports are incremental: version N+1 carries only the add/remove DIFF
  * against the previously exported live set, not a re-listing of the
  * table.
  */
object DeltaExport {

  private val LogDir = "_delta_log"
  private val VersionFile = """^(\d{20})\.json$""".r

  private def mapper = new ObjectMapper()

  /** The protocol's deletion-vector descriptor (add.deletionVector):
    * `storageType` u = UUID-named sidecar relative to the table root,
    * i = inline base85 payload, p = absolute path (refused — external
    * file references are a different trust story, like shallow clones).
    */
  private[streaming] case class DvDescriptor(storageType: String,
      pathOrInlineDv: String, offset: Option[Long], sizeInBytes: Int,
      cardinality: Long)

  private case class FileEntry(size: Long, modTime: Long,
      partValues: Map[String, Option[String]],
      dv: Option[DvDescriptor] = None,
      stats: Option[String] = None) // add.stats JSON, verbatim

  private case class LogState(
      version: Long, // latest delta version present, -1 if none
      schemaJson: Option[String], // last metaData.schemaString
      partitionCols: Seq[String], // last metaData.partitionColumns
      mappingMode: String, // delta.columnMapping.mode (none|name|id)
      live: Map[String, FileEntry], // DECODED rel path -> entry
      txns: Map[String, Long], // txn action appId -> latest version
      writerVersion: Int = 2, // last protocol.minWriterVersion
      configuration: Map[String, String] = Map.empty, // metaData.configuration
      readerVersion: Int = 1, // last protocol.minReaderVersion
      readerFeatures: Set[String] = Set.empty,
      writerFeatures: Set[String] = Set.empty)

  private def logPath(root: String) = new Path(root, LogDir)

  /** Percent-encode a table-relative path for an add/remove action per
    * the protocol's RFC 2396 rule ('/' kept, space → %20, '%' → %25).
    */
  private[streaming] def encodePath(rel: String): String =
    new java.net.URI(null, null, rel, null).toASCIIString

  /** Decode an action path. The spec allows RELATIVE paths (the common
    * case) and ABSOLUTE URIs/paths (files outside the table root — the
    * shallow-clone shape); both decode here, and [[resolvePath]] keeps
    * absolute ones as-is instead of prefixing the root. A string that
    * is not a valid URI reference (a sloppy writer's raw space) is
    * taken verbatim — refusing it would reject tables other engines
    * read fine. An absolute path on an unreachable filesystem fails
    * LOUDLY at open, naming the path.
    */
  private[streaming] def decodePath(raw: String): String =
    try {
      val u = new java.net.URI(raw)
      if (u.getScheme == null) u.getPath
      else new Path(u).toString // scheme kept, percent-escapes decoded
    } catch { case _: java.net.URISyntaxException => raw }

  /** True when a decoded action path is absolute (scheme-qualified or
    * rooted) — shallow-cloned logs reference such files verbatim.
    */
  private[streaming] def isAbsolutePath(p: String): Boolean =
    // scheme detected by shape, not URI parsing — a decoded path may
    // carry characters (spaces) java.net.URI refuses
    p.startsWith("/") || p.matches("^[A-Za-z][A-Za-z0-9+.\\-]*:.*")

  /** A live-entry key as a readable location: absolute keys verbatim
    * (never under the root — so vacuum/clean sweeps, which walk only
    * the root, can never delete a clone's source files), relative keys
    * under the table root.
    */
  private[streaming] def resolvePath(root: String, rel: String): String =
    if (isAbsolutePath(rel)) rel else s"$root/$rel"

  private def listVersions(fs: FileSystem, root: String): Seq[(Long, Path)] = {
    val dir = logPath(root)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case VersionFile(v) => Some((v.toLong, st.getPath))
        case _ => None
      }
    }.sortBy(_._1)
  }

  private def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toVector
    finally in.close()
  }

  /** Reader capability: protocol 1 (plain), protocol 2 (column mapping —
    * implemented in 'name' mode), and protocol 3 ONLY when every listed
    * readerFeature is one we implement. Anything else is refused by
    * name, never misread.
    */
  private val SupportedReaderFeatures = Set("columnMapping",
    "deletionVectors", "v2Checkpoint")

  private def checkProtocol(root: String, minReader: Int,
      readerFeatures: Seq[String]): Unit = {
    val unsupported = readerFeatures.filterNot(SupportedReaderFeatures)
    require(minReader <= 2 || (minReader == 3 && unsupported.isEmpty),
      s"delta table at $root needs reader version $minReader" +
        (if (unsupported.nonEmpty)
          s" with features ${unsupported.mkString(", ")}" else "") +
        " — this native reader implements protocols 1-2 plus the " +
        s"${SupportedReaderFeatures.mkString("/")} feature(s) only")
  }

  private def checkFormat(root: String, provider: String): Unit =
    require(provider == "parquet",
      s"delta table at $root stores '$provider' data files — only " +
        "parquet is supported")

  /** Mutable replay accumulator shared by the JSON and checkpoint paths. */
  private final class Replayer(root: String) {
    var schemaJson: Option[String] = None
    var partitionCols: Seq[String] = Nil
    var mappingMode: String = "none"
    var writerVersion: Int = 2
    var readerVersion: Int = 1
    var readerFeatures: Set[String] = Set.empty
    var writerFeatures: Set[String] = Set.empty
    var configuration: Map[String, String] = Map.empty
    val live = scala.collection.mutable.LinkedHashMap.empty[String, FileEntry]
    val txns = scala.collection.mutable.Map.empty[String, Long]

    def applyJsonLine(m: ObjectMapper, line: String): Unit = {
      val node = m.readTree(line)
      if (node.has("protocol")) {
        val pr = node.get("protocol")
        val rf = Option(pr.get("readerFeatures")).toSeq
          .flatMap(_.elements().asScala).map(_.asText())
        checkProtocol(root, pr.get("minReaderVersion").asInt(), rf)
        readerVersion = pr.get("minReaderVersion").asInt()
        readerFeatures = rf.toSet
        writerFeatures = Option(pr.get("writerFeatures")).toSeq
          .flatMap(_.elements().asScala).map(_.asText()).toSet
        writerVersion = Option(pr.get("minWriterVersion"))
          .map(_.asInt()).getOrElse(writerVersion)
      } else if (node.has("metaData")) {
        val md = node.get("metaData")
        checkFormat(root, md.get("format").get("provider").asText())
        val parts = Option(md.get("partitionColumns"))
        partitionCols = parts.toSeq.flatMap(_.elements().asScala)
          .map(_.asText())
        configuration = Option(md.get("configuration")).map { c =>
          c.properties().asScala
            .map(e => e.getKey -> e.getValue.asText()).toMap
        }.getOrElse(Map.empty)
        mappingMode =
          configuration.getOrElse("delta.columnMapping.mode", "none")
        schemaJson = Some(md.get("schemaString").asText())
      } else if (node.has("add")) {
        val a = node.get("add")
        val dv = Option(a.get("deletionVector")).filterNot(_.isNull)
          .map { d =>
            DvDescriptor(d.get("storageType").asText(),
              d.get("pathOrInlineDv").asText(),
              Option(d.get("offset")).filterNot(_.isNull).map(_.asLong()),
              d.get("sizeInBytes").asInt(),
              d.get("cardinality").asLong())
          }
        val pv = Option(a.get("partitionValues")).map { n =>
          n.properties().asScala.map { e =>
            e.getKey -> (if (e.getValue.isNull) None
                         else Some(e.getValue.asText()))
          }.toMap
        }.getOrElse(Map.empty[String, Option[String]])
        val stats = Option(a.get("stats")).filterNot(_.isNull)
          .map(_.asText()).filter(_.nonEmpty)
        live += decodePath(a.get("path").asText()) ->
          FileEntry(a.get("size").asLong(),
            a.get("modificationTime").asLong(), pv, dv, stats)
      } else if (node.has("remove")) {
        live -= decodePath(node.get("remove").get("path").asText())
      } else if (node.has("txn")) {
        val t = node.get("txn")
        txns += t.get("appId").asText() -> t.get("version").asLong()
      } // commitInfo/cdc actions carry no table state for us
    }

    def state(version: Long): LogState =
      LogState(version, schemaJson, partitionCols, mappingMode,
        live.toMap, txns.toMap, writerVersion, configuration,
        readerVersion, readerFeatures, writerFeatures)
  }

  // -------------------------------------------------------------------
  // Checkpoints (classic single-part, protocol 1)
  // -------------------------------------------------------------------

  private def checkpointFile(root: String, v: Long): Path =
    new Path(logPath(root), f"$v%020d.checkpoint.parquet")

  private def lastCheckpointPath(root: String): Path =
    new Path(logPath(root), "_last_checkpoint")

  private val CpFile = """^(\d{20})\.checkpoint\.parquet$""".r
  private val CpPartFile =
    """^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$""".r
  // v2 (UUID-named) checkpoints: <v>.checkpoint.<unique>.{parquet|json}.
  // The unique segment contains no dots, so a classic multi-part name
  // (two numeric middle segments) can never match this pattern.
  private val CpV2File =
    """^(\d{20})\.checkpoint\.([A-Za-z0-9_-]+)\.(parquet|json)$""".r

  private def sidecarDir(root: String): Path =
    new Path(logPath(root), "_sidecars")

  /** Classic checkpoint versions actually PRESENT in the log directory
    * (ascending), each with its part file(s). This listing — not
    * `_last_checkpoint` — is the source of truth for replay starting
    * points: the spec makes the hint file optional and advisory, and
    * after log expiration a version between an older retained
    * checkpoint and the newest one is still answerable from the older
    * file even though the hint names the newest.
    *
    * Both classic shapes are readable: single-part
    * (`<v>.checkpoint.parquet`) and multi-part
    * (`<v>.checkpoint.<i>.<n>.parquet`, i = 1..n) — a multi-part
    * version counts only when EVERY part is present and agrees on `n`
    * (a half-written checkpoint must not plan a partial table) — plus v2
    * UUID-named tops (`<v>.checkpoint.<unique>.{parquet|json}`, the
    * `v2Checkpoint` table feature), whose sidecar actions are resolved
    * at load time. When one version carries both forms, the classic one
    * is preferred (no sidecar I/O); among several v2 tops for the same
    * version any one is complete by construction (name-ordered for
    * determinism).
    */
  private def listCheckpoints(fs: FileSystem,
      root: String): Seq[(Long, Seq[Path])] = {
    val dir = logPath(root)
    if (!fs.exists(dir)) return Nil
    val names = fs.listStatus(dir).toSeq.map(_.getPath)
    val single = names.flatMap(p => p.getName match {
      case CpFile(v) => Some(v.toLong -> p)
      case _ => None
    })
    val parts = names.flatMap(p => p.getName match {
      case CpPartFile(v, i, n) => Some((v.toLong, i.toInt, n.toInt, p))
      case _ => None
    }).groupBy(_._1).flatMap { case (v, ps) =>
      val ns = ps.map(_._3).distinct
      if (ns.size == 1 &&
          ps.map(_._2).sorted == (1 to ns.head)) // complete, 1..n
        Some(v -> ps.sortBy(_._2).map(_._4))
      else None // incomplete or conflicting multi-part set: not usable
    }
    val v2 = names.flatMap(p => p.getName match {
      case CpV2File(v, _, _) => Some(v.toLong -> p)
      case _ => None
    }).groupBy(_._1).map { case (v, ps) =>
      v -> Seq(ps.map(_._2).minBy(_.getName))
    }
    // classic preferred over v2 at the same version: groupBy keeps the
    // FIRST alternative and classics are listed first
    (single.map { case (v, p) => v -> Seq(p) } ++ parts ++ v2)
      .groupBy(_._1).map { case (v, alts) => v -> alts.head._2 }
      .toSeq.sortBy(_._1)
  }

  private def isV2Top(p: Path): Boolean = p.getName match {
    case CpV2File(_, _, _) => true
    case _ => false
  }

  /** The `_last_checkpoint` hint, parsed but NOT validated — (version,
    * parts). Used only to extend latest-version knowledge and to name
    * the reason when a table is readable ONLY through a checkpoint form
    * this reader lacks.
    */
  private def lastCheckpointHint(fs: FileSystem,
      root: String): Option[(Long, Int)] = {
    val p = lastCheckpointPath(root)
    if (!fs.exists(p)) return None
    val node = mapper.readTree(readLines(fs, p).mkString("\n"))
    Some((node.get("version").asLong(),
      Option(node.get("parts")).map(_.asInt()).getOrElse(1)))
  }

  // -------------------------------------------------------------------
  // Deletion vectors (the protocol's merge-on-read row-level deletes)
  // -------------------------------------------------------------------

  private def dvFileName(u: java.util.UUID): String =
    s"deletion_vector_$u.bin"

  /** Resolve a `u`-storage descriptor to its sidecar path: the last 20
    * chars of pathOrInlineDv are the base85 UUID, anything before them
    * is the optional random directory prefix (the protocol's naming
    * scheme for DV files).
    */
  private def dvPath(root: String, d: DvDescriptor): Path = {
    val prefix = d.pathOrInlineDv.dropRight(20)
    val uuid = Base85.decodeUuid(d.pathOrInlineDv.takeRight(20))
    if (prefix.isEmpty) new Path(root, dvFileName(uuid))
    else new Path(new Path(root, prefix), dvFileName(uuid))
  }

  private def readFully(fs: FileSystem, p: Path): Array[Byte] = {
    val len = fs.getFileStatus(p).getLen
    require(len <= Int.MaxValue, s"$p is absurdly large for a DV sidecar")
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    buf
  }

  /** Decode every live deletion vector into SORTED deleted-row-index
    * arrays keyed by table-relative data-file path. Each sidecar file is
    * read once; each blob is length- and CRC-verified per the protocol's
    * DV file format (1-byte version, then per blob: 4-byte big-endian
    * size, bitmap bytes, 4-byte big-endian CRC-32). Driver-side volume
    * is bounded by the table's deleted-row count — the same metadata
    * every merge-on-read Delta reader materializes to plan a scan.
    */
  private def loadDvSets(fs: FileSystem, root: String,
      live: Map[String, FileEntry]): Map[String, Array[Long]] = {
    val dvd = live.toSeq.collect {
      case (rel, fe) if fe.dv.nonEmpty => rel -> fe.dv.get
    }
    if (dvd.isEmpty) return Map.empty
    val sidecars = scala.collection.mutable.Map.empty[String, Array[Byte]]
    dvd.map { case (rel, d) =>
      val data: Array[Byte] = d.storageType match {
        case "i" =>
          val raw = Base85.decode(d.pathOrInlineDv)
          require(raw.length >= d.sizeInBytes,
            s"inline DV for $rel decodes to ${raw.length} bytes, " +
              s"descriptor says ${d.sizeInBytes}")
          raw.take(d.sizeInBytes)
        case "u" | "p" =>
          // "p" = the spec's absolute-path storage (shallow clones):
          // pathOrInlineDv IS the sidecar location; blob layout is
          // identical to relative ("u") sidecars
          val p = if (d.storageType == "p") new Path(d.pathOrInlineDv)
            else dvPath(root, d)
          val all = sidecars.getOrElseUpdate(p.toString, readFully(fs, p))
          require(all.nonEmpty && all(0) == 1,
            s"DV sidecar $p has format version ${if (all.isEmpty) "?"
              else all(0)} — only version 1 is defined by the protocol")
          val off = d.offset.getOrElse(throw new IllegalArgumentException(
            s"DV descriptor for $rel names a sidecar but no offset"))
          val bb = java.nio.ByteBuffer.wrap(all) // big-endian by default
          bb.position(off.toInt)
          val len = bb.getInt
          require(len == d.sizeInBytes,
            s"DV blob at $p:$off declares $len bytes, descriptor says " +
              s"${d.sizeInBytes}")
          val out = new Array[Byte](len)
          bb.get(out)
          val stored = bb.getInt
          val crc = new java.util.zip.CRC32()
          crc.update(out)
          require(crc.getValue == Integer.toUnsignedLong(stored),
            s"DV blob at $p:$off fails its CRC-32 — corrupt sidecar")
          out
        case other => throw new IllegalArgumentException(
          s"DV for $rel uses unknown storage type '$other'")
      }
      val bm = RoaringBitmap64.deserialize(data)
      require(bm.cardinality == d.cardinality,
        s"DV for $rel decodes ${bm.cardinality} rows, descriptor says " +
          s"${d.cardinality} — corrupt descriptor")
      rel -> bm.values.toArray
    }.toMap
  }

  /** Decode `add.stats` JSON into [[org.apache.spark.sql.FileZone]]s for
    * DATA SKIPPING, keyed by absolute file path. Only types with
    * unambiguous JSON→Catalyst mappings participate (integers, floats,
    * decimals, booleans, dates) — strings are deliberately out (foreign
    * writers TRUNCATE long string bounds, and a truncated max prunes
    * wrong), as are timestamps (zone-dependent rendering). Malformed
    * stats never prune — absence is safe.
    */
  private def statsZones(root: String, live: Map[String, FileEntry],
      types: Map[String, DataType])
      : Map[String, org.apache.spark.sql.FileZone] = {
    val m = mapper
    live.toSeq.flatMap { case (rel, fe) =>
      fe.stats.flatMap { js =>
        try {
          val n = m.readTree(js)
          def num(field: String): Map[String, Long] =
            Option(n.get(field)).map(_.properties().asScala.collect {
              case e if e.getValue.isNumber => e.getKey -> e.getValue.asLong()
            }.toMap).getOrElse(Map.empty)
          def vals(field: String): Map[String, Any] =
            Option(n.get(field)).map(_.properties().asScala.flatMap { e =>
              types.get(e.getKey).flatMap(dt => castStat(e.getValue, dt))
                .map(v => e.getKey -> v)
            }.toMap).getOrElse(Map.empty)
          Some(resolvePath(root, rel) -> org.apache.spark.sql.FileZone(
            Option(n.get("numRecords")).filter(_.isNumber).map(_.asLong()),
            vals("minValues"), vals("maxValues"), num("nullCount")))
        } catch { case _: Exception => None }
      }
    }.toMap
  }

  private def castStat(v: JsonNode, dt: DataType): Option[Any] =
    try dt match {
      case IntegerType if v.isNumber => Some(v.asInt())
      case LongType if v.isNumber => Some(v.asLong())
      case ShortType if v.isNumber => Some(v.asInt().toShort)
      case ByteType if v.isNumber => Some(v.asInt().toByte)
      // float/double bounds from FOREIGN stats are deliberately NOT
      // consumed (same policy as the Iceberg reader): Spark orders NaN
      // LARGER than every value, so a writer that computed max ignoring
      // NaN (parquet-footer-derived stats commonly do) records max=5.0
      // for a file whose NaN rows DO match `d > 10` under Spark
      // semantics — pruning on that bound silently loses rows. Integer/
      // decimal/date bounds have no such hazard and stay consumed.
      case DoubleType | FloatType => None
      case BooleanType if v.isBoolean => Some(v.asBoolean())
      case _: DecimalType if v.isNumber || v.isTextual =>
        Some(Decimal(new java.math.BigDecimal(v.asText())))
      case DateType if v.isTextual =>
        Some(java.time.LocalDate.parse(v.asText()).toEpochDay.toInt)
      case _ => None
    } catch { case _: Exception => None }

  /** Compute `add.stats` for freshly published files — numRecords plus
    * min/max/nullCount for every numeric/boolean/date column (the same
    * type set the read side prunes on; exact string bounds are omitted,
    * matching the reader's refusal to trust truncatable string stats).
    * Read from each NEW file's parquet footer, opened with the session's
    * Hadoop conf ([[FooterStats]]) — no Spark job. A bound is published
    * only where the footer provably equals Spark's min/max over the file;
    * otherwise that column of that file gets none: a column the file
    * lacks (written before it was added) publishes nullCount =
    * numRecords and no bounds, a float/double column holding a NaN (for
    * which Spark's max is NaN, and parquet drops the footer pair) or a
    * non-finite bound publishes none, as does a type the footer stores
    * other than as Spark writes it; a legacy-calendar file publishes no
    * date bounds. `tightBounds=false` marks DV'd files per the spec
    * (their physical bounds are valid but not tight).
    */
  private def computeAddStats(conf: org.apache.hadoop.conf.Configuration,
      root: String, rels: Seq[String], schema: StructType,
      dvd: Set[String]): Map[String, String] = {
    val statCols = schema.fields.filter(f => f.dataType match {
      case IntegerType | LongType | ShortType | ByteType | DoubleType |
           FloatType | BooleanType | DateType => true
      case _: DecimalType => true
      case _ => false
    }).toSeq
    val m = mapper
    rels.map { rel =>
      val st = FooterStats.read(conf, s"$root/$rel", statCols)
      val n = m.createObjectNode()
      n.put("numRecords", st.numRecords)
      val mins = n.putObject("minValues")
      val maxs = n.putObject("maxValues")
      val ncs = n.putObject("nullCount")
      statCols.foreach { f =>
        def putVal(o: com.fasterxml.jackson.databind.node.ObjectNode,
            v: Any): Unit = v match {
          case null =>
          case x: Int => o.put(f.name, x)
          case x: Long => o.put(f.name, x)
          case x: Short => o.put(f.name, x.toInt)
          case x: Byte => o.put(f.name, x.toInt)
          // non-finite float bounds are unrepresentable in strict JSON
          // and unsound to consume — no bound for that column
          case x: Double if java.lang.Double.isFinite(x) =>
            o.put(f.name, x)
          case x: Float if java.lang.Float.isFinite(x) =>
            o.put(f.name, x.toDouble)
          case _: Double | _: Float =>
          case x: Boolean => o.put(f.name, x)
          case x: java.math.BigDecimal => o.put(f.name, x)
          case x: java.time.LocalDate => o.put(f.name, x.toString)
          case _ =>
        }
        st.columns.get(f.name).foreach { case (mn, mx, nc) =>
          putVal(mins, mn)
          putVal(maxs, mx)
          ncs.put(f.name, nc)
        }
      }
      n.put("tightBounds", !dvd.contains(rel))
      rel -> m.writeValueAsString(n)
    }.toMap
  }

  private def optField[T](row: Row, name: String): Option[T] =
    if (row.schema == null) None
    else row.schema.fieldNames.indexOf(name) match {
      case -1 => None
      case i if row.isNullAt(i) => None
      case i => Some(row.get(i).asInstanceOf[T])
    }

  /** Replay a checkpoint into the accumulator — classic single/multi-
    * part parquet, or a v2 UUID-named top (parquet or json) whose leaf
    * add/remove actions may live in `_delta_log/_sidecars/` parquets
    * referenced by `sidecar` actions. Driver-side collect is bounded by
    * the table's live-file count — the same metadata volume every Delta
    * engine materializes for planning. Foreign checkpoints carry extra
    * columns (`stats`, `tags`, `txn`) — fields are accessed by name and
    * anything unknown is ignored, like any other reader.
    */
  private def loadCheckpoint(spark: SparkSession, fs: FileSystem,
      root: String, parts: Seq[Path], r: Replayer): Unit = {
    if (parts.size == 1 && isV2Top(parts.head)) {
      loadV2Checkpoint(spark, fs, root, parts.head, r)
      return
    }
    val rows = spark.read.parquet(parts.map(_.toString): _*).collect()
    rows.foreach(applyCheckpointRow(root, r, _))
  }

  /** Apply one checkpoint ROW (classic part, v2 top, or v2 sidecar) to
    * the accumulator. `checkpointMetadata`/`sidecar` columns are handled
    * by the v2 loader, `remove` rows are vacuum tombstones — neither
    * carries live state here.
    */
  private def applyCheckpointRow(root: String, r: Replayer,
      row: Row): Unit = {
      optField[Row](row, "protocol").foreach { pr =>
        val rf = optField[scala.collection.Seq[String]](pr, "readerFeatures")
          .map(_.toSeq).getOrElse(Nil)
        checkProtocol(root,
          optField[Int](pr, "minReaderVersion").getOrElse(1), rf)
        r.readerVersion = optField[Int](pr, "minReaderVersion").getOrElse(1)
        r.readerFeatures = rf.toSet
        r.writerFeatures =
          optField[scala.collection.Seq[String]](pr, "writerFeatures")
            .map(_.toSet).getOrElse(Set.empty)
        r.writerVersion =
          optField[Int](pr, "minWriterVersion").getOrElse(r.writerVersion)
      }
      optField[Row](row, "metaData").foreach { md =>
        optField[Row](md, "format").flatMap(optField[String](_, "provider"))
          .foreach(checkFormat(root, _))
        r.partitionCols =
          optField[scala.collection.Seq[String]](md, "partitionColumns")
            .map(_.toSeq).getOrElse(Nil)
        r.configuration =
          optField[scala.collection.Map[String, String]](md, "configuration")
            .map(_.toMap).getOrElse(Map.empty)
        r.mappingMode =
          r.configuration.getOrElse("delta.columnMapping.mode", "none")
        r.schemaJson = optField[String](md, "schemaString")
      }
      optField[Row](row, "add").foreach { a =>
        val dv = optField[Row](a, "deletionVector").map { d =>
          DvDescriptor(optField[String](d, "storageType").get,
            optField[String](d, "pathOrInlineDv").get,
            optField[Long](d, "offset"),
            optField[Int](d, "sizeInBytes").get,
            optField[Long](d, "cardinality").get)
        }
        val pv = optField[scala.collection.Map[String, String]](
          a, "partitionValues").map(_.toMap.map { case (k, x) =>
            k -> Option(x) }).getOrElse(Map.empty[String, Option[String]])
        r.live += decodePath(optField[String](a, "path").get) ->
          FileEntry(optField[Long](a, "size").get,
            optField[Long](a, "modificationTime").getOrElse(0L), pv, dv,
            optField[String](a, "stats").filter(_.nonEmpty))
      }
      optField[Row](row, "txn").foreach { t =>
        for (app <- optField[String](t, "appId");
             v <- optField[Long](t, "version")) r.txns += app -> v
      }
      // remove rows in a checkpoint are vacuum tombstones — no live state
  }

  /** Replay a v2 checkpoint: validate the REQUIRED `checkpointMetadata`
    * action against the file-name version, apply the top file's own
    * actions (protocol/metaData/txn, plus any inline adds — the spec
    * allows leaf actions in the top), then every referenced sidecar
    * parquet from `_delta_log/_sidecars/`. A missing sidecar fails by
    * name — a half-vacuumed v2 checkpoint must not plan a partial table.
    */
  private def loadV2Checkpoint(spark: SparkSession, fs: FileSystem,
      root: String, top: Path, r: Replayer): Unit = {
    val CpV2File(vStr, _, fmt) = top.getName
    val declared = vStr.toLong
    var cpMetaVersion: Option[Long] = None
    val sidecarRel = scala.collection.mutable.ArrayBuffer.empty[String]
    fmt match {
      case "parquet" =>
        spark.read.parquet(top.toString).collect().foreach { row =>
          optField[Row](row, "checkpointMetadata").foreach { cm =>
            cpMetaVersion = optField[Long](cm, "version")
          }
          optField[Row](row, "sidecar").foreach { sc =>
            sidecarRel += optField[String](sc, "path").getOrElse(
              throw new IllegalArgumentException(
                s"v2 checkpoint $top has a sidecar action without a path"))
          }
          applyCheckpointRow(root, r, row)
        }
      case "json" =>
        val m = mapper
        readLines(fs, top).foreach { line =>
          val node = m.readTree(line)
          if (node.has("checkpointMetadata"))
            cpMetaVersion =
              Some(node.get("checkpointMetadata").get("version").asLong())
          else if (node.has("sidecar"))
            sidecarRel += node.get("sidecar").get("path").asText()
          else r.applyJsonLine(m, line)
        }
    }
    require(cpMetaVersion.contains(declared),
      s"v2 checkpoint $top " + (cpMetaVersion match {
        case None => "has no checkpointMetadata action — not a valid " +
          "v2 checkpoint"
        case Some(v) => s"declares version $v inside but $declared in " +
          "its file name — corrupt checkpoint"
      }))
    sidecarRel.foreach { rel =>
      // the spec keeps sidecars in the table's own _delta_log/_sidecars
      // directory; the recorded path is URI-encoded and relative to it
      val p = new Path(sidecarDir(root), decodePath(rel))
      require(fs.exists(p),
        s"v2 checkpoint $top references sidecar $rel but " +
          s"$p does not exist — incomplete checkpoint")
      spark.read.parquet(p.toString).collect()
        .foreach(applyCheckpointRow(root, r, _))
    }
  }

  // Checkpoint action STRUCT types, shared by the classic single-file
  // writer and the v2 top/sidecar writer (same codec either way).
  private val CpProtocolType = StructType(Seq(
    StructField("minReaderVersion", IntegerType),
    StructField("minWriterVersion", IntegerType),
    StructField("readerFeatures", ArrayType(StringType)),
    StructField("writerFeatures", ArrayType(StringType))))
  private val CpMetaDataType = StructType(Seq(
    StructField("id", StringType),
    StructField("format", StructType(Seq(
      StructField("provider", StringType)))),
    StructField("schemaString", StringType),
    StructField("partitionColumns", ArrayType(StringType)),
    StructField("configuration",
      MapType(StringType, StringType, valueContainsNull = true)),
    StructField("createdTime", LongType)))
  private val CpAddType = StructType(Seq(
    StructField("path", StringType),
    StructField("partitionValues",
      MapType(StringType, StringType, valueContainsNull = true)),
    StructField("size", LongType),
    StructField("modificationTime", LongType),
    StructField("dataChange", BooleanType),
    StructField("deletionVector", StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", LongType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))),
    StructField("stats", StringType)))
  private val CpTxnType = StructType(Seq(
    StructField("appId", StringType),
    StructField("version", LongType)))

  private def protocolVal(state: LogState): Row =
    Row(state.readerVersion, state.writerVersion,
      if (state.readerFeatures.isEmpty) null
      else state.readerFeatures.toSeq.sorted,
      if (state.writerFeatures.isEmpty) null
      else state.writerFeatures.toSeq.sorted)

  private def metaDataVal(root: String, state: LogState): Row =
    Row(tableId(root), Row("parquet"),
      state.schemaJson.getOrElse(throw new IllegalStateException(
        s"cannot checkpoint $root without a recorded schema")),
      state.partitionCols, state.configuration,
      System.currentTimeMillis())

  private def addVal(rel: String, fe: FileEntry): Row =
    Row(encodePath(rel),
      fe.partValues.map { case (k, v) => k -> v.orNull },
      fe.size, fe.modTime, true,
      fe.dv.map(d => Row(d.storageType, d.pathOrInlineDv,
        d.offset.map(Long.box).orNull, d.sizeInBytes,
        d.cardinality)).orNull, fe.stats.orNull)

  /** Stage `rows` as ONE parquet file via Spark and rename it into
    * `out` (atomic publish; `out`'s parent must exist). Returns the
    * published file's length.
    */
  private def stageSingleParquet(spark: SparkSession, fs: FileSystem,
      root: String, rows: Seq[Row], schema: StructType, out: Path): Long = {
    val tmpDir = new Path(logPath(root),
      s".cptmp-${java.util.UUID.randomUUID}")
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(tmpDir.toString)
    val part = fs.listStatus(tmpDir)
      .map(_.getPath).find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(
        s"checkpoint stage at $tmpDir produced no part file"))
    fs.delete(out, false) // re-checkpoint of same version: last wins
    require(fs.rename(part, out),
      s"could not publish checkpoint $out")
    fs.delete(tmpDir, true)
    fs.getFileStatus(out).getLen
  }

  private def publishLastCheckpointHint(fs: FileSystem, root: String,
      version: Long, size: Long): Unit = {
    val hint = mapper.createObjectNode()
    hint.put("version", version).put("size", size)
    val os = fs.create(lastCheckpointPath(root), true)
    try os.write((mapper.writeValueAsString(hint) + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
  }

  /** Write the classic checkpoint for `state` (protocol + metaData + one
    * row per live add) and republish `_last_checkpoint`. Single-part by
    * construction; the parquet is staged by Spark and renamed into the
    * protocol's `<v>.checkpoint.parquet` name.
    */
  private def writeCheckpoint(spark: SparkSession, fs: FileSystem,
      root: String, state: LogState): Unit = {
    val cpSchema = StructType(Seq(
      StructField("protocol", CpProtocolType),
      StructField("metaData", CpMetaDataType),
      StructField("add", CpAddType),
      StructField("txn", CpTxnType)))
    val rows: Seq[Row] =
      Seq(Row(protocolVal(state), null, null, null),
        Row(null, metaDataVal(root, state), null, null)) ++
      // latest txn per appId survives log expiration via the checkpoint,
      // exactly as the protocol specifies for transaction identifiers
      state.txns.toSeq.sortBy(_._1).map { case (app, v) =>
        Row(null, null, null, Row(app, v))
      } ++
      state.live.toSeq.sortBy(_._1).map { case (rel, fe) =>
        Row(null, null, addVal(rel, fe), null)
      }
    stageSingleParquet(spark, fs, root, rows, cpSchema,
      checkpointFile(root, state.version))
    publishLastCheckpointHint(fs, root, state.version, rows.size.toLong)
  }

  /** Write a V2 (UUID-named) checkpoint for `state`: the live adds go to
    * ONE sidecar parquet under `_delta_log/_sidecars/<uuid>.parquet`,
    * the top file `<v>.checkpoint.<uuid>.parquet` carries the REQUIRED
    * `checkpointMetadata` action plus protocol/metaData/txn and the
    * `sidecar` reference — the exact layout the v2Checkpoint table
    * feature specifies, readable by any feature-complete Delta engine.
    * The sidecar publishes before the top (a top must never reference a
    * missing sidecar); `_last_checkpoint` is republished afterwards.
    */
  private def writeCheckpointV2(spark: SparkSession, fs: FileSystem,
      root: String, state: LogState): Unit = {
    val uuid = java.util.UUID.randomUUID
    val scDir = sidecarDir(root)
    if (!fs.exists(scDir)) fs.mkdirs(scDir)
    val sidecarSchema = StructType(Seq(
      StructField("add", CpAddType),
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType))))))
    val addRows: Seq[Row] = state.live.toSeq.sortBy(_._1)
      .map { case (rel, fe) => Row(addVal(rel, fe), null) }
    val scName = s"$uuid.parquet"
    val scLen = stageSingleParquet(spark, fs, root, addRows,
      sidecarSchema, new Path(scDir, scName))
    val topSchema = StructType(Seq(
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType)))),
      StructField("protocol", CpProtocolType),
      StructField("metaData", CpMetaDataType),
      StructField("txn", CpTxnType),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType),
        StructField("modificationTime", LongType))))))
    val scMod = fs.getFileStatus(new Path(scDir, scName))
      .getModificationTime
    val topRows: Seq[Row] =
      Seq(Row(Row(state.version), null, null, null, null),
        Row(null, protocolVal(state), null, null, null),
        Row(null, null, metaDataVal(root, state), null, null)) ++
      state.txns.toSeq.sortBy(_._1).map { case (app, v) =>
        Row(null, null, null, Row(app, v), null)
      } :+
      Row(null, null, null, null, Row(scName, scLen, scMod))
    val out = new Path(logPath(root),
      f"${state.version}%020d.checkpoint.$uuid.parquet")
    stageSingleParquet(spark, fs, root, topRows, topSchema, out)
    publishLastCheckpointHint(fs, root, state.version,
      (topRows.size + addRows.size).toLong)
  }

  // -------------------------------------------------------------------
  // Replay
  // -------------------------------------------------------------------

  /** Replay the log strictly to `upTo` (None = latest). Starts from the
    * newest checkpoint at-or-below the target when one exists; JSON
    * versions after the start point must be DENSE (a gap means a reader
    * would reconstruct the wrong table — fail, don't guess). Any
    * protocol feature beyond reader version 1 is refused by name.
    */
  private def replay(spark: SparkSession, fs: FileSystem, root: String,
      upTo: Option[Long]): LogState = {
    val versions = listVersions(fs, root)
    val cps = listCheckpoints(fs, root)
    val hint = lastCheckpointHint(fs, root)
    val latest = Seq(cps.lastOption.map(_._1).getOrElse(-1L),
      hint.map(_._1).getOrElse(-1L),
      versions.lastOption.map(_._1).getOrElse(-1L)).max
    if (latest < 0)
      return LogState(-1L, None, Nil, "none", Map.empty, Map.empty)
    val target = upTo.getOrElse(latest)
    require(target <= latest,
      s"no delta version $target under $root/$LogDir (latest=$latest)")

    val m = mapper
    val r = new Replayer(root)
    // newest LISTED classic checkpoint (single- or complete multi-part)
    // at-or-below the target; when none and JSON is not dense from 0,
    // refuse — naming the unsupported checkpoint form if the hint shows
    // one would have answered
    val start = cps.filter(_._1 <= target).lastOption match {
      case Some((cv, parts)) =>
        loadCheckpoint(spark, fs, root, parts, r)
        cv
      case None =>
        if (!(versions.nonEmpty && versions.head._1 == 0L)) hint match {
          case Some((v, parts)) if parts > 1 =>
            throw new IllegalArgumentException(
              s"delta table at $root: _last_checkpoint names a multi-part " +
                s"checkpoint (version $v, parts=$parts) but its part files " +
                "are missing or incomplete — cannot replay")
          case Some((v, _)) if !fs.exists(checkpointFile(root, v)) =>
            throw new IllegalArgumentException(
              s"delta table at $root: _last_checkpoint names version $v " +
                "but no classic or v2 checkpoint file for it exists in " +
                "the log directory — cannot replay")
          case _ =>
            throw new IllegalArgumentException(
              s"delta log at $root/$LogDir does not start at version 0 " +
                s"(first=${versions.headOption.map(_._1).getOrElse(-1L)})" +
                " and no usable checkpoint covers the requested version" +
                " — cleaned-up log versions cannot be replayed")
        }
        -1L
    }
    val tail = versions.filter(v => v._1 > start && v._1 <= target)
    val expect = ((start + 1) to target).toSeq
    require(tail.map(_._1) == expect,
      s"delta log at $root/$LogDir has a version gap: need versions " +
        s"${start + 1}..$target after ${if (start < 0) "origin"
        else s"checkpoint $start"}, have ${tail.map(_._1).mkString(",")}")
    tail.foreach { case (_, p) =>
      readLines(fs, p).foreach(r.applyJsonLine(m, _))
    }
    r.state(target)
  }

  /** The snapshot's data files as table-root-relative paths. Same listing
    * the symlink export uses; relative because Delta `add.path` is
    * resolved against the table root.
    */
  private[streaming] def snapshotFiles(fs: FileSystem, root: String,
      snap: ManifestStore.Snapshot): Seq[(String, Long, Long)] = {
    val rootUri = new Path(root).toUri.getPath.stripSuffix("/")
    val paths = ManifestStore.resolvePaths(root, snap)
    // manifest-recorded file statuses (the `__fs:` slots commit writes)
    // plan the export with ZERO filesystem listings — the same planning
    // I/O the read path already skips (r12 optimization round; on an
    // object store the recursive listing is the expensive planning step,
    // guide §6). Same name filter as the listing: statFiles recorded
    // only .parquet/part- files. Stores committed before the stats slot
    // existed fall back to the recursive listing below.
    val rels = paths.map(_.stripPrefix(s"$root/"))
    ManifestStore.fileStats(root, snap, rels).map { files =>
      files.map { case (abs, len, mtime) =>
        val absPath = new Path(abs).toUri.getPath
        require(absPath.startsWith(rootUri + "/"),
          s"data file $absPath lies outside the table root $rootUri — " +
            "cannot express it as a relative delta add path")
        (absPath.stripPrefix(rootUri + "/"), len, mtime)
      }.sortBy(_._1)
    }.getOrElse {
      paths.flatMap { dir =>
        val it = fs.listFiles(new Path(dir), true)
        val buf =
          scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
        while (it.hasNext) {
          val f = it.next()
          val name = f.getPath.getName
          if (name.endsWith(".parquet") || name.startsWith("part-")) {
            val abs = f.getPath.toUri.getPath
            require(abs.startsWith(rootUri + "/"),
              s"data file $abs lies outside the table root $rootUri — " +
                "cannot express it as a relative delta add path")
            buf += ((abs.stripPrefix(rootUri + "/"), f.getLen,
              f.getModificationTime))
          }
        }
        buf
      }.sortBy(_._1)
    }
  }

  private[streaming] def tableSchema(spark: SparkSession, root: String,
      snap: ManifestStore.Snapshot): StructType =
    snap.entries.get(MergeInto.SchemaSlot)
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(spark.read.option("mergeSchema", "true")
        .parquet(ManifestStore.resolvePaths(root, snap): _*).schema)

  /** Pending deleted KEYS -> per-file deleted ROW POSITIONS: one scan
    * of the snapshot's files joined against the (broadcast) key
    * sidecar. The driver collect is bounded by the deleted-row count —
    * the same volume as the row-level delete metadata being built from
    * it (Delta DV bitmaps here, Iceberg position-delete rows in
    * [[IcebergExport]]). Keys are table-root-relative file paths.
    */
  private[streaming] def pendingDeletePositions(spark: SparkSession,
      root: String, dvRel: Option[String],
      files: Seq[(String, Long, Long)]): Map[String, Array[Long]] =
    dvRel match {
      case Some(rel) if files.nonEmpty =>
        import org.apache.spark.sql.functions.{broadcast, col}
        val keys = spark.read.parquet(s"$root/$rel")
        val keyCol = keys.schema.fieldNames.head
        val relByName = files.map(f => new Path(f._1).getName -> f._1).toMap
        require(relByName.size == files.size,
          s"duplicate data-file names under $root — cannot key deletion " +
            "vectors by file name")
        spark.read.parquet(files.map(f => s"$root/${f._1}"): _*)
          .select(col(keyCol), col("_metadata.file_name").as("__f"),
            col("_metadata.row_index").as("__i"))
          .join(broadcast(keys.select(col(keyCol))), Seq(keyCol))
          .select("__f", "__i").collect()
          .groupBy(r => relByName(r.getString(0)))
          .map { case (r2, rows) => r2 -> rows.map(_.getLong(1)).sorted }
      case _ => Map.empty
    }

  /** The txn appId this exporter writes streaming progress under. */
  def txnAppId(root: String): String = s"graft-merge-${tableId(root)}"

  /** The txn appId under which every export records the MANIFEST version
    * it published — the anchor the change-data export diffs from (and a
    * precise delta-version → manifest-version map for free).
    */
  def manifestAppId(root: String): String =
    s"graft-snapshot-${tableId(root)}"

  /** The last streaming-writer version recorded for `appId` (default:
    * this exporter's own), resolved from the DELTA log — the restart
    * query the protocol's txn action exists for.
    */
  def lastTxn(spark: SparkSession, root: String,
      appId: String = null): Option[Long] = {
    val fs = logPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    replay(spark, fs, root, None)
      .txns.get(Option(appId).getOrElse(txnAppId(root)))
  }

  /** Stable table id: re-exports of the same root keep their identity. */
  private def tableId(root: String): String =
    java.util.UUID.nameUUIDFromBytes(new Path(root).toUri.getPath
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString

  /** Publish the latest committed snapshot as the next delta version.
    * Idempotent: if the log's live state already equals the snapshot
    * (same files, same schema, same deleted-row sets), nothing is
    * written and the existing version is returned.
    *
    * A pending deletion vector (merge-on-read deletes not yet
    * materialized) is refused by default — foreign readers cannot
    * subtract the raw key sidecar. With `deleteVectors = true` it is
    * instead PUBLISHED as protocol deletion vectors: per-file roaring
    * bitmaps of deleted row positions in a `deletion_vector_<uuid>.bin`
    * sidecar, referenced from `add.deletionVector` descriptors, with the
    * protocol upgraded to reader 3 / writer 7 + the `deletionVectors`
    * feature — exactly what delta-spark ≥2.3 writes on a DELETE.
    *
    * Every `checkpointInterval` versions the new state is also written
    * as a classic checkpoint, keeping replay cost O(interval) forever.
    *
    * @return (deltaVersion, path of the version's log file)
    */
  def export(spark: SparkSession, root: String,
      checkpointInterval: Int = 10,
      changeDataKey: Option[String] = None,
      deleteVectors: Boolean = false,
      v2Checkpoints: Boolean = false): (Long, String) = {
    require(checkpointInterval >= 1, "checkpointInterval must be >= 1")
    val snap = ManifestStore.latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed table under $root"))
    val dvRel = snap.entries.get(MergeInto.DvSlot)
    require(dvRel.isEmpty || deleteVectors,
      s"table at $root has a pending deletion vector — Delta readers " +
        "cannot subtract the raw key sidecar; run materializeDeletes " +
        "before exporting, or pass deleteVectors=true to publish it as " +
        "protocol deletion vectors")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = logPath(root).getFileSystem(conf)
    val prev = replay(spark, fs, root, None)
    require(prev.partitionCols.isEmpty,
      s"the delta log at $root describes a PARTITIONED table — this " +
        "exporter publishes unpartitioned snapshots and will not extend " +
        "a foreign partitioned log")
    val files = snapshotFiles(fs, root, snap)
    // RENAMED (column-mapped) tables export as protocol name-mode
    // column mapping — the spec's own rename-is-metadata mechanism:
    // schemaString carries the LOGICAL names with
    // delta.columnMapping.physicalName/id field metadata, the files
    // keep their physical columns untouched, and any mapping-aware
    // engine (this repo's reader included) resolves them. Exporting
    // the stored physical names instead would show every foreign
    // reader the pre-rename column names — wrong surface, silently.
    val colMap: Map[String, String] =
      snap.entries.get(MergeInto.ColMapSlot).toSeq
        .flatMap(_.split(';')).map { pair =>
          val Array(p, l) = pair.split('=')
          p -> l
        }.toMap
    require(!snap.entries.keys.exists(_.startsWith(MergeInto.GenPrefix)),
      s"table at $root has VIRTUAL generated columns — nothing is " +
        "stored for them, so a foreign Delta reader would silently " +
        "miss them; run MergeInto.materializeGeneratedColumn first " +
        "(stores the values files-in-place-ably and keeps the " +
        "generation contract), or drop them")
    // STORED generated columns (materializeGeneratedColumn) export per
    // the protocol's generated-column contract: values are in the data
    // files, the expression publishes as delta.generationExpression
    // field metadata, and the generatedColumns writer feature (legacy
    // writer 4) tells foreign WRITERS to keep computing it
    val genStored: Map[String, String] = snap.entries.toSeq
      .filter(_._1.startsWith(MergeInto.GenStoredPrefix))
      .map { case (k, v) =>
        k.stripPrefix(MergeInto.GenStoredPrefix) -> v }.toMap
    // CHECK constraints export as the protocol's `delta.constraints.*`
    // configuration + the checkConstraints feature (legacy writer 3):
    // a foreign WRITER that ignored them could violate an invariant
    // this engine enforces on every merge — publishing them makes the
    // contract travel with the table
    val checksCfg: Map[String, String] = snap.entries.toSeq
      .filter(_._1.startsWith(MergeInto.CheckPrefix))
      .map { case (k, v) =>
        "delta.constraints." + k.stripPrefix(MergeInto.CheckPrefix) -> v
      }.toMap
    val physSchema = tableSchema(spark, root, snap)
    // column-mapping ids are UNIQUE AND IMMUTABLE per the protocol:
    // reuse the id each physical column carried in the previous log's
    // schemaString, allocate fresh ids above maxColumnId for new
    // columns — recomputing positionally would silently reassign ids
    // when a column is dropped or reordered, and id-tracking foreign
    // readers would mismatch columns
    val prevIdByPhys: Map[String, Long] = prev.schemaJson.toSeq
      .flatMap { j =>
        DataType.fromJson(j).asInstanceOf[StructType].fields.flatMap { f =>
          if (!f.metadata.contains("delta.columnMapping.id")) None
          else {
            val phys =
              if (f.metadata.contains("delta.columnMapping.physicalName"))
                f.metadata.getString("delta.columnMapping.physicalName")
              else f.name
            Some(phys -> f.metadata.getLong("delta.columnMapping.id"))
          }
        }
      }.toMap
    val schema0 =
      if (colMap.isEmpty) physSchema
      else {
        var nextId = math.max(
          prev.configuration.get("delta.columnMapping.maxColumnId")
            .map(_.toLong).getOrElse(0L),
          prevIdByPhys.values.maxOption.getOrElse(0L))
        StructType(physSchema.fields.map { f =>
          val id = prevIdByPhys.getOrElse(f.name, { nextId += 1; nextId })
          StructField(colMap.getOrElse(f.name, f.name), f.dataType,
            f.nullable, new MetadataBuilder()
              .putString("delta.columnMapping.physicalName", f.name)
              .putLong("delta.columnMapping.id", id).build())
        })
      }
    val schema =
      if (genStored.isEmpty) schema0
      else StructType(schema0.fields.map { f =>
        genStored.get(f.name) match {
          case Some(genSql) => f.copy(metadata = new MetadataBuilder()
            .withMetadata(f.metadata)
            .putString("delta.generationExpression", genSql).build())
          case None => f
        }
      })
    val schemaJson = schema.json

    val newDvSets = pendingDeletePositions(spark, root, dvRel, files)

    val version = prev.version + 1
    val existing = new Path(logPath(root), f"${prev.version}%020d.json")
    // idempotence is SEMANTIC for DVs: descriptors carry fresh UUIDs on
    // every publish, so equality compares the DECODED deleted-row sets
    val prevDvSets =
      if (prev.live.valuesIterator.exists(_.dv.nonEmpty))
        loadDvSets(fs, root, prev.live)
      else Map.empty[String, Array[Long]]
    def dvSame(p: String): Boolean =
      (newDvSets.get(p), prevDvSets.get(p)) match {
        case (None, None) => true
        case (Some(a), Some(b)) => java.util.Arrays.equals(a, b)
        case _ => false
      }
    // constraint changes are CONFIG changes: an added/dropped CHECK with
    // no file change must still publish a metaData action, so the
    // idempotency probe compares the constraint surface too (the rest
    // of the configuration is derived from inputs already compared)
    val sameConstraints =
      prev.configuration.filter(_._1.startsWith("delta.constraints.")) ==
        checksCfg
    val sameFiles = prev.version >= 0 &&
      prev.live.keySet == files.map(_._1).toSet &&
      files.forall { case (p, s, mt) =>
        prev.live.get(p).exists(e => e.size == s && e.modTime == mt) } &&
      prev.schemaJson.contains(schemaJson) && sameConstraints
    if (sameFiles && (newDvSets.keySet ++ prevDvSets.keySet).forall(dvSame))
      return (prev.version, existing.toString)

    val m = mapper
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    // PROTOCOL — monotone upgrades, feature-gated per the spec: cdc
    // actions need writer 4 (or the changeDataFeed feature) + the
    // enableChangeDataFeed table property, or foreign table_changes()
    // refuses/ignores the feed; deletion vectors need reader 3 / writer
    // 7 with the deletionVectors feature on BOTH lists. Upgrading to
    // the features protocol also lists the legacy features the previous
    // version implied (appendOnly/invariants from writer 2, CDF from 4,
    // columnMapping from reader 2).
    val wantCdf = changeDataKey.isDefined
    val wantDvNow = newDvSets.nonEmpty
    val wantColmap = colMap.nonEmpty
    // v2Checkpoint is a reader-writer table feature: declare it BEFORE
    // the first v2 checkpoint could be written, per the spec; name-mode
    // column mapping needs legacy reader 2 / writer 5 (or the feature)
    val desiredReader = Seq(prev.readerVersion,
      if (wantDvNow) 3 else 1, if (v2Checkpoints) 3 else 1,
      if (wantColmap) 2 else 1).max
    val desiredWriter = Seq(prev.writerVersion, 2,
      if (wantCdf) 4 else 0, if (genStored.nonEmpty) 4 else 0,
      if (checksCfg.nonEmpty) 3 else 0,
      if (wantDvNow) 7 else 0,
      if (v2Checkpoints) 7 else 0, if (wantColmap) 5 else 0).max
    val legacyColmap =
      if (prev.readerVersion == 2 || prev.mappingMode != "none" ||
          wantColmap)
        Set("columnMapping") else Set.empty[String]
    val v2Feature =
      if (v2Checkpoints) Set("v2Checkpoint") else Set.empty[String]
    val desiredReaderFeatures =
      if (desiredReader >= 3)
        prev.readerFeatures ++ legacyColmap ++ v2Feature ++
          (if (wantDvNow) Set("deletionVectors") else Set.empty[String])
      else prev.readerFeatures
    val desiredWriterFeatures =
      if (desiredWriter >= 7)
        prev.writerFeatures ++ Set("appendOnly", "invariants") ++
          legacyColmap ++ v2Feature ++
          (if (wantDvNow) Set("deletionVectors") else Set.empty[String]) ++
          (if (wantCdf || prev.writerVersion >= 4 ||
              prev.configuration.get("delta.enableChangeDataFeed")
                .contains("true"))
            Set("changeDataFeed") else Set.empty[String]) ++
          (if (genStored.nonEmpty || prev.writerVersion >= 4)
            Set("generatedColumns") else Set.empty[String]) ++
          (if (checksCfg.nonEmpty || prev.writerVersion >= 3)
            Set("checkConstraints") else Set.empty[String])
      else prev.writerFeatures
    // bucket layout rides along as NAMESPACED table properties (foreign
    // engines ignore unknown keys, per the spec): the read side turns
    // them back into a BucketSpec'd scan, so key joins through the
    // DELTA path are zero-shuffle exactly like the native manifest read
    val bucketProps = (for {
      n <- snap.entries.get(MergeInto.NumBucketsSlot)
      key <- snap.entries.get(MergeInto.BucketKeySlot)
    } yield Map("graft.numBuckets" -> n, "graft.bucketKey" -> key))
      .getOrElse(Map.empty[String, String])
    val newConfig = prev.configuration
      .filterNot(_._1.startsWith("delta.constraints.")) ++ checksCfg ++
      bucketProps ++
      (if (wantCdf) Map("delta.enableChangeDataFeed" -> "true")
       else Map.empty) ++
      (if (wantDvNow) Map("delta.enableDeletionVectors" -> "true")
       else Map.empty) ++
      (if (wantColmap) Map(
        "delta.columnMapping.mode" -> "name",
        "delta.columnMapping.maxColumnId" -> schema.fields
          .map(_.metadata.getLong("delta.columnMapping.id")).max.toString)
       else Map.empty)
    if (version == 0L || desiredWriter != prev.writerVersion ||
        desiredReader != prev.readerVersion ||
        desiredReaderFeatures != prev.readerFeatures ||
        desiredWriterFeatures != prev.writerFeatures) {
      val protocol = m.createObjectNode()
      val pn = protocol.putObject("protocol")
      pn.put("minReaderVersion", desiredReader)
        .put("minWriterVersion", math.max(desiredWriter, 2))
      if (desiredReader >= 3) {
        val ra = pn.putArray("readerFeatures")
        desiredReaderFeatures.toSeq.sorted.foreach(ra.add)
      }
      if (desiredWriter >= 7) {
        val wa = pn.putArray("writerFeatures")
        desiredWriterFeatures.toSeq.sorted.foreach(wa.add)
      }
      lines += m.writeValueAsString(protocol)
    }
    if (version == 0L || !prev.schemaJson.contains(schemaJson) ||
        newConfig != prev.configuration) {
      val meta = m.createObjectNode()
      val md = meta.putObject("metaData")
      md.put("id", tableId(root))
      md.putObject("format").put("provider", "parquet").putObject("options")
      md.put("schemaString", schemaJson)
      md.putArray("partitionColumns")
      val cfg = md.putObject("configuration")
      newConfig.toSeq.sortBy(_._1).foreach { case (k, v) => cfg.put(k, v) }
      md.put("createdTime", System.currentTimeMillis())
      lines += m.writeValueAsString(meta)
    }
    val now = System.currentTimeMillis()
    // commitInfo is informational per the spec (readers must ignore what
    // they don't know) but every real engine writes one — it is what
    // DESCRIBE HISTORY and timestamp-based time travel read
    val ci = m.createObjectNode()
    ci.putObject("commitInfo").put("timestamp", now)
      .put("operation", if (version == 0L) "WRITE" else "MERGE")
      .put("engineInfo", "graft-delta-export/1")
    lines += m.writeValueAsString(ci)
    // streaming-writer progress (Delta's txn action): when the manifest
    // carries a __lastTxn high-water mark, record it in the log too so a
    // restarted stream can recover its position from the DELTA side
    // ([[lastTxn]]), exactly like txn/appId in a real Delta table
    val sinkTxn = snap.entries.get(MergeInto.LastTxnSlot).map(_.toLong)
      .filterNot(v => prev.txns.get(txnAppId(root)).contains(v))
    sinkTxn.foreach { v =>
      val t = m.createObjectNode()
      t.putObject("txn").put("appId", txnAppId(root))
        .put("version", v).put("lastUpdated", now)
      lines += m.writeValueAsString(t)
    }
    // every export anchors its MANIFEST version as a txn action: the
    // next export's change-data diff starts from it, and any reader gets
    // a delta→manifest version map
    val prevManifest = prev.txns.get(manifestAppId(root))
    if (!prevManifest.contains(snap.version)) {
      val t = m.createObjectNode()
      t.putObject("txn").put("appId", manifestAppId(root))
        .put("version", snap.version).put("lastUpdated", now)
      lines += m.writeValueAsString(t)
    }
    // the concurrent-exporter probe runs BEFORE sidecar staging: losing
    // the race after publishing a cdc/DV file would orphan it forever
    // (nothing references or sweeps it)
    val out = new Path(logPath(root), f"$version%020d.json")
    fs.mkdirs(logPath(root))
    if (fs.exists(out))
      throw new IllegalStateException(
        s"concurrent exporter already published $out — re-run export to " +
          "diff against the new log head")
    // DELETION VECTORS: tiny bitmaps inline into the descriptor itself
    // (base85 `i` storage — no sidecar I/O to read one small DV, the
    // protocol's own preference for small payloads); the rest share one
    // sidecar bin file per export (version byte, then per blob:
    // big-endian size, bitmap, big-endian CRC-32).
    var publishedDv: Option[Path] = None
    val descriptors: Map[String, DvDescriptor] =
      if (newDvSets.isEmpty) Map.empty
      else {
        val serialized = newDvSets.toSeq.sortBy(_._1).map {
          case (rel, idxs) =>
            (rel, RoaringBitmap64(idxs.toSeq).serialize(), idxs.length)
        }
        val (small, big) = serialized.partition(_._2.length <= 128)
        val inline = small.map { case (rel, data, card) =>
          val padded =
            if (data.length % 4 == 0) data
            else java.util.Arrays.copyOf(data,
              data.length + (4 - data.length % 4))
          rel -> DvDescriptor("i", Base85.encode(padded), None,
            data.length, card.toLong)
        }.toMap
        val sidecarred =
          if (big.isEmpty) Map.empty[String, DvDescriptor]
          else {
            val uuid = java.util.UUID.randomUUID()
            val sidecar = new Path(root, dvFileName(uuid))
            val enc = Base85.encodeUuid(uuid)
            val os0 = fs.create(sidecar, false)
            val built =
              try {
                os0.write(1) // DV file format version
                var pos = 1L
                big.map { case (rel, data, card) =>
                  val crc = new java.util.zip.CRC32()
                  crc.update(data)
                  os0.write(java.nio.ByteBuffer.allocate(4)
                    .putInt(data.length).array())
                  os0.write(data)
                  os0.write(java.nio.ByteBuffer.allocate(4)
                    .putInt(crc.getValue.toInt).array())
                  val d = rel -> DvDescriptor("u", enc, Some(pos),
                    data.length, card.toLong)
                  pos += 4L + data.length + 4L
                  d
                }.toMap
              } finally os0.close()
            publishedDv = Some(sidecar)
            built
          }
        inline ++ sidecarred
      }
    // CHANGE DATA FEED (the protocol's cdc action): the row-level diff
    // between the previously exported manifest version and this one,
    // written under _change_data/ and referenced with dataChange=false —
    // a CDF reader consumes these; a snapshot reader ignores them.
    var publishedCdc: Option[Path] = None
    for (key <- changeDataKey; from <- prevManifest
         if from < snap.version) {
      val feed = MergeInto
        .changeFeed(spark, root, key, from, snap.version)
        .drop("__bucket")
      // cdc files store PHYSICAL column names exactly like data files
      // (the spec's column-mapping rule applies to every file the log
      // references); readChanges maps them back to the logical schema
      val logicalToPhys = colMap.map(_.swap)
      val changes =
        if (colMap.isEmpty) feed
        else feed.select(feed.columns.toIndexedSeq.map(c =>
          feed(c).as(logicalToPhys.getOrElse(c, c))): _*)
      if (!changes.isEmpty) {
        val cdcDir = new Path(root, "_change_data")
        val tmp = new Path(cdcDir, s".cdctmp-${java.util.UUID.randomUUID}")
        changes.coalesce(1).write.parquet(tmp.toString)
        val part = fs.listStatus(tmp).map(_.getPath)
          .find(_.getName.startsWith("part-")).getOrElse(
            throw new IllegalStateException(
              s"change-data stage at $tmp produced no part file"))
        val out = new Path(cdcDir,
          f"cdc-$version%020d-${java.util.UUID.randomUUID}.parquet")
        val size = fs.getFileStatus(part).getLen
        require(fs.rename(part, out), s"could not publish $out")
        fs.delete(tmp, true)
        publishedCdc = Some(out)
        val n = m.createObjectNode()
        n.putObject("cdc")
          .put("path", encodePath(s"_change_data/${out.getName}"))
          .put("size", size).put("dataChange", false)
          .putObject("partitionValues")
        lines += m.writeValueAsString(n)
      }
    }
    // fresh adds carry per-file stats (consumed back by this reader's
    // data skipping and by foreign engines); unchanged files keep the
    // stats their original add recorded
    def changed(path: String, size: Long, mtime: Long): Boolean =
      !(prev.live.get(path)
        .exists(e => e.size == size && e.modTime == mtime) && dvSame(path))
    // stats are computed AND keyed under PHYSICAL column names (the
    // files' real columns; colmap tables' stats are physically keyed
    // per the spec — matching the read side's physical-schema zones)
    val statsFor = computeAddStats(conf, root,
      files.collect { case (p, sz, mt) if changed(p, sz, mt) => p },
      physSchema, descriptors.keySet)
    val current = files.map(f =>
      f._1 -> FileEntry(f._2, f._3, Map.empty, descriptors.get(f._1),
        statsFor.get(f._1).orElse(prev.live.get(f._1).flatMap(_.stats)))).toMap
    (prev.live.keySet -- current.keySet).toSeq.sorted.foreach { path =>
      val n = m.createObjectNode()
      n.putObject("remove").put("path", encodePath(path))
        .put("deletionTimestamp", now).put("dataChange", true)
      lines += m.writeValueAsString(n)
    }
    files.foreach { case (path, size, mtime) =>
      if (changed(path, size, mtime)) {
        // a changed DV re-adds the path; add replaces add per the
        // protocol's per-path reconciliation, no remove needed
        val n = m.createObjectNode()
        val an = n.putObject("add")
        an.put("path", encodePath(path))
          .put("size", size).put("modificationTime", mtime)
          .put("dataChange", true).putObject("partitionValues")
        statsFor.get(path).foreach(an.put("stats", _))
        descriptors.get(path).foreach { d =>
          val dn = an.putObject("deletionVector")
          dn.put("storageType", d.storageType)
            .put("pathOrInlineDv", d.pathOrInlineDv)
          d.offset.foreach(o => dn.put("offset", o))
          dn.put("sizeInBytes", d.sizeInBytes)
            .put("cardinality", d.cardinality)
        }
        lines += m.writeValueAsString(n)
      }
    }

    val tmp = new Path(logPath(root), s".tmp-${java.util.UUID.randomUUID}")
    // rename-over-existing is fs-dependent (POSIX renameTo OVERWRITES) —
    // the exists probe above is the actual concurrent-exporter guard,
    // the rename-result check only backstops filesystems that fail it;
    // a lost race after cdc publication must take the change file back
    if (fs.exists(out)) {
      publishedCdc.foreach(fs.delete(_, false))
      publishedDv.foreach(fs.delete(_, false))
      throw new IllegalStateException(
        s"concurrent exporter already published $out — re-run export to " +
          "diff against the new log head")
    }
    val os = fs.create(tmp, false)
    try os.write((lines.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    if (!fs.rename(tmp, out)) {
      fs.delete(tmp, false)
      publishedCdc.foreach(fs.delete(_, false))
      publishedDv.foreach(fs.delete(_, false))
      throw new IllegalStateException(
        s"concurrent exporter already published $out — re-run export to " +
          "diff against the new log head")
    }
    if (version > 0 && version % checkpointInterval == 0) {
      val cpState =
        LogState(version, Some(schemaJson), Nil, "none", current,
          prev.txns ++ snap.entries.get(MergeInto.LastTxnSlot)
            .map(v => txnAppId(root) -> v.toLong) +
          (manifestAppId(root) -> snap.version),
          math.max(desiredWriter, 2), newConfig, desiredReader,
          desiredReaderFeatures, desiredWriterFeatures)
      if (v2Checkpoints) writeCheckpointV2(spark, fs, root, cpState)
      else writeCheckpoint(spark, fs, root, cpState)
    }
    (version, out.toString)
  }

  /** Hive-style partition-directory unescape (Spark's writer percent-
    * escapes `=`, `/`, control bytes in partition VALUES when naming the
    * directory): `%XX` → byte. The inverse of what partitionBy wrote, so
    * the recorded partitionValues are the true values.
    */
  private[streaming] def unescapeHive(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Publish `df` as a NEW PARTITIONED Delta table at `root` — the
    * writer half of the partitioned-reader story: the data lands in
    * Hive-layout `col=value` directories via Spark's parquet writer
    * (partition columns NOT stored in the files, per the protocol), and
    * the v0 log records each file's `partitionValues` parsed back from
    * its directory path. Any Delta engine — including [[read]] — gets
    * partition pruning from the log alone.
    *
    * This is a dataset-PUBLISHING surface (one-shot v0), not the
    * incremental table export: an existing log at `root` is refused
    * loudly rather than extended with a possibly-different layout.
    */
  def exportPartitioned(spark: SparkSession, df: DataFrame, root: String,
      partCols: Seq[String]): (Long, String) = {
    require(partCols.nonEmpty, "use export for unpartitioned tables")
    partCols.foreach(c => require(df.columns.contains(c),
      s"partition column '$c' not in ${df.columns.mkString(", ")}"))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = logPath(root).getFileSystem(conf)
    require(!fs.exists(logPath(root)),
      s"a delta log already exists at $root — exportPartitioned " +
        "publishes a NEW table only")
    df.write.partitionBy(partCols: _*).parquet(s"$root/data")

    // walk the partition tree: every data file's partitionValues are its
    // directory path's col=value segments, Hive-unescaped
    val m = mapper
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val protocol = m.createObjectNode()
    protocol.putObject("protocol")
      .put("minReaderVersion", 1).put("minWriterVersion", 2)
    lines += m.writeValueAsString(protocol)
    val meta = m.createObjectNode()
    val md = meta.putObject("metaData")
    md.put("id", tableId(root))
    md.putObject("format").put("provider", "parquet").putObject("options")
    md.put("schemaString", df.schema.json)
    val pa = md.putArray("partitionColumns")
    partCols.foreach(pa.add)
    md.putObject("configuration")
    md.put("createdTime", System.currentTimeMillis())
    lines += m.writeValueAsString(meta)
    val ci = m.createObjectNode()
    ci.putObject("commitInfo").put("timestamp", System.currentTimeMillis())
      .put("operation", "WRITE").put("engineInfo", "graft-delta-export/1")
    lines += m.writeValueAsString(ci)

    val rootUri = new Path(root).toUri.getPath.stripSuffix("/")
    val it = fs.listFiles(new Path(s"$root/data"), true)
    val adds = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val rel = f.getPath.toUri.getPath.stripPrefix(rootUri + "/")
        val segs = rel.split('/').dropRight(1).filter(_.contains('='))
        val pv = segs.map { seg =>
          val Array(k, v) = seg.split("=", 2)
          unescapeHive(k) -> unescapeHive(v)
        }.toMap
        partCols.foreach(c => require(pv.contains(c),
          s"data file $rel lies outside a '$c=' partition directory"))
        val n = m.createObjectNode()
        val a = n.putObject("add")
        a.put("path", encodePath(rel)).put("size", f.getLen)
          .put("modificationTime", f.getModificationTime)
          .put("dataChange", true)
        val pvn = a.putObject("partitionValues")
        partCols.foreach { c =>
          if (pv(c) == "__HIVE_DEFAULT_PARTITION__") pvn.putNull(c)
          else pvn.put(c, pv(c))
        }
        adds += m.writeValueAsString(n)
      }
    }
    lines ++= adds.sorted

    val out = new Path(logPath(root), f"${0L}%020d.json")
    fs.mkdirs(logPath(root))
    val os = fs.create(out, false)
    try os.write((lines.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    (0L, out.toString)
  }

  /** Publish `df` as a NEW Delta table at `root` with ID-MODE COLUMN
    * MAPPING — the mode the protocol only allows at CREATE time (an
    * existing table's id-less files can never be retrofitted, which is
    * why the incremental exporter publishes renamed tables as
    * name-mode: Delta itself permits `none → name` but not
    * `none → id`). Every field — nested struct fields included — gets
    * a unique immutable `delta.columnMapping.id` and a synthetic
    * physical name (`col_<id>`, the delta-spark shape), the data files
    * are written under the PHYSICAL names WITH `parquet.field.id`
    * footer metadata, and the schemaString publishes the logical names
    * over physicalName+id per field — an id-resolving engine (this
    * repo's reader included) matches columns by FIELD ID, so renames
    * of the logical surface never touch a file. One-shot v0; an
    * existing log refuses loudly. Protocol: legacy reader 2 / writer 5
    * (the column-mapping versions delta-spark publishes).
    */
  def publishIdMapped(spark: SparkSession, df: DataFrame,
      root: String): (Long, String) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = logPath(root).getFileSystem(conf)
    require(!fs.exists(logPath(root)),
      s"a delta log already exists at $root — publishIdMapped creates " +
        "a NEW table only (the protocol allows id mode at creation " +
        "because only then do all files carry field ids)")
    // ids assigned DFS over every struct field — unique and immutable
    // for the table's life per the protocol
    var nextId = 0L
    def mapped(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map { f =>
        val id = { nextId += 1; nextId }
        StructField(f.name, mapped(f.dataType), f.nullable,
          new MetadataBuilder().withMetadata(f.metadata)
            .putString("delta.columnMapping.physicalName", s"col_$id")
            .putLong("delta.columnMapping.id", id).build())
      })
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = mapped(a.elementType))
      case mt: org.apache.spark.sql.types.MapType =>
        mt.copy(keyType = mapped(mt.keyType),
          valueType = mapped(mt.valueType))
      case other => other
    }
    val logical = mapped(df.schema).asInstanceOf[StructType]
    // physical write schema: physical names + parquet.field.id footer
    // metadata at every level (Spark's parquet writer emits the ids
    // when fieldId.write is enabled)
    def phys(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map { f =>
        StructField(
          f.metadata.getString("delta.columnMapping.physicalName"),
          phys(f.dataType), f.nullable,
          new MetadataBuilder().putLong("parquet.field.id",
            f.metadata.getLong("delta.columnMapping.id")).build())
      })
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = phys(a.elementType))
      case mt: org.apache.spark.sql.types.MapType =>
        mt.copy(keyType = phys(mt.keyType), valueType = phys(mt.valueType))
      case other => other
    }
    val physSchema = phys(logical).asInstanceOf[StructType]
    // positional struct cast renames nested fields to their physical
    // names; the `as(name, metadata)` carries the top-level field ids
    val renamed = df.select(df.schema.fields.zip(physSchema.fields)
      .toIndexedSeq.map { case (lf, pf) =>
        df(lf.name).cast(pf.dataType).as(pf.name, pf.metadata)
      }: _*)
    ConfPin.withValue(spark,
        "spark.sql.parquet.fieldId.write.enabled", "true") {
      renamed.write.parquet(s"$root/data")
    }

    val m = mapper
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val protocol = m.createObjectNode()
    protocol.putObject("protocol")
      .put("minReaderVersion", 2).put("minWriterVersion", 5)
    lines += m.writeValueAsString(protocol)
    val meta = m.createObjectNode()
    val md = meta.putObject("metaData")
    md.put("id", tableId(root))
    md.putObject("format").put("provider", "parquet").putObject("options")
    md.put("schemaString", logical.json)
    md.putArray("partitionColumns")
    md.putObject("configuration")
      .put("delta.columnMapping.mode", "id")
      .put("delta.columnMapping.maxColumnId", nextId.toString)
    md.put("createdTime", System.currentTimeMillis())
    lines += m.writeValueAsString(meta)
    val ci = m.createObjectNode()
    ci.putObject("commitInfo").put("timestamp", System.currentTimeMillis())
      .put("operation", "WRITE").put("engineInfo", "graft-delta-export/1")
    lines += m.writeValueAsString(ci)
    val rootUri = new Path(root).toUri.getPath.stripSuffix("/")
    val it = fs.listFiles(new Path(s"$root/data"), true)
    val adds = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val rel = f.getPath.toUri.getPath.stripPrefix(rootUri + "/")
        val n = m.createObjectNode()
        val a = n.putObject("add")
        a.put("path", encodePath(rel)).put("size", f.getLen)
          .put("modificationTime", f.getModificationTime)
          .put("dataChange", true)
        a.putObject("partitionValues")
        adds += m.writeValueAsString(n)
      }
    }
    lines ++= adds.sorted
    val out = new Path(logPath(root), f"${0L}%020d.json")
    fs.mkdirs(logPath(root))
    val os = fs.create(out, false)
    try os.write((lines.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    (0L, out.toString)
  }

  /** METADATA TABLES — the Delta inspection surface (`DESCRIBE
    * DETAIL`, `DESCRIBE HISTORY`, the files listing) as DataFrames
    * answered from the LOG alone — no data file touched, bounded
    * driver-side replay (the cost every Delta engine pays to plan).
    * Kinds:
    *  - `files`: file_path | size_in_bytes | modification_time_ms |
    *    num_records (from add.stats, null when the writer recorded
    *    none) | dv_cardinality (0 without a DV) — the LIVE adds at the
    *    latest version; physical rows, before DV subtraction
    *  - `history`: version | timestamp_ms | operation
    *  - `detail`: one row — format | id | num_files | size_in_bytes |
    *    min_reader_version | min_writer_version | column_mapping_mode
    *    | partition_columns
    * Unknown kinds refuse by name.
    */
  def metaTable(spark: SparkSession, root: String,
      kind: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = logPath(root).getFileSystem(conf)
    kind match {
      case "files" =>
        val st = replay(spark, fs, root, None)
        require(st.version >= 0, s"no delta log under $root/$LogDir")
        st.live.toSeq.sortBy(_._1).map { case (rel, e) =>
          val numRecords = e.stats.flatMap { j =>
            val n = mapper.readTree(j)
            Option(n.get("numRecords")).filter(_.isNumber)
              .map(_.asLong())
          }
          (rel, e.size, e.modTime, numRecords,
            e.dv.map(_.cardinality).getOrElse(0L))
        }.toDF("file_path", "size_in_bytes", "modification_time_ms",
          "num_records", "dv_cardinality")
      case "history" =>
        history(spark, root).map(c =>
          (c.version, c.timestamp, c.operation))
          .toDF("version", "timestamp_ms", "operation")
      case "detail" =>
        val st = replay(spark, fs, root, None)
        require(st.version >= 0, s"no delta log under $root/$LogDir")
        Seq(("parquet", tableId(root), st.live.size.toLong,
          st.live.valuesIterator.map(_.size).sum,
          st.readerVersion, st.writerVersion, st.mappingMode,
          st.partitionCols))
          .toDF("format", "id", "num_files", "size_in_bytes",
            "min_reader_version", "min_writer_version",
            "column_mapping_mode", "partition_columns")
      case other => throw new IllegalArgumentException(
        s"unknown delta metadata table '$other' — known: files, " +
          "history, detail")
    }
  }

  /** Read the exported table at its latest delta version. */
  def read(spark: SparkSession, root: String): DataFrame =
    readAt(spark, root, -1L)

  /** Delta partition-value string → catalyst value, per the protocol's
    * serialization rules (decimal strings for numbers, ISO dates,
    * `yyyy-MM-dd HH:mm:ss[.SSSSSS]` timestamps) — all shapes Spark's
    * string Cast accepts.
    */
  private def castPartValue(s: String, dt: DataType, zone: String): Any =
    Cast(Literal(UTF8String.fromString(s), StringType), dt,
      Some(zone)).eval()

  /** Read the exported table AS OF a delta version (time-travel interop);
    * -1 = latest.
    *
    * The scan is planned ENTIRELY from the log: file paths, sizes and
    * modification times come from the replayed `add` actions (that is
    * why the Delta protocol records them) and the schema from
    * `metaData.schemaString`, handed to Spark through
    * [[org.apache.spark.sql.GraftFiles]] — planning performs zero
    * filesystem listings and zero footer reads, exactly like a real
    * Delta engine. A PARTITIONED log's partition columns are
    * reconstructed from `add.partitionValues` into real columns (the
    * data files don't store them), grouped into metadata partitions that
    * Spark's pushed partition filters prune without touching the
    * filesystem. With `validate` (the default) every listed file is
    * first checked to exist so a stale log referencing vacuumed files
    * fails LOUDLY naming one, never silently reads a partial table;
    * pass `validate = false` on trusted logs to skip those O(files)
    * existence probes too (a missing file then surfaces at execution).
    */
  def readAt(spark: SparkSession, root: String, version: Long,
             validate: Boolean = true): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = logPath(root).getFileSystem(conf)
    val st = replay(spark, fs, root,
      if (version < 0) None else Some(version))
    require(st.version >= 0, s"no delta log under $root/$LogDir")
    val schemaJson = st.schemaJson.getOrElse(throw new IllegalStateException(
      s"delta log at $root has no metaData action — not a valid table"))
    require(st.live.nonEmpty,
      s"delta version ${st.version} at $root lists no live files")
    val full = DataType.fromJson(schemaJson).asInstanceOf[StructType]

    // COLUMN MAPPING (protocol 2 / the columnMapping reader feature):
    // the data files store PHYSICAL column names (so renames are
    // metadata-only); the logical names live in the schemaString's field
    // metadata, and add.partitionValues are keyed by the physical name.
    // The scan runs under physical names — rewritten RECURSIVELY, nested
    // struct fields included — and the result is renamed back to logical
    // by a positional struct cast. 'id' mode additionally matches
    // columns by PARQUET FIELD ID: each scan-schema field carries the
    // schemaString's `delta.columnMapping.id` as `parquet.field.id`
    // metadata and Spark's parquet reader resolves by id (the exact
    // mechanism delta-spark uses); a field without a recorded id is
    // refused by name, never matched by guess.
    val mode = st.mappingMode
    require(mode == "none" || mode == "name" || mode == "id",
      s"delta table at $root uses column mapping mode '$mode' — only " +
        "'name', 'id' (and unmapped) tables are supported by this reader")
    val PhysKey = "delta.columnMapping.physicalName"
    val IdKey = "delta.columnMapping.id"
    val FieldIdKey = "parquet.field.id"
    def physName(f: org.apache.spark.sql.types.StructField): String =
      if (mode != "none" && f.metadata.contains(PhysKey))
        f.metadata.getString(PhysKey)
      else f.name
    def physMeta(f: org.apache.spark.sql.types.StructField,
        at: String): Metadata =
      if (mode != "id") Metadata.empty
      else {
        require(f.metadata.contains(IdKey),
          s"delta table at $root maps columns by id but field '$at' " +
            s"has no $IdKey in its schemaString metadata — cannot " +
            "match it against the parquet field ids")
        new MetadataBuilder()
          .putLong(FieldIdKey, f.metadata.getLong(IdKey)).build()
      }
    def physDataType(dt: DataType, at: String): DataType =
      if (mode == "none") dt
      else dt match {
        case s: StructType => StructType(s.fields.map(f =>
          StructField(physName(f), physDataType(f.dataType, s"$at.${f.name}"),
            f.nullable, physMeta(f, s"$at.${f.name}"))))
        case a: org.apache.spark.sql.types.ArrayType =>
          a.copy(elementType = physDataType(a.elementType, at))
        case m: org.apache.spark.sql.types.MapType =>
          m.copy(keyType = physDataType(m.keyType, at),
            valueType = physDataType(m.valueType, at))
        case other => other
      }
    def physField(f: org.apache.spark.sql.types.StructField): StructField =
      StructField(physName(f), physDataType(f.dataType, f.name),
        f.nullable, physMeta(f, f.name))
    if (mode == "id") {
      // session-scoped, metadata-gated: only schemas that CARRY
      // parquet.field.id metadata are affected, so leaving it on is
      // harmless to every other scan. Deliberately NOT restored (and
      // not ConfPin'd): the scan built below executes LAZILY after this
      // function returns — a restore would race the read itself, and a
      // true default here would break every later id-mapped collect
      // (reviewed round 11; the write-side pins, which ARE eager, go
      // through ConfPin)
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      // eager metadata validation BEFORE the existence sweep: a table
      // this reader cannot match by id must say so by name, not
      // "missing file"
      full.fields.foreach(physField)
    }
    val physOf = full.fields.map(f => f.name -> physName(f)).toMap
    // nullable-relaxed logical type per top-level field, the positional
    // struct-cast target that renames nested physical fields back
    def toNullable(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name, toNullable(f.dataType), nullable = true)))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = toNullable(a.elementType),
          containsNull = true)
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = toNullable(m.keyType),
          valueType = toNullable(m.valueType), valueContainsNull = true)
      case other => other
    }

    // DELETION VECTORS decode before the existence sweep — an
    // uninterpretable DV (absolute-path storage, unknown type, bad CRC)
    // should refuse by name, not as a missing data file
    val dvSets = loadDvSets(fs, root, st.live)

    // existence sweep AFTER the metadata-level refusals: a table this
    // reader cannot interpret should say so by name, not "missing file"
    if (validate) {
      // absolute (shallow-cloned) entries may live on a different
      // filesystem than the root — resolve each path's own FS
      val dead = st.live.keysIterator.map(resolvePath(root, _))
        .filterNot { p =>
          val hp = new Path(p)
          hp.getFileSystem(conf).exists(hp)
        }.toSeq
      require(dead.isEmpty,
        s"delta log at $root references ${dead.size} missing file(s) — " +
          s"e.g. ${dead.head}; vacuumed after export? Re-export the " +
          "current snapshot")
    }

    val scanned =
      if (st.partitionCols.isEmpty) {
        val files = st.live.toSeq.sortBy(_._1)
          .map { case (rel, e) =>
            (resolvePath(root, rel), e.size, e.modTime) }
        val physSchema = StructType(full.fields.map(physField))
        val zones = statsZones(root, st.live,
          physSchema.fields.map(f => f.name -> f.dataType).toMap)
        // BUCKETED scan when the log's table properties record the
        // layout and EVERY file name carries its stamped `_NNNNN`
        // bucket id (unmapped tables only — a column-mapped bucket key
        // would hash under the wrong name): the scan then declares
        // HashPartitioning(key, n) and key joins through the delta
        // path run with zero shuffle, same as the native manifest
        // read. Any unstamped file falls back to the plain scan — a
        // wrong partitioning is never declared.
        val bucketed = for {
          n <- st.configuration.get("graft.numBuckets").map(_.toInt)
          key <- st.configuration.get("graft.bucketKey")
          if mode == "none" && full.fieldNames.contains(key)
          if files.forall { case (p, _, _) =>
            org.apache.spark.sql.GraftFiles.bucketIdOf(
              new Path(p).getName).isDefined
          }
        } yield org.apache.spark.sql.GraftFiles
          .parquetBucketed(spark, files, physSchema, n, key, zones)
        bucketed.getOrElse(
          org.apache.spark.sql.GraftFiles.parquet(spark, files,
            physSchema, zones))
      } else {
        st.partitionCols.foreach(c => require(full.fieldNames.contains(c),
          s"delta log at $root partitions on '$c' which is not in the " +
            "table schema — corrupt metaData"))
        val partSchema = StructType(st.partitionCols.map(c =>
          StructField(physOf(c), full(c).dataType, nullable = true)))
        val dataSchema = StructType(
          full.filterNot(f => st.partitionCols.contains(f.name))
            .map(physField))
        val zone = spark.conf.get("spark.sql.session.timeZone")
        val groups = st.live.toSeq.groupBy(_._2.partValues).toSeq
          .sortBy(_._2.head._1).map { case (pv, entries) =>
            val vals: Seq[Any] = st.partitionCols.map { c =>
              pv.getOrElse(physOf(c), throw new IllegalStateException(
                s"delta add action at $root misses a value for partition " +
                  s"column '$c' (physical '${physOf(c)}')")) match {
                case None => null
                case Some(s) =>
                  castPartValue(s, full(c).dataType, zone)
              }
            }
            (vals, entries.sortBy(_._1).map { case (rel, e) =>
              (resolvePath(root, rel), e.size, e.modTime) })
          }
        org.apache.spark.sql.GraftFiles
          .parquetPartitioned(spark, groups, partSchema, dataSchema,
            statsZones(root, st.live,
              dataSchema.fields.map(f => f.name -> f.dataType).toMap))
      }
    // DELETION VECTORS (merge-on-read): subtract each file's deleted
    // row indices via a codegen anti-filter on the scan's metadata
    // columns — a per-row O(1)+binary-search probe, NO join, NO shuffle.
    // Keyed by file NAME (unique-checked): _metadata.file_path renders
    // scheme-qualified URIs, and per-row URI canonicalization would put
    // string work on the 100 TB hot path for nothing.
    val deleted =
      if (dvSets.isEmpty) scanned
      else {
        val names = st.live.keysIterator
          .map(rel => new Path(rel).getName).toSeq
        require(names.distinct.size == names.size,
          s"delta table at $root has duplicate data-file NAMES across " +
            "directories while carrying deletion vectors — the name-" +
            "keyed DV probe would be ambiguous; read with a full engine")
        val byName = dvSets.map { case (rel, arr) =>
          UTF8String.fromString(new Path(rel).getName) -> arr
        }
        import org.apache.spark.sql.functions.col
        scanned.filter(graft.functions.DvFilter(
          col("_metadata.file_name"), col("_metadata.row_index"), byName))
      }
    // logical names + the schemaString's declared order; a nested
    // mapped type is renamed back by a positional struct cast (same
    // leaf types — rename-only, no value conversion)
    deleted.select(full.fields.toIndexedSeq.map { f =>
      val c = org.apache.spark.sql.functions.col(physOf(f.name))
      val renamed =
        if (physDataType(f.dataType, f.name) == f.dataType) c
        else c.cast(toNullable(f.dataType))
      renamed.as(f.name)
    }: _*)
  }

  /** PHYSICAL -> logical column mapping of the CURRENT schemaString
    * (empty for unmapped tables) — the names cdc and data files are
    * stored under. One log replay; physical names are immutable under
    * the protocol, so the mapping is stable across renames.
    */
  def columnMapping(spark: SparkSession, root: String)
      : Map[String, String] = {
    val fs = logPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = replay(spark, fs, root, None)
    if (st.mappingMode == "none") Map.empty
    else st.schemaJson.toSeq.flatMap { j =>
      DataType.fromJson(j).asInstanceOf[StructType].fields.flatMap { f =>
        if (!f.metadata.contains("delta.columnMapping.physicalName"))
          None
        else Some(f.metadata
          .getString("delta.columnMapping.physicalName") -> f.name)
      }
    }.toMap
  }

  /** CHANGE DATA FEED read (`table_changes(from, to)`): the row-level
    * changes of delta versions `fromVersion..toVersion` (-1 = latest),
    * reconstructed from each version's `cdc` actions, with the reader-
    * generated `_commit_version` column. Version 0 without cdc files is
    * the initial WRITE — its adds ARE the inserts (the spec's add/remove
    * fallback is only sound there); any later version without change
    * data is refused loudly (a bucket-rewriting commit's adds are NOT
    * its row-level changes), as is a version whose JSON was expired.
    */
  def readChanges(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Long = -1L): DataFrame = {
    val fs = logPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = listVersions(fs, root).toMap
    require(versions.nonEmpty, s"no retained delta log under $root")
    val hi = if (toVersion < 0) versions.keys.max else toVersion
    require(fromVersion >= 0 && fromVersion <= hi,
      s"bad change range $fromVersion..$hi")
    // COLUMN MAPPING: cdc files store PHYSICAL column names exactly
    // like data files; the latest metaData's schemaString maps them
    // back to the logical surface. Physical names are immutable under
    // the protocol, so one mapping covers every version in the window
    // even across renames.
    val physToLogical = columnMapping(spark, root)
    def toLogical(df: DataFrame): DataFrame =
      if (physToLogical.isEmpty) df
      else df.select(df.columns.toIndexedSeq.map(c =>
        df(c).as(physToLogical.getOrElse(c, c))): _*)
    val m = mapper
    import org.apache.spark.sql.functions.lit
    val frames = (fromVersion to hi).map { v =>
      val p = versions.getOrElse(v, throw new IllegalArgumentException(
        s"delta version $v at $root is not retained (log expired) — " +
          "its change feed is gone with it"))
      val lines = readLines(fs, p)
      val nodes = lines.map(m.readTree)
      val cdc = nodes.filter(_.has("cdc"))
        .map(n => decodePath(n.get("cdc").get("path").asText()))
      if (cdc.nonEmpty)
        toLogical(spark.read.parquet(
          cdc.map(resolvePath(root, _)): _*))
          .withColumn("_commit_version", lit(v))
      else if (v == 0L) {
        val adds = nodes.filter(_.has("add"))
          .map(n => decodePath(n.get("add").get("path").asText()))
        require(adds.nonEmpty, s"delta v0 at $root has no add actions")
        toLogical(spark.read
          .parquet(adds.map(resolvePath(root, _)): _*)
          .drop("__bucket"))
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(0L))
      } else throw new IllegalArgumentException(
        s"delta version $v at $root carries no change-data files — it " +
          "was exported without changeDataKey; recompute the diff from " +
          "the snapshots instead")
    }
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** One retained log version's summary (DESCRIBE HISTORY interop). */
  case class Commit(version: Long, timestamp: Long, operation: String,
      numAdds: Int, numRemoves: Int)

  /** Per-version commit timestamp: `commitInfo.timestamp` when the
    * writer recorded one, else the log file's modification time — the
    * spec's own fallback for timestamp resolution.
    */
  private def commitTimestamp(fs: FileSystem, p: Path,
      lines: Seq[String]): (Long, String) = {
    val m = mapper
    lines.iterator.map(m.readTree).find(_.has("commitInfo")).map { n =>
      val ci = n.get("commitInfo")
      (Option(ci.get("timestamp")).map(_.asLong())
         .getOrElse(fs.getFileStatus(p).getModificationTime),
       Option(ci.get("operation")).map(_.asText()).getOrElse(""))
    }.getOrElse((fs.getFileStatus(p).getModificationTime, ""))
  }

  /** The RETAINED history, newest first — only versions whose JSON still
    * exists (cleaned-up versions are gone from history here exactly as
    * in a real Delta engine). Cost: one pass over the retained log.
    */
  def history(spark: SparkSession, root: String): Seq[Commit] = {
    val fs = logPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = mapper
    listVersions(fs, root).map { case (v, p) =>
      val lines = readLines(fs, p)
      val (ts, op) = commitTimestamp(fs, p, lines)
      // parsed action counts, not substring matches — a foreign
      // commitInfo carrying an "add" key in operationParameters (or a
      // cdc/metaData line with those literals) must not miscount
      val nodes = lines.map(m.readTree)
      Commit(v, ts, op,
        nodes.count(_.has("add")), nodes.count(_.has("remove")))
    }.reverse
  }

  /** Time travel BY TIMESTAMP: read the latest version whose commit
    * timestamp is <= `ts` (the `TIMESTAMP AS OF` contract). Refuses a
    * timestamp before the earliest RETAINED version — resolving it
    * against cleaned history would silently pick the wrong snapshot.
    */
  def readAtTimestamp(spark: SparkSession, root: String,
      ts: Long): DataFrame = {
    val fs = logPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commits = listVersions(fs, root).map { case (v, p) =>
      (v, commitTimestamp(fs, p, readLines(fs, p))._1)
    }
    require(commits.nonEmpty, s"no delta log under $root/$LogDir")
    val at = commits.filter(_._2 <= ts).map(_._1).maxOption.getOrElse(
      throw new IllegalArgumentException(
        s"timestamp $ts predates the earliest retained delta version " +
          s"(${commits.head._1} @ ${commits.head._2}) at $root — older " +
          "history was cleaned up"))
    readAt(spark, root, at)
  }

  /** Metadata cleanup (the protocol's log-expiration story): delete every
    * version JSON and every older checkpoint strictly BELOW the last
    * checkpoint version. Replay stays complete because the checkpoint
    * carries the cleaned prefix's state; version-travel below the
    * checkpoint afterwards refuses loudly by design. Returns the number
    * of files removed. A table with no checkpoint cleans nothing —
    * deleting un-checkpointed history would break the table.
    */
  def cleanLog(spark: SparkSession, root: String): Int = {
    val fs = logPath(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    listCheckpoints(fs, root).lastOption match {
      case None => 0
      case Some((cv, _)) =>
        val oldJson = listVersions(fs, root).filter(_._1 < cv).map(_._2)
        val oldCp = fs.listStatus(logPath(root)).toSeq.map(_.getPath)
          .filter(p => p.getName match {
            case CpFile(v) => v.toLong < cv
            case CpPartFile(v, _, _) => v.toLong < cv
            case CpV2File(v, _, _) => v.toLong < cv
            case _ => false
          })
        val n = (oldJson ++ oldCp).map { p =>
          require(fs.delete(p, false), s"could not delete $p")
          1
        }.sum
        n + sweepV2Sidecars(spark, fs, root) +
          sweepSidecars(spark, fs, root)
    }
  }

  /** The sidecar refs (`_sidecars`-relative names) a v2 checkpoint TOP
    * file carries — parquet or json form.
    */
  private def v2SidecarRefs(spark: SparkSession, fs: FileSystem,
      top: Path): Set[String] = top.getName match {
    case CpV2File(_, _, "json") =>
      readLines(fs, top).map(mapper.readTree)
        .filter(_.has("sidecar"))
        .map(n => decodePath(n.get("sidecar").get("path").asText())).toSet
    case _ =>
      spark.read.parquet(top.toString).collect()
        .flatMap(optField[Row](_, "sidecar"))
        .flatMap(optField[String](_, "path")).map(decodePath).toSet
  }

  /** Delete `_delta_log/_sidecars` parquets no RETAINED v2 checkpoint
    * top references — each expiration cycle would otherwise leak the
    * expired checkpoints' sidecar files forever. Foreign layouts are
    * safe: only files inside the spec's own `_sidecars` directory are
    * candidates, and liveness is read from every remaining top.
    */
  private def sweepV2Sidecars(spark: SparkSession, fs: FileSystem,
      root: String): Int = {
    val scDir = sidecarDir(root)
    if (!fs.exists(scDir)) return 0
    val tops = fs.listStatus(logPath(root)).toSeq.map(_.getPath)
      .filter(isV2Top)
    val live = tops.flatMap(v2SidecarRefs(spark, fs, _)).toSet
    var removed = 0
    fs.listStatus(scDir).foreach { st =>
      if (!live.contains(st.getPath.getName)) {
        require(fs.delete(st.getPath, false),
          s"could not delete ${st.getPath}")
        removed += 1
      }
    }
    removed
  }

  /** The VACUUM half of log expiration: change-data parquets and
    * deletion-vector bins referenced ONLY by just-expired versions are
    * unreachable forever (readChanges refuses expired windows; readAt
    * refuses versions below the checkpoint) — without a sweep each
    * expiration cycle leaks them. Liveness is log-derived: every cdc
    * path in a RETAINED version JSON and every DV sidecar named by any
    * RETAINED state's descriptors (checkpoint adds replay the expired
    * prefix's live set, so still-referenced sidecars survive). Only
    * files matching this writer's naming patterns are candidates —
    * foreign layouts are never guessed at.
    */
  private def sweepSidecars(spark: SparkSession, fs: FileSystem,
      root: String): Int = {
    val m = mapper
    // live cdc paths: union over retained JSON versions
    val liveCdc = listVersions(fs, root).flatMap { case (_, p) =>
      readLines(fs, p).map(m.readTree).filter(_.has("cdc"))
        .map(n => decodePath(n.get("cdc").get("path").asText()))
    }.toSet
    // live DV sidecars: descriptors visible from ANY retained version =
    // checkpoint adds + every retained JSON's adds (an expired version's
    // still-live files ride the checkpoint with their descriptors)
    val r = new Replayer(root)
    listCheckpoints(fs, root).lastOption
      .foreach { case (_, parts) =>
        loadCheckpoint(spark, fs, root, parts, r) }
    val jsonDvs = listVersions(fs, root).flatMap { case (_, p) =>
      readLines(fs, p).map(m.readTree).filter(_.has("add"))
        .flatMap(n => Option(n.get("add").get("deletionVector"))
          .filterNot(_.isNull)
          .filter(d => d.get("storageType").asText() == "u")
          .map(d => d.get("pathOrInlineDv").asText()))
    }
    val liveDvNames = (r.live.values.flatMap(_.dv)
      .filter(_.storageType == "u").map(_.pathOrInlineDv) ++ jsonDvs)
      .filter(_.length >= 20)
      .map(enc => dvFileName(Base85.decodeUuid(enc.takeRight(20)))).toSet

    var removed = 0
    val cdcDir = new Path(root, "_change_data")
    if (fs.exists(cdcDir)) fs.listStatus(cdcDir).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("cdc-") && name.endsWith(".parquet") &&
          !liveCdc.contains(s"_change_data/$name")) {
        require(fs.delete(st.getPath, false), s"could not delete $st")
        removed += 1
      }
    }
    fs.listStatus(new Path(root)).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("deletion_vector_") && name.endsWith(".bin") &&
          !liveDvNames.contains(name)) {
        require(fs.delete(st.getPath, false), s"could not delete $st")
        removed += 1
      }
    }
    removed
  }
}
