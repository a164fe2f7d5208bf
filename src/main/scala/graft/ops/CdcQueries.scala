package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.cdc.{Decode, Fixtures, Scd2}
import graft.functions.DebeziumDecimal
import graft.streaming.FixtureLock

/** Reference-parity CDC queries (SURVEY §2), run over a deterministic
  * Debezium-envelope change stream derived from `$sfDir/orders.parquet` and
  * round-tripped through real NDJSON text (see [[graft.cdc.Fixtures]]) — so
  * every query exercises the full S4 (NDJSON scan semantics) + O4 (envelope
  * decode) path, and the DuckDB oracle can independently derive the same
  * change stream relationally.
  */
object CdcQueries {

  /** Shared decoded+flattened change log: the reference's
    * `products_create_update_delete` CTE shape (reference
    * `example/duckdb_minio_product_scd2.sql:12-30`), C1 = one `val` reused.
    */
  private def changeLog(spark: SparkSession, sfDir: String): DataFrame = {
    val log = Fixtures.ordersChangeLog(Tables(spark, sfDir, "orders"), sfDir)
    log.select(
      col("id"),
      col("after.status").as("status"),
      col("after.totalprice").as("totalprice"),
      col("operation_type"),
      col("log_seq_num"),
      col("source_timestamp"))
  }


  /** Materialize the two-batch MERGE apply once per sfDir; returns the
    * manifest-table root. Deterministic: both batches are pure functions
    * of the change log, so the committed table is too.
    */
  private def mergedOrdersTableDir(s: SparkSession, dir: String): String = {
    // _v6: bucket-id-STAMPED file names (`_NNNNN`, Spark's bucketed-scan
    // contract) + the __bucketKey slot — reads now declare
    // HashPartitioning(id, 64), so key joins/aggs over this table run
    // with zero shuffle. _v5 added manifest-recorded file statuses
    // (zero listings); _v4 the schema slot (zero footer reads); _v3 the
    // one-file-per-bucket commit layout.
    val root = FixtureLock.root(dir, "orders_merge_table_v6")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        import org.apache.spark.sql.expressions.Window
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        val w = Window.partitionBy(col("id"))
          .orderBy(col("log_seq_num").desc)
        val b2 = log.filter(col("operation_type") =!= "CREATE")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("id"), col("status"), col("totalprice"),
            (col("operation_type") === "DELETE").as("del"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        graft.streaming.MergeInto.mergeBatch(s, b2, store, "id",
          deleteCol = Some("del"))
    }
    store
  }

  /** Materialize the ANALYZEd merge table once per sfDir: the same
    * two-batch merge apply, then [[graft.streaming.MergeInto.analyzeTable]]
    * commits per-column statistics as `__stat:` metadata (version 3).
    * Own root — ANALYZE adds a commit, and fixtures are shared.
    */
  private def analyzedOrdersTableDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_merge_analyze_v2")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        import org.apache.spark.sql.expressions.Window
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        val w = Window.partitionBy(col("id"))
          .orderBy(col("log_seq_num").desc)
        val b2 = log.filter(col("operation_type") =!= "CREATE")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("id"), col("status"), col("totalprice"),
            (col("operation_type") === "DELETE").as("del"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        graft.streaming.MergeInto.mergeBatch(s, b2, store, "id",
          deleteCol = Some("del"))
        graft.streaming.MergeInto.analyzeTable(s, store,
          numericCols = Seq("id", "totalprice"), stringCols = Seq("status"))
    }
    store
  }

  /** Materialize the DELETION-VECTOR table once per sfDir: version 1
    * commits the CREATE payloads, version 2 is a [[graft.streaming
    * .MergeInto.deleteVector]] of every id%5==0 key (merge-on-read: only
    * the tiny key sidecar is written — no bucket rewritten), version 3
    * materializes the DV into the buckets (copy-on-write catch-up, DV
    * slot cleared). The two gates read versions 2 and 3 against the SAME
    * relational oracle: the logical table must not care which side of the
    * materialization it is read from.
    */
  private def dvOrdersTableDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_merge_dv_v2")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        graft.streaming.MergeInto.deleteVector(s, store, "id",
          b1.filter(col("id") % 5 === 0).select(col("id")))
        graft.streaming.MergeInto.materializeDeletes(s, store, "id")
    }
    store
  }

  /** Materialize the PROTOCOL-DV delta table once per sfDir: version 0
    * exports the CREATE payloads plain; a [[graft.streaming.MergeInto
    * .deleteVector]] of every id%7==0 key then exports with
    * `deleteVectors = true` — version 1 re-adds every file carrying its
    * deleted ROW POSITIONS as a protocol deletion vector (roaring-bitmap
    * sidecar + add.deletionVector descriptor, reader 3 / writer 7), the
    * exact merge-on-read shape delta-spark ≥2.3 writes on a DELETE. The
    * physical parquet still holds the deleted rows; only the DV read
    * path can answer correctly.
    */
  private def deltaDvTableDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_delta_dv_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        graft.streaming.DeltaExport.export(s, store)
        graft.streaming.MergeInto.deleteVector(s, store, "id",
          b1.filter(col("id") % 7 === 0).select(col("id")))
        val (v, _) = graft.streaming.DeltaExport.export(s, store,
          deleteVectors = true)
        require(v == 1L, s"DV fixture expected delta version 1, got $v")
    }
    store
  }

  /** Materialize the STATS-bearing foreign delta log once per sfDir: the
    * CREATE payloads split into 4 id-ordered range files (NTILE), each
    * add action carrying true per-file `stats` (numRecords, min/max id
    * and totalprice, nullCount) exactly as a foreign Delta writer
    * records them — the reader's zone-map data skipping plans only the
    * files a pushed id predicate can match (numFiles pinned in
    * DeltaExportSpec; this gate proves the skipping read ANSWERS right).
    */
  private def deltaStatsLogDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_delta_stats_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        import org.apache.spark.sql.expressions.Window
        val creates = changeLog(s, dir)
          .filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
          .withColumn("__q", ntile(4).over(Window.orderBy(col("id"))))
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        val lines = scala.collection.mutable.ArrayBuffer.empty[String]
        lines +=
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
        val meta = m.createObjectNode()
        val md = meta.putObject("metaData")
        md.put("id", "graft-stats-fixture")
        md.putObject("format").put("provider", "parquet")
        md.put("schemaString", creates.drop("__q").schema.json)
        md.putArray("partitionColumns")
        md.putObject("configuration")
        lines += m.writeValueAsString(meta)
        (1 to 4).foreach { q =>
          val part = creates.filter(col("__q") === q).drop("__q")
          val st = part.agg(count(lit(1)), min("id"), max("id"),
            min("totalprice"), max("totalprice")).head
          val stage = s"$store/stage$q"
          part.coalesce(1).write.parquet(stage)
          val f = new java.io.File(stage).listFiles()
            .find(_.getName.startsWith("part-")).get
          val dst = new java.io.File(store, s"range$q.parquet")
          java.nio.file.Files.move(f.toPath, dst.toPath)
          val stats = m.createObjectNode()
          stats.put("numRecords", st.getLong(0))
          stats.putObject("minValues").put("id", st.getLong(1))
            .put("totalprice", st.getDouble(3))
          stats.putObject("maxValues").put("id", st.getLong(2))
            .put("totalprice", st.getDouble(4))
          stats.putObject("nullCount").put("id", 0L).put("totalprice", 0L)
          val n = m.createObjectNode()
          n.putObject("add").put("path", dst.getName)
            .put("size", dst.length()).put("modificationTime", 1L)
            .put("dataChange", true)
            .put("stats", m.writeValueAsString(stats))
            .putObject("partitionValues")
          lines += m.writeValueAsString(n)
        }
        val logDir = new java.io.File(store, "_delta_log")
        require(logDir.mkdirs(), s"could not create $logDir")
        val w = new java.io.PrintWriter(
          new java.io.File(logDir, "00000000000000000000.json"), "UTF-8")
        try lines.foreach(w.println) finally w.close()
    }
    store
  }

  /** Materialize the delta-CHECKPOINT table once per sfDir: the CREATE
    * batch plus the non-CREATE changes applied as 12 disjoint id-hash
    * slices, each merge followed by a [[graft.streaming.DeltaExport]]
    * export (interval 10) — 13 delta versions, a classic checkpoint at
    * v10, `_last_checkpoint` published. The fixture then DELETES the
    * pre-checkpoint JSON versions (0..9), the shape of a real Delta
    * table whose old log files were cleaned up: the only way the reader
    * can answer is by replaying from the checkpoint.
    */
  private def deltaCheckpointTableDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_delta_checkpoint_v2")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        import org.apache.spark.sql.expressions.Window
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        val w = Window.partitionBy(col("id"))
          .orderBy(col("log_seq_num").desc)
        val b2 = log.filter(col("operation_type") =!= "CREATE")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("id"), col("status"), col("totalprice"),
            (col("operation_type") === "DELETE").as("del"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        graft.streaming.DeltaExport.export(s, store, checkpointInterval = 4)
        // 12 slices, disjoint by id (hash-spread: the change-log ids are
        // all odd, so a plain id%12 would leave the even residues empty
        // and their exports idempotent) — application order is
        // irrelevant to the final state, which equals applying b2 whole
        (0 until 12).foreach { i =>
          graft.streaming.MergeInto.mergeBatch(s,
            b2.filter(pmod(hash(col("id")), lit(12)) === i), store, "id",
            deleteCol = Some("del"))
          graft.streaming.DeltaExport.export(s, store,
            checkpointInterval = 4)
        }
        // expire every version the checkpoint covers (the library's own
        // metadata cleanup) — the reader can only answer by replaying
        // from the checkpoint
        val removed = graft.streaming.DeltaExport.cleanLog(s, store)
        require(removed > 0,
          "fixture expected cleanLog to expire pre-checkpoint versions")
    }
    store
  }

  /** Materialize the ICEBERG-exported orders table once per sfDir: the
    * two-batch merge with an [[graft.streaming.IcebergExport]] publish
    * after each batch — snapshot 1 is the CREATE payloads, snapshot 2
    * the final merged state, both consumable by any Iceberg engine
    * (spec-v2 metadata.json + Avro manifests, files in place).
    */
  private def icebergOrdersTableDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_iceberg_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        import org.apache.spark.sql.expressions.Window
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        val w = Window.partitionBy(col("id"))
          .orderBy(col("log_seq_num").desc)
        val b2 = log.filter(col("operation_type") =!= "CREATE")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("id"), col("status"), col("totalprice"),
            (col("operation_type") === "DELETE").as("del"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        val (s1, _) = graft.streaming.IcebergExport.export(s, store)
        require(s1 == 1L, s"expected iceberg snapshot 1, got $s1")
        graft.streaming.MergeInto.mergeBatch(s, b2, store, "id",
          deleteCol = Some("del"))
        val (s2, _) = graft.streaming.IcebergExport.export(s, store)
        require(s2 == 2L, s"expected iceberg snapshot 2, got $s2")
    }
    store
  }

  /** Materialize OUR partitioned-ICEBERG publish once per sfDir: the
    * CREATE payloads published via
    * [[graft.streaming.IcebergExport.exportPartitioned]] — identity
    * spec on `status`, partition columns kept in the files (the
    * Iceberg contract), typed partition tuples in the manifest.
    */
  private def icebergPublishedPartDir(s: SparkSession,
      dir: String): String = {
    val root = FixtureLock.root(dir, "orders_iceberg_part_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val creates = changeLog(s, dir)
          .filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.IcebergExport.exportPartitioned(
          s, creates, store, Seq("status"))
    }
    store
  }

  /** Materialize the EXPIRED-snapshots Iceberg table once per sfDir:
    * the two-batch merge exported after each batch, then
    * `expireSnapshots(keepLast = 1)` — snapshot 1's manifest list and
    * manifest deleted, snapshot 2 still fully readable from the
    * rewritten metadata.
    */
  private def icebergExpiredTableDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_iceberg_expire_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        import org.apache.spark.sql.expressions.Window
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        val w = Window.partitionBy(col("id"))
          .orderBy(col("log_seq_num").desc)
        val b2 = log.filter(col("operation_type") =!= "CREATE")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("id"), col("status"), col("totalprice"),
            (col("operation_type") === "DELETE").as("del"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        graft.streaming.IcebergExport.export(s, store)
        graft.streaming.MergeInto.mergeBatch(s, b2, store, "id",
          deleteCol = Some("del"))
        graft.streaming.IcebergExport.export(s, store)
        val removed = graft.streaming.IcebergExport
          .expireSnapshots(s, store, keepLast = 1)
        require(removed >= 2,
          s"fixture expected expired metadata files, removed $removed")
    }
    store
  }

  /** Materialize the EQUALITY-delete Iceberg table once per sfDir: the
    * CREATE payloads exported (snapshot 1, position mode seeds the
    * carried files), then the id%7 keys deleted merge-on-read and
    * exported with `equalityDeletes = true` — snapshot 2's delete file
    * IS the key list (content=2, equality_ids), applied by the reader
    * as a null-safe anti-join under the strictly-older-sequence rule.
    */
  private def icebergEqDeleteTableDir(s: SparkSession,
      dir: String): String = {
    val root = FixtureLock.root(dir, "orders_iceberg_eqdel_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        graft.streaming.IcebergExport.export(s, store)
        graft.streaming.MergeInto.deleteVector(s, store, "id",
          b1.filter(col("id") % 7 === 0).select(col("id")))
        val (v, _) = graft.streaming.IcebergExport.export(s, store,
          deleteFiles = true, equalityDeletes = true)
        require(v == 2L, s"fixture expected iceberg snapshot 2, got $v")
    }
    store
  }

  /** Materialize the MIXED-SEQUENCE equality-delete table once per
    * sfDir — the Flink-CDC steady-state shape: snapshot 1 exports the
    * CREATE payloads, snapshot 2 publishes an id%7==0 equality delete
    * (files all carried at sequence 1), then the UPDATE batch merges —
    * rewriting its buckets, including ids the delete named (RE-INSERTS)
    * — and snapshot 3 exports the remaining pending keys as a second
    * equality delete while carrying the first. Data files now sit at
    * sequences 1 AND 3 with deletes at 2 and 3: each delete reaches
    * only STRICTLY OLDER files, so an updated id%7==0 key must survive
    * (its post-delete file escapes the delete) while untouched deleted
    * keys drop from their carried files.
    */
  private def icebergEqMixedTableDir(s: SparkSession,
      dir: String): String = {
    // _v2: the merge touches only a SMALL deterministic update set (8
    // lowest update ids + the lowest id%7==0 one) so MOST buckets stay
    // carried at sequence 1 at EVERY scale factor — snapshot 3 then has
    // data files at sequences 1 AND 3 with deletes at 2 and 3, and the
    // reader's per-file scoping (not the uniform fast path) answers.
    // (_v1's full UPDATE batch rewrote every bucket at sf>=0.01, which
    // collapsed the gate to one sequence group.)
    val root = FixtureLock.root(dir, "orders_iceberg_eqmix_v2")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        graft.streaming.IcebergExport.export(s, store)
        graft.streaming.MergeInto.deleteVector(s, store, "id",
          b1.filter(col("id") % 7 === 0).select(col("id")))
        val (v2, _) = graft.streaming.IcebergExport.export(s, store,
          deleteFiles = true, equalityDeletes = true)
        require(v2 == 2L, s"fixture expected iceberg snapshot 2, got $v2")
        val updAll = log.filter(col("operation_type") === "UPDATE")
          .select(col("id"), col("status"), col("totalprice"))
        // the deterministic RE-INSERT: the lowest updated id the
        // equality delete named (id%7==0) — its post-delete file must
        // survive the delete under per-file scoping
        val b2 = updAll.orderBy(col("id")).limit(8)
          .unionByName(updAll.filter(col("id") % 7 === 0)
            .orderBy(col("id")).limit(1))
          .distinct()
        graft.streaming.MergeInto.mergeBatch(s, b2, store, "id")
        val (v3, _) = graft.streaming.IcebergExport.export(s, store,
          deleteFiles = true, equalityDeletes = true)
        require(v3 == 3L, s"fixture expected iceberg snapshot 3, got $v3")
    }
    store
  }

  /** Materialize a SHALLOW-CLONE delta log once per sfDir: a fresh v0
    * log whose add actions reference the MERGED orders table's live
    * data files by ABSOLUTE URI — zero bytes copied, the exact log
    * shape `CLONE` produces. The reader must resolve the external
    * references verbatim (never under the clone root) and answer
    * identically to the source.
    */
  private def deltaShallowCloneDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_delta_clonelog_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val src = mergedOrdersTableDir(s, dir)
        val files = graft.streaming.MergeInto.readTable(s, src)
          .inputFiles.sorted // absolute file: URIs of the live set
        require(files.nonEmpty, s"clone source $src has no live files")
        val schema = s.read.parquet(files.head).schema
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        val lines = scala.collection.mutable.ArrayBuffer.empty[String]
        lines +=
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
        val meta = m.createObjectNode()
        val md = meta.putObject("metaData")
        md.put("id", "graft-shallow-clone")
        md.putObject("format").put("provider", "parquet")
        md.put("schemaString", schema.json)
        md.putArray("partitionColumns")
        md.putObject("configuration")
        lines += m.writeValueAsString(meta)
        files.foreach { uri =>
          val f = if (uri.startsWith("file:"))
            new java.io.File(new java.net.URI(uri))
          else new java.io.File(uri)
          val n = m.createObjectNode()
          val a = n.putObject("add")
          a.put("path", uri).put("size", f.length())
            .put("modificationTime", f.lastModified())
            .put("dataChange", true)
          a.putObject("partitionValues")
          lines += m.writeValueAsString(n)
        }
        val logDir = new java.io.File(store, "_delta_log")
        logDir.mkdirs()
        require(logDir.isDirectory, s"cannot create $logDir")
        val w = new java.io.PrintWriter(
          new java.io.File(logDir, "00000000000000000000.json"), "UTF-8")
        try lines.foreach(w.println) finally w.close()
    }
    store
  }

  /** Materialize the COLUMN-MAPPED CDF delta table once per sfDir:
    * version 0 exports the CREATE payloads with a change feed, a
    * METADATA-ONLY rename (status → order_status) follows, and version
    * 1 exports the UPDATE merge — its cdc files store PHYSICAL column
    * names exactly like the data files of a mapped log (the protocol's
    * column-mapping rule applies to every file the log references), and
    * `table_changes` maps them back to the post-rename logical schema.
    */
  private def deltaColMapCdfDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_delta_cdfmap_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        graft.streaming.DeltaExport.export(s, store,
          changeDataKey = Some("id"))
        graft.streaming.MergeInto.renameColumn(s, store,
          "status", "order_status")
        val b2 = log.filter(col("operation_type") === "UPDATE")
          .select(col("id"), col("status").as("order_status"),
            col("totalprice"))
        graft.streaming.MergeInto.mergeBatch(s, b2, store, "id")
        val (v, _) = graft.streaming.DeltaExport.export(s, store,
          changeDataKey = Some("id"))
        require(v == 1L, s"fixture expected delta version 1, got $v")
    }
    store
  }

  /** Materialize the STATS-bearing Iceberg publish once per sfDir: the
    * CREATE payloads range-split into 4 id-ordered files via
    * [[graft.streaming.IcebergExport.publish]], whose manifest records
    * per-file `lower_bounds`/`upper_bounds`/`null_value_counts` in the
    * spec's single-value binary form — an id predicate plans only the
    * matching range files from the manifest alone.
    */
  private def icebergStatsTableDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_iceberg_stats_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val creates = changeLog(s, dir)
          .filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.IcebergExport.publish(
          s, creates.repartitionByRange(4, col("id")), store)
    }
    store
  }

  /** Materialize the ICEBERG position-delete table once per sfDir: the
    * CREATE payloads exported as snapshot 1, then the id%7 keys deleted
    * merge-on-read and exported with `deleteFiles = true` — snapshot 2
    * subtracts them through a spec position-delete parquet referenced
    * by a DELETE manifest, no data file rewritten.
    */
  private def icebergDvTableDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_iceberg_dv_v2")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        graft.streaming.IcebergExport.export(s, store)
        graft.streaming.MergeInto.deleteVector(s, store, "id",
          b1.filter(col("id") % 7 === 0).select(col("id")))
        val (v, _) = graft.streaming.IcebergExport.export(s, store,
          deleteFiles = true)
        require(v == 2L, s"fixture expected iceberg snapshot 2, got $v")
    }
    store
  }

  /** Materialize the ICEBERG V3 PUFFIN-DV table once per sfDir: the
    * CREATE payloads published as snapshot 1 across 4 range files, then
    * the id%7 keys hand-forged into a v3 deletion-vector snapshot (the
    * Spark-4/Iceberg-1.8 merge-on-read shape this exporter does not
    * write) — the reader must decode the framed roaring blobs from the
    * puffin file and subtract per referenced data file.
    */
  private def icebergV3DvTableDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_iceberg_v3dv_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val creates = changeLog(s, dir)
          .filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.IcebergExport.publish(
          s, creates.repartitionByRange(4, col("id")), store)
        graft.streaming.ForeignIcebergShapes.forgeV3Dv(
          s, store, col("id") % 7 === 0)
    }
    store
  }

  /** Materialize the ICEBERG V3 INITIAL-DEFAULT table once per sfDir:
    * the CREATE payloads published, then a `priority` column hand-added
    * to the metadata with `initial-default: 3` (the v3 evolved-schema
    * shape) — no data file stores it, so every row must surface the
    * default, never NULL.
    */
  private def icebergV3DefaultTableDir(s: SparkSession,
      dir: String): String = {
    val root = FixtureLock.root(dir, "orders_iceberg_v3def_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val creates = changeLog(s, dir)
          .filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.IcebergExport.publish(
          s, creates.repartitionByRange(4, col("id")), store)
        graft.streaming.ForeignIcebergShapes.addDefaultedColumn(
          store, "priority", "long",
          com.fasterxml.jackson.databind.node.JsonNodeFactory.instance
            .numberNode(3L))
    }
    store
  }

  /** Materialize the ICEBERG V3 DV-EXPORT table once per sfDir: the
    * CREATE payloads exported as snapshot 1, then the id%7 keys deleted
    * merge-on-read and exported with `deletionVectors = true` —
    * snapshot 2 publishes the spec's v3 PUFFIN DELETION VECTORS (one
    * roaring blob per referenced data file, format-version 3) NATIVELY
    * (the write half of the forged-foreign read path cdc_iceberg_v3_dv
    * exercises). No data file is rewritten; the export's scan is
    * bounded to the deleted keys' buckets, its metadata to O(deleted
    * rows) puffin bytes.
    */
  private def icebergDvExportTableDir(s: SparkSession,
      dir: String): String = {
    val root = FixtureLock.root(dir, "orders_iceberg_dvexp_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        graft.streaming.IcebergExport.export(s, store)
        graft.streaming.MergeInto.deleteVector(s, store, "id",
          b1.filter(col("id") % 7 === 0).select(col("id")))
        val (v, _) = graft.streaming.IcebergExport.export(s, store,
          deleteFiles = true, deletionVectors = true)
        require(v == 2L, s"fixture expected iceberg snapshot 2, got $v")
    }
    store
  }

  /** Materialize the ICEBERG CHANGELOG table once per sfDir: the same
    * two-batch merge as [[mergedOrdersTableDir]], exported after EACH
    * batch — snapshot 1 is the CREATE state, snapshot 2 the merged
    * final state (an `overwrite` snapshot: buckets were rewritten).
    * [[graft.streaming.IcebergExport.readChanges]] diffs the two into
    * the net change feed an incremental APPEND scan cannot represent.
    */
  private def icebergChangelogTableDir(s: SparkSession,
      dir: String): String = {
    // _v2: a foreign "audit" TAG forged at snapshot 1 (the tag-read
    // gate resolves it by name; the changelog gate ignores refs)
    val root = FixtureLock.root(dir, "orders_iceberg_changelog_v2")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        import org.apache.spark.sql.expressions.Window
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        val w = Window.partitionBy(col("id"))
          .orderBy(col("log_seq_num").desc)
        val b2 = log.filter(col("operation_type") =!= "CREATE")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("id"), col("status"), col("totalprice"),
            (col("operation_type") === "DELETE").as("del"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        graft.streaming.IcebergExport.export(s, store)
        graft.streaming.MergeInto.mergeBatch(s, b2, store, "id",
          deleteCol = Some("del"))
        val (v, _) = graft.streaming.IcebergExport.export(s, store)
        require(v == 2L, s"fixture expected iceberg snapshot 2, got $v")
        graft.streaming.ForeignIcebergShapes.addRef(store, "audit", 1L)
    }
    store
  }

  /** Materialize the ICEBERG V3 NESTED-DEFAULT table once per sfDir:
    * the CREATE payloads published with a STRUCT column, then a child
    * field hand-added to the struct in the metadata with
    * `initial-default: 7` — every data file predates the child, so the
    * read must surface the default INSIDE each non-null struct, never
    * NULL (the struct-surgery read path the top-level default gate
    * cannot reach).
    */
  private def icebergNestedDefaultTableDir(s: SparkSession,
      dir: String): String = {
    val root = FixtureLock.root(dir, "orders_iceberg_nestdef_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val creates = changeLog(s, dir)
          .filter(col("operation_type") === "CREATE")
          .select(col("id"),
            struct(col("status"), col("totalprice")).as("info"))
        graft.streaming.IcebergExport.publish(
          s, creates.repartitionByRange(4, col("id")), store)
        graft.streaming.ForeignIcebergShapes.addNestedDefaultedColumn(
          store, "info", "flag", "long",
          com.fasterxml.jackson.databind.node.JsonNodeFactory.instance
            .numberNode(7L))
    }
    store
  }

  /** Materialize the ID-MAPPED Delta publish once per sfDir: the CREATE
    * payloads published as a NEW table with `delta.columnMapping.mode =
    * id` — every field gets a unique immutable id, the files store
    * synthetic physical names (`col_<id>`) WITH parquet field ids, and
    * the reader must resolve columns by FIELD ID (the create-time-only
    * mode the Delta protocol allows; the incremental exporter stays
    * name-mode exactly because existing id-less files cannot be
    * retrofitted).
    */
  private def deltaIdMappedTableDir(s: SparkSession,
      dir: String): String = {
    val root = FixtureLock.root(dir, "orders_delta_idmap_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val creates = changeLog(s, dir)
          .filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.DeltaExport.publishIdMapped(
          s, creates.repartitionByRange(4, col("id")), store)
    }
    store
  }

  /** Materialize the BUCKET-TRANSFORM iceberg table once per sfDir: the
    * CREATE payloads partitioned by the spec's `bucket[8]` of id (the
    * real murmur3 transform, via [[graft.functions.IcebergBucket]]),
    * published identity-partitioned and then re-declared as bucket[8]
    * over id in the metadata — exactly the table a foreign
    * bucket-partitioned writer produces. Point lookups must prune to
    * the matching bucket's files from the manifest values alone.
    */
  private def icebergBucketTableDir(s: SparkSession,
      dir: String): String = {
    val root = FixtureLock.root(dir, "orders_iceberg_bucket_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val creates = changeLog(s, dir)
          .filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
          .withColumn("p", graft.functions.IcebergBucket(col("id"), 8))
        graft.streaming.IcebergExport.exportPartitioned(
          s, creates, store, Seq("p"))
        graft.streaming.ForeignIcebergShapes.retransform(
          store, "bucket[8]", "id")
    }
    store
  }

  /** Materialize the DELTA STORED-GENERATED-COLUMN table once per
    * sfDir: the CREATE payloads merged, a `price_band` column added
    * GENERATED (virtual), materialized into the buckets, and exported —
    * the log must carry `delta.generationExpression` + the
    * generatedColumns writer feature, and the native reader must return
    * the stored values.
    */
  private def deltaGeneratedTableDir(s: SparkSession,
      dir: String): String = {
    val root = FixtureLock.root(dir, "orders_delta_gen_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val creates = changeLog(s, dir)
          .filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.MergeInto.mergeBatch(s, creates, store, "id")
        graft.streaming.MergeInto.addGeneratedColumn(s, store,
          "price_band",
          "CASE WHEN totalprice >= 150000.0 THEN 'high' ELSE 'low' END")
        graft.streaming.MergeInto.materializeGeneratedColumn(
          s, store, "price_band")
        graft.streaming.DeltaExport.export(s, store)
    }
    store
  }

  /** Materialize the DELTA CHECK-CONSTRAINT table once per sfDir: the
    * CREATE payloads merged under a CHECK, exported — the log must
    * carry `delta.constraints.*` + the checkConstraints writer feature
    * (the invariant travels with the table) and the reader returns the
    * data unchanged.
    */
  private def deltaConstraintTableDir(s: SparkSession,
      dir: String): String = {
    import java.nio.file.Paths
    val root = FixtureLock.root(dir, "orders_delta_check_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val creates = changeLog(s, dir)
          .filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.MergeInto.mergeBatch(s, creates, store, "id")
        graft.streaming.MergeInto.addCheckConstraint(s, store,
          "totalprice_pos", "totalprice > 0")
        val (_, logFile) = graft.streaming.DeltaExport.export(s, store)
        val log = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(logFile)), "UTF-8")
        require(log.contains("delta.constraints.totalprice_pos"),
          "fixture expected the CHECK to publish in the delta log")
    }
    store
  }

  /** Materialize the delta V2-CHECKPOINT table once per sfDir: the same
    * 13-version merge/export cadence as [[deltaCheckpointTableDir]], but
    * exported with `v2Checkpoints = true` — UUID-named checkpoint tops
    * whose adds live in `_delta_log/_sidecars/` parquets referenced by
    * `sidecar` actions, protocol upgraded to the `v2Checkpoint` table
    * feature. The pre-checkpoint JSON is then expired, so the reader can
    * only answer by resolving the v2 top + sidecar.
    */
  private def deltaV2CheckpointTableDir(s: SparkSession,
      dir: String): String = {
    val root = FixtureLock.root(dir, "orders_delta_v2cp_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        import org.apache.spark.sql.expressions.Window
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        val w = Window.partitionBy(col("id"))
          .orderBy(col("log_seq_num").desc)
        val b2 = log.filter(col("operation_type") =!= "CREATE")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("id"), col("status"), col("totalprice"),
            (col("operation_type") === "DELETE").as("del"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        graft.streaming.DeltaExport.export(s, store,
          checkpointInterval = 4, v2Checkpoints = true)
        (0 until 12).foreach { i =>
          graft.streaming.MergeInto.mergeBatch(s,
            b2.filter(pmod(hash(col("id")), lit(12)) === i), store, "id",
            deleteCol = Some("del"))
          graft.streaming.DeltaExport.export(s, store,
            checkpointInterval = 4, v2Checkpoints = true)
        }
        val removed = graft.streaming.DeltaExport.cleanLog(s, store)
        require(removed > 0,
          "fixture expected cleanLog to expire pre-checkpoint versions")
        // the fixture really is v2-shaped: no classic checkpoint exists
        val logDir = new java.io.File(store, "_delta_log")
        require(!logDir.listFiles().exists(
          _.getName.matches("""\d{20}\.checkpoint\.parquet""")),
          "fixture expected no classic checkpoint")
        require(new java.io.File(logDir, "_sidecars").listFiles()
          .exists(_.getName.endsWith(".parquet")),
          "fixture expected a v2 sidecar parquet")
    }
    store
  }

  /** Materialize the foreign PARTITIONED delta log once per sfDir: the
    * CREATE payloads written Hive-style under `status=` dirs by a plain
    * parquet writer, with a hand-authored protocol-1 `_delta_log` whose
    * add actions carry `partitionValues` — exactly what a foreign Delta
    * writer (delta-rs, Spark+delta) produces for a partitioned table.
    * The data files do NOT store the partition column; the reader must
    * reconstruct it from the log.
    */
  private def deltaPartitionedLogDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_delta_partitioned_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val creates = changeLog(s, dir)
          .filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        creates.write.partitionBy("status").parquet(s"$store/data")
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        val lines = scala.collection.mutable.ArrayBuffer.empty[String]
        lines +=
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
        val meta = m.createObjectNode()
        val md = meta.putObject("metaData")
        md.put("id", "graft-partitioned-fixture")
        md.putObject("format").put("provider", "parquet")
        md.put("schemaString", creates.schema.json)
        md.putArray("partitionColumns").add("status")
        lines += m.writeValueAsString(meta)
        val dataDir = new java.io.File(store, "data")
        for {
          pd <- dataDir.listFiles().sortBy(_.getName)
          if pd.isDirectory && pd.getName.startsWith("status=")
          f <- pd.listFiles().sortBy(_.getName)
          if f.getName.endsWith(".parquet")
        } {
          val n = m.createObjectNode()
          val a = n.putObject("add")
          a.put("path", s"data/${pd.getName}/${f.getName}")
            .put("size", f.length())
            .put("modificationTime", f.lastModified())
            .put("dataChange", true)
          a.putObject("partitionValues")
            .put("status", pd.getName.stripPrefix("status="))
          lines += m.writeValueAsString(n)
        }
        val logDir = new java.io.File(store, "_delta_log")
        require(logDir.mkdirs(), s"could not create $logDir")
        val w = new java.io.PrintWriter(
          new java.io.File(logDir, "00000000000000000000.json"), "UTF-8")
        try lines.foreach(w.println) finally w.close()
    }
    store
  }

  /** Materialize the DELTA-SINK table once per sfDir: the change log
    * applied as three at-least-once foreachBatch deliveries through
    * [[graft.streaming.DeltaSink.upsertBatch]] — batch 1 is delivered
    * TWICE (the crash-between-merge-and-checkpoint replay) and must
    * change nothing; every committed batch is one delta version carrying
    * its txn action.
    */
  private def deltaSinkTableDir(s: SparkSession, dir: String): String = {
    // _v2: batches export with changeData — each delta version carries
    // the protocol cdc action + _change_data file for its row-level diff
    val root = FixtureLock.root(dir, "orders_delta_sink_v2")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        import org.apache.spark.sql.expressions.Window
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
          .withColumn("del", lit(false))
        val w = Window.partitionBy(col("id"))
          .orderBy(col("log_seq_num").desc)
        val b2 = log.filter(col("operation_type") =!= "CREATE")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("id"), col("status"), col("totalprice"),
            (col("operation_type") === "DELETE").as("del"))
        val b2a = b2.filter(pmod(hash(col("id")), lit(2)) === 0)
        val b2b = b2.filter(pmod(hash(col("id")), lit(2)) === 1)
        def apply(df: DataFrame, batchId: Long): Long =
          graft.streaming.DeltaSink.upsertBatch(s, df, store, "id",
            batchId, deleteCol = Some("del"), changeData = true)
        apply(b1, 0L)
        val v1 = apply(b2a, 1L)
        require(apply(b2a, 1L) == v1, "replayed batch must be a no-op")
        apply(b2b, 2L)
        require(graft.streaming.DeltaExport.lastTxn(s, store)
          .contains(2L), "delta log must carry the txn high-water mark")
    }
    store
  }

  /** Materialize the ICEBERG-SINK table once per sfDir: three
    * at-least-once batch deliveries — one REPLAYED — through
    * [[graft.streaming.IcebergSink.upsertBatch]] (MERGE-with-txnId +
    * per-batch Iceberg export); the replay must mint NO duplicate
    * snapshot and the final Iceberg view must equal the clean two-batch
    * merge state.
    */
  private def icebergSinkTableDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_iceberg_sink_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        import org.apache.spark.sql.expressions.Window
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
          .withColumn("del", lit(false))
        val w = Window.partitionBy(col("id"))
          .orderBy(col("log_seq_num").desc)
        val b2 = log.filter(col("operation_type") =!= "CREATE")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("id"), col("status"), col("totalprice"),
            (col("operation_type") === "DELETE").as("del"))
        val b2a = b2.filter(pmod(hash(col("id")), lit(2)) === 0)
        val b2b = b2.filter(pmod(hash(col("id")), lit(2)) === 1)
        def apply(df: DataFrame, batchId: Long): Long =
          graft.streaming.IcebergSink.upsertBatch(s, df, store, "id",
            batchId, deleteCol = Some("del"))
        apply(b1, 0L)
        val s1 = apply(b2a, 1L)
        require(apply(b2a, 1L) == s1,
          "replayed batch must not mint a new iceberg snapshot")
        apply(b2b, 2L)
        val snaps = graft.streaming.IcebergExport.snapshots(s, store)
        require(snaps.size == 3,
          s"expected exactly 3 iceberg snapshots, got ${snaps.size}")
    }
    store
  }

  /** Materialize OUR partitioned-delta PUBLISH once per sfDir: the CREATE
    * payloads published via [[graft.streaming.DeltaExport.exportPartitioned]]
    * (Spark partitionBy layout + v0 log with partitionValues parsed back
    * from the directory names) — the writer half of the partitioned
    * interop whose reader half `cdc_delta_partitioned` proves against a
    * hand-authored foreign log.
    */
  private def deltaPublishedPartDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_delta_published_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val creates = changeLog(s, dir)
          .filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.DeltaExport.exportPartitioned(
          s, creates, store, Seq("status"))
    }
    store
  }

  /** Materialize the BUCKET-JOIN fixture once per sfDir: two tables under
    * one root, both merged on `id` with the SAME bucket count — their
    * key join plans with ZERO shuffle (each scan declares
    * `HashPartitioning(id, 64)` from the manifest's bucket metadata +
    * stamped file names; spec-pinned in `BucketedJoinSpec`).
    */
  private def bucketJoinTableDirs(s: SparkSession,
      dir: String): (String, String) = {
    val root = FixtureLock.root(dir, "orders_bucket_join_v1")
    val (a, b) = (root.resolve("state").toString,
      root.resolve("prices").toString)
    FixtureLock.once(root) {
        import org.apache.spark.sql.expressions.Window
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        val w = Window.partitionBy(col("id"))
          .orderBy(col("log_seq_num").desc)
        val b2 = log.filter(col("operation_type") =!= "CREATE")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("id"), col("status"), col("totalprice"),
            (col("operation_type") === "DELETE").as("del"))
        graft.streaming.MergeInto.mergeBatch(s, b1, a, "id")
        graft.streaming.MergeInto.mergeBatch(s, b2, a, "id",
          deleteCol = Some("del"))
        graft.streaming.MergeInto.mergeBatch(s,
          b1.select(col("id"),
            (col("totalprice") * 2).as("double_price")), b, "id")
    }
    (a, b)
  }

  /** Materialize the COLUMN-MAPPED foreign delta log once per sfDir: the
    * CREATE payloads stored under PHYSICAL column names (`col-...`, the
    * rename-is-metadata trick of protocol 2), logical names only in the
    * schemaString's field metadata, partitionValues keyed physically —
    * what any modern Delta writer with columnMapping=name produces.
    */
  private def deltaColMapLogDir(s: SparkSession, dir: String): String = {
    import org.apache.spark.sql.types._
    val root = FixtureLock.root(dir, "orders_delta_colmap_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val creates = changeLog(s, dir)
          .filter(col("operation_type") === "CREATE")
          .select(col("id").as("col-a1"), col("totalprice").as("col-a3"),
            col("status").as("col-a2"))
        creates.write.partitionBy("col-a2").parquet(s"$store/data")
        def mapped(name: String, phys: String, dt: DataType): StructField =
          StructField(name, dt, nullable = true, new MetadataBuilder()
            .putString("delta.columnMapping.physicalName", phys).build())
        val tp = creates.schema("col-a3").dataType
        val logical = StructType(Seq(
          mapped("id", "col-a1", LongType),
          mapped("status", "col-a2", StringType),
          mapped("totalprice", "col-a3", tp)))
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        val lines = scala.collection.mutable.ArrayBuffer.empty[String]
        lines +=
          """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
        val meta = m.createObjectNode()
        val md = meta.putObject("metaData")
        md.put("id", "graft-colmap-fixture")
        md.putObject("format").put("provider", "parquet")
        md.put("schemaString", logical.json)
        md.putArray("partitionColumns").add("status")
        md.putObject("configuration")
          .put("delta.columnMapping.mode", "name")
        lines += m.writeValueAsString(meta)
        val dataDir = new java.io.File(store, "data")
        for {
          pd <- dataDir.listFiles().sortBy(_.getName)
          if pd.isDirectory && pd.getName.startsWith("col-a2=")
          f <- pd.listFiles().sortBy(_.getName)
          if f.getName.endsWith(".parquet")
        } {
          val n = m.createObjectNode()
          val a = n.putObject("add")
          a.put("path", s"data/${pd.getName}/${f.getName}")
            .put("size", f.length())
            .put("modificationTime", f.lastModified())
            .put("dataChange", true)
          a.putObject("partitionValues")
            .put("col-a2", pd.getName.stripPrefix("col-a2="))
          lines += m.writeValueAsString(n)
        }
        val logDir = new java.io.File(store, "_delta_log")
        require(logDir.mkdirs(), s"could not create $logDir")
        val w = new java.io.PrintWriter(
          new java.io.File(logDir, "00000000000000000000.json"), "UTF-8")
        try lines.foreach(w.println) finally w.close()
    }
    store
  }

  /** Materialize the ID-MODE column-mapped foreign delta log once per
    * sfDir: the data files store the CREATE payloads under column names
    * that match NOTHING in the logical or physical schema, carrying
    * parquet FIELD IDS instead (the exact shape of an id-mode table
    * after a foreign rename); the log's schemaString records
    * `delta.columnMapping.id` per field and declares mode `id`. Only
    * field-id matching can read this table correctly.
    */
  private def deltaIdMapLogDir(s: SparkSession, dir: String): String = {
    import org.apache.spark.sql.types._
    val root = FixtureLock.root(dir, "orders_delta_idmap_v1")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        s.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        def fid(id: Long) = new MetadataBuilder()
          .putLong("parquet.field.id", id).build()
        val creates = changeLog(s, dir)
          .filter(col("operation_type") === "CREATE")
          .select(col("id").as("renamed-away-1", fid(11L)),
            col("status").as("renamed-away-2", fid(12L)),
            col("totalprice").as("renamed-away-3", fid(13L)))
        creates.write.parquet(s"$store/data")
        def mapped(name: String, phys: String, id: Long,
            dt: DataType): StructField =
          StructField(name, dt, nullable = true, new MetadataBuilder()
            .putLong("delta.columnMapping.id", id)
            .putString("delta.columnMapping.physicalName", phys).build())
        val tp = creates.schema("renamed-away-3").dataType
        val logical = StructType(Seq(
          mapped("id", "col-i1", 11L, LongType),
          mapped("status", "col-i2", 12L, StringType),
          mapped("totalprice", "col-i3", 13L, tp)))
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        val lines = scala.collection.mutable.ArrayBuffer.empty[String]
        lines +=
          """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
        val meta = m.createObjectNode()
        val md = meta.putObject("metaData")
        md.put("id", "graft-idmap-fixture")
        md.putObject("format").put("provider", "parquet")
        md.put("schemaString", logical.json)
        md.putArray("partitionColumns")
        md.putObject("configuration")
          .put("delta.columnMapping.mode", "id")
        lines += m.writeValueAsString(meta)
        val dataDir = new java.io.File(store, "data")
        for {
          f <- dataDir.listFiles().sortBy(_.getName)
          if f.getName.endsWith(".parquet")
        } {
          val n = m.createObjectNode()
          val a = n.putObject("add")
          a.put("path", s"data/${f.getName}")
            .put("size", f.length())
            .put("modificationTime", f.lastModified())
            .put("dataChange", true)
          a.putObject("partitionValues")
          lines += m.writeValueAsString(n)
        }
        val logDir = new java.io.File(store, "_delta_log")
        require(logDir.mkdirs(), s"could not create $logDir")
        val w = new java.io.PrintWriter(
          new java.io.File(logDir, "00000000000000000000.json"), "UTF-8")
        try lines.foreach(w.println) finally w.close()
    }
    store
  }

  /** Materialize the RESTORE (rollback) table once per sfDir: the two
    * merge batches commit as v1/v2, then a `restore` to v1 commits v3
    * referencing v1's files — latest must read as the CREATE payloads
    * again, with zero data copied and the rolled-back v2 still
    * time-travelable.
    */
  private def restoredOrdersTableDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_merge_restore_v2")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        import org.apache.spark.sql.expressions.Window
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        val w = Window.partitionBy(col("id"))
          .orderBy(col("log_seq_num").desc)
        val b2 = log.filter(col("operation_type") =!= "CREATE")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("id"), col("status"), col("totalprice"),
            (col("operation_type") === "DELETE").as("del"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        graft.streaming.MergeInto.mergeBatch(s, b2, store, "id",
          deleteCol = Some("del"))
        graft.streaming.ManifestStore.restore(s, store, version = 1L)
    }
    store
  }

  /** Materialize the SHALLOW-CLONE pair once per sfDir: the source table
    * is the standard two-batch merge apply; the clone's first manifest
    * references the source's files (zero copy), then the clone DIVERGES
    * with a deleteWhere of id%3==0 — rewriting only the touched buckets
    * locally while untouched buckets keep reading the source's files.
    * The source must remain bit-identical to cdc_merge_into's state.
    */
  private def clonedOrdersTableDirs(s: SparkSession,
                                    dir: String): (String, String) = {
    val root = FixtureLock.root(dir, "orders_merge_clone_v2")
    val src = root.resolve("source").toString
    val dst = root.resolve("clone").toString
    FixtureLock.once(root) {
        import org.apache.spark.sql.expressions.Window
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        val w = Window.partitionBy(col("id"))
          .orderBy(col("log_seq_num").desc)
        val b2 = log.filter(col("operation_type") =!= "CREATE")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("id"), col("status"), col("totalprice"),
            (col("operation_type") === "DELETE").as("del"))
        graft.streaming.MergeInto.mergeBatch(s, b1, src, "id")
        graft.streaming.MergeInto.mergeBatch(s, b2, src, "id",
          deleteCol = Some("del"))
        graft.streaming.ManifestStore.shallowClone(s, src, dst)
        graft.streaming.MergeInto.deleteWhere(s, dst, col("id") % 3 === 0)
    }
    (src, dst)
  }

  /** Materialize the SNAPSHOT-SYNC apply once per sfDir: the table starts
    * as the CREATE payloads, then a full export reconciles it —
    * `WHEN NOT MATCHED BY SOURCE THEN DELETE` semantics with
    * `updateCols = status` (the snapshot carries a DELIBERATELY-WRONG
    * totalprice of 0 that a correct partial sync must NOT apply):
    * id%3==0 keys vanish, surviving keys get status+"_SYNC" while
    * keeping their CREATE totalprice, and id%7==0 keys gain a shifted
    * twin row inserted whole (real totalprice).
    */
  private def syncedOrdersTableDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_merge_sync_v2")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val b1 = changeLog(s, dir)
          .filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        val upd = b1.filter(col("id") % 3 =!= 0)
          .select(col("id"), concat(col("status"), lit("_SYNC")).as("status"),
            (col("totalprice") * lit(0)).as("totalprice"))
        val ins = b1.filter(col("id") % 7 === 0)
          .select((col("id") + 5000000L).as("id"), col("status"),
            col("totalprice"))
        graft.streaming.MergeInto.syncSnapshot(s, upd.unionByName(ins),
          store, "id", updateCols = Seq("status"))
    }
    store
  }

  /** Materialize the CROSS-TABLE transaction fixture once per sfDir: an
    * orders table and its order-lines table, loaded in one atomic
    * catalog txn, then a CORRELATED update (order status + its lines'
    * quantities — the kind of change that commits together upstream)
    * applied as table merges and published by a SECOND atomic catalog
    * commit. Catalog v1/v2 are the two consistent cross-table snapshots.
    */
  private[ops] def txnCatalogDirs(s: SparkSession, dir: String)
      : (String, Map[String, String]) = {
    // _v2: 16 buckets per table — the v1 default of 64 made the gate pay
    // 4 × 64 parquet footer opens per run for tables of a few thousand
    // rows; bucket count should track table size (it is per-table
    // metadata, not a global constant)
    // _v3: txn 2 additionally INSERTS a new order + its two lines in the
    // same transaction — the cross-table insert that makes a
    // mixed-version read an OBSERVABLE FK violation (dq3 proves it)
    val root = FixtureLock.root(dir, "orders_txn_catalog_v4")
    val catalog = root.resolve("catalog").toString
    val tables = Map(
      "orders" -> root.resolve("orders").toString,
      "lines" -> root.resolve("lines").toString)
    FixtureLock.once(root) {
        import graft.streaming.{MergeInto, TxnCatalog}
        val o = Tables(s, dir, "orders")
          .filter(col("o_orderkey") % 10 === 3)
          .select(col("o_orderkey").as("id"),
            col("o_orderstatus").as("status"))
        // (orderkey, linenumber) is NOT unique in the synthetic lineitem
        // — collapse duplicates deterministically so line_id is a key
        val l = Tables(s, dir, "lineitem")
          .join(o.select(col("id")), col("l_orderkey") === col("id"))
          .groupBy((col("l_orderkey") * 10 + col("l_linenumber"))
              .as("line_id"),
            col("l_orderkey").as("order_id"))
          .agg(sum(col("l_quantity").cast("long")).as("quantity"))
        MergeInto.mergeBatch(s, o, tables("orders"), "id", numBuckets = 16)
        MergeInto.mergeBatch(s, l, tables("lines"), "line_id",
          numBuckets = 16)
        TxnCatalog.commitTxn(s, catalog,
          Map("orders" -> 1L, "lines" -> 1L))
        // the correlated cross-table transaction: status+quantity updates
        // PLUS a brand-new order with its two lines — all one upstream
        // txn, so each table takes ONE merge and the catalog flips once
        val hot = o.filter(col("id") % 30 === 3)
        val newOrder = s.range(1)
          .select(lit(999999931L).as("id"), lit("O").as("status"))
        val newLines = s.range(1, 3)
          .select((lit(9999999310L) + col("id")).as("line_id"),
            lit(999999931L).as("order_id"),
            (col("id") * 2 + 3).as("quantity")) // 5 and 7
        MergeInto.mergeBatch(s,
          hot.select(col("id"), lit("F").as("status"))
            .unionByName(newOrder),
          tables("orders"), "id", numBuckets = 16)
        MergeInto.mergeBatch(s,
          l.join(hot.select(col("id")), col("order_id") === col("id"))
            .select(col("line_id"), col("order_id"),
              (col("quantity") + 1).as("quantity"))
            .unionByName(newLines),
          tables("lines"), "line_id", numBuckets = 16)
        TxnCatalog.commitTxn(s, catalog,
          Map("orders" -> 2L, "lines" -> 2L))
    }
    (catalog, tables)
  }

  /** Materialize the VACUUM fixture once per sfDir: the two-batch merge
    * apply (CREATE load, then the update/delete batch) followed by a
    * retention-1 VACUUM that physically deletes version 1's orphaned
    * data. The latest table must read back byte-identically after the
    * deletion — the post-vacuum readability contract, driver-gated
    * (the old-version-unreadable half is ManifestStoreSpec's).
    */
  private def vacuumedOrdersTableDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_merge_vacuum_v2")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        import org.apache.spark.sql.expressions.Window
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        val w = Window.partitionBy(col("id"))
          .orderBy(col("log_seq_num").desc)
        val b2 = log.filter(col("operation_type") =!= "CREATE")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("id"), col("status"), col("totalprice"),
            (col("operation_type") === "DELETE").as("del"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        graft.streaming.MergeInto.mergeBatch(s, b2, store, "id",
          deleteCol = Some("del"))
        graft.streaming.ManifestStore.vacuum(s, store, keepVersions = 1)
    }
    store
  }

  /** Materialize the schema-EVOLUTION merge apply once per sfDir: batch 1
    * commits the CREATE payloads as (id, status, totalprice); batch 2
    * carries the UPDATE payloads WITH A NEW `priority` column the table
    * has never seen. MergeInto widens the table schema on commit, only
    * the touched buckets are rewritten in the new schema, and readers
    * unify old- and new-schema buckets via parquet schema merge — so
    * untouched rows read back with `priority` NULL. That read-side
    * contract is what the gate pins.
    */
  private def evolvedOrdersTableDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_merge_evolve_v3")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        val b2 = log.filter(col("operation_type") === "UPDATE")
          .select(col("id"), col("status"), col("totalprice"),
            concat(lit("P"), (col("id") % 5).cast("string")).as("priority"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        graft.streaming.MergeInto.mergeBatch(s, b2, store, "id")
    }
    store
  }

  /** Materialize the COLUMN-RENAME table once per sfDir: version 1 commits
    * the CREATE payloads (physical column name `status`), version 2 is a
    * METADATA-ONLY `renameColumn(status → order_status)` — no data file is
    * written — and version 3 merges the UPDATE batch addressed by the NEW
    * logical name (stored back under the physical name, so every file
    * generation shares one on-disk schema). The gate reads the final
    * table: pre-rename and post-rename file generations must surface one
    * consistent `order_status` column.
    */
  private def renamedOrdersTableDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_merge_rename_v2")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        graft.streaming.MergeInto.renameColumn(s, store,
          "status", "order_status")
        val b2 = log.filter(col("operation_type") === "UPDATE")
          .select(col("id"), col("status").as("order_status"),
            col("totalprice"))
        graft.streaming.MergeInto.mergeBatch(s, b2, store, "id")
    }
    store
  }

  /** Shared oracle: the renamed table's final state (CREATE overridden
    * by UPDATE, surfaced under the post-rename logical column name).
    */
  private lazy val renameFinalSql: String = s"""$changesCte
      SELECT c.id,
        CASE WHEN u.id IS NOT NULL THEN u.status ELSE c.status END
          AS order_status,
        CASE WHEN u.id IS NOT NULL THEN u.totalprice ELSE c.totalprice END
          AS totalprice
      FROM (SELECT id, status, totalprice FROM changes
            WHERE operation_type = 'CREATE') c
      LEFT JOIN (SELECT id, status, totalprice FROM changes
                 WHERE operation_type = 'UPDATE') u USING (id)
      ORDER BY c.id"""

  /** Merge table with a GENERATED (virtual) column and a CHECK that
    * references it: CREATE batch → add `price_band` (computed $1000 band
    * of totalprice) → add CHECK over the generated value → UPDATE batch
    * (enforced through the generated column).
    */
  private def generatedOrdersTableDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_merge_generated_v2")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        graft.streaming.MergeInto.addGeneratedColumn(s, store, "price_band",
          "CAST(round(totalprice * 100) AS BIGINT) div 100000")
        graft.streaming.MergeInto.addCheckConstraint(s, store,
          "band_in_range", "price_band >= 0 AND price_band < 1000")
        val b2 = log.filter(col("operation_type") === "UPDATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.MergeInto.mergeBatch(s, b2, store, "id")
    }
    store
  }

  /** Merge table that OUTGROWS its bucket spec: CREATE batch at 64
    * buckets → merge-on-read DELETE of a key slice → [[MergeInto.rebucket]]
    * to 16 (materializing the DV in the same rewrite) → UPDATE batch
    * merged under the NEW count.
    */
  private def rebucketOrdersTableDir(s: SparkSession, dir: String): String = {
    val root = FixtureLock.root(dir, "orders_merge_rebucket_v2")
    val store = root.resolve("table").toString
    FixtureLock.once(root) {
        val log = changeLog(s, dir)
        val b1 = log.filter(col("operation_type") === "CREATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.MergeInto.mergeBatch(s, b1, store, "id")
        graft.streaming.MergeInto.deleteVector(s, store, "id",
          log.filter(col("operation_type") === "DELETE").select(col("id")))
        graft.streaming.MergeInto.rebucket(s, store, "id",
          newNumBuckets = 16)
        val b2 = log.filter(col("operation_type") === "UPDATE")
          .select(col("id"), col("status"), col("totalprice"))
        graft.streaming.MergeInto.mergeBatch(s, b2, store, "id",
          numBuckets = 16)
    }
    store
  }

  /** DuckDB-side derivation of the identical change stream (tombstones never
    * materialize — they carry no lsn and are dropped by O7 on the Spark side).
    */
  private val changesCte: String = """
    WITH changes AS (
      SELECT o_orderkey AS id, o_orderstatus AS status,
             o_totalprice AS totalprice, 'CREATE' AS operation_type,
             o_orderkey*10 AS log_seq_num, o_orderdate AS source_timestamp
      FROM orders
      UNION ALL
      SELECT o_orderkey, 'F', o_totalprice + 100.0, 'UPDATE',
             o_orderkey*10+1, o_orderdate + INTERVAL 1 HOUR
      FROM orders WHERE o_orderkey % 10 = 3
      UNION ALL
      SELECT o_orderkey, NULL, NULL, 'DELETE',
             o_orderkey*10+2, o_orderdate + INTERVAL 2 HOUR
      FROM orders WHERE o_orderkey % 20 = 7
      UNION ALL
      SELECT o_orderkey, 'X', o_totalprice, 'INVALID',
             o_orderkey*10+3, o_orderdate + INTERVAL 4 HOUR
      FROM orders WHERE o_orderkey % 40 = 21
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice, 'SNAPSHOT',
             o_orderkey*10+5, o_orderdate + INTERVAL 3 HOUR
      FROM orders WHERE o_orderkey % 50 = 13
    )"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O4 composite: O1/O2 envelope paths, O3 casts, O5 COALESCE key, O6 CASE
    // op classification, O7 lsn null-filter, O8 epoch-ms → timestamp, T2 sort.
    "cdc_decode_envelope" -> ((s, dir) =>
      changeLog(s, dir).orderBy(col("log_seq_num"))),

    // A1 GROUP BY + COUNT(*) over the op classification.
    "cdc_op_counts" -> ((s, dir) =>
      changeLog(s, dir)
        .groupBy(col("operation_type"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("operation_type"))),

    // Foreign-layout twin: the SAME lake re-laid-out in the reference's raw
    // Kafka-Connect template (topic/yyyy-MM-dd/HH/part-offset.json), read
    // through ForeignLake with date-pruned listing + path-derived columns —
    // decode must classify ops identically to the Hive-layout path.
    "cdc_foreign_op_counts" -> ((s, dir) => {
      val root = Fixtures.ordersForeignLakeRoot(Tables(s, dir, "orders"), dir)
      graft.streaming.ForeignLake.read(s, root, "debezium.commerce.orders",
          graft.model.Envelope.ordersPayload, dates = Seq("2024-05-01"))
        .groupBy(col("operation_type"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("operation_type"))
    }),

    // S5 twin: the SAME lake read with schema INFERENCE (the reference's
    // `SELECT * FROM 'file.json'` auto-detect probing) must classify ops
    // identically to the declared-schema decode path.
    "cdc_infer_op_counts" -> ((s, dir) => {
      val lake = Fixtures.ordersLakeDir(Tables(s, dir, "orders"), dir)
      s.read.json(lake)
        .filter(col("value.source.lsn").isNotNull)
        .groupBy(Decode.opType(col("value.op")).as("operation_type"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("operation_type"))
    }),

    // The flagship: full SCD2 derivation (J1 semi-join on HAVING COUNT>1,
    // A1/A2, W1 LEAD, O10 sentinel literal, O11 null-replacement, T1 sort).
    "cdc_scd2_orders" -> ((s, dir) =>
      Scd2.scd2(changeLog(s, dir), "id", "log_seq_num", "source_timestamp",
          Seq("status", "totalprice"))
        .orderBy(col("id"), col("row_valid_start_timestamp"))),

    // The HOT-KEY fallback (RangeLead range-partitioned two-phase lead +
    // AQE-splittable hash-agg multiplicity) driven through the same real
    // fixture change log — must hash-match the window formulation's
    // oracle, proving the two SCD2 formulations are interchangeable.
    "cdc_scd2_skew_fallback" -> ((s, dir) =>
      Scd2.scd2Skewed(changeLog(s, dir), "id", "log_seq_num",
          "source_timestamp", Seq("status", "totalprice"))
        .orderBy(col("id"), col("row_valid_start_timestamp"))),

    // Incremental SCD2 maintenance: batch 1 (creates + updates) builds the
    // version store, batch 2 (deletes/invalid/snapshot events) merges in
    // touching only its keys — published result must equal the full
    // recompute, so the oracle IS the cdc_scd2_orders SQL. This is the
    // batch twin of the streaming bucketed upsert (Scd2Stream), gated
    // cross-engine.
    "cdc_scd2_incremental" -> ((s, dir) => {
      // Lineage-cut the decoded log (r12 optimization round): the merge
      // references it FOUR times (store build, untouched anti-join,
      // replayed semi-join, new-changes union), and each reference
      // re-ran the NDJSON envelope decode — the expensive side at any
      // scale (measured: 4 decode passes, 34.6 task-seconds at
      // sf0.1/local[32]; the cut leaves one). In production the store
      // side is a materialized table (Scd2Stream's bucketed upserts);
      // the cut gives the derived-on-the-fly gate the same property.
      val log = graft.graph.GraphOps.checkpoint(changeLog(s, dir))
      val payload = Seq("status", "totalprice")
      val store1 = Scd2.versionStore(
        log.filter(col("log_seq_num") % 10 <= 1),
        "id", "log_seq_num", "source_timestamp", payload)
      val merged = Scd2.incrementalMerge(store1,
        log.filter(col("log_seq_num") % 10 > 1),
        "id", "log_seq_num", "source_timestamp", payload)
      Scd2.publish(merged, "id", "log_seq_num")
        .orderBy(col("id"), col("row_valid_start_timestamp"))
    }),

    // The streaming-MAINTAINED dimension, driver-gated end-to-end: a real
    // Structured Streaming run (file source over the NDJSON lake in
    // multiple micro-batches, each folded against the stored versions of
    // the buckets it touches → manifest-committed bucketed commits)
    // materializes the dimension once per sfDir; this query READS
    // that maintained table and publishes it with reference semantics.
    // Oracle = the batch SCD2 SQL — streamed upserts must land the exact
    // relational result.
    "cdc_stream_scd2_dim" -> ((s, dir) => {
      val dimPath = Fixtures.streamedOrdersDimensionDir(
        Tables(s, dir, "orders"), dir)
      val dim = graft.streaming.Scd2Stream.readDimension(s, dimPath).toDF()
      Scd2.changedKeysOnly(dim, "id")
        .select(col("id"), col("status"), col("totalprice"),
          col("row_valid_start_timestamp").cast("timestamp_ntz")
            .as("row_valid_start_timestamp"),
          col("row_valid_expiration_timestamp").cast("timestamp_ntz")
            .as("row_valid_expiration_timestamp"))
        .orderBy(col("id"), col("row_valid_start_timestamp"))
    }),

    // T3: reference caps its published dimension at LIMIT 200
    // (reference `example…sql:46-47`).
    "cdc_scd2_top200" -> ((s, dir) =>
      Scd2.scd2(changeLog(s, dir), "id", "log_seq_num", "source_timestamp",
          Seq("status", "totalprice"))
        .orderBy(col("id"), col("row_valid_start_timestamp"))
        .limit(200)),

    // CDC compaction: the CURRENT-STATE table — latest event per key wins,
    // deleted keys drop out. The most common materialization of a change
    // log (the SCD2 dimension's memoryless sibling); one exchange + one
    // window, same partitioning as SCD2 so a pipeline computing both
    // reuses the shuffle.
    "cdc_current_state" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("id")).orderBy(col("log_seq_num").desc)
      changeLog(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("operation_type") =!= "DELETE")
        .select(col("id"), col("status"), col("totalprice"),
          col("log_seq_num"))
        .orderBy(col("id"))
    }),

    // SCD TYPE-3 dimension (the limited-history design next to SCD2's
    // full history and Type-1's none): current status + the immediately
    // previous status in one row per live key, plus the change count.
    // One ascending lag + one descending row_number over the same
    // (id)-partitioned data — key-parallel, two sorts of each key's
    // handful of events, no extra shuffle beyond the hash-by-id.
    "cdc_scd3_prev" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val asc = Window.partitionBy(col("id")).orderBy(col("log_seq_num"))
      val desc = Window.partitionBy(col("id"))
        .orderBy(col("log_seq_num").desc)
      changeLog(s, dir)
        .withColumn("prev_status", lag(col("status"), 1).over(asc))
        .withColumn("n_changes", count(lit(1)).over(
          Window.partitionBy(col("id"))))
        .withColumn("rn", row_number().over(desc))
        .filter(col("rn") === 1 && col("operation_type") =!= "DELETE")
        .select(col("id"), col("status"), col("prev_status"),
          col("n_changes"))
        .orderBy(col("id"))
    }),

    // Row-level MERGE INTO driver-gated as a CDC batch apply: batch 1
    // inserts the CREATE payloads, batch 2 merges each key's LATEST
    // non-create event (updates/snapshots replace the row, deletes remove
    // it physically) through the manifest-committed bucketed table — the
    // table-format primitive (MergeInto) exercised end-to-end with a
    // relational oracle. The two staged+committed merge versions
    // materialize once per sfDir (the maintained-store convention every
    // streaming gate uses); the gate reads the table back schema-merged.
    "cdc_merge_into" -> ((s, dir) => {
      graft.streaming.MergeInto
        .readTable(s, mergedOrdersTableDir(s, dir))
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // SNAPSHOT SYNC driver-gated — MERGE's WHEN-NOT-MATCHED-BY-SOURCE
    // DELETE mode: after reconciling against a full export, the table's
    // key set equals the snapshot's exactly (absent keys deleted, new
    // keys inserted whole, matched keys taking ONLY the status column —
    // the snapshot's poisoned totalprice must never land). The oracle
    // recomputes the expected table relationally from the CREATE
    // payloads. See MergeInto.syncSnapshot.
    "cdc_merge_sync" -> ((s, dir) => {
      graft.streaming.MergeInto
        .readTable(s, syncedOrdersTableDir(s, dir))
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // CROSS-TABLE TRANSACTIONAL SNAPSHOT driver-gated: orders + lines
    // resolved THROUGH the TxnCatalog at both catalog versions and
    // joined — each row is one consistent cross-table state (v1 = the
    // load, v2 = after the correlated status+quantity transaction). A
    // reader can never observe order v2 against lines v1: tables are
    // pinned by one atomically-committed catalog manifest (staged table
    // versions invisible — TxnCatalogSpec). The oracle recomputes both
    // states relationally.
    "cdc_txn_snapshot" -> ((s, dir) => {
      val (catalog, tables) = txnCatalogDirs(s, dir)
      def state(v: Long): DataFrame = {
        val o = graft.streaming.TxnCatalog.readTable(s, catalog, tables,
          "orders", Some(v))
        val l = graft.streaming.TxnCatalog.readTable(s, catalog, tables,
          "lines", Some(v))
        o.join(l, o("id") === l("order_id"))
          .agg(count(lit(1)).as("n_join_rows"),
            countDistinct(o("id")).as("n_orders"),
            sum((o("status") === "F").cast("long")).as("n_f_lines"),
            sum(l("quantity")).as("qty_sum"))
          .select(lit(v).as("catalog_version"), col("n_join_rows"),
            col("n_orders"), col("n_f_lines"), col("qty_sum"))
      }
      state(1L).unionByName(state(2L)).orderBy(col("catalog_version"))
    }),

    // DELETION-VECTOR merge-on-read driver-gated: version 2 committed
    // only a key sidecar (no bucket rewritten) — the read must subtract
    // it, so the id%5==0 keys are gone while the physical buckets still
    // hold them. Time-travel read of the DV-era version.
    "cdc_merge_dv" -> ((s, dir) => {
      graft.streaming.MergeInto
        .readTableAt(s, dvOrdersTableDir(s, dir), version = 2L)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // DV MATERIALIZATION driver-gated: version 3 folded the DV into the
    // buckets (only buckets holding DV keys rewritten; DV slot cleared).
    // Same oracle as cdc_merge_dv — the logical table must not care
    // which side of the materialization it is read from.
    "cdc_merge_dv_compact" -> ((s, dir) => {
      graft.streaming.MergeInto
        .readTable(s, dvOrdersTableDir(s, dir))
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // SYMLINK-MANIFEST EXPORT driver-gated (ecosystem interop): the
    // exported flat file list, read back by a PLAIN parquet reader with
    // no knowledge of the manifest format, must equal the committed
    // snapshot — same oracle as cdc_merge_into. The reader consumes the
    // schema sidecar exported beside the list (readExport), so planning
    // opens zero footers across the 100+ exported paths; it also
    // validates every listed file still exists (a stale export of a
    // since-vacuumed version fails LOUDLY, spec-pinned in MergeIntoSpec).
    "cdc_merge_export" -> ((s, dir) => {
      val store = mergedOrdersTableDir(s, dir)
      val (_, manifest) =
        graft.streaming.MergeInto.exportFileManifest(s, store)
      graft.streaming.MergeInto.readExport(s, manifest)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // DELTA-PROTOCOL EXPORT driver-gated (ecosystem interop, the
    // protocol the north star actually speaks): the committed snapshot
    // published as a `_delta_log` transaction log (protocol/metaData/add
    // actions per the open Delta spec), read back by the NATIVE minimal
    // Delta reader — zero delta jars involved on either side — and
    // compared to the same oracle as cdc_merge_into. Incremental diffs,
    // time travel, and the protocol-feature refusals are spec-pinned in
    // DeltaExportSpec.
    "cdc_merge_export_delta" -> ((s, dir) => {
      val store = mergedOrdersTableDir(s, dir)
      graft.streaming.DeltaExport.export(s, store)
      graft.streaming.DeltaExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // DELTA CHECKPOINT REPLAY driver-gated: 13 exported delta versions,
    // a classic checkpoint at v10, and the pre-checkpoint JSON versions
    // DELETED (the shape of a real table whose old log was cleaned) —
    // the reader must reconstruct the state from
    // `_last_checkpoint` + checkpoint parquet + the two remaining JSON
    // diffs. Final state = the full two-batch merge, same oracle as
    // cdc_merge_into; replay cost is O(interval), not O(versions).
    "cdc_delta_checkpoint" -> ((s, dir) => {
      val store = deltaCheckpointTableDir(s, dir)
      graft.streaming.DeltaExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // FOREIGN PARTITIONED DELTA TABLE driver-gated: a hand-authored
    // protocol-1 log over Hive-layout parquet whose partition column
    // exists ONLY in `add.partitionValues` — the native reader rebuilds
    // it as a real typed column. Oracle = the CREATE payloads.
    "cdc_delta_partitioned" -> ((s, dir) => {
      val store = deltaPartitionedLogDir(s, dir)
      graft.streaming.DeltaExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // METADATA PARTITION PRUNING driver-gated: the same foreign log read
    // with a partition predicate — planning selects only the matching
    // metadata partition groups (zero filesystem calls, spec-pinned
    // numPartitions=1 in DeltaExportSpec); the answer must equal the
    // relational filter.
    "cdc_delta_part_prune" -> ((s, dir) => {
      val store = deltaPartitionedLogDir(s, dir)
      graft.streaming.DeltaExport.read(s, store)
        .filter(col("status") === "F")
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // CO-LOCATED BUCKET JOIN driver-gated: two tables merged on id with
    // the same bucket count join WITHOUT a shuffle — each scan declares
    // HashPartitioning(id, 64) straight from the manifest (bucket count
    // + key slots, bucket-id-stamped file names). The zero-exchange plan
    // is spec-pinned in BucketedJoinSpec; this gate proves the
    // co-located answer against the relational oracle.
    "cdc_merge_bucket_join" -> ((s, dir) => {
      val (a, b) = bucketJoinTableDirs(s, dir)
      graft.streaming.MergeInto.readTable(s, a)
        .join(graft.streaming.MergeInto.readTable(s, b)
          .select(col("id"), col("double_price")), Seq("id"))
        .select(col("id"), col("status"), col("totalprice"),
          col("double_price"))
        .orderBy(col("id"))
    }),

    // DELTA CHANGE DATA FEED driver-gated (the protocol's cdc action):
    // table_changes(1, 2) over the sink table — each exported batch's
    // row-level diff read back from its _change_data files. The two
    // batches partition the changed keys (id-hash-disjoint slices), so
    // their concatenated feeds equal the clean one-batch feed, which is
    // exactly what the oracle derives relationally.
    "cdc_delta_cdf" -> ((s, dir) => {
      val store = deltaSinkTableDir(s, dir)
      graft.streaming.DeltaExport.readChanges(s, store, 1L, 2L)
        .select(col("id"), col("status"), col("totalprice"),
          col("_change_type"))
        .orderBy(col("id"), col("_change_type"))
    }),

    // DATA SKIPPING driver-gated (add.stats zone maps): an id predicate
    // at the first-quartile boundary plans only the files whose recorded
    // [min,max] can match (DeltaExportSpec pins numFiles); the answer
    // must equal the relational filter. Threshold derived EXACTLY in
    // both engines: min(id) + (max(id)-min(id)) div 4 over the CREATEs.
    "cdc_delta_stats_prune" -> ((s, dir) => {
      val store = deltaStatsLogDir(s, dir)
      val mm = changeLog(s, dir)
        .filter(col("operation_type") === "CREATE")
        .agg(min(col("id")), max(col("id"))).head
      val thr = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 4
      graft.streaming.DeltaExport.read(s, store)
        .filter(col("id") <= thr)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // PROTOCOL DELETION VECTORS driver-gated (reader 3 / writer 7 +
    // deletionVectors feature): the table's parquet files still CONTAIN
    // the id%7==0 rows; the log's add.deletionVector descriptors point
    // at roaring-bitmap sidecars of their row positions, and the native
    // reader subtracts them scan-side (codegen anti-filter on
    // _metadata.row_index — no join, no shuffle). Oracle = the CREATE
    // payloads minus the DV'd keys.
    "cdc_delta_dv" -> ((s, dir) => {
      val store = deltaDvTableDir(s, dir)
      graft.streaming.DeltaExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // STREAMING CDF driver-gated: the change feed consumed as a
    // Structured Streaming source (file admission over _change_data,
    // _commit_version from the protocol file names, AvailableNow run
    // materialized once) must equal the BATCH table_changes(1,2) read —
    // same oracle as cdc_delta_cdf; only the transport differs.
    "cdc_stream_cdf" -> ((s, dir) => {
      val store = deltaSinkTableDir(s, dir)
      val out = graft.streaming.DeltaCdfStream
        .materializedChangesDir(s, store)
      s.read.parquet(out)
        .select(col("id"), col("status"), col("totalprice"),
          col("_change_type"))
        .orderBy(col("id"), col("_change_type"))
    }),

    // COLUMN-MAPPED DELTA TABLE driver-gated (protocol 2, name mode):
    // physical `col-*` file columns and physically-keyed partitionValues
    // resolved to the logical schema entirely from the log's field
    // metadata. Oracle = the CREATE payloads under their logical names.
    "cdc_delta_colmap" -> ((s, dir) => {
      val store = deltaColMapLogDir(s, dir)
      graft.streaming.DeltaExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // ID-MODE COLUMN MAPPING driver-gated: the data files' column names
    // match NOTHING in the schema — only the parquet field ids recorded
    // as delta.columnMapping.id can resolve them. Oracle = the CREATE
    // payloads under their logical names.
    "cdc_delta_colmap_id" -> ((s, dir) => {
      val store = deltaIdMapLogDir(s, dir)
      graft.streaming.DeltaExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // ICEBERG EXPORT driver-gated (the Iceberg twin of the delta-export
    // gates): the merged orders table published as a spec-v2 Iceberg
    // table (metadata.json + Avro manifest list/manifests with field
    // ids) and read back by the native Iceberg reader. Oracle = the
    // clean two-batch merge state, same as cdc_merge_into.
    "cdc_iceberg_export" -> ((s, dir) => {
      val store = icebergOrdersTableDir(s, dir)
      graft.streaming.IcebergExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // ICEBERG TIME TRAVEL driver-gated: snapshot 1 (pre-update) read by
    // id while the table has moved on — the CREATE payloads exactly as
    // committed, from the snapshot's own manifest list.
    "cdc_iceberg_time_travel" -> ((s, dir) => {
      val store = icebergOrdersTableDir(s, dir)
      graft.streaming.IcebergExport.readAt(s, store, 1L)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // PARTITIONED ICEBERG PUBLISH driver-gated (the writer half): our
    // exportPartitioned publishes the CREATE payloads with an identity
    // spec whose typed partition tuples live in the manifest; the
    // native reader round-trips them. Same oracle as the delta twin.
    "cdc_iceberg_export_part" -> ((s, dir) => {
      val store = icebergPublishedPartDir(s, dir)
      graft.streaming.IcebergExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // ICEBERG MANIFEST PRUNING driver-gated: the same table read with a
    // partition predicate — planning keeps only the matching partition's
    // files from the manifest values alone (file-prune pinned in
    // IcebergExportSpec); the answer must equal the relational filter.
    "cdc_iceberg_part_prune" -> ((s, dir) => {
      val store = icebergPublishedPartDir(s, dir)
      graft.streaming.IcebergExport.read(s, store)
        .filter(col("status") === "F")
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // EXACTLY-ONCE STREAMING ICEBERG SINK driver-gated (the iceberg
    // twin of cdc_stream_delta_sink): three at-least-once deliveries,
    // one replayed — the replay mints no snapshot, and the foreign-
    // readable iceberg view equals the clean two-batch merge state.
    "cdc_stream_iceberg_sink" -> ((s, dir) => {
      val store = icebergSinkTableDir(s, dir)
      graft.streaming.IcebergExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // ICEBERG SNAPSHOT EXPIRATION driver-gated: after
    // expire_snapshots(keepLast=1) — expired manifest lists/manifests
    // deleted, metadata rewritten — the current snapshot still answers
    // in full. Same oracle as cdc_merge_into.
    "cdc_iceberg_expire" -> ((s, dir) => {
      val store = icebergExpiredTableDir(s, dir)
      graft.streaming.IcebergExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // ICEBERG EQUALITY DELETES driver-gated (the Flink-CDC shape):
    // the pending key set published VERBATIM as a content=2 delete
    // file with equality_ids; the reader subtracts it as a distributed
    // null-safe anti-join under the strictly-older-sequence rule.
    // Oracle = the CREATE payloads minus the deleted keys.
    "cdc_iceberg_eq_delete" -> ((s, dir) => {
      val store = icebergEqDeleteTableDir(s, dir)
      graft.streaming.IcebergExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // MIXED-SEQUENCE EQUALITY DELETES driver-gated (the Flink-CDC
    // steady state): data files at sequences 1 and 3, equality deletes
    // at 2 and 3 — the reader scopes each delete to STRICTLY OLDER
    // files (per-group scans unioned), so a deleted-then-updated key
    // survives via its re-inserted file while untouched deleted keys
    // drop from their carried files. Oracle = CREATEs with updates
    // applied, minus the id%7==0 keys that were never updated.
    "cdc_iceberg_eq_mixed" -> ((s, dir) => {
      val store = icebergEqMixedTableDir(s, dir)
      graft.streaming.IcebergExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // RENAMED-TABLE ICEBERG EXPORT driver-gated (the Iceberg twin of
    // cdc_delta_export_colmap): rename is METADATA-ONLY under Iceberg's
    // stable field ids — the metadata publishes the post-rename logical
    // names on the original ids, and schema.name-mapping.default
    // resolves the files' physical `status` column to `order_status`'s
    // field id; no data file is touched, no column-mapping machinery
    // needed. Same oracle as cdc_merge_rename.
    "cdc_iceberg_rename" -> ((s, dir) => {
      val store = renamedOrdersTableDir(s, dir)
      graft.streaming.IcebergExport.export(s, store)
      graft.streaming.IcebergExport.read(s, store)
        .select(col("id"), col("order_status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // ICEBERG DATA SKIPPING driver-gated (the Iceberg twin of
    // cdc_delta_stats_prune): manifest lower/upper bounds decoded from
    // the spec's single-value binary form prune range files at
    // planning; the answer must equal the relational filter.
    "cdc_iceberg_stats_prune" -> ((s, dir) => {
      val store = icebergStatsTableDir(s, dir)
      val mm = changeLog(s, dir)
        .filter(col("operation_type") === "CREATE")
        .agg(min(col("id")), max(col("id"))).head
      val thr = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 4
      graft.streaming.IcebergExport.read(s, store)
        .filter(col("id") <= thr)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // ICEBERG POSITION DELETES driver-gated (the Iceberg twin of
    // cdc_delta_dv): merge-on-read deletes published as a position-
    // delete parquet + DELETE manifest; the native reader subtracts
    // them by (file, row) without rewriting any data file. Oracle = the
    // CREATE payloads minus the deleted keys.
    "cdc_iceberg_pos_delete" -> ((s, dir) => {
      val store = icebergDvTableDir(s, dir)
      graft.streaming.IcebergExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // ICEBERG V3 PUFFIN DELETION VECTORS driver-gated: a foreign
    // Spark-4/Iceberg-1.8 merge-on-read shape — per-file roaring
    // bitmaps in a puffin file, referenced by content_offset/size from
    // a content=1 manifest — decoded natively and subtracted. Oracle =
    // the CREATE payloads minus the id%7 keys.
    "cdc_iceberg_v3_dv" -> ((s, dir) => {
      val store = icebergV3DvTableDir(s, dir)
      graft.streaming.IcebergExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // ID-MODE COLUMN-MAPPED DELTA PUBLISH driver-gated (the WRITE half
    // of cdc_delta_colmap_id): a new table published with mode=id —
    // files store synthetic physical names (col_<id>) with parquet
    // field ids, the schemaString publishes logical names over
    // physicalName+id, and the native reader resolves by FIELD ID.
    // Oracle = the CREATE payloads.
    "cdc_delta_idmap_export" -> ((s, dir) => {
      val store = deltaIdMappedTableDir(s, dir)
      graft.streaming.DeltaExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // ICEBERG V3 DV EXPORT driver-gated (the WRITE half of
    // cdc_iceberg_v3_dv): pending merge-on-read deletes published
    // NATIVELY as v3 puffin deletion vectors (one roaring blob per
    // referenced data file, content_offset/size manifest fields,
    // format-version 3) and round-tripped by the native reader. Oracle
    // = the CREATE payloads minus the id%7 keys.
    "cdc_iceberg_v3_dv_export" -> ((s, dir) => {
      val store = icebergDvExportTableDir(s, dir)
      graft.streaming.IcebergExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // ICEBERG CHANGELOG SCAN driver-gated: the NET row-level diff of
    // snapshots 1→2 (an overwrite snapshot readIncremental refuses by
    // name) via the null-safe key-level value diff — the iceberg twin
    // of cdc_change_feed, sharing its oracle: the changelog over the
    // exported table must equal the manifest-store change feed.
    "cdc_iceberg_changelog" -> ((s, dir) => {
      val store = icebergChangelogTableDir(s, dir)
      graft.streaming.IcebergExport.readChanges(s, store, 1L, 2L, "id")
        .select(col("id"), col("status"), col("totalprice"),
          col("_change_type"))
        .orderBy(col("id"), col("_change_type"))
    }),

    // DELTA FILES METADATA TABLE driver-gated (DESCRIBE-DETAIL-class
    // inspection from the log alone): over the protocol-DV table, the
    // add.stats record counts must account for every CREATE row (the
    // files still hold them) and the DV descriptors' cardinalities for
    // every id%7 deleted key — both sums fully data-derived.
    "cdc_delta_files_meta" -> ((s, dir) => {
      val store = deltaDvTableDir(s, dir)
      graft.streaming.DeltaExport.metaTable(s, store, "files")
        .agg(sum(col("num_records")).as("total_records"),
          sum(col("dv_cardinality")).as("total_deleted"))
    }),

    // ICEBERG FILES METADATA TABLE driver-gated (the `tbl$files`
    // inspection surface, planned from metadata alone): per content
    // class, the entry count and the record_count sum — data files
    // must account for every CREATE row and the forged v3 deletion
    // vectors for every id%7 key (a DV entry's record_count is its
    // cardinality), each across the 4 range files.
    "cdc_iceberg_files_meta" -> ((s, dir) => {
      val store = icebergV3DvTableDir(s, dir)
      graft.streaming.IcebergExport.metaTable(s, store, "files")
        .groupBy(col("content"))
        .agg(count(lit(1)).as("n_files"),
          sum(col("record_count")).as("total_records"))
        .orderBy(col("content"))
    }),

    // ICEBERG SNAPSHOT-REF (tag) READ driver-gated: a foreign "audit"
    // TAG forged at snapshot 1 of the changelog table resolves by NAME
    // through the spec's refs map — named time travel, the surface
    // `VERSION AS OF 'tag'` engines expose. Oracle = the CREATE state.
    "cdc_iceberg_tag_read" -> ((s, dir) => {
      val store = icebergChangelogTableDir(s, dir)
      graft.streaming.IcebergExport.readRef(s, store, "audit")
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // ICEBERG V3 NESTED INITIAL-DEFAULT driver-gated: a struct CHILD
    // added to the metadata with a default after every file was
    // written — the reader must patch the default INSIDE each struct
    // (per-file footer probe + withField), not just at the top level.
    // Oracle appends the constant to the flattened struct fields.
    "cdc_iceberg_v3_nested_default" -> ((s, dir) => {
      val store = icebergNestedDefaultTableDir(s, dir)
      graft.streaming.IcebergExport.read(s, store)
        .select(col("id"), col("info.status").as("status"),
          col("info.totalprice").as("totalprice"),
          col("info.flag").as("flag"))
        .orderBy(col("id"))
    }),

    // ICEBERG V3 INITIAL-DEFAULT driver-gated: a column added to the
    // metadata with a default AFTER every data file was written — the
    // v3 read-side semantics say pre-evolution files answer the
    // default, not NULL. Oracle appends the constant.
    "cdc_iceberg_v3_default" -> ((s, dir) => {
      val store = icebergV3DefaultTableDir(s, dir)
      graft.streaming.IcebergExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"),
          col("priority"))
        .orderBy(col("id"))
    }),

    // BUCKET-TRANSFORM PRUNING driver-gated: a bucket[8]-partitioned
    // foreign table (real murmur3 transform values) point-looked-up by
    // the SOURCE column — the equality prover prunes non-matching
    // buckets from the manifest values alone (file-count pin in
    // IcebergTransformsSpec); the answer must equal the relational
    // filter at the same key.
    "cdc_iceberg_bucket_prune" -> ((s, dir) => {
      val store = icebergBucketTableDir(s, dir)
      val mn = changeLog(s, dir)
        .filter(col("operation_type") === "CREATE")
        .agg(min(col("id"))).head.getLong(0)
      graft.streaming.IcebergExport.read(s, store)
        .filter(col("id") === mn)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // DELTA STORED GENERATED COLUMN driver-gated: a virtual generated
    // column materialized into the buckets and exported per the
    // protocol (values stored, delta.generationExpression published,
    // generatedColumns writer feature) — the native reader returns the
    // stored values. Oracle recomputes the same expression.
    "cdc_delta_generated" -> ((s, dir) => {
      val store = deltaGeneratedTableDir(s, dir)
      graft.streaming.DeltaExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"),
          col("price_band"))
        .orderBy(col("id"))
    }),

    // ICEBERG INCREMENTAL APPEND SCAN driver-gated: the rows appended
    // in (0, 2] over the position-delete table — snapshot 1 appends the
    // CREATE payloads, snapshot 2 is delete-only and contributes
    // nothing, and the delete is NOT subtracted (an append scan is an
    // insertion feed, not a snapshot diff — the semantic distinction
    // from cdc_iceberg_pos_delete). Oracle = ALL CREATE payloads.
    "cdc_iceberg_incr_append" -> ((s, dir) => {
      val store = icebergDvTableDir(s, dir)
      graft.streaming.IcebergExport.readIncremental(s, store, 0L, 2L)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // DELTA CHECK-CONSTRAINT EXPORT driver-gated: the table's CHECK
    // publishes as delta.constraints.* configuration + the
    // checkConstraints writer feature (asserted at fixture build), and
    // the native reader returns the constrained data unchanged.
    "cdc_delta_constraints" -> ((s, dir) => {
      val store = deltaConstraintTableDir(s, dir)
      graft.streaming.DeltaExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // V2 CHECKPOINT REPLAY driver-gated: 13 exported delta versions with
    // UUID-named v2 checkpoint tops + `_sidecars/` add parquets, the
    // pre-checkpoint JSON expired — the reader reconstructs the state
    // from checkpointMetadata + sidecar actions alone. Same oracle as
    // cdc_merge_into.
    "cdc_delta_v2_checkpoint" -> ((s, dir) => {
      val store = deltaV2CheckpointTableDir(s, dir)
      graft.streaming.DeltaExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // STREAMING DELTA SINK driver-gated (exactly-once end of the CDC
    // pipeline): three at-least-once batch deliveries — one REPLAYED —
    // through MERGE-with-txnId + per-batch delta export; the foreign-
    // readable delta view must equal the clean two-batch merge state
    // (same oracle as cdc_merge_into), proving the replay changed
    // nothing and the log carries the txn high-water mark.
    "cdc_stream_delta_sink" -> ((s, dir) => {
      val store = deltaSinkTableDir(s, dir)
      graft.streaming.DeltaExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // PARTITIONED DELTA PUBLISH driver-gated (the WRITER half): our
    // exportPartitioned publishes the CREATE payloads Hive-layout with a
    // v0 log whose adds carry partitionValues; the native reader round-
    // trips them as typed columns. Same oracle as the foreign-log gate.
    "cdc_delta_export_part" -> ((s, dir) => {
      val store = deltaPublishedPartDir(s, dir)
      graft.streaming.DeltaExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // EXPORT-AT-VERSION driver-gated (time-travel interop): exporting
    // the PRE-update version 1 hands a foreign reader the CREATE
    // payloads exactly as committed, while the table's latest state has
    // since moved on — same oracle as cdc_merge_time_travel. Proves the
    // export path resolves any un-vacuumed snapshot, not just HEAD.
    "cdc_merge_export_v1" -> ((s, dir) => {
      val store = mergedOrdersTableDir(s, dir)
      val (_, manifest) =
        graft.streaming.MergeInto.exportFileManifestAt(s, store, 1L)
      graft.streaming.MergeInto.readExport(s, manifest)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // RESTORE (rollback) driver-gated: after merge v2, a restore to v1
    // re-commits v1's files as v3 — the latest read must equal the
    // CREATE payloads again (zero data copied, history intact).
    "cdc_merge_restore" -> ((s, dir) => {
      graft.streaming.MergeInto
        .readTable(s, restoredOrdersTableDir(s, dir))
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // SHALLOW CLONE driver-gated (diverged clone side): the clone borrows
    // the source's files at clone time, then deleteWhere id%3==0 rewrites
    // only its touched buckets locally — the read unifies local rewrites
    // with still-borrowed source buckets.
    "cdc_merge_clone" -> ((s, dir) => {
      val (_, dst) = clonedOrdersTableDirs(s, dir)
      graft.streaming.MergeInto.readTable(s, dst)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // SHALLOW CLONE driver-gated (source isolation): after the clone
    // diverged, the SOURCE must still read exactly the two-batch merge
    // state — same oracle as cdc_merge_into.
    "cdc_merge_clone_src" -> ((s, dir) => {
      val (src, _) = clonedOrdersTableDirs(s, dir)
      graft.streaming.MergeInto.readTable(s, src)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // VACUUM driver-gated: after a retention-1 vacuum physically deletes
    // version 1's orphaned files, the LATEST table still reads back
    // exactly equal to the relational recompute — live data is provably
    // untouched by the deletion (the other half — vacuumed history
    // unreadable, staged orphans collected — is ManifestStoreSpec's).
    // Same relational oracle as cdc_merge_into: vacuum must not change
    // the answer.
    "cdc_merge_vacuum" -> ((s, dir) => {
      graft.streaming.MergeInto
        .readTable(s, vacuumedOrdersTableDir(s, dir))
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // ANALYZE TABLE driver-gated: per-column min/max/null-count/NDV plus
    // the KMV NDV estimate, computed in ONE aggregation pass, committed
    // as versioned `__stat:` manifest metadata, and read back — which
    // must equal the oracle's from-scratch relational recompute of every
    // statistic (including replaying the bottom-64 sketch estimator on
    // the same md5-prefix hashes). The CBO-stats surface of a real table
    // format's ANALYZE.
    "cdc_merge_analyze" -> ((s, dir) => {
      graft.streaming.MergeInto
        .readStats(s, analyzedOrdersTableDir(s, dir))
        .orderBy(col("column"))
    }),

    // TIME TRAVEL driver-gated: version 1 of the merge table (committed
    // BEFORE the update/delete batch) must still read exactly as the
    // CREATE payloads — the un-vacuumed snapshot survives later commits.
    "cdc_merge_time_travel" -> ((s, dir) => {
      graft.streaming.MergeInto
        .readTableAt(s, mergedOrdersTableDir(s, dir), version = 1L)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // Manifest-resolved POINT LOOKUP driver-gated: one key, one bucket
    // directory read (plan-proven in MergeIntoSpec); the row must equal
    // the relational final state for that key. Key 3 is %10==3 → its
    // latest event is the UPDATE, so the lookup sees the updated payload.
    "cdc_merge_lookup" -> ((s, dir) => {
      graft.streaming.MergeInto
        .lookupKey(s, mergedOrdersTableDir(s, dir), "id", 3L)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // SCHEMA EVOLUTION driver-gated: the second merge batch introduces a
    // `priority` column; the widened table must read back with the new
    // column populated on merged keys and NULL on untouched rows (old
    // buckets stay on disk in the old schema — the reader unifies).
    "cdc_merge_evolve" -> ((s, dir) => {
      graft.streaming.MergeInto
        .readTable(s, evolvedOrdersTableDir(s, dir))
        .select(col("id"), col("status"), col("totalprice"), col("priority"))
        .orderBy(col("id"))
    }),

    // COLUMN RENAME driver-gated: metadata-only rename between two file
    // generations — the v1 buckets still store the column under its
    // physical name `status`, the v3 merge wrote through the logical
    // name, and one read surfaces both consistently as `order_status`.
    "cdc_merge_rename" -> ((s, dir) => {
      graft.streaming.MergeInto
        .readTable(s, renamedOrdersTableDir(s, dir))
        .select(col("id"), col("order_status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // RENAMED-TABLE DELTA EXPORT driver-gated: the same renamed table
    // published as a protocol NAME-MODE column-mapped delta log
    // (logical schemaString, physical files untouched) and read back by
    // the mapping-aware native reader — the rename survives the foreign
    // round trip. Same oracle as cdc_merge_rename.
    "cdc_delta_export_colmap" -> ((s, dir) => {
      val store = renamedOrdersTableDir(s, dir)
      graft.streaming.DeltaExport.export(s, store)
      graft.streaming.DeltaExport.read(s, store)
        .select(col("id"), col("order_status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // SHALLOW-CLONE LOG driver-gated (absolute-path adds — the CLONE
    // shape): a v0 log referencing the merged table's files by
    // absolute URI, zero bytes copied; the native reader resolves the
    // external references verbatim and answers exactly the source's
    // merged state. Same oracle as cdc_merge_into.
    "cdc_delta_shallow_clone" -> ((s, dir) => {
      val store = deltaShallowCloneDir(s, dir)
      graft.streaming.DeltaExport.read(s, store)
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // COLUMN-MAPPED CHANGE DATA FEED driver-gated (rename + CDF — both
    // common on real tables, and spec-legal together): version 1's cdc
    // files store PHYSICAL column names like every other file of a
    // mapped log, and table_changes(1,1) maps them back to the
    // post-rename logical schema. Oracle = the relational UPDATE diff
    // under the new name.
    "cdc_delta_cdf_colmap" -> ((s, dir) => {
      val store = deltaColMapCdfDir(s, dir)
      graft.streaming.DeltaExport.readChanges(s, store, 1L, 1L)
        .select(col("id"), col("order_status"), col("totalprice"),
          col("_change_type"))
        .orderBy(col("id"), col("_change_type"))
    }),

    // BUCKET-LAYOUT EVOLUTION driver-gated: the table was created at 64
    // buckets, a key slice was DV-deleted, rebucket(16) rewrote every row
    // under the new spec (materializing the DV), and a later merge spoke
    // the new count. The oracle reconstructs the same final state
    // relationally — byte-equality proves the rewrite lost nothing,
    // dropped exactly the DV'd keys, and left the merge semantics intact
    // across the layout change.
    "cdc_merge_rebucket" -> ((s, dir) => {
      graft.streaming.MergeInto
        .readTable(s, rebucketOrdersTableDir(s, dir))
        .select(col("id"), col("status"), col("totalprice"))
        .orderBy(col("id"))
    }),

    // GENERATED (virtual) COLUMN driver-gated: the merge table reads back
    // with `price_band` computed from metadata — added as a zero-rewrite
    // commit between the two merge batches, CHECK-constrained, refused as
    // a merge-source column. The oracle recomputes the band relationally
    // over the reconstructed final state — byte-equal means the virtual
    // column is exactly the expression, on every row, after the second
    // merge rewrote half the buckets.
    "cdc_merge_generated" -> ((s, dir) => {
      graft.streaming.MergeInto
        .readTable(s, generatedOrdersTableDir(s, dir))
        .select(col("id"), col("status"), col("totalprice"),
          col("price_band"))
        .orderBy(col("id"))
    }),

    // CHANGE DATA FEED driver-gated: the v1→v2 feed of the merge table
    // (delete rows + update pre/post image pairs; keys the second batch
    // rewrote to IDENTICAL values — SNAPSHOT-latest keys — emit nothing).
    // The oracle re-derives the same key-level value diff relationally.
    "cdc_change_feed" -> ((s, dir) => {
      graft.streaming.MergeInto
        .changeFeed(s, mergedOrdersTableDir(s, dir), "id", 1L, 2L)
        .select(col("id"), col("status"), col("totalprice"),
          col("_change_type"))
        .orderBy(col("id"), col("_change_type"))
    }),

    // INCREMENTAL VIEW MAINTENANCE off the change feed: a per-status
    // (count, revenue) aggregate materialized at v1 is advanced to v2 by
    // folding ONLY the feed — insert/update_postimage rows add, delete/
    // update_preimage rows subtract (exact decimal revenue, so the
    // maintained view is bit-identical to recomputing over v2, which is
    // exactly what the oracle does). The scale point: the recompute
    // touches the whole table, the maintenance touches O(changed keys).
    "cdc_cdf_maintenance" -> ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 2)
      val root = mergedOrdersTableDir(s, dir)
      val base = graft.streaming.MergeInto.readTableAt(s, root, 1L)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("totalprice").cast(dec)).cast(dec).as("rev"))
      val sgn = when(col("_change_type").isin("insert", "update_postimage"),
        1L).otherwise(-1L)
      val delta = graft.streaming.MergeInto
        .changeFeed(s, root, "id", 1L, 2L)
        .select(col("status"), col("totalprice"), sgn.as("sgn"))
        .groupBy(col("status"))
        .agg(sum(col("sgn")).as("dn"),
          sum((col("totalprice").cast(dec) * col("sgn")).cast(dec))
            .cast(dec).as("drev"))
      base.join(delta, Seq("status"), "full_outer")
        .select(col("status"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_orders"),
          (coalesce(col("rev"), lit(BigDecimal(0)).cast(dec)) +
            coalesce(col("drev"), lit(BigDecimal(0)).cast(dec)))
            .cast(dec).cast("double").as("revenue"))
        .filter(col("n_orders") > 0)
        .orderBy(col("status"))
    }),

    // The streaming-maintained CURRENT-STATE table (the other mutable-store
    // shape: key-latest upsert with tombstone retention), driver-gated:
    // each micro-batch folded against the stored rows → BucketedUpsert
    // manifest commits; this READS
    // the maintained store (tombstones filtered) and the oracle recomputes
    // the compaction relationally.
    "cdc_stream_current_state" -> ((s, dir) => {
      val store = Fixtures.streamedOrdersCurrentDir(
        Tables(s, dir, "orders"), dir)
      graft.streaming.CurrentStateStream.readCurrent(s, store)
        .orderBy(col("id"))
    }),

    // The LANDING path driver-gated end-to-end: the raw NDJSON stream runs
    // through the full landing job (parse → watermark dedup → partitioned
    // lake write) and this decodes the LANDED lake — op classification
    // must match the relational derivation exactly, proving the landing
    // sink neither loses nor duplicates events.
    "cdc_landed_op_counts" -> ((s, dir) => {
      val lakePath = Fixtures.landedOrdersLakeDir(Tables(s, dir, "orders"), dir)
      Decode.decodeEnvelope(
          graft.streaming.Landing.readLake(s, lakePath,
            graft.model.Envelope.ordersPayload, partitioned = false))
        .groupBy(col("operation_type"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("operation_type"))
    }),

    // Snapshot diffing — the CDC bootstrap twin (Debezium's snapshot mode
    // derives a change stream when no WAL history exists): full-outer join
    // of the BEFORE snapshot (the orders table) against the AFTER state
    // (current-state compaction of the change log), classifying each key
    // as CREATE / UPDATE / DELETE and dropping unchanged keys. One shuffle
    // per side on the join key; null-safe equality so NULL payloads
    // compare correctly.
    "cdc_snapshot_diff" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val before = Tables(s, dir, "orders")
        .select(col("o_orderkey").as("id"),
          col("o_orderstatus").as("old_status"),
          col("o_totalprice").as("old_price"), lit(true).as("in_old"))
      val w = Window.partitionBy(col("id")).orderBy(col("log_seq_num").desc)
      val after = changeLog(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("operation_type") =!= "DELETE")
        .select(col("id"), col("status").as("new_status"),
          col("totalprice").as("new_price"), lit(true).as("in_new"))
      before.join(after, Seq("id"), "full_outer")
        .filter(col("in_new").isNull || col("in_old").isNull ||
          !(col("old_status") <=> col("new_status")) ||
          !(col("old_price") <=> col("new_price")))
        .select(col("id"),
          when(col("in_new").isNull, "DELETE")
            .when(col("in_old").isNull, "CREATE")
            .otherwise("UPDATE").as("op"),
          col("old_status"), col("new_status"),
          col("old_price"), col("new_price"))
        .orderBy(col("id"))
    }),

    // W3: ROW_NUMBER op-ordinal per key (reference exploratory query,
    // `README.md:220-243`).
    "cdc_row_number_ops" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("id")).orderBy(col("log_seq_num"))
      changeLog(s, dir)
        .select(col("id"), col("operation_type"), col("log_seq_num"),
          row_number().over(w).as("op_order"))
        .orderBy(col("log_seq_num"))
    }),

    // The reference's second table: users SCD2 (id, username, password),
    // password-rotation updates, same envelope path.
    "cdc_scd2_users" -> ((s, dir) => {
      val log = Fixtures.usersChangeLog(Tables(s, dir, "customer"), dir)
        .select(col("id"),
          col("after.username").as("v_username"),
          col("after.password").as("v_password"),
          col("operation_type"), col("log_seq_num"), col("source_timestamp"))
      Scd2.scd2(log, "id", "log_seq_num", "source_timestamp",
          Seq("v_username", "v_password"))
        .orderBy(col("id"), col("row_valid_start_timestamp"))
    }),

    // Point-in-interval dimension lookup: each change event finds the SCD2
    // version whose [start, expiration) validity covers its event time — the
    // canonical "dimension value as of event time" range predicate, planned
    // as an equi-join on id + range filter (no nested-loop).
    "cdc_scd2_lookup" -> ((s, dir) => {
      val ev = changeLog(s, dir)
        .select(col("id"), col("log_seq_num"), col("source_timestamp"))
      val dim = Scd2.scd2(changeLog(s, dir), "id", "log_seq_num",
        "source_timestamp", Seq("status"))
      ev.join(dim,
          ev("id") === dim("id") &&
            ev("source_timestamp") >= dim("row_valid_start_timestamp") &&
            ev("source_timestamp") < dim("row_valid_expiration_timestamp"))
        .select(ev("id"), col("log_seq_num"),
          col("row_valid_start_timestamp"),
          col("row_valid_expiration_timestamp"))
        .orderBy(col("log_seq_num"))
    }),

    // The reference's ACTUAL flagship: products SCD2 where `price` rides the
    // envelope as the Kafka-Connect Decimal logical type (base64 unscaled
    // int) and is decoded by the native debezium_decimal expression — the
    // correct decode the reference's own CAST gets wrong (SURVEY §7.4).
    // Payload columns are prefixed v_ so a column-name-sorted row comparator
    // (like the driver's) orders rows by the never-null timestamps before
    // touching the nullable delete-row payloads.
    "cdc_scd2_products" -> ((s, dir) => {
      val log = Fixtures.productsChangeLog(Tables(s, dir, "part"), dir)
        .select(col("id"),
          col("after.name").as("v_name"),
          // decoded exactly as DECIMAL, emitted as DOUBLE: the driver hashes
          // (type, value) cells, and Spark DECIMAL vs DuckDB DECIMAL
          // serialize differently even when equal.
          DebeziumDecimal(col("after.price"), 2).cast("double").as("v_price"),
          col("operation_type"), col("log_seq_num"), col("source_timestamp"))
      Scd2.scd2(log, "id", "log_seq_num", "source_timestamp",
          Seq("v_name", "v_price"))
        .orderBy(col("id"), col("row_valid_start_timestamp"))
    }),

    // Kafka-Connect Decimal logical type: encode p_retailprice the way
    // Debezium ships Postgres numerics (base64 big-endian unscaled int,
    // reference `README.md:214`), then decode with the native Catalyst
    // expression — end-to-end identity the oracle checks against a plain
    // decimal cast.
    "cdc_debezium_decimal" -> ((s, dir) => {
      val part = Tables(s, dir, "part")
      val dec = col("p_retailprice").cast(DecimalType(20, 2))
      val unscaled = (dec * 100).cast(LongType)
      part.select(col("p_partkey"),
          DebeziumDecimal.encodeCol(unscaled).as("price_b64"))
        .select(col("p_partkey"),
          DebeziumDecimal(col("price_b64"), 2).cast("double").as("price"))
        .orderBy(col("p_partkey"))
    })
  )

  /** The two-batch merge apply's relational final state as a reusable
    * CTE tail (`fin`): changes → latest non-CREATE per key → CREATE base
    * with updates applied and deletes dropped.
    */
  private def mergeFinalCte(extra: String): String =
    s"""$changesCte, b2x AS (
        SELECT id, status, totalprice, operation_type FROM (
          SELECT id, status, totalprice, operation_type,
            ROW_NUMBER() OVER (PARTITION BY id
                               ORDER BY log_seq_num DESC) AS rn
          FROM changes WHERE operation_type != 'CREATE'
        ) WHERE rn = 1
      ), fin AS (
        SELECT id, status, totalprice FROM (
          SELECT c.id,
            CASE WHEN b.id IS NOT NULL THEN b.status ELSE c.status END
              AS status,
            CASE WHEN b.id IS NOT NULL THEN b.totalprice
                 ELSE c.totalprice END AS totalprice,
            b.operation_type AS bop
          FROM (SELECT id, status, totalprice FROM changes
                WHERE operation_type = 'CREATE') c
          LEFT JOIN b2x b USING (id)
        ) WHERE (bop IS NULL OR bop != 'DELETE') AND ($extra)
      )"""

  /** The two-batch merge apply's relational final state, with an extra
    * row predicate — shared by cdc_merge_into / cdc_merge_vacuum
    * (predicate TRUE: vacuum must not change the answer) and
    * cdc_merge_clone (the clone's divergence is a deleteWhere).
    */
  private def mergeFinalStateSqlWhere(extra: String): String =
    s"""$changesCte, b2 AS (
        SELECT id, status, totalprice, operation_type FROM (
          SELECT id, status, totalprice, operation_type,
            ROW_NUMBER() OVER (PARTITION BY id
                               ORDER BY log_seq_num DESC) AS rn
          FROM changes WHERE operation_type != 'CREATE'
        ) WHERE rn = 1
      )
      SELECT id, status, totalprice FROM (
        SELECT c.id,
          CASE WHEN b.id IS NOT NULL THEN b.status ELSE c.status END
            AS status,
          CASE WHEN b.id IS NOT NULL THEN b.totalprice ELSE c.totalprice END
            AS totalprice,
          b.operation_type AS bop
        FROM (SELECT id, status, totalprice FROM changes
              WHERE operation_type = 'CREATE') c
        LEFT JOIN b2 b USING (id)
      ) WHERE (bop IS NULL OR bop != 'DELETE') AND ($extra)
      ORDER BY id"""

  private lazy val mergeFinalStateSql: String =
    mergeFinalStateSqlWhere("TRUE")

  private lazy val changeFeedOracleSql: String = s"""$changesCte, b2 AS (
        SELECT id, status, totalprice, operation_type FROM (
          SELECT id, status, totalprice, operation_type,
            ROW_NUMBER() OVER (PARTITION BY id
                               ORDER BY log_seq_num DESC) AS rn
          FROM changes WHERE operation_type != 'CREATE'
        ) WHERE rn = 1
      ), v1 AS (
        SELECT id, status, totalprice FROM changes
        WHERE operation_type = 'CREATE'
      ), diff AS (
        SELECT v1.id, v1.status AS s_pre, v1.totalprice AS p_pre,
               b2.status AS s_post, b2.totalprice AS p_post,
               b2.operation_type AS op
        FROM v1 JOIN b2 USING (id)
      )
      SELECT id, status, totalprice, _change_type FROM (
        SELECT id, s_pre AS status, p_pre AS totalprice,
               'delete' AS _change_type
        FROM diff WHERE op = 'DELETE'
        UNION ALL
        SELECT id, s_pre, p_pre, 'update_preimage'
        FROM diff WHERE op != 'DELETE'
          AND (s_post IS DISTINCT FROM s_pre
               OR p_post IS DISTINCT FROM p_pre)
        UNION ALL
        SELECT id, s_post, p_post, 'update_postimage'
        FROM diff WHERE op != 'DELETE'
          AND (s_post IS DISTINCT FROM s_pre
               OR p_post IS DISTINCT FROM p_pre)
      )
      ORDER BY id, _change_type"""

  val oracleSql: Map[String, String] = Map(
    // the foreign-reader view of the export = the committed snapshot
    "cdc_merge_export" -> mergeFinalStateSql,

    // every committed statistic recomputed from scratch, including the
    // KMV estimator replay (q137 conventions: md5-prefix hash, bottom-64,
    // (K-1)·2^60/θ when saturated)
    "cdc_merge_analyze" -> s"""${mergeFinalCte("TRUE")},
      nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM fin),
      h_id AS (
        SELECT DISTINCT ('0x' || substr(md5(
          CAST(CAST(id AS DECIMAL(18,2)) AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM fin WHERE id IS NOT NULL
      ), sk_id AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
          MAX(CASE WHEN rn = 64 THEN h END) AS hk
        FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM h_id)
        WHERE rn <= 64
      ),
      h_tp AS (
        SELECT DISTINCT ('0x' || substr(md5(
          CAST(CAST(totalprice AS DECIMAL(18,2)) AS VARCHAR)), 1, 15))
          ::BIGINT AS h
        FROM fin WHERE totalprice IS NOT NULL
      ), sk_tp AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
          MAX(CASE WHEN rn = 64 THEN h END) AS hk
        FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM h_tp)
        WHERE rn <= 64
      ),
      h_st AS (
        SELECT DISTINCT
          ('0x' || substr(md5(status), 1, 15))::BIGINT AS h
        FROM fin WHERE status IS NOT NULL
      ), sk_st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
          MAX(CASE WHEN rn = 64 THEN h END) AS hk
        FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM h_st)
        WHERE rn <= 64
      )
      SELECT 'id' AS "column", n_rows,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM fin WHERE id IS NULL)
          AS n_nulls,
        (SELECT CAST(COUNT(DISTINCT id) AS BIGINT) FROM fin) AS ndv,
        (SELECT CASE WHEN cnt < 64 THEN cnt::DOUBLE
          ELSE 63.0 * 1152921504606846976::DOUBLE / hk::DOUBLE END
          FROM sk_id) AS ndv_est,
        (SELECT CAST(MIN(CAST(id AS DECIMAL(18,2))) AS DOUBLE) FROM fin)
          AS min_num,
        (SELECT CAST(MAX(CAST(id AS DECIMAL(18,2))) AS DOUBLE) FROM fin)
          AS max_num,
        CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
      FROM nr
      UNION ALL
      SELECT 'status', n_rows,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM fin WHERE status IS NULL),
        (SELECT CAST(COUNT(DISTINCT status) AS BIGINT) FROM fin),
        (SELECT CASE WHEN cnt < 64 THEN cnt::DOUBLE
          ELSE 63.0 * 1152921504606846976::DOUBLE / hk::DOUBLE END
          FROM sk_st),
        CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        (SELECT MIN(status) FROM fin), (SELECT MAX(status) FROM fin)
      FROM nr
      UNION ALL
      SELECT 'totalprice', n_rows,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM fin
         WHERE totalprice IS NULL),
        (SELECT CAST(COUNT(DISTINCT totalprice) AS BIGINT) FROM fin),
        (SELECT CASE WHEN cnt < 64 THEN cnt::DOUBLE
          ELSE 63.0 * 1152921504606846976::DOUBLE / hk::DOUBLE END
          FROM sk_tp),
        (SELECT CAST(MIN(CAST(totalprice AS DECIMAL(18,2))) AS DOUBLE)
         FROM fin),
        (SELECT CAST(MAX(CAST(totalprice AS DECIMAL(18,2))) AS DOUBLE)
         FROM fin),
        CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
      FROM nr
      ORDER BY "column"""",

    // restore to v1 = the CREATE payloads exactly
    "cdc_merge_restore" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' ORDER BY id""",

    // diverged clone = merge final state minus the clone's deleteWhere
    "cdc_merge_clone" -> mergeFinalStateSqlWhere("id % 3 != 0"),

    // source isolation: unchanged by the clone's divergence
    "cdc_merge_clone_src" -> mergeFinalStateSql,

    // both DV gates: the CREATE payloads minus the DV'd keys — identical
    // before and after materialization by construction
    "cdc_merge_dv" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' AND id % 5 != 0
      ORDER BY id""",

    "cdc_merge_dv_compact" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' AND id % 5 != 0
      ORDER BY id""",

    "cdc_decode_envelope" -> s"""$changesCte
      SELECT id, status, totalprice, operation_type, log_seq_num,
             source_timestamp
      FROM changes ORDER BY log_seq_num""",

    "cdc_op_counts" -> s"""$changesCte
      SELECT operation_type, COUNT(*) AS n_events
      FROM changes GROUP BY operation_type ORDER BY operation_type""",

    "cdc_infer_op_counts" -> s"""$changesCte
      SELECT operation_type, COUNT(*) AS n_events
      FROM changes GROUP BY operation_type ORDER BY operation_type""",

    "cdc_foreign_op_counts" -> s"""$changesCte
      SELECT operation_type, COUNT(*) AS n_events
      FROM changes GROUP BY operation_type ORDER BY operation_type""",

    // The landed lake must carry exactly the relational change stream.
    "cdc_landed_op_counts" -> s"""$changesCte
      SELECT operation_type, COUNT(*) AS n_events
      FROM changes GROUP BY operation_type ORDER BY operation_type""",

    "cdc_scd2_orders" -> s"""$changesCte
      SELECT c.id, c.status, c.totalprice,
             c.source_timestamp AS row_valid_start_timestamp,
             COALESCE(LEAD(c.source_timestamp) OVER
               (PARTITION BY c.id ORDER BY c.log_seq_num),
               TIMESTAMP '9999-01-01') AS row_valid_expiration_timestamp
      FROM changes c
      WHERE c.id IN (SELECT id FROM changes GROUP BY id HAVING COUNT(*) > 1)
      ORDER BY id, row_valid_start_timestamp""",

    // The skew fallback must equal the window formulation — same SQL as
    // cdc_scd2_orders by construction.
    "cdc_scd2_skew_fallback" -> s"""$changesCte
      SELECT c.id, c.status, c.totalprice,
             c.source_timestamp AS row_valid_start_timestamp,
             COALESCE(LEAD(c.source_timestamp) OVER
               (PARTITION BY c.id ORDER BY c.log_seq_num),
               TIMESTAMP '9999-01-01') AS row_valid_expiration_timestamp
      FROM changes c
      WHERE c.id IN (SELECT id FROM changes GROUP BY id HAVING COUNT(*) > 1)
      ORDER BY id, row_valid_start_timestamp""",

    // The streaming-maintained dimension must equal the full batch
    // recompute — same SQL as cdc_scd2_orders by construction.
    "cdc_stream_scd2_dim" -> s"""$changesCte
      SELECT c.id, c.status, c.totalprice,
             c.source_timestamp AS row_valid_start_timestamp,
             COALESCE(LEAD(c.source_timestamp) OVER
               (PARTITION BY c.id ORDER BY c.log_seq_num),
               TIMESTAMP '9999-01-01') AS row_valid_expiration_timestamp
      FROM changes c
      WHERE c.id IN (SELECT id FROM changes GROUP BY id HAVING COUNT(*) > 1)
      ORDER BY id, row_valid_start_timestamp""",

    // Incremental merge must equal the full recompute — same SQL as
    // cdc_scd2_orders by construction.
    "cdc_scd2_incremental" -> s"""$changesCte
      SELECT c.id, c.status, c.totalprice,
             c.source_timestamp AS row_valid_start_timestamp,
             COALESCE(LEAD(c.source_timestamp) OVER
               (PARTITION BY c.id ORDER BY c.log_seq_num),
               TIMESTAMP '9999-01-01') AS row_valid_expiration_timestamp
      FROM changes c
      WHERE c.id IN (SELECT id FROM changes GROUP BY id HAVING COUNT(*) > 1)
      ORDER BY id, row_valid_start_timestamp""",

    "cdc_scd2_top200" -> s"""$changesCte
      SELECT c.id, c.status, c.totalprice,
             c.source_timestamp AS row_valid_start_timestamp,
             COALESCE(LEAD(c.source_timestamp) OVER
               (PARTITION BY c.id ORDER BY c.log_seq_num),
               TIMESTAMP '9999-01-01') AS row_valid_expiration_timestamp
      FROM changes c
      WHERE c.id IN (SELECT id FROM changes GROUP BY id HAVING COUNT(*) > 1)
      ORDER BY id, row_valid_start_timestamp LIMIT 200""",

    "cdc_current_state" -> s"""$changesCte
      SELECT id, status, totalprice, log_seq_num FROM (
        SELECT id, status, totalprice, log_seq_num, operation_type,
          ROW_NUMBER() OVER (PARTITION BY id ORDER BY log_seq_num DESC) AS rn
        FROM changes
      ) WHERE rn = 1 AND operation_type != 'DELETE'
      ORDER BY id""",

    // MERGE semantics mirror: creates left-joined with each key's latest
    // non-create event; a DELETE latest removes the key, any other latest
    // replaces the row wholesale.
    "cdc_txn_snapshot" -> """
      WITH o1 AS (
        SELECT o_orderkey AS id, o_orderstatus AS status
        FROM orders WHERE o_orderkey % 10 = 3
      ), l1 AS (
        SELECT l_orderkey * 10 + l_linenumber AS line_id,
          l_orderkey AS order_id,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS quantity
        FROM lineitem JOIN o1 ON l_orderkey = o1.id
        GROUP BY 1, 2
      ), o2 AS (
        SELECT id, CASE WHEN id % 30 = 3 THEN 'F' ELSE status END AS status
        FROM o1
        UNION ALL SELECT 999999931, 'O'
      ), l2 AS (
        SELECT line_id, order_id,
          CASE WHEN order_id % 30 = 3 THEN quantity + 1 ELSE quantity END
            AS quantity
        FROM l1
        UNION ALL SELECT 9999999311, 999999931, 5
        UNION ALL SELECT 9999999312, 999999931, 7
      ), s1 AS (
        SELECT CAST(1 AS BIGINT) AS catalog_version,
          CAST(COUNT(*) AS BIGINT) AS n_join_rows,
          CAST(COUNT(DISTINCT o1.id) AS BIGINT) AS n_orders,
          CAST(SUM(CASE WHEN o1.status = 'F' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_f_lines,
          CAST(SUM(l1.quantity) AS BIGINT) AS qty_sum
        FROM o1 JOIN l1 ON o1.id = l1.order_id
      ), s2 AS (
        SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
          CAST(COUNT(DISTINCT o2.id) AS BIGINT),
          CAST(SUM(CASE WHEN o2.status = 'F' THEN 1 ELSE 0 END) AS BIGINT),
          CAST(SUM(l2.quantity) AS BIGINT)
        FROM o2 JOIN l2 ON o2.id = l2.order_id
      )
      SELECT * FROM s1 UNION ALL SELECT * FROM s2
      ORDER BY catalog_version""",

    "cdc_merge_sync" -> s"""$changesCte, b1 AS (
        SELECT id, status, totalprice FROM changes
        WHERE operation_type = 'CREATE'
      )
      SELECT id, status || '_SYNC' AS status, totalprice
      FROM b1 WHERE id % 3 != 0
      UNION ALL
      SELECT id + 5000000, status, totalprice FROM b1 WHERE id % 7 = 0
      ORDER BY id""",

    "cdc_merge_into" -> mergeFinalStateSql,
    // vacuum must not change the latest-state answer
    "cdc_merge_vacuum" -> mergeFinalStateSql,

    // The maintained view must equal the plain recompute over the v2
    // state (same b2 derivation as cdc_merge_into).
    "cdc_cdf_maintenance" -> s"""$changesCte, b2 AS (
        SELECT id, status, totalprice, operation_type FROM (
          SELECT id, status, totalprice, operation_type,
            ROW_NUMBER() OVER (PARTITION BY id
                               ORDER BY log_seq_num DESC) AS rn
          FROM changes WHERE operation_type != 'CREATE'
        ) WHERE rn = 1
      ), v2 AS (
        SELECT id,
          CASE WHEN b.id IS NOT NULL THEN b.status ELSE c.status END
            AS status,
          CASE WHEN b.id IS NOT NULL THEN b.totalprice ELSE c.totalprice END
            AS totalprice,
          b.operation_type AS bop
        FROM (SELECT id, status, totalprice FROM changes
              WHERE operation_type = 'CREATE') c
        LEFT JOIN b2 b USING (id)
      )
      SELECT status, CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(CAST(SUM(CAST(totalprice AS DECIMAL(38,2))) AS VARCHAR)
          AS DOUBLE) AS revenue
      FROM v2 WHERE bop IS NULL OR bop != 'DELETE'
      GROUP BY status ORDER BY status""",

    "cdc_scd3_prev" -> s"""$changesCte
      SELECT id, status, prev_status, n_changes FROM (
        SELECT id, status,
          LAG(status, 1) OVER (PARTITION BY id ORDER BY log_seq_num)
            AS prev_status,
          CAST(COUNT(*) OVER (PARTITION BY id) AS BIGINT) AS n_changes,
          operation_type,
          ROW_NUMBER() OVER (PARTITION BY id ORDER BY log_seq_num DESC)
            AS rn
        FROM changes
      ) WHERE rn = 1 AND operation_type != 'DELETE'
      ORDER BY id""",

    // Key-level value diff of v2 against v1: v1 is the CREATE batch, v2
    // applies each key's LATEST non-create event — deletes emit one row,
    // value-changing rewrites a pre/post pair, identical rewrites nothing.
    "cdc_change_feed" -> changeFeedOracleSql,

    // The delta change feed over versions 1..2 of the sink table is the
    // SAME key-level diff (the two slices are id-disjoint, so their
    // concatenated feeds equal the one-batch feed).
    "cdc_delta_cdf" -> changeFeedOracleSql,

    // The STREAMED feed carries exactly the same change rows as the
    // batch table_changes read — transport must not alter the set.
    "cdc_stream_cdf" -> changeFeedOracleSql,

    // Version 1 = the CREATE batch exactly as committed.
    "cdc_merge_time_travel" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' ORDER BY id""",

    // Delta-log export of the latest snapshot = the merged current state
    // (same truth as cdc_merge_into).
    "cdc_merge_export_delta" -> mergeFinalStateSql,

    // Checkpoint replay reconstructs the same final merged state the 13
    // incremental exports described.
    "cdc_delta_checkpoint" -> mergeFinalStateSql,

    // The foreign partitioned table = the CREATE payloads.
    "cdc_delta_partitioned" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' ORDER BY id""",

    // Metadata-pruned partition read = the relational filter.
    "cdc_delta_part_prune" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' AND status = 'F' ORDER BY id""",

    // Our partitioned publish read back = the CREATE payloads.
    "cdc_delta_export_part" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' ORDER BY id""",

    // The replay-proof sink's delta view = the clean merged state.
    "cdc_stream_delta_sink" -> mergeFinalStateSql,

    // The column-mapped table under logical names = the CREATE payloads.
    "cdc_delta_colmap" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' ORDER BY id""",

    // The id-mapped table (field-id matching) = the CREATE payloads.
    "cdc_delta_colmap_id" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' ORDER BY id""",

    // V2 checkpoint replay reconstructs the same final merged state.
    "cdc_delta_v2_checkpoint" -> mergeFinalStateSql,

    // The iceberg-published table = the clean merged state.
    "cdc_iceberg_export" -> mergeFinalStateSql,

    // After snapshot expiration the current snapshot = the same state.
    "cdc_iceberg_expire" -> mergeFinalStateSql,

    // The replay-proof iceberg sink's view = the clean merged state.
    "cdc_stream_iceberg_sink" -> mergeFinalStateSql,

    // Iceberg snapshot 1 = the CREATE batch exactly as committed.
    "cdc_iceberg_time_travel" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' ORDER BY id""",

    // Position deletes: the CREATE payloads minus the deleted keys —
    // the files still hold them, only the delete parquet says otherwise.
    "cdc_iceberg_pos_delete" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' AND id % 7 != 0
      ORDER BY id""",

    // Equality deletes: same answer, reached by key anti-join.
    "cdc_iceberg_eq_delete" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' AND id % 7 != 0
      ORDER BY id""",

    // v3 puffin deletion vectors: same answer, reached through the
    // roaring blobs — the files still hold the rows.
    "cdc_iceberg_v3_dv" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' AND id % 7 != 0
      ORDER BY id""",

    // v3 initial-default: every file predates the column, so every row
    // surfaces the default constant.
    "cdc_iceberg_v3_default" -> s"""$changesCte
      SELECT id, status, totalprice, CAST(3 AS BIGINT) AS priority
      FROM changes WHERE operation_type = 'CREATE' ORDER BY id""",

    // our id-mapped publish read back by field id = the CREATE payloads.
    "cdc_delta_idmap_export" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' ORDER BY id""",

    // natively-exported v3 deletion vectors: same answer as the forged
    // read gate — the files still hold the rows, the puffin blobs say
    // otherwise.
    "cdc_iceberg_v3_dv_export" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' AND id % 7 != 0
      ORDER BY id""",

    // the iceberg changelog scan = the manifest-store change feed (the
    // two snapshots are the same two states).
    "cdc_iceberg_changelog" -> changeFeedOracleSql,

    // the forged "audit" tag names snapshot 1 = the CREATE batch.
    "cdc_iceberg_tag_read" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' ORDER BY id""",

    // delta files metadata: stats account for every CREATE row, DV
    // descriptors for every id%7 deleted key.
    "cdc_delta_files_meta" -> s"""$changesCte
      SELECT
        (SELECT COUNT(*) FROM changes WHERE operation_type = 'CREATE')
          AS total_records,
        (SELECT COUNT(*) FROM changes
         WHERE operation_type = 'CREATE' AND id % 7 = 0)
          AS total_deleted""",

    // files metadata: 4 range data files accounting for every CREATE
    // row; 4 DV entries whose cardinalities sum to the deleted keys.
    "cdc_iceberg_files_meta" -> s"""$changesCte
      SELECT content, n_files, total_records FROM (
        SELECT 0 AS content, CAST(4 AS BIGINT) AS n_files,
          COUNT(*) AS total_records
        FROM changes WHERE operation_type = 'CREATE'
        UNION ALL
        SELECT 1, CAST(4 AS BIGINT), COUNT(*)
        FROM changes WHERE operation_type = 'CREATE' AND id % 7 = 0
      ) ORDER BY content""",

    // v3 NESTED initial-default: every file predates the struct child,
    // so every row surfaces the constant inside its struct.
    "cdc_iceberg_v3_nested_default" -> s"""$changesCte
      SELECT id, status, totalprice, CAST(7 AS BIGINT) AS flag
      FROM changes WHERE operation_type = 'CREATE' ORDER BY id""",

    // bucket[8]-pruned point lookup = the relational filter at the
    // same key (the minimum CREATE id, computed identically).
    "cdc_iceberg_bucket_prune" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE'
        AND id = (SELECT MIN(id) FROM changes
                  WHERE operation_type = 'CREATE')
      ORDER BY id""",

    // incremental APPEND scan over (0, 2]: every appended row — the
    // snapshot-2 delete is an insertion-feed no-op, NOT subtracted.
    "cdc_iceberg_incr_append" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' ORDER BY id""",

    // constrained table read back = the CREATE payloads (the CHECK
    // travels as configuration; data unchanged).
    "cdc_delta_constraints" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' ORDER BY id""",

    // stored generated column: the oracle recomputes the published
    // delta.generationExpression (double comparison — exact in both
    // engines).
    "cdc_delta_generated" -> s"""$changesCte
      SELECT id, status, totalprice,
        CASE WHEN totalprice >= 150000.0 THEN 'high' ELSE 'low' END
          AS price_band
      FROM changes WHERE operation_type = 'CREATE' ORDER BY id""",

    // Our partitioned iceberg publish read back = the CREATE payloads.
    "cdc_iceberg_export_part" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' ORDER BY id""",

    // Manifest-pruned partition read = the relational filter.
    "cdc_iceberg_part_prune" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' AND status = 'F' ORDER BY id""",

    // Bounds-pruned read = the relational filter at the same exact
    // threshold (integer floor division on BIGINT in both engines).
    "cdc_iceberg_stats_prune" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE'
        AND id <= (SELECT MIN(id) + (MAX(id) - MIN(id)) // 4
                   FROM changes WHERE operation_type = 'CREATE')
      ORDER BY id""",

    // Stats-pruned read = the relational filter at the same exact
    // threshold (integer floor division on BIGINT in both engines).
    "cdc_delta_stats_prune" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE'
        AND id <= (SELECT MIN(id) + (MAX(id) - MIN(id)) // 4
                   FROM changes WHERE operation_type = 'CREATE')
      ORDER BY id""",

    // Protocol deletion vectors: the CREATE payloads minus the DV'd
    // keys — the files still hold them, only the bitmap says otherwise.
    "cdc_delta_dv" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' AND id % 7 != 0
      ORDER BY id""",

    // The co-located join = merged final state × doubled CREATE prices.
    "cdc_merge_bucket_join" -> s"""${mergeFinalCte("TRUE")},
      prices AS (
        SELECT id, totalprice * 2 AS double_price FROM changes
        WHERE operation_type = 'CREATE'
      )
      SELECT f.id, f.status, f.totalprice, p.double_price
      FROM fin f JOIN prices p USING (id) ORDER BY f.id""",

    // Export-at-version of v1 = the CREATE batch exactly as committed.
    "cdc_merge_export_v1" -> s"""$changesCte
      SELECT id, status, totalprice FROM changes
      WHERE operation_type = 'CREATE' ORDER BY id""",

    // Evolved table: UPDATE keys carry the new column, everything else
    // reads NULL through the schema-merged scan.
    "cdc_merge_rename" -> renameFinalSql,
    // The column-mapped delta round trip = the same renamed state.
    "cdc_delta_export_colmap" -> renameFinalSql,

    "cdc_iceberg_rename" -> renameFinalSql,

    "cdc_delta_shallow_clone" -> mergeFinalStateSql,

    // CREATEs with the SMALL update batch applied (8 lowest update ids
    // + the lowest id%7==0 one); id%7==0 keys survive ONLY when updated
    // (re-inserted after their equality delete)
    "cdc_iceberg_eq_mixed" -> s"""$changesCte, u AS (
        SELECT DISTINCT id, status, totalprice FROM (
          SELECT id, status, totalprice FROM (
            SELECT id, status, totalprice FROM changes
            WHERE operation_type = 'UPDATE' ORDER BY id LIMIT 8)
          UNION ALL
          SELECT id, status, totalprice FROM (
            SELECT id, status, totalprice FROM changes
            WHERE operation_type = 'UPDATE' AND id % 7 = 0
            ORDER BY id LIMIT 1)))
      SELECT id, status, totalprice FROM (
        SELECT c.id,
          CASE WHEN u.id IS NOT NULL THEN u.status ELSE c.status END
            AS status,
          CASE WHEN u.id IS NOT NULL THEN u.totalprice
               ELSE c.totalprice END AS totalprice,
          u.id AS uid
        FROM (SELECT id, status, totalprice FROM changes
              WHERE operation_type = 'CREATE') c
        LEFT JOIN u ON c.id = u.id
      ) WHERE uid IS NOT NULL OR id % 7 <> 0
      ORDER BY id""",

    // the UPDATE diff as update_preimage/update_postimage pairs under
    // the POST-RENAME logical column name
    "cdc_delta_cdf_colmap" -> s"""$changesCte, u AS (
        SELECT id, status, totalprice FROM changes
        WHERE operation_type = 'UPDATE'
      ), c AS (
        SELECT id, status, totalprice FROM changes
        WHERE operation_type = 'CREATE'
      ), diff AS (
        SELECT c.id, c.status AS s_pre, c.totalprice AS p_pre,
               u.status AS s_post, u.totalprice AS p_post
        FROM c JOIN u USING (id)
      )
      SELECT id, order_status, totalprice, _change_type FROM (
        SELECT id, s_pre AS order_status, p_pre AS totalprice,
               'update_preimage' AS _change_type
        FROM diff WHERE s_post IS DISTINCT FROM s_pre
                     OR p_post IS DISTINCT FROM p_pre
        UNION ALL
        SELECT id, s_post, p_post, 'update_postimage'
        FROM diff WHERE s_post IS DISTINCT FROM s_pre
                     OR p_post IS DISTINCT FROM p_pre
      )
      ORDER BY id, _change_type""",

    // Final state: CREATE rows minus the DV-deleted slice, overridden by
    // UPDATE (the two key slices are disjoint: last digit 7 vs 3).
    "cdc_merge_rebucket" -> s"""$changesCte
      SELECT c.id,
        CASE WHEN u.id IS NOT NULL THEN u.status ELSE c.status END
          AS status,
        CASE WHEN u.id IS NOT NULL THEN u.totalprice ELSE c.totalprice END
          AS totalprice
      FROM (SELECT id, status, totalprice FROM changes
            WHERE operation_type = 'CREATE') c
      LEFT JOIN (SELECT id, status, totalprice FROM changes
                 WHERE operation_type = 'UPDATE') u USING (id)
      WHERE c.id NOT IN (SELECT id FROM changes
                         WHERE operation_type = 'DELETE')
      ORDER BY c.id""",

    // Final state (CREATE overridden by UPDATE) with the generated band
    // recomputed relationally — the virtual column must equal its
    // defining expression on every row.
    "cdc_merge_generated" -> s"""$changesCte, fin AS (
        SELECT c.id,
          CASE WHEN u.id IS NOT NULL THEN u.status ELSE c.status END
            AS status,
          CASE WHEN u.id IS NOT NULL THEN u.totalprice ELSE c.totalprice
            END AS totalprice
        FROM (SELECT id, status, totalprice FROM changes
              WHERE operation_type = 'CREATE') c
        LEFT JOIN (SELECT id, status, totalprice FROM changes
                   WHERE operation_type = 'UPDATE') u USING (id)
      )
      SELECT id, status, totalprice,
        CAST(round(totalprice * 100) AS BIGINT) // 100000 AS price_band
      FROM fin ORDER BY id""",

    "cdc_merge_evolve" -> s"""$changesCte
      SELECT c.id,
        CASE WHEN u.id IS NOT NULL THEN u.status ELSE c.status END
          AS status,
        CASE WHEN u.id IS NOT NULL THEN u.totalprice ELSE c.totalprice END
          AS totalprice,
        CASE WHEN u.id IS NOT NULL
          THEN 'P' || CAST(u.id % 5 AS VARCHAR) END AS priority
      FROM (SELECT id, status, totalprice FROM changes
            WHERE operation_type = 'CREATE') c
      LEFT JOIN (SELECT id, status, totalprice FROM changes
                 WHERE operation_type = 'UPDATE') u USING (id)
      ORDER BY c.id""",

    // Key 3's final state after the two-batch apply (its latest
    // non-create event is the UPDATE: status 'F', totalprice + 100).
    "cdc_merge_lookup" -> s"""$changesCte, b2 AS (
        SELECT id, status, totalprice, operation_type FROM (
          SELECT id, status, totalprice, operation_type,
            ROW_NUMBER() OVER (PARTITION BY id
                               ORDER BY log_seq_num DESC) AS rn
          FROM changes WHERE operation_type != 'CREATE'
        ) WHERE rn = 1
      )
      SELECT id, status, totalprice FROM (
        SELECT c.id,
          CASE WHEN b.id IS NOT NULL THEN b.status ELSE c.status END
            AS status,
          CASE WHEN b.id IS NOT NULL THEN b.totalprice ELSE c.totalprice END
            AS totalprice,
          b.operation_type AS bop
        FROM (SELECT id, status, totalprice FROM changes
              WHERE operation_type = 'CREATE') c
        LEFT JOIN b2 b USING (id)
      ) WHERE (bop IS NULL OR bop != 'DELETE') AND id = 3
      ORDER BY id""",

    "cdc_snapshot_diff" -> s"""$changesCte, cur AS (
        SELECT id, status, totalprice FROM (
          SELECT id, status, totalprice, operation_type,
            ROW_NUMBER() OVER (PARTITION BY id ORDER BY log_seq_num DESC) AS rn
          FROM changes
        ) WHERE rn = 1 AND operation_type != 'DELETE'
      )
      SELECT COALESCE(o.o_orderkey, c.id) AS id,
        CASE WHEN c.id IS NULL THEN 'DELETE'
             WHEN o.o_orderkey IS NULL THEN 'CREATE'
             ELSE 'UPDATE' END AS op,
        o.o_orderstatus AS old_status, c.status AS new_status,
        o.o_totalprice AS old_price, c.totalprice AS new_price
      FROM orders o FULL OUTER JOIN cur c ON o.o_orderkey = c.id
      WHERE c.id IS NULL OR o.o_orderkey IS NULL
         OR c.status IS DISTINCT FROM o.o_orderstatus
         OR c.totalprice IS DISTINCT FROM o.o_totalprice
      ORDER BY id""",

    // The streamed key-latest store must equal the batch compaction.
    "cdc_stream_current_state" -> s"""$changesCte
      SELECT id, status, totalprice, log_seq_num FROM (
        SELECT id, status, totalprice, log_seq_num, operation_type,
          ROW_NUMBER() OVER (PARTITION BY id ORDER BY log_seq_num DESC) AS rn
        FROM changes
      ) WHERE rn = 1 AND operation_type != 'DELETE'
      ORDER BY id""",

    "cdc_row_number_ops" -> s"""$changesCte
      SELECT id, operation_type, log_seq_num,
             ROW_NUMBER() OVER (PARTITION BY id ORDER BY log_seq_num)
               AS op_order
      FROM changes ORDER BY log_seq_num""",

    "cdc_scd2_users" -> """
      WITH uchanges AS (
        SELECT c_custkey::INT AS id, c_name AS v_username,
               md5(c_name) AS v_password,
               c_custkey*10 AS log_seq_num,
               make_timestamp((1700000000000 + c_custkey*1000) * 1000)
                 AS source_timestamp
        FROM customer
        UNION ALL
        SELECT c_custkey::INT, c_name, md5(c_name || ':rotated'),
               c_custkey*10+1,
               make_timestamp((1700000000000 + c_custkey*1000 + 3600000) * 1000)
        FROM customer WHERE c_custkey % 10 = 3
        UNION ALL
        SELECT c_custkey::INT, NULL, NULL,
               c_custkey*10+2,
               make_timestamp((1700000000000 + c_custkey*1000 + 7200000) * 1000)
        FROM customer WHERE c_custkey % 20 = 7
      )
      SELECT c.id, c.v_username, c.v_password,
             c.source_timestamp AS row_valid_start_timestamp,
             COALESCE(LEAD(c.source_timestamp) OVER
               (PARTITION BY c.id ORDER BY c.log_seq_num),
               TIMESTAMP '9999-01-01') AS row_valid_expiration_timestamp
      FROM uchanges c
      WHERE c.id IN (SELECT id FROM uchanges GROUP BY id HAVING COUNT(*) > 1)
      ORDER BY id, row_valid_start_timestamp""",

    "cdc_scd2_lookup" -> s"""$changesCte, scd2 AS (
        SELECT c.id, c.status,
               c.source_timestamp AS row_valid_start_timestamp,
               COALESCE(LEAD(c.source_timestamp) OVER
                 (PARTITION BY c.id ORDER BY c.log_seq_num),
                 TIMESTAMP '9999-01-01') AS row_valid_expiration_timestamp
        FROM changes c
        WHERE c.id IN (SELECT id FROM changes GROUP BY id HAVING COUNT(*) > 1)
      )
      SELECT c.id, c.log_seq_num,
             s.row_valid_start_timestamp, s.row_valid_expiration_timestamp
      FROM changes c JOIN scd2 s ON c.id = s.id
        AND c.source_timestamp >= s.row_valid_start_timestamp
        AND c.source_timestamp < s.row_valid_expiration_timestamp
      ORDER BY c.log_seq_num""",

    "cdc_scd2_products" -> """
      WITH pchanges AS (
        SELECT p_partkey::INT AS id, p_name AS v_name,
               CAST(CAST(p_retailprice AS DECIMAL(20,2)) AS DOUBLE) AS v_price,
               p_partkey*10 AS log_seq_num,
               make_timestamp((1700000000000 + p_partkey*1000) * 1000)
                 AS source_timestamp
        FROM part
        UNION ALL
        SELECT p_partkey::INT, p_name,
               CAST(CAST(p_retailprice AS DECIMAL(20,2)) + 100 AS DOUBLE),
               p_partkey*10+1,
               make_timestamp((1700000000000 + p_partkey*1000 + 3600000) * 1000)
        FROM part WHERE p_partkey % 10 = 3
        UNION ALL
        SELECT p_partkey::INT, NULL, NULL,
               p_partkey*10+2,
               make_timestamp((1700000000000 + p_partkey*1000 + 7200000) * 1000)
        FROM part WHERE p_partkey % 20 = 7
      )
      SELECT c.id, c.v_name, c.v_price,
             c.source_timestamp AS row_valid_start_timestamp,
             COALESCE(LEAD(c.source_timestamp) OVER
               (PARTITION BY c.id ORDER BY c.log_seq_num),
               TIMESTAMP '9999-01-01') AS row_valid_expiration_timestamp
      FROM pchanges c
      WHERE c.id IN (SELECT id FROM pchanges GROUP BY id HAVING COUNT(*) > 1)
      ORDER BY id, row_valid_start_timestamp""",

    "cdc_debezium_decimal" -> """
      SELECT p_partkey,
             CAST(CAST(p_retailprice AS DECIMAL(20,2)) AS DOUBLE) AS price
      FROM part ORDER BY p_partkey"""
  )
}
