package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Per-segment BLOOM FILTER INDEX on a secondary column — the data-skipping
  * tier zone maps can't provide. [[ClusteredTable]]'s min/max stats prune
  * range queries on the ONE clustering column; a point lookup on any other
  * high-cardinality column (user id, document id, content hash) still had
  * to open every segment. This index stores one compact bloom per segment
  * in the manifest (Delta's bloom-filter-index idea, manifest-resident
  * like everything else in this engine), so an equality lookup opens only
  * the segments that might contain the value — expected
  * `1 + fpp·(segments-1)` of them.
  *
  * Built with Spark's own native `BloomFilterAggregate` (the expression
  * behind AQE runtime filters) over `xxhash64(column)` — codegen'd
  * map-side aggregation, and the probe side hashes with the same
  * engine-native function so index and query can never disagree on hash
  * semantics.
  *
  * Indexing is an explicit maintenance pass (like ANALYZE): it reads each
  * segment once and commits a NEW manifest version carrying the same data
  * entries plus the bloom metadata — atomic, time-travelable, vacuumable.
  * Segments appended after the pass simply have no bloom and are always
  * read (correctness never depends on index freshness); re-run [[build]]
  * to cover them.
  */
object BloomIndex {

  private val BloomColSlot = "__bloomCol"
  private def bloomSlot(slot: String) = s"__bloom.$slot"
  /** Marker for a segment proven empty at index time: no lookup matches. */
  private val EmptyMarker = "-"

  private def dataSlots(snap: ManifestStore.Snapshot): Seq[String] =
    snap.entries.keys.filterNot(ManifestStore.isMetaSlot).toSeq.sorted

  /** Index `colName` across the current snapshot's segments and commit the
    * blooms as manifest metadata. One bounded driver job per segment (the
    * segment count is index metadata, not data); each job is a codegen'd
    * single-pass aggregate.
    *
    * @param expectedItems sizing per segment (fpp degrades gracefully if
    *   exceeded — lookups stay correct, just open more segments).
    */
  def build(spark: SparkSession, root: String, colName: String,
            expectedItems: Long = 100000L, fpp: Double = 0.03): Unit = {
    val snap = ManifestStore.latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed table under $root"))
    val numBits = BloomFilter.create(expectedItems, fpp).bitSize()
    val blooms = dataSlots(snap).map { slot =>
      val seg = spark.read.parquet(s"$root/${snap.entries(slot)}")
      val agg = new BloomFilterAggregate(
        GraftBridge.expression(xxhash64(col(colName))),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression()
      val bf = seg.select(GraftBridge.column(agg).as("bf"))
        .head.getAs[Array[Byte]](0)
      bloomSlot(slot) -> (if (bf == null) EmptyMarker
        else java.util.Base64.getEncoder.encodeToString(bf))
    }
    // CAS: commit at read-snapshot + 1 — this is a read-modify-write of
    // snap.entries, so a version re-read at commit time would mask a
    // concurrent committer's update (see ManifestStore.versionAfter).
    ManifestStore.commit(spark, root, ManifestStore.versionAfter(Some(snap)),
      snap.entries ++ blooms + (BloomColSlot -> colName))
  }

  /** Equality lookup through the index: open ONLY the segments whose bloom
    * might contain the value (plus any segment indexed after its bloom —
    * never-indexed segments are always candidates). NULL is not a lookup
    * key (SQL equality never matches it).
    */
  def lookup(spark: SparkSession, root: String, value: Any): DataFrame = {
    val snap = ManifestStore.latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed table under $root"))
    val colName = snap.entries.getOrElse(BloomColSlot,
      throw new IllegalStateException(
        s"table at $root has no bloom index — run BloomIndex.build first"))
    // probe hash computed by the same engine-native xxhash64 the index used
    val h = spark.range(1).select(xxhash64(lit(value))).head.getLong(0)
    val candidates = dataSlots(snap).filter { slot =>
      snap.entries.get(bloomSlot(slot)) match {
        case Some(EmptyMarker) => false // proven empty at index time
        case Some(b64) => BloomFilter
          .readFrom(java.util.Base64.getDecoder.decode(b64))
          .mightContainLong(h)
        case None => true // appended after indexing: must read
      }
    }
    val base =
      if (candidates.isEmpty)
        ManifestStore.read(spark, root).filter(lit(false))
      else spark.read.parquet(
        candidates.map(s => s"$root/${snap.entries(s)}"): _*)
    base.filter(col(colName) === lit(value))
      .drop("__seg", "__bucket", "__dir")
  }

  /** The candidate segment slots a lookup would open — exposed for specs
    * and skip-rate diagnostics.
    */
  def candidateSlots(spark: SparkSession, root: String,
                     value: Any): Seq[String] = {
    val snap = ManifestStore.latest(spark, root).get
    val h = spark.range(1).select(xxhash64(lit(value))).head.getLong(0)
    dataSlots(snap).filter { slot =>
      snap.entries.get(bloomSlot(slot)) match {
        case Some(EmptyMarker) => false
        case Some(b64) => BloomFilter
          .readFrom(java.util.Base64.getDecoder.decode(b64))
          .mightContainLong(h)
        case None => true
      }
    }
  }
}
