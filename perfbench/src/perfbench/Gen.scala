package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded Debezium NDJSON generators. Plain Scala, no program code: the
  * same seed yields byte-identical lines, and the write-workload models
  * here are the reference the benchmark checks the program against.
  */
object Gen {

  final case class Row(status: String, cents: Long) {
    def price: Double = cents / 100.0
  }

  val Statuses: Array[String] = Array("O", "F", "P")
  val BaseTsMs = 1700000000000L

  private def priceText(cents: Long): String =
    s"${cents / 100}.${"%02d".format(cents % 100)}"

  private def payload(id: Long, r: Row): String =
    s"""{"id":$id,"status":"${r.status}","totalprice":${priceText(r.cents)}}"""

  /** One Debezium envelope line (`{"value": {...}}`) for the orders table. */
  def envelope(op: Char, id: Long, before: Option[Row], after: Option[Row],
               lsn: Long, tsMs: Long): String = {
    val b = before.map(payload(id, _)).getOrElse("null")
    val a = after.map(payload(id, _)).getOrElse("null")
    val snap = if (op == 'r') "true" else "false"
    s"""{"value":{"before":$b,"after":$a,"source":{"version":"2.5.0.Final",""" +
      s""""connector":"postgresql","name":"debezium","ts_ms":$tsMs,""" +
      s""""snapshot":"$snap","db":"postgres","sequence":null,""" +
      s""""schema":"commerce","table":"orders","txId":$lsn,"lsn":$lsn,""" +
      s""""xmin":null},"op":"$op","ts_ms":$tsMs,"transaction":null}}"""
  }

  val Tombstone = """{"value":null}"""

  private def randomRow(r: SplittableRandom): Row =
    Row(Statuses(r.nextInt(Statuses.length)), 1000L + r.nextInt(500000))

  /** Op counts of a generated stream, for the share checks. */
  final case class Mix(creates: Int, snapshots: Int, updates: Int,
                       deletes: Int, tombstones: Int) {
    def events: Int = creates + snapshots + updates + deletes
    def lines: Int = events + tombstones
  }

  /** The `scd2_stream` input: `keys` orders keys split into `files`
    * NDJSON files in LSN order. Every key is created (2% as `r` snapshot
    * reads), ~10% are updated and ~5% deleted (each delete followed by a
    * tombstone), the later ops landing in the creating file or up to three
    * files after it, so some batches touch keys created earlier.
    */
  def orderStream(seed: Long, keys: Int, files: Int): (Vector[Vector[String]], Mix) = {
    val rnd = new SplittableRandom(seed)
    val perFile = math.max(1, keys / files)
    val creates = Array.fill(files)(mutable.ArrayBuffer.empty[(Long, Char, Row)])
    val updates = Array.fill(files)(mutable.ArrayBuffer.empty[(Long, Row, Row)])
    val deletes = Array.fill(files)(mutable.ArrayBuffer.empty[(Long, Row)])
    var k = 0L
    while (k < keys) {
      val cf = math.min(files - 1, (k / perFile).toInt)
      val row = randomRow(rnd)
      val snapshot = rnd.nextInt(100) < 2
      val upd = rnd.nextInt(100) < 10
      val del = rnd.nextInt(100) < 5
      val uf = math.min(files - 1, cf + rnd.nextInt(4))
      val df = math.min(files - 1, math.max(if (upd) uf else cf, cf + rnd.nextInt(4)))
      creates(cf) += ((k, if (snapshot) 'r' else 'c', row))
      var last = row
      if (upd) {
        val next = randomRow(rnd)
        updates(uf) += ((k, row, next))
        last = next
      }
      if (del) deletes(df) += ((k, last))
      k += 1
    }
    var lsn = 0L
    def nextLsn(): Long = { lsn += 1; lsn }
    var mix = Mix(0, 0, 0, 0, 0)
    val out = (0 until files).map { f =>
      val lines = Vector.newBuilder[String]
      creates(f).foreach { case (id, op, row) =>
        val l = nextLsn()
        lines += envelope(op, id, None, Some(row), l, BaseTsMs + l * 1000)
        mix = if (op == 'r') mix.copy(snapshots = mix.snapshots + 1)
              else mix.copy(creates = mix.creates + 1)
      }
      updates(f).foreach { case (id, before, after) =>
        val l = nextLsn()
        lines += envelope('u', id, Some(before), Some(after), l, BaseTsMs + l * 1000)
        mix = mix.copy(updates = mix.updates + 1)
      }
      deletes(f).foreach { case (id, before) =>
        val l = nextLsn()
        lines += envelope('d', id, Some(before), None, l, BaseTsMs + l * 1000)
        lines += Tombstone
        mix = mix.copy(deletes = mix.deletes + 1, tombstones = mix.tombstones + 1)
      }
      lines.result()
    }.toVector
    (out, mix)
  }

  /** Deterministic pre-load row of key `k` (a pure function, so Spark tasks
    * can generate the table and the model can recompute it).
    */
  def baseRow(seed: Long, k: Long): Row = {
    val h = mix64(seed * 0x9E3779B97F4A7C15L + k)
    Row(Statuses(java.lang.Long.remainderUnsigned(h, 3).toInt),
      1000L + java.lang.Long.remainderUnsigned(h >>> 8, 500000L))
  }

  private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The `merge_publish` model: latest non-deleted row per key over a
    * pre-loaded key range plus the generated batches. `overrides` holds
    * every key a batch touched (None = deleted).
    */
  final class MergeModel(val seed: Long, val preload: Long) {
    val overrides = mutable.HashMap.empty[Long, Option[Row]]
    def current(k: Long): Option[Row] =
      overrides.getOrElse(k, if (k < preload) Some(baseRow(seed, k)) else None)
  }

  /** One `merge_publish` batch: `size` distinct keys drawn over the key
    * range (5% beyond the pre-load, so some updates insert); ~5% of the
    * keys are deleted (a delete drawn for an absent key inserts instead,
    * since a delete needs a before-image to carry its key). Returns the
    * NDJSON lines and applies the batch to `model`.
    */
  def mergeBatch(model: MergeModel, batch: Int, size: Int,
                 firstLsn: Long): Vector[String] = {
    val rnd = new SplittableRandom(model.seed * 1000003L + batch)
    val span = model.preload + model.preload / 20
    val keys = mutable.LinkedHashSet.empty[Long]
    while (keys.size < size) keys += rnd.nextLong(span)
    var lsn = firstLsn
    keys.toVector.sorted.map { k =>
      lsn += 1
      val ts = BaseTsMs + lsn * 1000
      val before = model.current(k)
      val delete = rnd.nextInt(100) < 5
      if (delete && before.isDefined) {
        model.overrides(k) = None
        envelope('d', k, before, None, lsn, ts)
      } else {
        val after = randomRow(rnd)
        model.overrides(k) = Some(after)
        envelope(if (before.isEmpty) 'c' else 'u', k, before, Some(after), lsn, ts)
      }
    }
  }
}
