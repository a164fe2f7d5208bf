package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

/** Minimal JSON writer for the result line and the trace artifact. */
object Json {
  sealed trait V { def render: String }
  final case class Num(v: Double) extends V {
    def render: String =
      if (v.isNaN || v.isInfinite) "null"
      else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else v.toString
  }
  final case class Str(v: String) extends V {
    def render: String = "\"" + v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }
  final case class Bool(v: Boolean) extends V { def render: String = v.toString }
  final case class Arr(vs: Seq[V]) extends V {
    def render: String = vs.map(_.render).mkString("[", ",", "]")
  }
  final case class Obj(kvs: Seq[(String, V)]) extends V {
    def render: String =
      kvs.map { case (k, v) => Str(k).render + ":" + v.render }.mkString("{", ",", "}")
  }
}

object Stats {
  /** Linear-interpolated quantile of `xs` (q in [0, 1]); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def orZero(v: Double): Double = if (v.isNaN) 0.0 else v
}

/** Attempted/failed accounting: every batch, replay, publish, read, query
  * and check is one operation; a failure is logged and counted, and the
  * run goes on so the result still reports it.
  */
final class Ops {
  var attempted = 0L
  var failed = 0L
  def apply[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"perfbench: operation failed: $what: $e")
        e.printStackTrace(System.err)
        None
    }
  }
  /** A check is an operation whose body returns whether it passed. */
  def check(what: String)(body: => Boolean): Boolean =
    apply(what) {
      if (!body) throw new IllegalStateException(s"check failed: $what")
    }.isDefined
}

object Fs {
  def files(root: File): Seq[File] =
    if (!root.exists) Nil
    else if (root.isFile) Seq(root)
    else Option(root.listFiles).toSeq.flatten.flatMap(files)

  def bytes(root: File): Long = files(root).map(_.length).sum

  def deleteRecursively(p: File): Unit = {
    if (p.isDirectory) Option(p.listFiles).toSeq.flatten.foreach(deleteRecursively)
    p.delete()
  }

  def fresh(p: Path): Path = {
    deleteRecursively(p.toFile)
    Files.createDirectories(p)
  }

  def writeLines(p: Path, lines: Seq[String]): Unit = {
    val w = Files.newBufferedWriter(p)
    try lines.foreach { l => w.write(l); w.write('\n') }
    finally w.close()
  }
}
