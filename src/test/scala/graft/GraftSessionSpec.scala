package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One session recipe: the specs run the configuration the mains and the
  * library ship ([[GraftSession]]), and no other code builds a session.
  */
class GraftSessionSpec extends SparkSpec {

  test("the spec session carries GraftSession's configuration") {
    val conf = spark.conf
    assert(conf.get("spark.shuffle.sort.bypassMergeThreshold") == "0")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sql("SELECT hash60('abc')").head().getLong(0) > 0L)
  }

  test("only GraftSession builds a SparkSession") {
    val needle = "SparkSession" + ".builder("
    val walk = Files.walk(Paths.get("src"))
    val hits = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter((p: Path) => Files.readString(p).contains(needle))
      .map(_.getFileName.toString).toSet
    finally walk.close()
    assert(hits == Set("GraftSession.scala"))
  }
}
