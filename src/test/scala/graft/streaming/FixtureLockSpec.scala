package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

class FixtureLockSpec extends AnyFunSuite {

  test("two path SPELLINGS of one fixture serialize on one monitor " +
    "(no OverlappingFileLockException)") {
    val abs = Files.createTempDirectory("graft-lock")
    // same location, different spelling: a redundant ./ segment
    val spelled = Paths.get(abs.toString, ".", ".")
    val builds = new AtomicInteger(0)
    val inFirst = new CountDownLatch(1)
    val firstDone = new CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]

    val t1 = new Thread(() => {
      try FixtureLock.once(abs) {
        builds.incrementAndGet()
        inFirst.countDown()
        // hold the lock long enough for the second spelling to contend
        firstDone.await(10, TimeUnit.SECONDS)
      } catch { case e: Throwable => errors.add(e); inFirst.countDown() }
    })
    val t2 = new Thread(() => {
      try {
        inFirst.await(10, TimeUnit.SECONDS)
        // pre-fix: distinct monitor for the spelled path → second
        // FileChannel.lock on the same _LOCK file in this JVM → throw
        FixtureLock.once(spelled) { builds.incrementAndGet() }
      } catch { case e: Throwable => errors.add(e) }
    })
    t1.start(); t2.start()
    inFirst.await(10, TimeUnit.SECONDS)
    Thread.sleep(200) // let t2 reach the monitor/lock
    firstDone.countDown()
    t1.join(15000); t2.join(15000)
    assert(errors.isEmpty, s"lock contention threw: ${errors.peek()}")
    assert(builds.get() == 1,
      "second spelling re-built a fixture the first already marked _DONE")
  }

  test("exclusively() re-enters safely across spellings sequentially") {
    val abs = Files.createTempDirectory("graft-lock2")
    val rel = Paths.get(abs.toString, ".")
    var order = List.empty[Int]
    FixtureLock.exclusively(abs) { order ::= 1 }
    FixtureLock.exclusively(rel) { order ::= 2 }
    assert(order == List(2, 1))
  }

  test("root(sfDir, name) is byte-identical to the lake-dir formula it " +
    "replaced, with the lake dir set and unset") {
    // the formula every fixture used to inline — cached fixtures
    // resolve only while the helper reproduces it exactly
    def formula(lakeDir: Option[String], sfDir: String, name: String) = {
      val key = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val base = lakeDir.getOrElse(
        System.getProperty("java.io.tmpdir") + "/graft_fixture_lake")
      Paths.get(s"$base/$key/$name")
    }
    val sfDirs = Seq("/data/tpch/sf0.001", "/data/sf 1/tpch-x",
      "relative/sf0.01/", "C:\\lake\\sf0.1", "sf_\u00e9")
    val names = Seq("orders_merge_table_v6", "buckets_v2/orders_b")
    for (sf <- sfDirs; name <- names) {
      for (lake <- Seq(None, Some("/tmp/lake"), Some("/tmp/lake/"),
          Some("rel lake")))
        assert(FixtureLock.rootUnder(lake, sf, name).toString ==
          formula(lake, sf, name).toString, s"$lake $sf $name")
      assert(FixtureLock.root(sf, name).toString ==
        formula(sys.env.get("SPARK_GRAFT_LAKE_DIR"), sf, name).toString)
    }
  }
}
