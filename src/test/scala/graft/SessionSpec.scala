package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every entry point builds its session through [[GraftSession]], so the
  * test suite, Verify, Bench and the fuzz gates run one engine
  * configuration. These pins fail if the shared test session loses an
  * engine setting, or if a second session builder appears. */
class SessionSpec extends AnyFunSuite {

  test("SharedSpark carries every engine setting GraftSession fixes") {
    val s = SharedSpark.spark
    val sc = s.sparkContext
    assert(sc.master === "local[8]")
    assert(s.conf.get("spark.sql.shuffle.partitions") === "8")
    assert(s.conf.get("spark.sql.extensions") === "graft.GraftExtensions")
    assert(s.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") === "65536")
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(sc.getConf.get("spark.local.dir") ===
      s"${Tables.scratchRoot}/spark-local")
    assert(s.conf.get("spark.sql.warehouse.dir")
      .endsWith(s"${Tables.scratchRoot}/warehouse"))
    assert(sc.getConf.get("spark.ui.enabled") === "false")
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ===
      org.apache.logging.log4j.Level.WARN)
  }

  test("no file under src/ but GraftSession.scala calls the session builder") {
    val src = java.nio.file.Paths.get("src")
    assume(java.nio.file.Files.isDirectory(src), "run from the repo root")
    val needle = "SparkSession" + ".builder" // split so this file never matches
    val files = java.nio.file.Files.walk(src)
    val sites = try files.iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .filter(p => java.nio.file.Files.readString(p).contains(needle))
      .map(p => src.relativize(p).toString)
    finally files.close()
    assert(sites === Seq("main/scala/graft/GraftSession.scala"))
  }
}
