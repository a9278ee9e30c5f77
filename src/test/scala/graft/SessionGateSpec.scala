package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funspec.AnyFunSpec

/** Every main runs on [[graft.Session]]'s one session shape: a second
  * hand-built `SparkSession` is how the mains' confs drifted apart
  * (time zone, aggregate pushdown, streaming state dials), so the
  * builder call may appear only in `graft/Session.scala`. Job counts
  * likewise come from one counter,
  * [[org.apache.spark.sql.graft.PlanBridge.jobsOf]]: copies of it
  * drifted apart (polling vs draining the listener bus).
  */
class SessionGateSpec extends AnyFunSpec {

  /** `.scala` files under `root` whose text contains `needle`, relative. */
  private def filesContaining(root: String, needle: String): List[String] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"no $dir under ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(needle))
      .map((p: Path) => dir.relativize(p).toString)
      .toList.sorted
    finally walk.close()
  }

  it("SparkSession.builder appears only in graft/Session.scala") {
    assert(filesContaining("src/main/scala", "SparkSession.builder") ==
      List("graft/Session.scala"))
  }

  it("getJobIdsForGroup appears only in org/apache/spark/sql/graft/PlanBridge.scala") {
    assert(filesContaining("src/main/scala", "getJobIdsForGroup") ==
      List("org/apache/spark/sql/graft/PlanBridge.scala"))
    // this gate names the call itself
    assert(filesContaining("src/test/scala", "getJobIdsForGroup") ==
      List("graft/SessionGateSpec.scala"))
  }
}
