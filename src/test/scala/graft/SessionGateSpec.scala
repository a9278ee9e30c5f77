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
  * drifted apart (polling vs draining the listener bus). Operators take
  * their dials as parameters, not session conf: the one engine conf key
  * left is the deployment's item-catalog size. And source files stay
  * plain text, so `grep` searches them instead of reporting a binary
  * match.
  */
class SessionGateSpec extends AnyFunSpec {

  /** `.scala` files under `root` whose bytes satisfy `hit`, relative. */
  private def filesWhere(root: String)(hit: Array[Byte] => Boolean): List[String] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"no $dir under ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => hit(Files.readAllBytes(p)))
      .map((p: Path) => dir.relativize(p).toString)
      .toList.sorted
    finally walk.close()
  }

  /** `.scala` files under `root` whose text contains `needle`, relative. */
  private def filesContaining(root: String, needle: String): List[String] =
    filesWhere(root)(b => new String(b, "UTF-8").contains(needle))

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

  it("spark.graft.* conf keys appear only in graft/operators/Analytics.scala") {
    assert(filesContaining("src/main/scala", "\"spark.graft.") ==
      List("graft/operators/Analytics.scala"))
  }

  it("no .scala file under src/ holds a control byte other than tab, LF or CR") {
    assert(filesWhere("src")(_.exists(b => b >= 0 && b < 0x20 &&
      b != '\t' && b != '\n' && b != '\r')) == Nil)
  }
}
