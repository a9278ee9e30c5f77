package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funspec.AnyFunSpec

/** Every main runs on [[graft.Session]]'s one session shape: a second
  * hand-built `SparkSession` is how the mains' confs drifted apart
  * (time zone, aggregate pushdown, streaming state dials), so the
  * builder call may appear only in `graft/Session.scala`.
  */
class SessionGateSpec extends AnyFunSpec {
  it("SparkSession.builder appears only in graft/Session.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    val builders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map((p: Path) => root.relativize(p).toString)
        .toList.sorted
      finally walk.close()
    assert(builders == List("graft/Session.scala"))
  }
}
