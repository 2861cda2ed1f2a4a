package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Session]]'s conf-list parser, and the structure it keeps: session
  * building, job listening and session-conf writes each live in one place.
  */
class SessionSpec extends AnyFunSuite {

  test("parseConfs keeps trimmed k=v entries and skips malformed ones") {
    assert(Session.parseConfs(None).isEmpty)
    assert(Session.parseConfs(Some("")).isEmpty)
    assert(Session.parseConfs(Some(
      " spark.a = 1 ;no-equals; ;spark.b=x=y;spark.sql.codegen.cache.maxEntries=2000")) ==
      Seq("spark.a" -> "1", "spark.b" -> "x=y",
        "spark.sql.codegen.cache.maxEntries" -> "2000"))
  }

  private def sources(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  /** The files of `files` with a line matching `pattern`, as paths
    * relative to the repository root.
    */
  private def holders(files: Seq[Path], pattern: String): Set[String] = {
    val re = pattern.r.unanchored
    files.filter(f => Files.readAllLines(f).asScala.exists(re.matches))
      .map(_.toString).toSet
  }

  test("one session builder, one job listener, conf writes only in Iterate.withConf") {
    val main = sources("src/main/scala")
    val harness = main :+ Paths.get("src/test/scala/graft/SparkSpec.scala")
    assert(holders(harness, """SparkSession\s*\.\s*builder""") ==
      Set("src/main/scala/graft/Session.scala"))
    assert(holders(harness, """(new|extends)\s+[\w.]*SparkListener\b""") ==
      Set("src/main/scala/graft/trace/JobLog.scala"))
    assert(holders(main, """conf\s*\.\s*set\b""") ==
      Set("src/main/scala/graft/graph/Iterate.scala"))
  }
}
