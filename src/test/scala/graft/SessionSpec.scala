package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Session]]'s conf-list parser, and the structure it keeps: session
  * building, job listening, session-conf writes and native Columns each
  * live in one place, no code touches a function registry, and every
  * public `def` of the engine has a caller in the engine.
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

  test("native expressions reach a plan only as Columns built in GraftFunctions") {
    val main = sources("src/main/scala")
    assert(holders(main, """\b(functionRegistry|injectFunction|SparkSessionExtensions)\b""").isEmpty)
    assert(holders(main ++ sources("src/test/scala"), """GraftSqlBridge\s*\.\s*column\b""") ==
      Set("src/main/scala/graft/GraftFunctions.scala"))
  }

  /** Public defs that no code in `src/main` calls, each with the reason
    * it stays. A def missing from here and from every `src/main` call
    * site is a second path nothing runs: delete it or give it a reason.
    */
  private val uncalledButKept = Map(
    "belarus" -> "reference-pipeline surface (RegistryPipelines)",
    "kazakhstan" -> "reference-pipeline surface (RegistryPipelines)",
    "kyrgyzstan" -> "reference-pipeline surface (RegistryPipelines)",
    "readTables" -> "reference-pipeline surface (Docx reader)",
    "readFiles" -> "reference-pipeline surface (Xlsx and Docx readers)",
    "readImages" -> "reference-pipeline surface (Xlsx reader)",
    "writeBytes" -> "reference-pipeline surface (Xlsx sink)",
    "fromDataUrl" -> "reference-pipeline surface (Multimodal)",
    "resizeMedia" -> "reference-pipeline surface (Multimodal)",
    "correctRows" -> "reference-pipeline surface (Enrichment)",
    "writeZOrdered" -> "sink-side layout pass (Stage); StageSpec pins its file skipping",
    "compact" -> "sink-side layout pass (Stage); StageSpec pins its output",
    "computeStrings" -> "test reference: the driver-side SimHash64 the expression is checked against",
    "quantizedCosine" -> "test reference: the inline cosine quantizedNorm's hoisted form must equal",
    "simhashArrangement" -> "capacity-planning view of simhashPairs' tables; DedupSpec pins the math")

  test("every public def in src/main has a caller there or a reason to stay") {
    val files = sources("src/main/scala")
    val comment = """^\s*(//|\*|/\*)""".r.unanchored
    // plain literals only: an interpolated s"..${call}.." still calls
    val stringLit = "(?<![\\w])\"(?:[^\"\\\\]|\\\\.)*\""
    val defLine = ("""^\s*((?:(?:final|implicit|inline|lazy|protected|override|""" +
      """private(?:\[\w+\])?)\s+)*)def\s+([A-Za-z_]\w*)""").r.unanchored
    // code lines per file: comment lines dropped, plain string literals
    // blanked
    val code = files.map { f =>
      f -> Files.readAllLines(f).asScala.toIndexedSeq.map(l =>
        if (comment.matches(l)) None else Some(l.replaceAll(stringLit, "\"\"")))
    }
    val exempt = Set("SparkEntry.scala", "OracleSql.scala")
    val public = (for {
      (f, lines) <- code if !exempt(f.getFileName.toString)
      Some(l) <- lines
      defLine(mods, name) <- Seq(l)
      if !mods.contains("override") && !mods.contains("private")
    } yield name).distinct
    def referenced(name: String): Boolean = {
      val word = ("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r.unanchored
      code.exists { case (_, lines) => lines.exists {
        case Some(defLine(_, `name`)) => false // its own definition
        case Some(l) => word.matches(l)
        case None => false
      }}
    }
    val uncalled = public.filterNot(referenced).toSet
    assert((uncalled -- uncalledButKept.keySet).isEmpty,
      s"public defs with no caller in src/main: ${(uncalled -- uncalledButKept.keySet).toSeq.sorted}")
    assert((uncalledButKept.keySet -- uncalled).isEmpty,
      s"allow-listed defs that now have a caller or are gone: ${(uncalledButKept.keySet -- uncalled).toSeq.sorted}")
  }
}
