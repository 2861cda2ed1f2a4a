package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** The extensions entry point must install every native function into a
  * fresh session via spark.sql.extensions, resolvable from SQL text; the
  * programmatic fallback ([[GraftFunctions.register]]) must install them
  * into a session without keeping any state of its own.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions installs all functions into a new session") {
    // spark.sql.extensions is a STATIC conf read from the SparkContext at
    // first-session construction — in this test JVM a context already
    // exists, so exercise the same injection path programmatically via
    // builder.withExtensions (spark-submit users set the conf instead;
    // both call GraftExtensions.apply).
    val shared = SparkSpec.spark
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val withExt = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val checks = Seq(
        "SELECT nfkc('ﬁ')" -> "fi",
        "SELECT word_shingles('a b c d', 3)[0]" -> "a b c",
        "SELECT CAST(dot_i64(array(1L, 2L), array(3L, 4L)) AS STRING)" -> "11")
      checks.foreach { case (sql, expected) =>
        val got = withExt.sql(sql).collect()(0).get(0).toString
        assert(got == expected, s"$sql → $got, expected $expected")
      }
      // Every function of the one list resolves and evaluates from SQL
      // text; a function added to GraftFunctions without a call here
      // fails the key-set check.
      val calls = Map(
        "nfkc" -> "nfkc('a')",
        "simhash64" -> "simhash64(array('a', 'b'))",
        "dot_i64" -> "dot_i64(array(1L), array(2L))",
        "damerau_levenshtein" -> "damerau_levenshtein('ab', 'ba')",
        "z_order2" -> "z_order2(1L, 2L)",
        "word_shingles" -> "word_shingles('a b c', 2)",
        "wordpiece" -> "wordpiece('ab', 'a ##b')",
        "bpe_merge_step" -> "bpe_merge_step(array('a', 'b'), 'a', 'b')",
        "ac_find_all" -> "ac_find_all('a b', 'a,b')",
        "bpe_tokens" -> "bpe_tokens('ab', 'a b')")
      calls.foreach { case (name, call) =>
        assert(withExt.sql(s"SELECT $call").collect().length == 1, name)
      }
      assert(calls.keySet == GraftFunctions.builders.map(_._1).toSet)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("register installs into the session's own registry and keeps no global state") {
    val fresh = SparkSpec.spark.newSession()
    assert(!fresh.sessionState.functionRegistry.functionExists(
      FunctionIdentifier("simhash64")))
    Tables.load(fresh, "/root/testdata/sf0.001", "documents")
    assert(fresh.sql("SELECT simhash64(array('a', 'b'))").collect().length == 1)
    // A second register is a no-op on an already-registered session.
    GraftFunctions.register(fresh)
    // No JVM-global collection that could hold sessions reachable.
    val holders = GraftFunctions.getClass.getDeclaredFields.filter { f =>
      classOf[java.util.Collection[_]].isAssignableFrom(f.getType) ||
      classOf[java.util.Map[_, _]].isAssignableFrom(f.getType) ||
      classOf[scala.collection.mutable.Iterable[_]].isAssignableFrom(f.getType)
    }
    assert(holders.isEmpty, s"session-holding fields: ${holders.map(_.getName).toSeq}")
  }
}
