package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ShapeOpsSpec extends SparkSpec {
  import spark.implicits._

  test("withIndex mints a dense 0-based order column") {
    val df = Seq(30, 10, 20).toDF("k")
    val r = ShapeOps.withIndex(df, col("k")).orderBy("_idx")
      .select("k").as[Int].collect()
    assert(r.toSeq == Seq(10, 20, 30))
  }

  test("sliceFrom drops leading rows in index order (belarus.py:115)") {
    val df = ShapeOps.withIndex(Seq("h", "x", "a", "b").toDF("v"), col("v"))
    // order: a b h x; slice(2) keeps h x
    val r = ShapeOps.sliceFrom(df, 2).orderBy("_idx").select("v").as[String].collect()
    assert(r.toSeq == Seq("h", "x"))
  }

  test("promoteHeader takes row 0 as names, null→UNKNOWN (belarus.py:112-115)") {
    // explicit ordered input: row 0 is the header
    val src = Seq((0L, "Имя", "Код"), (1L, "a", "1"), (2L, "b", "2")).toDF("_ord", "x", "y")
    val indexed = ShapeOps.withIndex(src, col("_ord")).drop("_ord")
    val promoted = ShapeOps.promoteHeader(indexed)
    assert(promoted.columns.toSet.contains("Имя") && promoted.columns.toSet.contains("Код"))
    assert(promoted.count() == 2)
  }

  test("dedupNames: empty and duplicate names get suffixes (kyrgyzstan.py:256-267)") {
    assert(ShapeOps.dedupNames(Seq("a", "b", "a", "", "a")) ==
      Seq("a", "b", "a_1", "Unnamed_1", "a_2"))
    assert(ShapeOps.dedupNames(Seq("", "")) == Seq("Unnamed_1", "Unnamed_2"))
  }

  test("cleanColumnName repair rules (kazakhstan.py:139-151)") {
    assert(ShapeOps.cleanColumnName("Наименова  ние товара") == "Наименование товара")
    assert(ShapeOps.cleanColumnName("МКТУ/ТНВЭД") == "МКТУ или ТНВЭД")
    assert(ShapeOps.cleanColumnName(" a\nb ") == "a b")
  }

  test("unionAll tolerates ragged schemas, filling strings with empty") {
    val a = Seq(("x", "1")).toDF("c1", "c2")
    val b = Seq("y").toDF("c1")
    val r = ShapeOps.unionAll(Seq(a, b)).orderBy("c1").collect()
    assert(r.map(_.getString(1)).toSeq == Seq("1", ""))
  }
}
