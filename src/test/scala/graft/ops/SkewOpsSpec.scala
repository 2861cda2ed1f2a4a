package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Salted joins must return exactly the unsalted results — only the
  * partitioning differs.
  */
class SkewOpsSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin equals plain join on a skewed key distribution") {
    // 90% of big-side rows behind one hot key
    val big = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, s"p$i"))
      .toDF("k", "payload")
    val small = Seq((1L, "hot"), (950L, "cold"), (999L, "cold2")).toDF("j", "label")

    val plain = big.join(small, col("k") === col("j")).select("k", "payload", "label")
    val salted = SkewOps.saltedJoin(big, small, "k", "j", saltFactor = 4)
      .select("k", "payload", "label")

    val a = plain.collect().map(_.toSeq).toSet
    val b = salted.collect().map(_.toSeq).toSet
    assert(a == b && a.size == 902)
  }

  test("saltedJoin supports left joins with unmatched rows preserved") {
    val big = Seq((1L, "x"), (2L, "y")).toDF("k", "payload")
    val small = Seq((1L, "m")).toDF("j", "label")
    val r = SkewOps.saltedJoin(big, small, "k", "j", saltFactor = 3, joinType = "left")
      .orderBy("k").collect()
    assert(r.length == 2)
    assert(r(0).getAs[String]("label") == "m")
    assert(r(1).isNullAt(r(1).fieldIndex("label")))
  }

  test("heavyHitters ranks by count then key, with exact shares") {
    // group g: key 1 ×6, key 2 ×3, key 3 ×1; group h: keys 7 and 8 tied
    val df = (Seq.fill(6)(("g", 1L)) ++ Seq.fill(3)(("g", 2L)) ++
      Seq(("g", 3L), ("h", 8L), ("h", 7L))).toDF("grp", "k")
    val out = SkewOps.heavyHitters(df, Seq("grp"), "k", topK = 2)
      .orderBy("grp", "hh_rank").collect()
    assert(out.length == 4)
    val g1 = out(0)
    assert(g1.getLong(g1.fieldIndex("k")) == 1L &&
      g1.getLong(g1.fieldIndex("cnt")) == 6L &&
      g1.getLong(g1.fieldIndex("share_micro")) == 600000L &&
      g1.getLong(g1.fieldIndex("cum_share_micro")) == 600000L)
    val g2 = out(1)
    assert(g2.getLong(g2.fieldIndex("k")) == 2L &&
      g2.getLong(g2.fieldIndex("cum_share_micro")) == 900000L)
    // tie in h breaks to the smaller key
    assert(out(2).getLong(out(2).fieldIndex("k")) == 7L)
    assert(out(3).getLong(out(3).fieldIndex("cum_share_micro")) == 1000000L)
  }

  test("heavyHitters topK caps output per group") {
    val df = (1 to 100).map(i => ("g", i.toLong % 10)).toDF("grp", "k")
    assert(SkewOps.heavyHitters(df, Seq("grp"), "k", topK = 3).count() == 3L)
  }

  test("skewReport: hand-computed Gini, top key, and salt factor") {
    // counts {a: 3, b: 1}: ascending ranks b=1, a=2 → S = 1·1 + 2·3 = 7,
    // gini = ⌊(2·7 − 3·4)·1e6 / (2·4)⌋ = 250000; top1 = a (3/4 =
    // 750000 micro); salt at 4 partitions = ⌈3·4/4⌉ = 3.
    val df = Seq("a", "a", "a", "b").toDF("k")
    val r = SkewOps.skewReport(df, Seq("k"), partitions = 4).collect().head
    assert(r.getString(0) == "k")
    assert(r.getLong(1) == 4L && r.getLong(2) == 2L)
    assert(r.getString(3) == "a" && r.getLong(4) == 3L)
    assert(r.getLong(5) == 750000L)
    assert(r.getLong(6) == 250000L)
    assert(r.getLong(7) == 3L)
  }

  test("skewReport: uniform keys score Gini 0 and salt 1; nulls drop") {
    val df = Seq(Some("a"), Some("b"), Some("c"), Some("d"), None)
      .toDF("k")
    val r = SkewOps.skewReport(df, Seq("k"), partitions = 2).collect().head
    assert(r.getLong(1) == 4L && r.getLong(2) == 4L)
    assert(r.getLong(6) == 0L)
    assert(r.getLong(7) == 1L)
    // top-1 count tie breaks to the smallest key string
    assert(r.getString(3) == "a")
  }

  test("skewReport: one stacked pass covers several key columns") {
    val df = Seq((1L, "x"), (1L, "y"), (2L, "x")).toDF("num", "str")
    val out = SkewOps.skewReport(df, Seq("num", "str"), partitions = 8)
      .orderBy("key_col").collect()
    assert(out.length == 2)
    assert(out(0).getString(0) == "num" && out(0).getString(3) == "1" &&
      out(0).getLong(4) == 2L)
    assert(out(1).getString(0) == "str" && out(1).getString(3) == "x" &&
      out(1).getLong(4) == 2L)
  }
}
