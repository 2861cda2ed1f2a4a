package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StageSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-stage").toString

  test("parquet roundtrip preserves schema and rows") {
    val docs = graft.Tables.load(spark, sf001, "documents")
    val p = tmp() + "/docs"
    docs.write.mode("overwrite").parquet(p)
    val back = spark.read.parquet(p)
    assert(back.schema == docs.schema)
    assert(back.count() == docs.count())
  }

  test("partitioned write enables partition pruning (no full scan)") {
    val docs = graft.Tables.load(spark, sf001, "documents")
    val p = tmp() + "/docs_by_lang"
    docs.write.mode("overwrite").partitionBy("lang").parquet(p)

    val pruned = spark.read.parquet(p).filter(col("lang") === "en")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("lang"),
      s"expected partition filters in scan:\n$scan")
    val expected = docs.filter(col("lang") === "en").count()
    assert(pruned.count() == expected)
  }

  test("malformed jsonl rows surface in _corrupt_record instead of failing the scan") {
    val dir = tmp()
    java.nio.file.Files.writeString(java.nio.file.Path.of(dir, "data.jsonl"),
      """{"id": 1, "v": "ok"}
        |{not json at all
        |{"id": 2, "v": "also ok"}
        |""".stripMargin)
    val df = spark.read
      .schema("id LONG, v STRING, _corrupt_record STRING")
      .json(dir).cache()  // PERMISSIVE (default): bad rows isolated, scan succeeds
    try {
      assert(df.count() == 3)
      assert(df.filter(org.apache.spark.sql.functions.col("_corrupt_record").isNotNull).count() == 1)
      assert(df.filter(org.apache.spark.sql.functions.col("v").isNotNull).count() == 2)
    } finally df.unpersist()
  }

  test("csv and jsonl roundtrips") {
    val df = graft.Tables.load(spark, sf001, "documents")
      .select("doc_id", "lang", "source").limit(50)
    val base = tmp()
    df.write.mode("overwrite").option("header", "true").csv(base + "/csv")
    df.write.mode("overwrite").json(base + "/jsonl")
    assert(spark.read.option("header", "true").csv(base + "/csv").count() == 50)
    val j = spark.read.json(base + "/jsonl")
    assert(j.count() == 50)
    assert(j.columns.toSet == Set("doc_id", "lang", "source"))
  }

  test("orc roundtrip preserves schema and rows") {
    val df = graft.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text", "lang").limit(40)
    val dir = tmp() + "/orc"
    df.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() == 40)
    assert(back.schema == df.schema)
  }

  test("z-ordered layout skips files for predicates on BOTH dimensions") {
    // 64×64 grid; written z-ordered across 16 range partitions, a point
    // predicate on either column should touch a minority of files, and the
    // data must round-trip exactly.
    val pts = (for (a <- 0 until 64; b <- 0 until 64) yield (a.toLong, b.toLong, a * 64L + b))
      .toDF("a", "b", "payload")
    val dir = tmp() + "/zorder"
    Stage.writeZOrdered(pts, dir, "a", "b", partitions = 16)
    val back = spark.read.parquet(dir)
    assert(back.count() == 64 * 64)
    assert(back.orderBy("payload").collect().map(_.getLong(2)).toSeq == (0L until 4096L))
    // File-level min/max selectivity: collect per-file ranges for both
    // columns; a z-layout bounds both, a lexicographic sort only the first.
    import org.apache.spark.sql.functions._
    val ranges = back.groupBy(input_file_name().as("f"))
      .agg(min("a").as("la"), max("a").as("ha"), min("b").as("lb"), max("b").as("hb"))
      .collect()
    val nFiles = ranges.length
    def touched(p: org.apache.spark.sql.Row => Boolean) = ranges.count(p)
    val hitA = touched(r => r.getLong(1) <= 5 && 5 <= r.getLong(2))  // a = 5
    val hitB = touched(r => r.getLong(3) <= 5 && 5 <= r.getLong(4))  // b = 5
    assert(hitA < nFiles / 2, s"a=5 touched $hitA of $nFiles files")
    assert(hitB < nFiles / 2, s"b=5 touched $hitB of $nFiles files")
  }

  test("writeZOrdered degrades to a plain write on empty or all-null input") {
    val dir = tmp()
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    Stage.writeZOrdered(empty, dir + "/empty", "a", "b")
    assert(spark.read.parquet(dir + "/empty").count() == 0)
    val nulls = Seq((Option.empty[Long], Option(1L)), (Option.empty[Long], Option(2L)))
      .toDF("a", "b")
    Stage.writeZOrdered(nulls, dir + "/nulls", "a", "b")
    assert(spark.read.parquet(dir + "/nulls").count() == 2)
  }

  test("compact rewrites a fragmented directory into sized files, content-identical") {
    val df = graft.Tables.load(spark, sf001, "documents").select("doc_id", "text")
    val base = tmp()
    df.repartition(64).write.parquet(base + "/fragmented") // 64 tiny files
    val written = Stage.compact(spark, base + "/fragmented", base + "/compacted",
      targetRecordsPerFile = 200)
    assert(written == math.ceil(df.count() / 200.0).toInt)
    val files = new java.io.File(base + "/compacted").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files == written, s"expected $written data files, found $files")
    val a = spark.read.parquet(base + "/fragmented").orderBy("doc_id").collect()
    val b = spark.read.parquet(base + "/compacted").orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }
}
