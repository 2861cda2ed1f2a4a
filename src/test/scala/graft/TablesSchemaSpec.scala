package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions.col

/** [[Tables.load]]'s schema memo: a repeated load runs no schema-inference
  * job, an in-place rewrite is seen on the next load, and a memoized load
  * of either events timestamp encoding equals an inferring one.
  */
class TablesSchemaSpec extends SparkSpec {
  import spark.implicits._

  test("a repeated load of one table runs no Spark job") {
    val dir = Files.createTempDirectory("graft_tables_jobs").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val first = countJobs(Tables.load(spark, dir, "t"))
    assert(first >= 1, s"the first load must infer the schema, ran $first jobs")
    assert(countJobs(Tables.load(spark, dir, "t")) == 0,
      "a second load of an unchanged table must reuse its schema")
  }

  test("a load leaves the session's confs unchanged") {
    val dir = Files.createTempDirectory("graft_tables_pure").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val fresh = spark.newSession()
    val before = fresh.conf.getAll
    Tables.load(fresh, dir, "t").collect()
    assert(fresh.conf.getAll == before)
  }

  test("an in-place rewrite is seen by the next load") {
    val dir = Files.createTempDirectory("graft_tables_rewrite").toString
    val path = s"$dir/t.parquet"
    Seq((1L, "a")).toDF("k", "v").write.parquet(path)
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("k", "v"))
    Seq((2L, "b", 3.5)).toDF("k", "v", "w").write.mode("overwrite").parquet(path)
    val after = Tables.load(spark, dir, "t")
    assert(after.columns.toSeq == Seq("k", "v", "w"))
    assert(after.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq == Seq((2L, "b", 3.5)))
  }

  /** An events table with `ts` as TIMESTAMP(`unit`) — Spark cannot write
    * nanosecond timestamps, so the file is written with parquet's own
    * example writer.
    */
  private def writeEvents(dir: String, unit: String, scale: Long, micros: Seq[Long]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"""message events {
         |  required int64 event_id;
         |  required int64 ts (TIMESTAMP($unit,false));
         |  required binary event_type (STRING);
         |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    try micros.zipWithIndex.foreach { case (us, i) =>
      w.write(g.newGroup().append("event_id", i.toLong)
        .append("ts", us * scale).append("event_type", s"e$i"))
    } finally w.close()
  }

  test("events loads alike through the memo for micros and nanos timestamps") {
    val micros = Seq(0L, 1700000000123456L, 1712345678000001L)
    for ((unit, scale) <- Seq("MICROS" -> 1L, "NANOS" -> 1000L)) {
      val dir = Files.createTempDirectory(s"graft_tables_events_$unit").toString
      writeEvents(dir, unit, scale, micros)
      // A new session shares no memo entry, so its load infers the schema.
      val inferred = Tables.load(spark.newSession(), dir, "events")
      Tables.load(spark, dir, "events")
      val cached = Tables.load(spark, dir, "events")
      assert(cached.schema == inferred.schema, s"$unit: schemas differ")
      assert(cached.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("event_id"), org.apache.spark.sql.functions.unix_micros(col("ts")),
            col("event_type"))
          .orderBy("event_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
          .toSeq
      assert(rows(cached) == rows(inferred), s"$unit: rows differ")
      assert(rows(cached).map(_._2) == micros, s"$unit: wrong timestamps")
    }
  }
}
