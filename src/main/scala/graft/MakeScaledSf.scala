package graft
// Derived-scale generator for the r19 parallel-scaling measurement
// (verdict r18 item #6): at sf0.1 nearly every query is bounded by the
// ~0.2 s scheduling quantum, so an 8c/32c ratio of ~1.0 proves nothing
// about operator parallelism. This writes a 10x replication of the
// sf0.1 star schema (≈ sf1) to a SCRATCH dir so the heavy queries can
// be measured at two widths on data big enough to have real parallel
// work. /root/testdata is read-only and stays untouched; the output is
// measurement input only — no query, bench, or oracle path reads it.
//
// Replication is keyed so the relational tables of each replica are a
// structurally intact copy: every FK/PK pair gets the same per-replica
// offset (join fan-outs, group cardinalities and orphan structure are
// exactly 10 disjoint copies of the 1x truth). nation/region stay
// shared (tiny dims; the nationkey FKs are unchanged). Embeddings get a
// per-replica Rademacher sign flip (the ScaleSf1SmokeSpec device) so
// cross-replica cosines randomize instead of duplicating every vector
// 10x — replica 0 included: its sign pattern hash(i, 0) flips about
// half the coordinates too, so no replica holds the source vectors
// as-is.
//
// Usage: runMain graft.MakeScaledSf [outDir] [replicas]
//        (defaults /tmp/sf1, 10; fully deterministic)
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object MakeScaledSf {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/sf1")
    val reps = if (args.length > 1) args(1).toInt else 10
    val src = sys.env.getOrElse("SPARK_GRAFT_SRC_SF_DIR", "/root/testdata/sf0.1")
    val (spark, _) = Session.forMain(8)

    def rep(df: DataFrame): DataFrame =
      df.withColumn("k", explode(sequence(lit(0), lit(reps - 1))))

    // key + k*offset, preserving the column's original type
    def off(df: DataFrame, colOffsets: (String, Long)*): DataFrame =
      colOffsets.foldLeft(rep(df)) { case (d, (c, o)) =>
        d.withColumn(c,
          (col(c) + col("k").cast("long") * lit(o)).cast(df.schema(c).dataType))
      }.drop("k")

    val O = 1000000000L  // orderkey / event_id space per replica
    val C = 100000000L   // custkey / partkey / user_id space
    val S = 10000000L    // suppkey space
    val D = 1000000L     // doc_id / vec_id space

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(off(read("customer"), "c_custkey" -> C), "customer")
    write(off(read("supplier"), "s_suppkey" -> S), "supplier")
    write(off(read("part"), "p_partkey" -> C), "part")
    write(off(read("orders"), "o_orderkey" -> O, "o_custkey" -> C), "orders")
    write(off(read("lineitem"),
      "l_orderkey" -> O, "l_partkey" -> C, "l_suppkey" -> S), "lineitem")
    write(off(read("events"), "event_id" -> O, "user_id" -> C), "events")
    write(off(read("documents"), "doc_id" -> D), "documents")
    write(rep(read("embeddings"))
      .select((col("vec_id") + col("k").cast("long") * lit(D)).as("vec_id"),
        expr("transform(embedding, (x, i) -> x * cast(1 - 2 * pmod(hash(i, k), 2) as float))")
          .as("embedding"),
        col("label")),
      "embeddings")
    println(s"""{"scaled_sf_dir":"$out","replicas":$reps,"src":"$src"}""")
    spark.stop()
  }
}
