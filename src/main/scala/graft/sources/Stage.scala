package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Staging layouts — the engine's sink-side passes beyond a plain write.
  *
  * The reference's sources are driver-side fetches of single files (XLSX /
  * PDF→DOCX, SURVEY §2.1) and its sink is an XLSX file + FTP upload
  * (§2.9); neither is a distributed format. The engine's canonical
  * interchange is Parquet (what the driver's Verify harness compares), with
  * CSV/JSON for interop — all through `spark.read`/`write` directly, so
  * scans keep pushdown, pruning, and split planning.
  *
  * Scale notes:
  *  - a hive-style partitioned write (`partitionBy`, `col=value/`) turns
  *    predicate-on-partition-column queries into directory listings, not
  *    scans — at 100 TB this is the first-order term in scan cost;
  *  - writers coalesce nothing: parallelism of the upstream plan is
  *    preserved; file sizing is the caller's `maxRecordsPerFile`/AQE
  *    concern, not a collect-and-write.
  */
object Stage {

  /** ZORDER-style layout pass: min-max scale two numeric columns to 21-bit
    * coordinates, key rows by their Morton interleave (`z_order2` native
    * expression), then range-partition AND sort by that key before
    * writing. Rows end up clustered in BOTH dimensions inside each Parquet
    * row group, so min/max statistics prune scans for predicates on EITHER
    * column — a lexicographic sort only skips on its leading column. The
    * min/max pre-pass is one tiny aggregate (4 scalars to the driver).
    */
  def writeZOrdered(
      df: DataFrame, path: String, colA: String, colB: String,
      partitions: Int = 0): Unit = {
    import org.apache.spark.sql.functions._
    val bounds = df.agg(
      min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double"))
      .collect()(0)
    // Empty input or an all-null column: no curve to build — plain write.
    if ((0 until 4).exists(bounds.isNullAt)) {
      df.write.mode("overwrite").parquet(path)
      return
    }
    val Seq(minA, maxA, minB, maxB) =
      (0 until 4).map(bounds.getDouble)
    val bits = (1 << 21) - 1
    def scale(c: String, lo: Double, hi: Double) =
      if (hi <= lo) lit(0L)
      else round((col(c).cast("double") - lo) / (hi - lo) * bits).cast("long")
    val keyed = df.withColumn("_z",
      graft.GraftFunctions.zOrder2(scale(colA, minA, maxA), scale(colB, minB, maxB)))
    val sized = if (partitions > 0) keyed.repartitionByRange(partitions, col("_z"))
      else keyed.repartitionByRange(col("_z"))
    sized.sortWithinPartitions(col("_z")).drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Small-file compaction — the table-maintenance job every long-lived
    * 100 TB dataset needs: streaming/incremental writers fragment a
    * directory into thousands of KB-sized files, and scan cost then pays
    * per-file open/footer overhead instead of sequential IO. Rewrites the
    * input at ~`targetRecordsPerFile` rows per file (one count to size the
    * repartition — a maintenance-job cost, not a query-path cost).
    * Returns the file count written.
    */
  def compact(
      spark: SparkSession, inPath: String, outPath: String,
      targetRecordsPerFile: Long): Int = {
    val df = spark.read.parquet(inPath)
    val n = df.count()
    val files = math.max(1, math.ceil(n.toDouble / targetRecordsPerFile).toInt)
    df.repartition(files).write.mode("overwrite").parquet(outPath)
    files
  }
}
