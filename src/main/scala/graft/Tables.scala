package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet test tables (TESTDATA.md).
  *
  * All engine queries read through here: parquet scans get Catalyst's
  * filter pushdown + column pruning for free.
  *
  * Precondition: the session was built by [[Session.builder]] (or carries
  * its confs), so it runs in the UTC zone with
  * `spark.sql.legacy.parquet.nanosAsLong` on. Loading changes no session
  * state: no conf, no function. The zone makes the events TIMESTAMP_NTZ
  * → TIMESTAMP cast below value-preserving regardless of the host's
  * default zone; `nanosAsLong` lets a TIMESTAMP(NANOS) column be read at
  * all.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet schema per (session, table path), valid while the table's
    * [[snapshotId]] holds. Inferring a schema runs one Spark job over a
    * file footer on every `spark.read.parquet`; the memo makes that a
    * once-per-snapshot cost, like a catalog's table metadata. Only the
    * schema is kept: every load still builds a fresh scan of the files.
    * Keyed by session because inference reads session confs
    * (`nanosAsLong`, `parquet.inferTimestampNTZ.enabled`,
    * `parquet.binaryAsString`).
    */
  private val schemas = new SnapshotMemoizer[StructType]

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val path = s"$sfDir/$table.parquet"
    val schema = schemas.get(
        s"${GraftSqlBridge.sessionId(spark)}|$path", snapshotId(spark, sfDir, table)) {
      spark.read.parquet(path).schema
    }
    val df = spark.read.schema(schema).parquet(path)
    // Spark 4 has no nanosecond timestamp type, so a TIMESTAMP(NANOS)
    // column is read as long and converted to microseconds (integer
    // `div`, not double division: ns-epoch values overflow a double's
    // 53-bit mantissa). The shipped test tables hold TIMESTAMP(MICROS) at
    // every scale, read as TIMESTAMP_NTZ; the nanos branch is kept for
    // regenerated tables. Branch on the LOADED type, not the table name
    // alone, and normalize either form to the session-zone TIMESTAMP
    // every operator downstream (unix_micros, window, date_format) was
    // built against.
    if (table == "events")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", df("ts").cast("timestamp"))
        case _ => df
      }
    else df
  }

  /** Cheap content snapshot id of a table's backing files: a hash over
    * the recursive (path, length, mtime) listing — one filesystem
    * metadata pass, no Spark job, valid for any Hadoop-compatible store.
    * Used to key build-once artifacts (trained ANN quantizers) and the
    * memoized table schemas of [[load]] by DATA identity instead of
    * directory name, so an in-place rewrite of the files can never serve
    * a stale model or schema (the memoizer contract becomes structural,
    * not conventional).
    *
    * The listing is collected and SORTED by full URI before folding:
    * listing order is not guaranteed stable across
    * Hadoop stores (a reordered listing of identical files must not
    * re-key the cache and force a spurious retrain). The full URI — not
    * just the basename — enters the hash, so a file moved between
    * subdirectories changes the id. Known caveat (deliberate, same as
    * every mtime-based cache): an in-place rewrite with IDENTICAL length
    * landing inside the SAME mtime tick on a coarse-mtime filesystem
    * (e.g. 1-2 s FAT/NFS granularity) keeps the id; parquet rewrites
    * virtually never preserve byte length, and the intended stores
    * (HDFS/S3/local ext4) carry ms-or-finer mtimes.
    */
  def snapshotId(spark: SparkSession, sfDir: String, table: String): String = {
    val path = new org.apache.hadoop.fs.Path(s"$sfDir/$table.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listStatus, not listFiles: listFiles builds LocatedFileStatus
    // objects, and on the local file system their permission fields
    // fork an `ls -ld` per file; only path, length and mtime are read.
    val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else entries += ((st.getPath.toUri.toString, st.getLen, st.getModificationTime))
      }
    walk(path)
    var h = 1125899906842597L // deterministic FNV-ish fold over the sorted listing
    var bytes = 0L
    for ((p, len, mtime) <- entries.sortBy(_._1)) {
      bytes += len
      var i = 0
      while (i < p.length) { h = h * 31 + p.charAt(i); i += 1 }
      h = h * 31 + len
      h = h * 31 + mtime
    }
    s"${entries.size}:$bytes:${java.lang.Long.toHexString(h)}"
  }
}
