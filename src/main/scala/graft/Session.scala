package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session builder: every tool main and the test
  * harness build their SparkSession here, so the confs the engine relies
  * on are set once, before the session exists, and no query or loader
  * has to set them on a live session.
  */
object Session {

  /** A local builder of `cores` task slots and as many shuffle
    * partitions, UI off, plus the two confs every engine session needs:
    *  - the UTC session zone makes [[Tables.load]]'s TIMESTAMP_NTZ →
    *    TIMESTAMP cast of `events.ts` value-preserving whatever the
    *    host's default zone;
    *  - `nanosAsLong` lets a TIMESTAMP(NANOS) table (Spark 4 has no
    *    nanosecond type) be read as a long, which [[Tables.load]]
    *    converts to micros; without it the scan throws
    *    PARQUET_TYPE_ILLEGAL.
    */
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** The session of a tool main and its core count: `SPARK_GRAFT_CPUS`
    * cores (`defaultCores` when unset), plus the confs of
    * `SPARK_GRAFT_CONF="k=v;k2=v2"` for A/B experiments without a
    * recompile (e.g. `spark.sql.autoBroadcastJoinThreshold=-1`). Those
    * are builder confs, so a static conf such as
    * `spark.sql.codegen.cache.maxEntries` takes effect too.
    */
  def forMain(defaultCores: Int, logLevel: String = "WARN"): (SparkSession, Int) = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").fold(defaultCores)(_.trim.toInt)
    val b = builder(cores)
    parseConfs(sys.env.get("SPARK_GRAFT_CONF")).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    (spark, cores)
  }

  /** The `k=v` entries of a `;`-separated conf list, trimmed; an entry
    * without `=` is skipped.
    */
  def parseConfs(spec: Option[String]): Seq[(String, String)] =
    spec.toSeq.flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        (k.trim, v.trim)
      }

  /** Frees what a run left behind: every CacheManager entry, then every
    * persisted RDD not in `keep`. `clearCache` alone misses the RDD-level
    * blocks of eager localCheckpoint frames (the iterative operators'
    * results), which would otherwise pile up across runs. Blocking, so
    * no block outlives the call into the next run.
    */
  def sweep(spark: SparkSession, keep: collection.Set[Int] = Set.empty): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = true)
    }
  }
}
