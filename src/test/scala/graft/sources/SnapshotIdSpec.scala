package graft.sources

import graft.{SparkEntry, SparkSpec, Tables}

/** [[Tables.snapshotId]] keys build-once artifacts (trained ANN
  * quantizers, the BPE model) by DATA identity. The contract that makes
  * the memoizer structural instead of conventional: the id is stable
  * across calls on unchanged files, and any rewrite — same bytes
  * re-written (mtime), different bytes (length/content) — changes it, so
  * a stale model can never silently serve after an in-place dataset
  * rewrite; the queries built on such tables are checked end to end.
  */
class SnapshotIdSpec extends SparkSpec {

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }

  test("snapshotId is stable on unchanged files and moves on any rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toFile
    try {
      val src = new java.io.File("/root/testdata/sf0.001/embeddings.parquet")
      val dst = new java.io.File(dir, "embeddings.parquet")
      java.nio.file.Files.copy(src.toPath, dst.toPath)
      val id1 = Tables.snapshotId(spark, dir.getPath, "embeddings")
      val id2 = Tables.snapshotId(spark, dir.getPath, "embeddings")
      assert(id1 == id2, "id must be stable across calls on unchanged files")

      // same content, new mtime — an in-place refresh must re-key
      assert(dst.setLastModified(dst.lastModified() + 5000))
      val id3 = Tables.snapshotId(spark, dir.getPath, "embeddings")
      assert(id3 != id1, "rewritten mtime must change the snapshot id")

      // different content (append a byte) — must re-key
      val out = new java.io.FileOutputStream(dst, true)
      try out.write(0) finally out.close()
      val id4 = Tables.snapshotId(spark, dir.getPath, "embeddings")
      assert(id4 != id3 && id4 != id1,
        "content change must change the snapshot id")

      // a renamed part file (same length, same mtime) must re-key: the
      // full URI enters the hash (r16 — the fold is over a SORTED
      // listing, so store iteration order can't re-key; the path can)
      val mt = dst.lastModified()
      val dst2 = new java.io.File(dir, "embeddings.parquet.renamed")
      assert(dst.renameTo(dst2))
      val probe = new java.io.File(dir, "embeddings.parquet")
      probe.mkdir()
      assert(dst2.renameTo(new java.io.File(probe, "part-00000.parquet")))
      new java.io.File(probe, "part-00000.parquet").setLastModified(mt)
      val id5 = Tables.snapshotId(spark, dir.getPath, "embeddings")
      assert(id5 != id4, "a moved/renamed file must change the snapshot id")
    } finally rm(dir)
  }

  test("snapshotId reflects the real test dirs distinctly per scale") {
    val ids = Seq("sf0.001", "sf0.01", "sf0.1")
      .map(sf => Tables.snapshotId(spark, s"/root/testdata/$sf", "embeddings"))
    assert(ids.distinct.length == 3, s"scale dirs must key distinctly: $ids")
  }

  /** The id as the recursive `fs.listFiles` fold computed it — the
    * reference the `listStatus` walk must reproduce string for string.
    */
  private def listFilesId(dir: String, table: String): String = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val st = it.next()
      entries += ((st.getPath.toUri.toString, st.getLen, st.getModificationTime))
    }
    var h = 1125899906842597L
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

  test("snapshotId equals the listFiles fold on every table and on a partitioned directory") {
    val tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
      "nation", "orders", "part", "region", "supplier")
    tables.foreach { t =>
      assert(Tables.snapshotId(spark, sf001, t) == listFilesId(sf001, t), t)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_part").toFile
    try {
      // hive-style layout: a directory per partition value, plus the
      // writer's _SUCCESS marker and checksum files at several levels
      graft.Tables.load(spark, sf001, "documents")
        .write.partitionBy("lang").parquet(new java.io.File(dir, "docs.parquet").getPath)
      val id = Tables.snapshotId(spark, dir.getPath, "docs")
      assert(id == listFilesId(dir.getPath, "docs"))
      assert(id.takeWhile(_ != ':').toInt > 1, s"expected several files: $id")
    } finally rm(dir)
  }

  test("a table rewritten in place is read anew by the queries built on it") {
    // q_kcore builds the supply graph from lineitem; q_bpe_encode encodes
    // documents with the BPE model trained on them. After an in-place
    // rewrite of both tables, a run in the same session must equal a
    // fresh build over the new files: no relation or model built from
    // the old files may serve.
    val queries = Seq("q_kcore", "q_bpe_encode")
    def run(dir: String): Seq[Seq[org.apache.spark.sql.Row]] =
      queries.map(q => SparkEntry.queries(q)(spark, dir).collect().toSeq)
    val sf01 = new java.io.File(sf001).getParent + "/sf0.01"
    val dir = java.nio.file.Files.createTempDirectory("graft_rewrite").toFile
    def copyFrom(sfDir: String): Unit = Seq("lineitem", "documents").foreach { t =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/$t.parquet"),
        new java.io.File(dir, s"$t.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    try {
      copyFrom(sf001)
      val before = run(dir.getPath)
      copyFrom(sf01)
      val after = run(dir.getPath)
      val fresh = run(sf01)
      queries.indices.foreach { i =>
        val changed = before(i) != fresh(i)
        assert(changed, s"${queries(i)}: the rewrite must change the result")
        val readAnew = after(i) == fresh(i)
        assert(readAnew,
          s"${queries(i)} served the tables as they were before the in-place rewrite")
      }
    } finally rm(dir)
  }
}
