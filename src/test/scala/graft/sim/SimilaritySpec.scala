package graft.sim

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("dot and cosine basics") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
                 (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))).toDF("a", "b")
    val r = df.select(Similarity.cosine(col("a"), col("b")).as("c")).as[Double].collect()
    assert(math.abs(r(0) - 1.0) < 1e-9)
    assert(math.abs(r(1)) < 1e-9)
  }

  test("quantized cosine identifies identical and orthogonal vectors") {
    val df = Seq((Seq(0.5f, 0.25f), Seq(0.5f, 0.25f))).toDF("a", "b")
      .select(Similarity.quantize(col("a")).as("qa"), Similarity.quantize(col("b")).as("qb"))
    val r = df.select(Similarity.quantizedCosine(col("qa"), col("qb")).as("c")).as[Double].collect()
    assert(math.abs(r(0) - 1.0) < 1e-9)
  }

  test("signMatrix is the md5-parity formula (pinned against known hashes)") {
    val m = Similarity.signMatrix(16, 64)
    // md5("1_1") = ec30…→+1, md5("2_1") = f9c3…→−1, md5("3_7") = 702c…→−1,
    // md5("16_64") = ef59…→+1 (independently computed hex digests)
    assert(m(0)(0) == 1L && m(1)(0) == -1L && m(2)(6) == -1L && m(15)(63) == 1L)
    assert(m.flatten.forall(s => s == 1L || s == -1L))
  }

  test("randomProject of a one-hot vector reads out the sign column") {
    val dim = 8
    val m = Similarity.signMatrix(4, dim)
    val oneHot = (0 until dim).map(i =>
      (i.toLong, (0 until dim).map(d => if (d == i) 1.0f else 0.0f)))
    val r = Similarity.randomProject(oneHot.toDF("id", "v"), "id", "v",
        outDim = 4, inDim = dim)
      .collect().map(row => row.getLong(0) -> row.getSeq[Long](1)).toMap
    for (i <- 0 until dim; j <- 0 until 4)
      assert(r(i.toLong)(j) == m(j)(i) * 1000L)
  }

  test("randomProject is linear on exactly-quantized vectors") {
    // components are multiples of 0.001 → quantization is exact, so
    // proj(a + b) = proj(a) + proj(b) coordinate-wise
    val a = Seq(0.25f, -0.125f, 0.5f, 0.0f)
    val b = Seq(0.125f, 0.25f, -0.25f, 1.0f)
    val sumAb = a.zip(b).map { case (x, y) => x + y }
    val df = Seq((0L, a), (1L, b), (2L, sumAb)).toDF("id", "v")
    val r = Similarity.randomProject(df, "id", "v", outDim = 6, inDim = 4)
      .collect().map(row => row.getLong(0) -> row.getSeq[Long](1)).toMap
    assert(r(2) == r(0).zip(r(1)).map { case (x, y) => x + y })
  }

  test("bruteForceTopK returns k ranked neighbors, excluding self") {
    val emb = graft.Tables.load(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
    val r = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", "vec_id", k = 5)
    val rows = r.collect()
    assert(rows.length == 15)                        // 3 queries × 5
    assert(!rows.exists(x => x.getAs[Long]("query_id") == x.getAs[Long]("neighbor_id")))
    // ranks are 1..5 per query and cosine non-increasing with rank
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      val cos = sorted.map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("lshTopK achieves reasonable recall@5 vs brute force") {
    val emb = graft.Tables.load(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding", "vec_id",
        k = 5, nPlanes = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"LSH recall@5 too low: $recall")
  }

  test("dot_i64 native expression agrees with the HOF formulation") {
    val df = Seq((Seq(1L, 2L, 3L), Seq(4L, 5L, 6L))).toDF("a", "b")
    val native = df.select(graft.GraftFunctions.dotI64(col("a"), col("b")).as("d"))
      .as[Long].collect()(0)
    val hof = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0L), (acc, x) => acc + x)
        .as("d")).as[Long].collect()(0)
    assert(native == 32L && hof == native)
  }

  test("cosinePairs finds high-cosine pairs symmetrically and exactly") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.99f, 0.1f, 0.0f)),   // near 1
      (3L, Seq(0.0f, 1.0f, 0.0f)))    // orthogonal to 1
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosinePairs(df, "vec_id", "embedding", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("cosinePairs (bucketed) equals the naive all-pairs join on real embeddings") {
    val emb = graft.Tables.load(spark, sf001, "embeddings")
    // Naive reference: quantized all-pairs cross join (what the DuckDB
    // oracle runs) — fine at spec scale, never in the operator.
    val q = emb.select(col("vec_id").as("id"),
      Similarity.quantize(col("embedding")).as("v"))
      .withColumn("nrm", Similarity.quantizedNorm(col("v")))
    val naive = q.as("a").crossJoin(q.as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        Similarity.cosineFromNorms(
          Similarity.quantizedDot(col("a.v"), col("b.v")),
          col("a.nrm"), col("b.nrm")).as("cosine"))
      .filter(col("cosine") >= 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val bucketed = Similarity.cosinePairs(emb, "vec_id", "embedding", threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bucketed == naive,
      s"missing=${(naive diff bucketed).take(5)} extra=${(bucketed diff naive).take(5)}")
    assert(naive.nonEmpty) // the comparison must not pass vacuously
  }

  test("cosinePairs pruning bound holds at a high threshold too") {
    val emb = graft.Tables.load(spark, sf001, "embeddings")
    val naive = {
      val q = emb.select(col("vec_id").as("id"),
        Similarity.quantize(col("embedding")).as("v"))
        .withColumn("nrm", Similarity.quantizedNorm(col("v")))
      q.as("a").crossJoin(q.as("b")).filter(col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          Similarity.cosineFromNorms(
            Similarity.quantizedDot(col("a.v"), col("b.v")),
            col("a.nrm"), col("b.nrm")).as("cosine"))
        .filter(col("cosine") >= 0.75)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    val bucketed = Similarity.cosinePairs(emb, "vec_id", "embedding",
        threshold = 0.75, nCells = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bucketed == naive)
  }

  test("ivfTopKJoined matches ivfTopK recall at 64 cells (join-path assignment)") {
    val emb = graft.Tables.load(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val cents = Similarity.ivfCentroidsLocal(emb, "vec_id", "embedding", k = 64)
    val approx = Similarity.ivfTopKJoinedWith(cents, emb, queries, "vec_id",
        "embedding", "vec_id", k = 5, nprobe = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"joined-IVF recall@5 too low: $recall")
  }

  test("zero-norm vectors neither crash nor capture the corpus (NaN guard)") {
    // Vector 9 quantizes to all-zero: its cosine vs anything is NaN.
    // Without the nanvl guard a NaN score sorts greatest and a degenerate
    // pivot would swallow every row; the pairs answer must stay exactly
    // the naive one computed over the well-formed vectors.
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.99f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (9L, Seq(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosinePairs(df, "vec_id", "embedding", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
    val topk = Similarity.ivfTopKWith(
      Similarity.ivfCentroidsLocal(df, "vec_id", "embedding", k = 2),
      df, df.filter(col("vec_id") === 1), "vec_id", "embedding", "vec_id",
      k = 2, nprobe = 2)
    assert(topk.count() > 0) // degenerate pivot must not crash probing
  }

  test("joined assignment preserves duplicate and null ids row-for-row") {
    val df = Seq((1L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
        (2L, Seq(1.0f, 1.0f)))
      .toDF("id", "embedding")
    val q = df.select(col("id"), Similarity.quantize(col("embedding")).as("v"))
      .withColumn("nrm", Similarity.quantizedNorm(col("v")))
    val cents = Similarity.ivfCentroidsLocal(df, "id", "embedding", k = 2)
    val assigned = Similarity.assignCellsJoined(q, "v", "nrm",
      Similarity.centroidsDF(spark, cents))
    assert(assigned.count() == 3) // duplicate-id rows must not collapse
  }

  test("literal and joined assignment agree cell-for-cell") {
    val emb = graft.Tables.load(spark, sf001, "embeddings").limit(100)
    val cents = Similarity.ivfCentroidsLocal(emb, "vec_id", "embedding", k = 8)
    val q = emb.select(col("vec_id").as("id"),
      Similarity.quantize(col("embedding")).as("v"))
      .withColumn("nrm", Similarity.quantizedNorm(col("v")))
    val litPath = Similarity.assignCellsLit(q, "v", "nrm", cents)
      .select(col("id"), col("cid")).as[(Long, Int)].collect().toMap
    val joinPath = Similarity.assignCellsJoined(q, "v", "nrm",
        Similarity.centroidsDF(spark, cents))
      .select(col("id"), col("cid")).as[(Long, Int)].collect().toMap
    assert(litPath == joinPath)
  }

  test("ivfTopK achieves reasonable recall@5 vs brute force") {
    val emb = graft.Tables.load(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val cents = Similarity.ivfCentroidsLocal(emb, "vec_id", "embedding", k = 16)
    val approx = Similarity.ivfTopKWith(cents, emb, queries, "vec_id", "embedding",
        "vec_id", k = 5, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall@5 too low: $recall")
  }

  test("ivfTopK with sampled centroid training keeps recall@5") {
    val emb = graft.Tables.load(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val cents = Similarity.ivfCentroidsLocal(emb, "vec_id", "embedding", k = 8,
      trainFraction = 0.5)
    val approx = Similarity.ivfTopKWith(cents, emb, queries, "vec_id", "embedding",
        "vec_id", k = 5, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"sampled-train IVF recall@5 too low: $recall")
  }

  test("sampled centroid training is deterministic and falls back when sample < k") {
    val emb = graft.Tables.load(spark, sf001, "embeddings")
    val s1 = Similarity.ivfCentroidsLocal(emb, "vec_id", "embedding", k = 8,
      trainFraction = 0.5)
    val s2 = Similarity.ivfCentroidsLocal(emb, "vec_id", "embedding", k = 8,
      trainFraction = 0.5)
    assert(s1 == s2 && s1.nonEmpty)
    // 1% of a ~50-row frame is < k rows: the build must fall back to full
    // training and return identical centroids to trainFraction=1.
    val tiny = Similarity.ivfCentroidsLocal(emb.limit(20), "vec_id", "embedding",
      k = 8, trainFraction = 0.01)
    val fullT = Similarity.ivfCentroidsLocal(emb.limit(20), "vec_id", "embedding",
      k = 8, trainFraction = 1.0)
    assert(tiny == fullT)
  }

  test("ivf centroids are deterministic and cover all cells probed") {
    val emb = graft.Tables.load(spark, sf001, "embeddings")
    val c1 = Similarity.ivfCentroidsLocal(emb, "vec_id", "embedding", k = 8)
    val c2 = Similarity.ivfCentroidsLocal(emb, "vec_id", "embedding", k = 8)
    assert(c1 == c2)
    assert(c1.length == 8)
  }

  test("lsh buckets are deterministic across invocations") {
    val signs = Similarity.signMatrix(8, 4)
    assert(signs == Similarity.signMatrix(8, 4))
    val df = Seq(Seq(0.1f, -0.2f, 0.3f, -0.4f)).toDF("v")
      .select(Similarity.quantize(col("v")).as("q"))
    def bucket(): Long =
      df.select(Similarity.lshBucketSigns(col("q"), signs).as("b")).as[Long].collect()(0)
    assert(bucket() == bucket())
  }

  test("pqTopK achieves reasonable recall@5 vs brute force; re-ranked scores are exact") {
    val emb = graft.Tables.load(spark, sf001, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    val model = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, ks = 16)
    val approx = Similarity.pqTopKWith(model, emb, queries, "vec_id", "embedding",
        "vec_id", k = 5, refine = 8)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    val exactSet = exact.map(t => (t._1, t._2)).toSet
    val recall = (exactSet intersect approx.map(t => (t._1, t._2)).toSet).size.toDouble /
      exactSet.size
    assert(recall >= 0.4, s"PQ recall@5 too low: $recall")
    // the refine stage re-ranks with TRUE cosines: any returned pair that
    // brute force also returned must carry the identical score
    val exactScore = exact.map(t => (t._1, t._2) -> t._3).toMap
    approx.foreach { case (qid, nid, c) =>
      exactScore.get((qid, nid)).foreach(e => assert(math.abs(e - c) < 1e-12,
        s"re-ranked score differs from exact for ($qid,$nid): $c vs $e"))
    }
  }

  test("pqTopK on an empty corpus returns an empty typed frame") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Seq((0L, Seq(0f))).toDF("vec_id", "embedding").schema)
    val model = Similarity.pqTrain(empty, "vec_id", "embedding")
    assert(model.isEmpty)
    assert(Similarity.pqTopKWith(model, empty, empty, "vec_id", "embedding",
      "vec_id", k = 3).count() == 0)
  }

  test("pqTopK validates subspace and codebook parameters") {
    val emb = graft.Tables.load(spark, sf001, "embeddings")
    intercept[IllegalArgumentException](
      Similarity.pqTrain(emb, "vec_id", "embedding", m = 7))
    intercept[IllegalArgumentException](
      Similarity.pqTrain(emb, "vec_id", "embedding", ks = 300))
  }

  test("pqTrain model is reusable: pqTopKWith equals pqTopK, serves disjoint query batches") {
    val emb = graft.Tables.load(spark, sf001, "embeddings")
    val model = Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, ks = 16)
    assert(!model.isEmpty && model.dim == model.m * model.sub)
    val q1 = emb.filter(col("vec_id") < 10)
    // train-and-serve in one step (a fresh model) vs the kept model
    val oneShot = Similarity.pqTopKWith(
        Similarity.pqTrain(emb, "vec_id", "embedding", m = 8, ks = 16),
        emb, q1, "vec_id", "embedding", "vec_id", k = 5, refine = 8)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    val served = Similarity.pqTopKWith(model, emb, q1, "vec_id", "embedding", "vec_id",
        k = 5, refine = 8)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    assert(served == oneShot) // deterministic training ⇒ identical serving
    // a second, disjoint batch runs against the SAME model (no retrain)
    val q2 = emb.filter(col("vec_id") >= 10 && col("vec_id") < 15)
    val batch2 = Similarity.pqTopKWith(model, emb, q2, "vec_id", "embedding", "vec_id",
        k = 3, refine = 8)
    assert(batch2.groupBy("query_id").count().count() == 5)
  }

  test("semanticDedup groups planted colinear near-dups, keeps one exemplar") {
    def v(xs: Seq[Double]): Seq[Float] = xs.map(_.toFloat)
    val base = Seq.tabulate(8)(i => math.sin(i * 1.7) + 1.5)
    val df = Seq(
      (1L, v(base)),
      (2L, v(base.map(_ * 1.0001))),   // colinear → cosine 1.0 with base
      (3L, v(base.map(_ * 0.9999))),
      (4L, v(Seq.tabulate(8)(i => math.cos(i * 2.3) - 1.2))),
      (5L, v(Seq.tabulate(8)(i => (if (i % 2 == 0) 1.0 else -1.0) * (i + 1)))))
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(df, "vec_id", "embedding", k = 2, eps = 0.999)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(Seq(1L, 2L, 3L).map(out(_)._1).toSet == Set(1L)) // one group, min-id label
    assert(Seq(1L, 2L, 3L).count(out(_)._2) == 1)           // exactly one exemplar
    assert(out(4L) == ((4L, true)) && out(5L) == ((5L, true)))
  }

  test("semanticDedup: one row per input, every component keeps exactly one") {
    val emb = graft.Tables.load(spark, sf001, "embeddings")
    val out = Similarity.semanticDedup(emb, "vec_id", "embedding", k = 8, eps = 0.9)
    assert(out.count() == 500)
    val bad = out.groupBy("component")
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("n_keep"))
      .filter(col("n_keep") =!= 1).count()
    assert(bad == 0)
  }

  /** `(id, dim, nm)` rows → id → nm in dimension order. */
  private def normByVector(rows: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    rows.collect().toSeq.groupBy(_.getLong(0)).map { case (id, rs) =>
      id -> rs.sortBy(_.getLong(1)).map(_.getLong(2))
    }

  test("robustNormalize: exact median/MAD micro-units; zero-MAD dim maps to 0") {
    // dim0 quantizes to {1000,2000,3000}: med 2000, MAD 1000; dim1 constant
    val df = Seq(
      (1L, Seq(1.0f, 5.0f)),
      (2L, Seq(2.0f, 5.0f)),
      (3L, Seq(3.0f, 5.0f))).toDF("vec_id", "embedding")
    val out = normByVector(Similarity.robustNormalizeRows(df, "vec_id", "embedding"))
    assert(out(1L) == Seq(-1000000L, 0L))
    assert(out(2L) == Seq(0L, 0L))
    assert(out(3L) == Seq(1000000L, 0L))
  }

  test("robustNormalize: even counts interpolate the median exactly") {
    // dim0 {0, 1000}: med 500, |dev| {500,500} → MAD 500 → ±1e6
    val df = Seq((1L, Seq(0.0f)), (2L, Seq(1.0f))).toDF("vec_id", "embedding")
    val out = normByVector(Similarity.robustNormalizeRows(df, "vec_id", "embedding"))
    assert(out(1L) == Seq(-1000000L) && out(2L) == Seq(1000000L))
  }

  test("topComponentPower recovers a planted dominant direction") {
    // corpus = ±t·u + small fixed cross-direction jitter, u = (3,4)/5;
    // the top component must align with u (L-inf normalized => the
    // larger |coord| pins to 1e6 and the ratio approaches 3/4)
    val u = Seq(0.6, 0.8)
    val jit = Seq(0.08, -0.06) // orthogonal to u
    val rows = (1 to 40).map { t =>
      val s = if (t % 2 == 0) 1.0 else -1.0
      val a = s * (1.0 + (t % 5) * 0.3)
      val j = ((t % 3) - 1) * 0.1
      (t.toLong, Seq(a * u(0) + j * jit(0), a * u(1) + j * jit(1)).map(_.toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val v = Similarity.topComponentPower(df, "vec_id", "embedding")
      .orderBy("dim").collect().map(_.getLong(1))
    assert(math.abs(v(1)) == 1000000L, s"L-inf pin, got ${v.toSeq}")
    val ratio = v(0).toDouble / v(1).toDouble
    assert(math.abs(ratio - 0.75) < 0.02, s"direction ratio $ratio")
  }

  test("removeTopComponent leaves residuals orthogonal to the removed direction") {
    val u = Seq(0.6, 0.8)
    val jit = Seq(0.08, -0.06)
    val rows = (1 to 40).map { t =>
      val s = if (t % 2 == 0) 1.0 else -1.0
      val a = s * (1.0 + (t % 5) * 0.3)
      val j = ((t % 3) - 1) * 0.1
      (t.toLong, Seq(a * u(0) + j * jit(0), a * u(1) + j * jit(1)).map(_.toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val v = Similarity.topComponentPower(df, "vec_id", "embedding")
      .orderBy("dim").collect().map(_.getLong(1).toDouble)
    val res = Similarity.removeTopComponent(df, "vec_id", "embedding")
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getLong(1)).map(_.getLong(2).toDouble / 1e6)
      }
    // pre-floor the dot is identically zero (qv·vv − qv·vv); what
    // survives is per-dim micro-floor noise, large RELATIVE to these
    // small residual norms — hence the loose 1e-2 gate
    val vn = math.sqrt(v.map(x => x * x).sum)
    res.values.foreach { r =>
      val rn = math.sqrt(r.map(x => x * x).sum)
      if (rn > 1e-4) {
        val cos = r.zip(v).map { case (a, b) => a * b }.sum / (rn * vn)
        assert(math.abs(cos) < 1e-2, s"residual not orthogonal: $cos")
      }
    }
  }

  test("removeTopComponent: flat corpus (zero component) is the identity in micro units") {
    val df = (1 to 4).map(i => (i.toLong, Seq(0.5f, -0.25f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.removeTopComponent(df, "vec_id", "embedding")
      .orderBy("id", "dim").collect()
    assert(out.length == 8)
    assert(out.take(2).map(_.getLong(2)).toSeq == Seq(500000L, -250000L))
  }

  test("topComponentPower: identical vectors (zero scatter) yield the zero vector") {
    val df = (1 to 5).map(i => (i.toLong, Seq(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val v = Similarity.topComponentPower(df, "vec_id", "embedding")
      .orderBy("dim").collect().map(_.getLong(1))
    assert(v.toSeq == Seq(0L, 0L, 0L))
  }

  test("topComponentPower matches a double-precision power-iteration reference") {
    val rows = (1 to 25).map { t =>
      (t.toLong, Seq(math.sin(t * 1.7), math.cos(t * 0.9),
        math.sin(t * 0.4) * 0.5, 0.2 * ((t % 7) - 3)).map(_.toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val v = Similarity.topComponentPower(df, "vec_id", "embedding",
      iters = 16).orderBy("dim").collect().map(_.getLong(1))
    // reference: same quantization, double arithmetic, many iterations
    val q = rows.map(_._2.map(x => math.round(x.toDouble * 1000).toDouble))
    val d = 4; val n = q.length
    val s = (0 until d).map(i => q.map(_(i)).sum)
    val c = Array.tabulate(d, d)((i, j) =>
      n * q.map(r => r(i) * r(j)).sum - s(i) * s(j))
    // same 16 steps: the claim is exact-integer == float arithmetic
    // step-for-step (to micro-floor resolution), not convergence speed
    var v0 = Array.fill(d)(1.0)
    (1 to 16).foreach { _ =>
      val w = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v0(j)).sum)
      val m = w.map(math.abs).max
      v0 = w.map(_ / m)
    }
    (0 until d).foreach { i =>
      assert(math.abs(v(i) / 1e6 - v0(i)) < 0.001,
        s"dim $i: ${v(i) / 1e6} vs ${v0(i)}")
    }
  }

  test("centroidSimilarity: counts cancel — orthogonal, diagonal, and opposite centroids") {
    import spark.implicits._
    // l0 = two copies of (1,0); l1 = two of (0,1); l2 = (1,0)+(0,1);
    // l3 = two of (-1,0); l9 = a zero vector (degenerate centroid)
    val df = Seq(
      (1L, Seq(1f, 0f), 0L), (2L, Seq(1f, 0f), 0L),
      (3L, Seq(0f, 1f), 1L), (4L, Seq(0f, 1f), 1L),
      (5L, Seq(1f, 0f), 2L), (6L, Seq(0f, 1f), 2L),
      (7L, Seq(-1f, 0f), 3L), (8L, Seq(-1f, 0f), 3L),
      (9L, Seq(0f, 0f), 9L)).toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidSimilarity(df, "vec_id", "embedding", "label")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(out((0L, 1L)).getLong(4) == 0L)
    assert(out((0L, 2L)).getLong(4) == 707106L) // cos 45 deg, floored
    assert(out((0L, 3L)).getLong(4) == -1000000L)
    assert(out((0L, 9L)).isNullAt(4)) // zero centroid -> NULL
    assert(out((0L, 1L)).getLong(2) == 2L && out((0L, 1L)).getLong(3) == 2L)
  }

  test("centroidSimilarity/centroidOutliers: string labels keep their native type") {
    import spark.implicits._
    // language-code labels — a silent cast-to-long would NULL them all
    val df = Seq(
      (1L, Seq(1f, 0f), "en"), (2L, Seq(1f, 0f), "en"),
      (3L, Seq(0f, 1f), "ru"), (4L, Seq(0f, 1f), "ru")
    ).toDF("vec_id", "embedding", "label")
    val sim = Similarity.centroidSimilarity(df, "vec_id", "embedding", "label")
      .collect()
    assert(sim.length == 1)
    assert(sim.head.getString(0) == "en" && sim.head.getString(1) == "ru")
    assert(sim.head.getLong(4) == 0L) // orthogonal centroids
    val out = Similarity.centroidOutliers(df, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "en", 3L -> "ru", 4L -> "ru"))
  }

  test("centroidOutliers: hand n2d2 values; only the genuinely far point flags") {
    import spark.implicits._
    // six zero vectors + (14,0): n=7, s=14000 quanta; zeros read 1.96e8,
    // the outlier 36*1.96e8; mean = 1.176e9 so only the outlier exceeds 4x
    val df = ((1 to 6).map(i => (i.toLong, Seq(0f, 0f), 0L)) :+
      ((7L, Seq(14f, 0f), 0L))).toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidOutliers(df, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(out(1L).fieldIndex("dist2n2")) == 196000000L)
    assert(out(7L).getLong(out(7L).fieldIndex("dist2n2")) == 7056000000L)
    assert(out(7L).getBoolean(out(7L).fieldIndex("is_far")))
    assert((1 to 6).forall(i => !out(i.toLong).getBoolean(
      out(i.toLong).fieldIndex("is_far"))))
  }

  test("int8QuantReport: hand-checked scale, half-up coding, exact errors") {
    // micro units [500, 250, 2, -2]: scale = ceil(500/127) = 4;
    // codes 125/63/1/1 → recon 500/252/4/4 → errors 0/2/2/2
    // (the |x| = 2 half rounds UP); zero vector takes the scale-1 guard
    val df = Seq(
      (1L, Seq(0.5f, 0.25f, 0.002f, -0.002f)),
      (2L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = Similarity.int8QuantReport(df, "vec_id", "embedding")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(x => x._1 -> x).toMap
    assert(r(1L) == ((1L, 4L, 4L, 2L, 6L)))
    assert(r(2L) == ((2L, 2L, 1L, 0L, 0L)))
  }
}
