package graft.sim

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the approx↔exact agreement of [[Similarity.robustNormalizeApproxRows]]
  * — the sketched (Greenwald–Khanna) twin of the exact per-dim median/MAD
  * normalization. `percentile_approx` returns an OBSERVED value where the
  * exact percentile interpolates, so the contract is closeness in quant
  * units (≤1 — tighter than any downstream distance the normalization
  * feeds), not bit equality; on odd counts with no interpolation the two
  * agree exactly.
  */
class RobustNormalizeApproxSpec extends SparkSpec {
  import spark.implicits._

  test("approx equals exact when no interpolation is involved (odd counts)") {
    val df = Seq(
      (1L, Seq(1.0f, 5.0f)),
      (2L, Seq(2.0f, 5.0f)),
      (3L, Seq(3.0f, 5.0f))).toDF("vec_id", "embedding")
    val out = Similarity.robustNormalizeApproxRows(df, "vec_id", "embedding")
      .collect().toSeq.groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.sortBy(_.getLong(1)).map(_.getLong(2))
      }
    assert(out(1L) == Seq(-1000000L, 0L))
    assert(out(2L) == Seq(0L, 0L))
    assert(out(3L) == Seq(1000000L, 0L))
  }

  test("per-dim approx median and MAD land within 5% of a MAD of exact on embeddings") {
    // The exact percentile INTERPOLATES between order statistics on even
    // counts (n=500 here); GK returns an observed value, so the floor of
    // the bound is one inter-sample gap (~2 quant units at this density),
    // and the meaningful contract is drift ≪ the MAD itself — the scale
    // every normalized value is divided by.
    val emb = graft.Tables.load(spark, sf001, "embeddings")
    val qz = emb.select(col("vec_id").as("id"),
      posexplode(Similarity.quantize(col("embedding"), 1000)).as(Seq("dim", "q")))
    def stats(medAgg: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
      val med = qz.groupBy(col("dim")).agg(medAgg(col("q")).cast("double").as("med"))
      qz.join(med, Seq("dim"))
        .groupBy(col("dim"), col("med"))
        .agg(medAgg(abs(col("q").cast("double") - col("med"))).cast("double").as("mad"))
    }
    val exact = stats(c => percentile(c, lit(0.5)))
    val approx = stats(c => percentile_approx(c, lit(0.5), lit(10000)))
    val tol = greatest(lit(2.0), $"e.mad" * 0.05)
    val drift = exact.as("e").join(approx.as("a"), Seq("dim"))
      .filter(abs($"e.med" - $"a.med") > tol || abs($"e.mad" - $"a.mad") > tol)
    assert(drift.count() == 0)
  }

  test("output contract matches the exact twin: same schema, one row per vector") {
    val emb = graft.Tables.load(spark, sf001, "embeddings")
    val ex = Similarity.robustNormalizeRows(emb, "vec_id", "embedding")
    val ap = Similarity.robustNormalizeApproxRows(emb, "vec_id", "embedding")
    assert(ap.schema == ex.schema)
    assert(ap.count() == ex.count())
    assert(ap.select("id").distinct().count() == emb.count())
  }
}
