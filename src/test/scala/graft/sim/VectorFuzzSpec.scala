package graft.sim

import scala.util.Random

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Randomized differentials for the embedding vector primitives against
  * independent local folds: float dot/cosine (zero-norm NULL contract),
  * quantized cosine/norm through the native dot_i64 (including the
  * min-length overhang rule), the int8 quantization audit's sign-safe
  * floor divisions, per-dimension robust normalization (exact
  * interpolated median/MAD over quantized longs), and the deterministic
  * Rademacher JL projection regenerated from the md5 sign formula.
  * Seeds are pinned so every trial reproduces.
  */
class VectorFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def roundLong(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  private def vec(rnd: Random, n: Int): Seq[Double] =
    Seq.fill(n)((rnd.nextInt(4001) - 2000) / 16.0) // dyadic

  test("fuzz: dot, cosine, quantizedCosine and quantizedNorm match " +
    "local folds; zero vectors yield NULL cosine") {
    for (trial <- 0 until 3) {
      val rnd = new Random(13400 + trial)
      val dim = 3 + rnd.nextInt(6)
      val rows = (0 until 10 + rnd.nextInt(20)).map { i =>
        val a = if (rnd.nextInt(8) == 0) Seq.fill(dim)(0.0) else vec(rnd, dim)
        val b = vec(rnd, dim)
        (s"p$i", a, b)
      }
      val df = rnd.shuffle(rows).toDF("id", "a", "b")
        .repartition(1 + rnd.nextInt(4))
      val got = df.select(col("id"),
          Similarity.dot(col("a"), col("b")).as("d"),
          Similarity.cosine(col("a"), col("b")).as("c"),
          Similarity.quantizedCosine(
            Similarity.quantize(col("a")), Similarity.quantize(col("b"))).as("qc"),
          Similarity.quantizedNorm(Similarity.quantize(col("a"))).as("qn"))
        .collect()
        .map(r => (r.getString(0), r.getDouble(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getDouble(4)))
        .toSet
      val want = rows.map { case (id, a, b) =>
        // left-fold double accumulation, the aggregate() order
        val d = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
        val na = math.sqrt(a.zip(a).foldLeft(0.0) { case (s, (x, y)) => s + x * y })
        val nb = math.sqrt(b.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y })
        val c = if (na * nb != 0.0) Some(d / (na * nb)) else None
        val qa = a.map(x => roundLong(x * 1000))
        val qb = b.map(x => roundLong(x * 1000))
        def qdot(u: Seq[Long], v: Seq[Long]): Long =
          u.zip(v).map { case (x, y) => x * y }.sum
        val qden = math.sqrt(qdot(qa, qa).toDouble) * math.sqrt(qdot(qb, qb).toDouble)
        val qc = if (qden != 0.0) Some(qdot(qa, qb).toDouble / qden) else None
        (id, d, c, qc, math.sqrt(qdot(qa, qa).toDouble))
      }.toSet
      assert(got == want, s"trial $trial")
    }
  }

  test("fuzz: int8QuantReport matches a local sign-safe coding fold") {
    for (trial <- 0 until 3) {
      val rnd = new Random(13500 + trial)
      val rows = (0 until 8 + rnd.nextInt(15)).map { i =>
        (s"v$i", vec(rnd, 2 + rnd.nextInt(8))
          .map(_ * (1 << rnd.nextInt(5)))) // varied magnitudes -> varied scales
      }
      val df = rnd.shuffle(rows).toDF("id", "v")
        .repartition(1 + rnd.nextInt(4))
      val got = Similarity.int8QuantReport(df, "id", "v")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
        .toSet
      val want = rows.map { case (id, v) =>
        val xs = v.map(x => roundLong(x * 1000))
        val maxAbs = xs.map(math.abs).max
        val s = math.max((maxAbs + 126) / 127, 1L)
        val errs = xs.map { x =>
          val q = (2 * math.abs(x) + s) / (2 * s)
          math.abs(math.abs(x) - q * s)
        }
        (id, xs.size.toLong, s, errs.max, errs.sum)
      }.toSet
      assert(got == want, s"trial $trial")
    }
  }

  test("fuzz: robustNormalizeRows matches a local median/MAD fold") {
    def pctile(sorted: Vector[Double], p: Double): Double = {
      val pos = p * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      if (lo == hi) sorted(lo)
      else sorted(lo) * (hi - pos) + sorted(hi) * (pos - lo)
    }
    for (trial <- 0 until 3) {
      val rnd = new Random(13600 + trial)
      val dim = 2 + rnd.nextInt(4)
      val constDim = rnd.nextInt(dim) // zero-MAD dimension -> all 0
      val rows = (0 until 5 + rnd.nextInt(12)).map { i =>
        val v = vec(rnd, dim).zipWithIndex
          .map { case (x, d) => if (d == constDim) 7.25 else x }
        (s"v$i", v)
      }
      val df = rnd.shuffle(rows).toDF("id", "v")
        .repartition(1 + rnd.nextInt(4))
      val gotRows = Similarity.robustNormalizeRows(df, "id", "v")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      val q = rows.map { case (id, v) => (id, v.map(x => roundLong(x * 1000))) }
      val byDim = (0 until dim).map { d =>
        val vals = q.map(_._2(d).toDouble).sorted.toVector
        val med = pctile(vals, 0.5)
        val mad = pctile(q.map(r => math.abs(r._2(d).toDouble - med))
          .sorted.toVector, 0.5)
        (med, mad)
      }
      val wantRows = q.flatMap { case (id, xs) =>
        xs.zipWithIndex.map { case (x, d) =>
          val (med, mad) = byDim(d)
          val nm = if (mad != 0.0)
            math.floor((x.toDouble - med) / mad * 1000000.0).toLong else 0L
          (id, (d + 1).toLong, nm)
        }
      }.toSet
      assert(gotRows == wantRows, s"trial $trial rows")
    }
  }

  test("fuzz: randomProject matches the md5 sign formula, overhang " +
    "ignored") {
    def sign(j: Int, i: Int): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${j}_${i}".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0x1) == 0) 1L else -1L
    }
    for (trial <- 0 until 3) {
      val rnd = new Random(13700 + trial)
      val inDim = 4 + rnd.nextInt(6)
      val outDim = 2 + rnd.nextInt(4)
      val rows = (0 until 8 + rnd.nextInt(12)).map { i =>
        val n = if (rnd.nextInt(4) == 0) 1 + rnd.nextInt(inDim) else inDim
        (s"v$i", vec(rnd, n))
      }
      val df = rnd.shuffle(rows).toDF("id", "v")
        .repartition(1 + rnd.nextInt(4))
      val got = Similarity.randomProject(df, "id", "v", outDim, inDim)
        .collect()
        .map(r => (r.getString(0), r.getSeq[Long](1).toVector))
        .toSet
      val want = rows.map { case (id, v) =>
        val qv = v.map(x => roundLong(x * 1000))
        (id, (1 to outDim).map { j =>
          qv.zipWithIndex.map { case (x, i0) => sign(j, i0 + 1) * x }.sum
        }.toVector)
      }.toSet
      assert(got == want, s"trial $trial (in=$inDim out=$outDim)")
    }
  }
}
