package graft.ops

import scala.util.Random

import graft.SparkSpec

/** Randomized differentials for the event-history operators against
  * independent local folds: SCD-2 interval builds on tie-heavy restating
  * feeds (a tiny timestamp domain forces equal-ts ties; attributes
  * restate and include NULL, which must form and terminate intervals
  * null-safely), gap-fill on sparse multi-key day series (latest-in-day
  * election, per-key grids, forward fill), and the Markov transition
  * matrix (per-user sequences under (ts, tie) order, exact integral
  * row-conditional probabilities). Inputs are shuffled and randomly
  * repartitioned; seeds are pinned so every trial reproduces.
  */
class EventFuzzSpec extends SparkSpec {
  import spark.implicits._

  test("fuzz: scd2Intervals matches a local fold on tie-heavy restating feeds") {
    for (trial <- 0 until 4) {
      val rnd = new Random(5500 + trial)
      val attrPool: IndexedSeq[String] =
        IndexedSeq(null, "a", "b", "c").take(2 + rnd.nextInt(3))
      val rows = (0 until 3 + rnd.nextInt(4)).flatMap { k =>
        val n = 3 + rnd.nextInt(18)
        (0 until n).map(i =>
          (s"k$k", rnd.nextInt(6).toLong, // tiny ts domain -> real ties
            k * 1000L + i,                // unique tie column
            attrPool(rnd.nextInt(attrPool.size))))
      }
      val df = rnd.shuffle(rows).toDF("key", "ts", "tie", "attr")
        .repartition(1 + rnd.nextInt(5))
      val got = EventOps.scd2Intervals(df, "key", "ts", "tie", "attr")
        .collect()
        .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))
        .toSet
      val want = rows.groupBy(_._1).flatMap { case (k, rs) =>
        val ordered = rs.sortBy(r => (r._2, r._3))
        // collapse restatements (null-safe equality on the attribute)
        val changes = ordered.foldLeft(Vector.empty[(Long, Option[String])]) {
          case (acc, (_, ts, _, a)) =>
            if (acc.nonEmpty && acc.last._2 == Option(a)) acc
            else acc :+ (ts, Option(a))
        }
        changes.zipWithIndex.map { case ((ts, a), i) =>
          val to = if (i + 1 < changes.size) Some(changes(i + 1)._1) else None
          (k, a, ts, to, to.isEmpty)
        }
      }.toSet
      assert(got == want,
        s"trial $trial: diff=${(got diff want).take(3)} / ${(want diff got).take(3)}")
    }
  }

  test("fuzz: gapFill matches a local latest-in-day forward fill") {
    val utc = java.time.ZoneOffset.UTC
    for (trial <- 0 until 3) {
      val rnd = new Random(5600 + trial)
      val day0 = java.time.LocalDate.of(2024, 3, 1)
      val rows = (0 until 2 + rnd.nextInt(3)).flatMap { k =>
        val n = 2 + rnd.nextInt(15)
        (0 until n).map { _ =>
          val sec = day0.atStartOfDay(utc).toEpochSecond +
            rnd.nextInt(30 * 86400).toLong // a 30-day window, sparse days
          (s"k$k", java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)),
            (rnd.nextInt(2000) - 1000) / 7.0)
        }
      }
      val df = rnd.shuffle(rows).toDF("key", "ts", "v")
        .repartition(1 + rnd.nextInt(5))
      val got = EventOps.gapFill(df, Seq("key"), "ts", "v")
        .collect()
        .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
          r.getBoolean(3)))
        .toSet
      val want = rows.groupBy(_._1).flatMap { case (k, rs) =>
        // latest-in-day election: max(struct(ts, micro)) — value breaks
        // exact-ts ties upward
        val byDay = rs.groupBy(r =>
            r._2.toInstant.atZone(utc).toLocalDate)
          .view.mapValues(_.map(r =>
            (r._2.getTime, math.floor(r._3 * 1000000).toLong)).max._2)
          .toMap
        val d0 = byDay.keys.min(Ordering.by((d: java.time.LocalDate) => d.toEpochDay))
        val d1 = byDay.keys.max(Ordering.by((d: java.time.LocalDate) => d.toEpochDay))
        var last = 0L
        Iterator.iterate(d0)(_.plusDays(1)).takeWhile(!_.isAfter(d1)).map { d =>
          val obs = byDay.get(d)
          obs.foreach(last = _)
          (k, d.toString, last, obs.isDefined)
        }.toSeq
      }.toSet
      assert(got == want,
        s"trial $trial: diff=${(got diff want).take(3)} / ${(want diff got).take(3)}")
    }
  }

  test("fuzz: transitionMatrix matches a local per-user sequence count") {
    for (trial <- 0 until 3) {
      val rnd = new Random(5700 + trial)
      val types: IndexedSeq[String] = IndexedSeq("view", "cart", "buy", "exit")
      val rows = (0 until 3 + rnd.nextInt(5)).flatMap { u =>
        (0 until 2 + rnd.nextInt(20)).map(i =>
          (s"u$u", types(rnd.nextInt(types.size)),
            rnd.nextInt(8).toLong, u * 1000L + i))
      }
      val df = rnd.shuffle(rows).toDF("user", "type", "ts", "tie")
        .repartition(1 + rnd.nextInt(5))
      val got = EventOps.transitionMatrix(df, "user", "type", "ts", "tie")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      val trans = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        val ordered = rs.sortBy(r => (r._3, r._4)).map(_._2)
        ordered.zip(ordered.drop(1))
      }
      val counts = trans.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val fromTotals = trans.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val want = counts.map { case ((f, t), n) =>
        (f, t, n, n * 1000000L / fromTotals(f))
      }.toSet
      assert(got == want,
        s"trial $trial: diff=${(got diff want).take(3)} / ${(want diff got).take(3)}")
    }
  }
}
