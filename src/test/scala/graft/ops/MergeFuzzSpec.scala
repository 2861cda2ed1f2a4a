package graft.ops

import scala.util.Random

import graft.SparkSpec

/** Randomized differential for the FLAGSHIP operator (A1 continuation
  * merge, the `entry` query): random registry-shaped tables — keys drawn
  * from a pool mixing real record starts, too-short numbers, "Name:"
  * artifacts, nulls, and Cyrillic noise; values mixing nulls, empties,
  * and padded cells — are merged by [[MergeOps.continuationMerge]] and
  * checked row-for-row against an independent local fold that implements
  * the reference semantics directly (drop "Name:" rows, running
  * new-record flag sum, ordered empty-skipping space concat). Inputs are
  * shuffled and randomly repartitioned so the structural ordering
  * (array_sort over (idx, value) structs) is load-bearing, not luck.
  * Seed-pinned: every trial reproduces.
  */
class MergeFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val newRecordRe =
    java.util.regex.Pattern.compile("^(?:№?\\d{4,})(/ТЗ.*)?")

  private def isNewRecordLocal(key: String): Boolean =
    newRecordRe.matcher(Option(key).getOrElse("").trim).find()

  /** The reference fold, straight-line: one doc's rows in idx order. */
  private def localMerge(
      rows: Seq[(Long, String, String, String)])
      : Seq[(Long, Long, String, String, String)] = {
    val kept = rows.sortBy(_._1).filterNot { case (_, k, _, _) =>
      Option(k).getOrElse("").trim.startsWith("Name:")
    }
    var gid = 0L
    val tagged = kept.map { case (idx, k, v1, v2) =>
      if (isNewRecordLocal(k)) gid += 1
      (gid, idx, k, v1, v2)
    }
    tagged.groupBy(_._1).toSeq.map { case (g, rs) =>
      def cat(f: ((Long, Long, String, String, String)) => String): String =
        rs.sortBy(_._2).map(r => Option(f(r)).getOrElse("").trim)
          .filter(_.nonEmpty).mkString(" ")
      (g, rs.map(_._2).min, cat(_._3), cat(_._4), cat(_._5))
    }
  }

  private def randomKey(rnd: Random): String = rnd.nextInt(10) match {
    case 0 => s"№${1000 + rnd.nextInt(9000)}"                // record start
    case 1 => s"${1000 + rnd.nextInt(90000)}/ТЗ д${rnd.nextInt(9)}" // start
    case 2 => s"${10000 + rnd.nextInt(80000)}"               // start (bare)
    case 3 => s"№${rnd.nextInt(999)}"                        // too short
    case 4 => s"Name: Иванов ${rnd.nextInt(100)}"            // artifact
    case 5 => "  Name:п  "                                   // padded artifact
    case 6 => null                                           // null key
    case 7 => ""                                             // empty key
    case 8 => s"прод ${rnd.nextInt(100)}"                    // continuation
    case _ => s" ${rnd.nextInt(100)} сод"                    // continuation
  }

  private def randomVal(rnd: Random): String = rnd.nextInt(8) match {
    case 0 => null
    case 1 => ""
    case 2 => "   "
    case 3 => s" знач${rnd.nextInt(50)} "
    case 4 => s"x${rnd.nextInt(10)} y${rnd.nextInt(10)}"
    case 5 => s"№${rnd.nextInt(100)}"
    case _ => s"v${rnd.nextInt(1000)}"
  }

  test("fuzz: partitioned continuation merge matches the local reference fold") {
    for (trial <- 0 until 4) {
      val rnd = new Random(5100 + trial)
      val docs = (0 until 2 + rnd.nextInt(4)).map(d => s"doc$d")
      val byDoc = docs.map { d =>
        val n = 5 + rnd.nextInt(35)
        var idx = 0L
        d -> (0 until n).map { _ =>
          idx += 1 + rnd.nextInt(3) // gappy but strictly increasing: the
          (idx, randomKey(rnd), randomVal(rnd), randomVal(rnd)) // order key
        }                           // must be unique or the merge order is
                                    // undefined (duplicate idx = same row)
      }.toMap
      val input = rnd.shuffle(byDoc.toSeq.flatMap { case (d, rs) =>
        rs.map { case (idx, k, v1, v2) => (d, idx, k, v1, v2) }
      })
      val df = input.toDF("doc", "_idx", "key", "v1", "v2")
        .repartition(1 + rnd.nextInt(7))
      val got = MergeOps.continuationMerge(df, "key", "_idx",
          partitionBy = Seq("doc"))
        .select("doc", "record_id", "_idx", "key", "v1", "v2")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getString(4), r.getString(5)))
        .toSet
      val want = byDoc.flatMap { case (d, rs) =>
        localMerge(rs).map { case (g, idx, k, v1, v2) => (d, g, idx, k, v1, v2) }
      }.toSet
      assert(got == want,
        s"trial $trial: diff=${(got diff want).take(3)} / ${(want diff got).take(3)}")
    }
  }

  test("fuzz: unpartitioned merge (single registry file) matches the local fold") {
    for (trial <- 0 until 3) {
      val rnd = new Random(5200 + trial)
      val rows = (0 until 10 + rnd.nextInt(40)).map(i =>
        (i.toLong, randomKey(rnd), randomVal(rnd), randomVal(rnd)))
      val df = rnd.shuffle(rows).toDF("_idx", "key", "v1", "v2")
        .repartition(1 + rnd.nextInt(5))
      val got = MergeOps.continuationMerge(df, "key", "_idx")
        .select("record_id", "_idx", "key", "v1", "v2")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getString(3), r.getString(4)))
        .toSet
      val want = localMerge(rows).toSet
      assert(got == want,
        s"trial $trial: diff=${(got diff want).take(3)} / ${(want diff got).take(3)}")
    }
  }
}
