package graft.ops

import graft.SparkSpec

class LabelVoteSpec extends SparkSpec {
  import spark.implicits._

  private def run(votes: Seq[(Long, Long, String)],
      gold: Seq[(Long, String)]): Map[Long, (String, Long, Long, Long)] =
    LabelVote.weightedVote(
        votes.toDF("item", "rater", "label"), gold.toDF("item", "label"))
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap

  test("accurate raters outvote a majority of inaccurate ones") {
    // gold: items 1, 2. rater 10 is always right (weight 1e6);
    // raters 20, 21 are always wrong (weight 0).
    val gold = Seq((1L, "a"), (2L, "b"))
    val votes = Seq(
      (1L, 10L, "a"), (1L, 20L, "b"), (1L, 21L, "b"),
      (2L, 10L, "b"), (2L, 20L, "a"), (2L, 21L, "a"),
      // item 3: right rater says a, both wrong raters say b → a wins 1e6:0
      (3L, 10L, "a"), (3L, 20L, "b"), (3L, 21L, "b"))
    val r = run(votes, gold)
    assert(r(3L) == (("a", 1000000L, 3L, 2L)))
  }

  test("unseen raters carry the 0.5 prior; half-accuracy floors") {
    // rater 30 never votes on gold → 500000; rater 40 is right 1 of 3
    // gold votes → floor(1e6/3) = 333333
    val gold = Seq((1L, "a"), (2L, "a"), (3L, "a"))
    val votes = Seq(
      (1L, 40L, "a"), (2L, 40L, "b"), (3L, 40L, "b"),
      (9L, 40L, "x"), (9L, 30L, "y"), (9L, 31L, "y"))
    val r = run(votes, gold)
    // item 9: x has 333333; y has 500000 + 500000 = 1000000 → y
    assert(r(9L) == (("y", 1000000L, 3L, 2L)))
  }

  test("exact ties elect the smallest label") {
    val votes = Seq((5L, 1L, "zz"), (5L, 2L, "aa"))
    val r = run(votes, Seq.empty[(Long, String)])
    assert(r(5L) == (("aa", 500000L, 2L, 2L)))
  }

  test("duplicate votes by one rater all count; null labels drop") {
    val votes: Seq[(Long, Long, String)] =
      Seq((7L, 1L, "a"), (7L, 1L, "a"), (7L, 2L, "b"), (7L, 3L, null))
    val r = run(votes, Seq.empty[(Long, String)])
    assert(r(7L) == (("a", 1000000L, 3L, 2L)))
  }
}
