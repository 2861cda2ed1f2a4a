package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("backward as-of: latest right row at-or-before each left row, per key") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "l1"),
      (1L, ts("2024-01-01 12:00:00"), "l2"),
      (2L, ts("2024-01-01 09:00:00"), "l3"))   // key 2: no right rows before
      .toDF("k", "t", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 10.0),
      (1L, ts("2024-01-01 11:00:00"), 20.0),
      (1L, ts("2024-01-01 13:00:00"), 30.0),   // after both left rows
      (2L, ts("2024-01-01 09:30:00"), 99.0))   // after key-2's left row
      .toDF("rk", "rt", "rv")

    val out = AsOfJoin.backward(left, right, "k", "rk", "t", "rt", Seq("rv"))
      .orderBy("tag").collect()
    assert(out(0).getAs[Double]("rv") == 10.0)   // l1 ← 09:30
    assert(out(1).getAs[Double]("rv") == 20.0)   // l2 ← 11:00
    assert(out(2).isNullAt(out(2).fieldIndex("rv")))  // l3 ← nothing
  }

  test("null join keys never match, in both forms (SQL/ASOF semantics)") {
    val left = Seq(
      (Option(1L), ts("2024-01-01 10:00:00"), "l1"),
      (Option.empty[Long], ts("2024-01-01 10:00:00"), "lnull"))
      .toDF("k", "t", "tag")
    val right = Seq(
      (Option(1L), ts("2024-01-01 09:00:00"), 10.0),
      (Option.empty[Long], ts("2024-01-01 09:00:00"), 99.0)) // must never match
      .toDF("rk", "rt", "rv")
    for (out <- Seq(
        AsOfJoin.backward(left, right, "k", "rk", "t", "rt", Seq("rv")),
        AsOfJoin.backwardMerge(left, right, "k", "rk", "t", "rt", Seq("rv")))) {
      val rows = out.orderBy("tag").collect()
      assert(rows.length == 2) // null-key left row is kept, unmatched
      assert(rows(0).getAs[Double]("rv") == 10.0)              // l1 ← 09:00
      assert(rows(1).isNullAt(rows(1).fieldIndex("rv")),
        s"null-key left row matched a null-key right row: ${rows(1)}")
    }
  }

  test("equal timestamps match inclusively (right at t == left t)") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "l")).toDF("k", "t", "tag")
    val right = Seq((1L, ts("2024-01-01 10:00:00"), 7.0)).toDF("rk", "rt", "rv")
    val out = AsOfJoin.backward(left, right, "k", "rk", "t", "rt", Seq("rv")).collect()
    assert(out(0).getAs[Double]("rv") == 7.0)
  }

  test("null value fields come atomically from the latest right row") {
    // The latest matching right row carries (null, "b2") — BOTH values must
    // come from it; per-column last(ignoreNulls) would resurrect a1 from
    // the older row and stitch a frankenstein (a1, b2) row.
    val left = Seq((1L, ts("2024-01-01 12:00:00"), "l")).toDF("k", "t", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), Option("a1"), Option("b1")),
      (1L, ts("2024-01-01 11:00:00"), Option.empty[String], Option("b2")))
      .toDF("rk", "rt", "va", "vb")
    val out = AsOfJoin.backward(left, right, "k", "rk", "t", "rt", Seq("va", "vb"))
      .collect()(0)
    assert(out.isNullAt(out.fieldIndex("va")))
    assert(out.getAs[String]("vb") == "b2")
  }

  test("duplicate right timestamps break ties deterministically (max struct)") {
    val left = Seq((1L, ts("2024-01-01 12:00:00"), "l")).toDF("k", "t", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 11:00:00"), 5.0),
      (1L, ts("2024-01-01 11:00:00"), 9.0),
      (1L, ts("2024-01-01 11:00:00"), 1.0))
      .toDF("rk", "rt", "rv")
    // Repartition shuffles arrival order; the winner must stay stable.
    (1 to 3).foreach { n =>
      val out = AsOfJoin.backward(
        left, right.repartition(n), "k", "rk", "t", "rt", Seq("rv")).collect()(0)
      assert(out.getAs[Double]("rv") == 9.0)
    }
  }

  test("non-orderable value columns (MapType) pass analysis and arrive intact") {
    val left = Seq((1L, ts("2024-01-01 12:00:00"), "l")).toDF("k", "t", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), Map("a" -> 1)),
      (1L, ts("2024-01-01 11:00:00"), Map("b" -> 2)))
      .toDF("rk", "rt", "props")
    val out = AsOfJoin.backward(left, right, "k", "rk", "t", "rt", Seq("props"))
      .collect()(0)
    assert(out.getAs[Map[String, Int]]("props") == Map("b" -> 2))
  }

  test("map-only ties still break deterministically (content-hash tiebreak)") {
    val left = Seq((1L, ts("2024-01-01 12:00:00"), "l")).toDF("k", "t", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 11:00:00"), Map("x" -> 1)),
      (1L, ts("2024-01-01 11:00:00"), Map("y" -> 2)))
      .toDF("rk", "rt", "props")
    val winners = (1 to 3).map { n =>
      AsOfJoin.backward(left, right.repartition(n), "k", "rk", "t", "rt", Seq("props"))
        .collect()(0).getAs[Map[String, Int]]("props")
    }
    assert(winners.distinct.size == 1)
  }

  test("mixed orderable + map values: tiebreak uses the orderable columns") {
    val left = Seq((1L, ts("2024-01-01 12:00:00"), "l")).toDF("k", "t", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 11:00:00"), 5.0, Map("lo" -> 1)),
      (1L, ts("2024-01-01 11:00:00"), 9.0, Map("hi" -> 2)))
      .toDF("rk", "rt", "rv", "props")
    (1 to 3).foreach { n =>
      val out = AsOfJoin.backward(
        left, right.repartition(n), "k", "rk", "t", "rt", Seq("rv", "props")).collect()(0)
      assert(out.getAs[Double]("rv") == 9.0)
      assert(out.getAs[Map[String, Int]]("props") == Map("hi" -> 2))
    }
  }

  test("forward as-of: earliest right row at-or-after each left row, per key") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "l1"),
      (1L, ts("2024-01-01 12:30:00"), "l2"),
      (2L, ts("2024-01-01 09:00:00"), "l3"))   // key 2: no right rows after
      .toDF("k", "t", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 10.0),   // before both left rows
      (1L, ts("2024-01-01 11:00:00"), 20.0),
      (1L, ts("2024-01-01 13:00:00"), 30.0),
      (2L, ts("2024-01-01 08:30:00"), 99.0))   // before key-2's left row
      .toDF("rk", "rt", "rv")
    val out = AsOfJoin.forward(left, right, "k", "rk", "t", "rt", Seq("rv"))
      .orderBy("tag").collect()
    assert(out(0).getAs[Double]("rv") == 20.0)   // l1 → 11:00
    assert(out(1).getAs[Double]("rv") == 30.0)   // l2 → 13:00
    assert(out(2).isNullAt(out(2).fieldIndex("rv")))  // l3 → nothing after
  }

  test("forward as-of matches inclusively and breaks ties on smallest value") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "l")).toDF("k", "t", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7.0),
      (1L, ts("2024-01-01 10:00:00"), 3.0))
      .toDF("rk", "rt", "rv")
    (1 to 3).foreach { n =>
      val out = AsOfJoin.forward(
        left, right.repartition(n), "k", "rk", "t", "rt", Seq("rv")).collect()(0)
      assert(out.getAs[Double]("rv") == 3.0) // inclusive ≥, smallest _tb wins
    }
  }

  test("plan shuffles once by key — no range/cross join") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "l")).toDF("k", "t", "tag")
    val right = Seq((1L, ts("2024-01-01 09:00:00"), 1.0)).toDF("rk", "rt", "rv")
    val plan = AsOfJoin.backward(left, right, "k", "rk", "t", "rt", Seq("rv"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      s"as-of join must not plan a cross join:\n$plan")
  }

  // ------------------------- physical merge operator (AsOfJoinExec) -------

  test("merge operator plans AsOfJoinExec with no window") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "l")).toDF("k", "t", "tag")
    val right = Seq((1L, ts("2024-01-01 09:00:00"), 1.0)).toDF("rk", "rt", "rv")
    val plan = AsOfJoin.backwardMerge(left, right, "k", "rk", "t", "rt", Seq("rv"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"expected AsOfJoinExec in plan:\n$plan")
    assert(!plan.contains("Window"), s"merge form must not plan a window:\n$plan")
  }

  test("merge == window on randomized data, both directions, across partitionings") {
    // Dense key/ts space on purpose: lots of equal-timestamp ties, keys with
    // empty sides, and null timestamps — every divergence mode the merge
    // scan could have.
    val rnd = new scala.util.Random(42)
    val leftRows = (1 to 400).map { i =>
      (rnd.nextInt(12).toLong, if (rnd.nextInt(40) == 0) null
        else ts(f"2024-01-01 ${rnd.nextInt(24)}%02d:${rnd.nextInt(4) * 15}%02d:00"), s"l$i")
    }
    val rightRows = (1 to 300).map { i =>
      (rnd.nextInt(14).toLong, if (rnd.nextInt(40) == 0) null
        else ts(f"2024-01-01 ${rnd.nextInt(24)}%02d:${rnd.nextInt(4) * 15}%02d:00"),
        rnd.nextInt(50).toDouble, s"r$i")
    }
    val left = leftRows.toDF("k", "t", "tag")
    val right = rightRows.toDF("rk", "rt", "rv", "rtag")

    for (parts <- Seq(1, 3, 7); fwd <- Seq(false, true)) {
      val l = left.repartition(parts)
      val r = right.repartition(math.max(1, 8 - parts))
      val (viaWindow, viaMerge) =
        if (fwd)
          (AsOfJoin.forward(l, r, "k", "rk", "t", "rt", Seq("rv", "rtag")),
            AsOfJoin.forwardMerge(l, r, "k", "rk", "t", "rt", Seq("rv", "rtag")))
        else
          (AsOfJoin.backward(l, r, "k", "rk", "t", "rt", Seq("rv", "rtag")),
            AsOfJoin.backwardMerge(l, r, "k", "rk", "t", "rt", Seq("rv", "rtag")))
      val a = viaWindow.orderBy("tag").collect().map(_.toString).toSeq
      val b = viaMerge.orderBy("tag").collect().map(_.toString).toSeq
      assert(a == b, s"merge/window divergence (forward=$fwd, parts=$parts)")
    }
  }

  test("merge operator: unmatched keys, inclusive equality, atomic null fields") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "eq"),
      (2L, ts("2024-01-01 09:00:00"), "none"),
      (3L, ts("2024-01-01 12:00:00"), "atomic"))
      .toDF("k", "t", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), Option("a"), Option("x")),
      (3L, ts("2024-01-01 10:00:00"), Option("a1"), Option("b1")),
      (3L, ts("2024-01-01 11:00:00"), Option.empty[String], Option("b2")),
      (4L, ts("2024-01-01 08:00:00"), Option("zz"), Option("zz")))
      .toDF("rk", "rt", "va", "vb")
    val out = AsOfJoin.backwardMerge(left, right, "k", "rk", "t", "rt", Seq("va", "vb"))
      .orderBy("tag").collect().map(r => r.getAs[String]("tag") -> r).toMap
    assert(out("eq").getAs[String]("va") == "a")       // inclusive t == rt
    assert(out("none").isNullAt(out("none").fieldIndex("va")))
    assert(out("atomic").isNullAt(out("atomic").fieldIndex("va")))
    assert(out("atomic").getAs[String]("vb") == "b2")  // both from the 11:00 row
  }

  test("ties on every orderable column with differing maps stay deterministic") {
    // rv ties exactly; only the map differs — the content-hash tail of the
    // tiebreak must pick one stable winner, identically in both forms.
    val left = Seq((1L, ts("2024-01-01 12:00:00"), "l")).toDF("k", "t", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 11:00:00"), 5.0, Map("a" -> 1)),
      (1L, ts("2024-01-01 11:00:00"), 5.0, Map("b" -> 2)))
      .toDF("rk", "rt", "rv", "props")
    val winners = for (n <- 1 to 3; useMerge <- Seq(false, true)) yield {
      val r = right.repartition(n)
      val out =
        if (useMerge) AsOfJoin.backwardMerge(left, r, "k", "rk", "t", "rt", Seq("rv", "props"))
        else AsOfJoin.backward(left, r, "k", "rk", "t", "rt", Seq("rv", "props"))
      out.collect()(0).getAs[Map[String, Int]]("props")
    }
    assert(winners.distinct.size == 1, s"unstable winners: $winners")
  }

  test("merge operator handles map-typed values via content-hash tiebreak") {
    val left = Seq((1L, ts("2024-01-01 12:00:00"), "l")).toDF("k", "t", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 11:00:00"), Map("x" -> 1)),
      (1L, ts("2024-01-01 11:00:00"), Map("y" -> 2)))
      .toDF("rk", "rt", "props")
    val winners = (1 to 3).map { n =>
      AsOfJoin.backwardMerge(left, right.repartition(n), "k", "rk", "t", "rt", Seq("props"))
        .collect()(0).getAs[Map[String, Int]]("props")
    }
    assert(winners.distinct.size == 1)
    // And the merge winner equals the window winner.
    val viaWindow = AsOfJoin.backward(left, right, "k", "rk", "t", "rt", Seq("props"))
      .collect()(0).getAs[Map[String, Int]]("props")
    assert(winners.head == viaWindow)
  }

  test("left-side filters push through the as-of node (optimizer rule)") {
    val dir = java.nio.file.Files.createTempDirectory("asof_pushdown").toString
    Seq((1L, ts("2024-01-01 10:00:00"), "keep"), (2L, ts("2024-01-01 10:00:00"), "drop"))
      .toDF("k", "t", "tag").write.mode("overwrite").parquet(s"$dir/left")
    val left = spark.read.parquet(s"$dir/left")
    val right = Seq((1L, ts("2024-01-01 09:00:00"), 1.0)).toDF("rk", "rt", "rv")

    val filtered = AsOfJoin.backwardMerge(left, right, "k", "rk", "t", "rt", Seq("rv"))
      .filter($"tag" === "keep")
    val physical = filtered.queryExecution.executedPlan.toString
    // The predicate must reach the parquet scan below the custom node —
    // Catalyst's own pushdown stops at unknown nodes; our rule carries it.
    assert(physical.contains("PushedFilters: [IsNotNull(tag), EqualTo(tag,keep)]"),
      s"left filter did not reach the scan:\n$physical")
    val rows = filtered.collect()
    assert(rows.map(_.getAs[String]("tag")).toSeq == Seq("keep"))
    assert(rows(0).getAs[Double]("rv") == 1.0)

    // Mixed predicate: the left conjunct pushes, the value conjunct stays
    // above (filtering right-derived columns must not change matching).
    val mixed = AsOfJoin.backwardMerge(left, right, "k", "rk", "t", "rt", Seq("rv"))
      .filter($"tag" === "keep" && $"rv".isNull)
    assert(mixed.count() == 0) // rv=1.0 for the kept row — filtered above the join
    val mixedPlan = mixed.queryExecution.executedPlan.toString
    assert(mixedPlan.contains("EqualTo(tag,keep)"), s"pushable conjunct lost:\n$mixedPlan")
  }

  test("merge operator works on a self-as-of (shared attribute lineage)") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), "click", 0.0),
      (1L, ts("2024-01-01 10:30:00"), "purchase", 9.99),
      (1L, ts("2024-01-01 11:00:00"), "click", 0.0))
      .toDF("user", "t", "kind", "value")
    val clicks = ev.filter($"kind" === "click").select($"user", $"t", $"kind")
    val purchases = ev.filter($"kind" === "purchase")
      .select($"user".as("pu"), $"t".as("pt"), $"value".as("pv"))
    val out = AsOfJoin.backwardMerge(clicks, purchases, "user", "pu", "t", "pt", Seq("pv"))
      .orderBy("t").collect()
    assert(out(0).isNullAt(out(0).fieldIndex("pv")))   // 10:00 click: none before
    assert(out(1).getAs[Double]("pv") == 9.99)         // 11:00 click ← 10:30
  }

  test("bucketed as-of equals the direct merge at every bucket width") {
    val ev = graft.Tables.load(spark, sf001, "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"ts".as("pt"),
        $"event_id".as("pe"), $"value".as("pv"))
    // Widths chosen to force the interesting regimes: 1 s (almost every
    // match crosses a bucket edge → carry-dominated), 1 h (mixed), 10 y
    // (single bucket → pure in-bucket path).
    for (widthUs <- Seq(1000000L, 3600L * 1000000L, 315360000L * 1000000L)) {
      val bucket = (c: org.apache.spark.sql.Column) =>
        floor(unix_micros(c) / widthUs)
      val direct = AsOfJoin.backwardMerge(clicks, purchases,
          "user_id", "pu", "ts", "pt", Seq("pe", "pv"))
        .orderBy("event_id").collect().map(_.toSeq).toSeq
      val bucketed = AsOfJoin.backwardMergeBucketed(clicks, purchases,
          "user_id", "pu", "ts", "pt", Seq("pe", "pv"), bucket)
        .orderBy("event_id").collect().map(_.toSeq).toSeq
      assert(bucketed == direct, s"backward diverged at width $widthUs µs")
    }
  }

  test("bucketed carry-in: a left bucket with no in-bucket right rows still matches") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:05"), "early"),  // bucket of 10:00, right row in 09:5x bucket
      (1L, ts("2024-01-01 12:00:05"), "late"))   // two empty buckets back to 09:5x
      .toDF("k", "t", "tag")
    val right = Seq((1L, ts("2024-01-01 09:59:00"), 42.0)).toDF("rk", "rt", "rv")
    val bucket = (c: org.apache.spark.sql.Column) =>
      floor(unix_micros(c) / (60L * 1000000L)) // 1-minute buckets
    val out = AsOfJoin.backwardMergeBucketed(left, right,
        "k", "rk", "t", "rt", Seq("rv"), bucket)
      .orderBy("tag").collect()
    assert(out.forall(_.getAs[Double]("rv") == 42.0))
  }

  test("bucketed as-of plans a bucket-sharded exchange (skew contract)") {
    val ev = graft.Tables.load(spark, sf001, "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"ts".as("pt"), $"event_id".as("pe"))
    val bucket = (c: org.apache.spark.sql.Column) =>
      floor(unix_micros(c) / (3600L * 1000000L))
    val plan = AsOfJoin.backwardMergeBucketed(clicks, purchases,
        "user_id", "pu", "ts", "pt", Seq("pe"), bucket)
      .queryExecution.executedPlan.toString
    // The final merge's exchanges must cluster on BOTH the key and the
    // bucket column — that composite is what breaks up a hot key.
    assert(plan.contains("AsOfJoin"), s"custom exec missing:\n${plan.take(1500)}")
    assert("hashpartitioning\\(user_id#\\d+L?, _graft_asof_lb".r
        .findFirstIn(plan).isDefined,
      s"left exchange not sharded by (key, bucket):\n${plan.take(3000)}")
  }
}
