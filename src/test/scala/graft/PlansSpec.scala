package graft

import org.apache.spark.sql.DataFrame

/** RangeJoinBinning optimizer rule: semantics preserved, strategy changed
  * (hash join on the bin instead of a nested-loop over all pairs).
  */
class PlansSpec extends SparkSpec {
  import spark.implicits._

  // drives the session's injected RangeJoinBinning through its conf alone
  private def withRule[T](width: Long)(f: => T): T = {
    spark.conf.set("spark.graft.rangeJoin.binWidth", width.toString)
    try f finally spark.conf.unset("spark.graft.rangeJoin.binWidth")
  }

  // negative bounds, bin-straddling intervals, an empty [5,5) interval,
  // and an empty [7,7) interval whose adjusted hi-bin falls BELOW its
  // lo-bin at width 7 (the Sequence(1,0) guard case)
  private def intervals = Seq(
    (1L, 0L, 10L), (2L, -25L, -3L), (3L, 50L, 51L), (4L, 5L, 5L), (5L, 7L, 7L)
  ).toDF("iid", "lo", "hi")
  private def points = Seq(
    (100L, -25L), (101L, -4L), (102L, 0L), (103L, 5L), (104L, 9L),
    (105L, 10L), (106L, 50L), (107L, 77L), (108L, -3L)
  ).toDF("pid", "ts")

  private def rangeJoin: DataFrame =
    intervals.join(points, $"ts" >= $"lo" && $"ts" < $"hi").select("iid", "pid")

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("rewrite returns exactly the naive join's rows (incl. negatives and empty intervals)") {
    val expect = rows(rangeJoin) // rule not installed
    assert(expect.contains((1L, 102L)) && expect.contains((2L, 100L)))
    Seq(1L, 3L, 7L, 100L).foreach { w =>
      assert(withRule(w) { rows(rangeJoin) } == expect, s"width $w")
    }
  }

  test("all four bound-strictness combinations match the naive join") {
    def q(c: org.apache.spark.sql.Column) =
      rows(intervals.join(points, c).select("iid", "pid"))
    Seq[org.apache.spark.sql.Column](
      $"ts" >= $"lo" && $"ts" < $"hi",
      $"ts" > $"lo" && $"ts" <= $"hi",
      $"lo" <= $"ts" && $"hi" > $"ts",
      $"ts" > $"lo" && $"ts" < $"hi").foreach { c =>
      val expect = q(c)
      assert(withRule(7) { q(c) } == expect, c.toString)
    }
  }

  test("rule swaps the nested-loop join for a hash join on the bin") {
    def execPlan(run: Boolean): String = {
      val df = rangeJoin
      if (run) df.collect()
      df.queryExecution.executedPlan.toString
    }
    val naive = execPlan(run = false)
    assert(naive.contains("BroadcastNestedLoopJoin"), naive)
    val binned = withRule(7) { execPlan(run = true) }
    assert(!binned.contains("BroadcastNestedLoopJoin"), binned)
    assert(binned.contains("Generate explode"), binned)
  }

  test("rule leaves equi-keyed, non-integral, and non-inner range joins alone") {
    def planOf(df: DataFrame): String =
      withRule(7) { df.queryExecution.optimizedPlan.toString }
    // left join → untouched
    val outer = intervals.join(points, $"ts" >= $"lo" && $"ts" < $"hi", "left")
    // double-typed point → untouched
    val dbl = intervals.join(points.select($"pid", $"ts".cast("double").as("ts")),
      $"ts" >= $"lo" && $"ts" < $"hi")
    Seq(outer, dbl).foreach(df => assert(!planOf(df).contains("__graft_bin"), df.toString))
    // results still correct for the untouched shape (null pid = unmatched)
    def outerRows(df: DataFrame): Set[(Long, Option[Long])] =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(withRule(7) { outerRows(outer.select("iid", "pid")) } ==
      outerRows(intervals.join(points, $"ts" >= $"lo" && $"ts" < $"hi", "left")
        .select("iid", "pid")))
  }

  test("property: random intervals/points match the naive join at several widths") {
    val rnd = new scala.util.Random(11)
    val iv = Seq.tabulate(60) { i =>
      val lo = rnd.nextInt(400) - 200L
      (i.toLong, lo, lo + rnd.nextInt(60).toLong)
    }.toDF("iid", "lo", "hi")
    val pt = Seq.tabulate(300)(i => (i.toLong, rnd.nextInt(500) - 250L)).toDF("pid", "ts")
    def q = iv.join(pt, $"ts" >= $"lo" && $"ts" < $"hi").select("iid", "pid")
    val expect = rows(q)
    assert(expect.nonEmpty)
    Seq(1L, 13L, 64L).foreach { w =>
      assert(withRule(w) { rows(q) } == expect, s"width $w")
    }
  }
}
