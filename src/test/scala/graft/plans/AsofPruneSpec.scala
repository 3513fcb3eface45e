package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[AsofPrune]] — column pruning and left-filter pushdown through the
  * native ASOF node must reach the parquet scans (narrow `ReadSchema`,
  * populated `PushedFilters`) AND be answer-preserving against the
  * unpruned plan on the same data. */
class AsofPruneSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = {
    val d = Files.createTempDirectory("asof_prune").toString
    val rnd = new scala.util.Random(7)
    List.tabulate(400)(i =>
      (i % 9, (rnd.nextInt(5000) * 2 + 1).toLong, 1000 + i,
        s"extraL$i", i * 1.5))
      .toDF("k", "us", "lid", "l_unused", "l_also_unused")
      .select(col("k"), timestamp_micros(col("us")).as("t"), col("lid"),
        col("l_unused"), col("l_also_unused"))
      .write.parquet(s"$d/left")
    List.tabulate(500)(i => (i % 9, (rnd.nextInt(5000) * 2).toLong,
        2000 + i, s"extraR$i", i.toLong))
      .groupBy(t => (t._1, t._2)).map(_._2.head).toList
      .toDF("k", "us", "rid", "r_unused", "r_also_unused")
      .select(col("k"), timestamp_micros(col("us")).as("t"), col("rid"),
        col("r_unused"), col("r_also_unused"))
      .write.parquet(s"$d/right")
    d
  }

  /** Run `body` with [[AsofPrune]] excluded from the optimizer: the
    * rule-off side of every differential below. A frame is planned once,
    * so each side must build its own (`def`, not `val`). */
  private def withoutPrune[T](body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, AsofPrune.ruleName)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def query = AsofJoin.join(
      spark.read.parquet(s"$dir/left"), spark.read.parquet(s"$dir/right"),
      "k", "t", Seq("rid", "r_unused"))
    .filter(col("lid") < 1300)
    .select(col("lid"), col("rid"))

  test("scan ReadSchema is pruned and the left filter is pushed") {
    val physical = query.queryExecution.executedPlan.toString
    assert(!physical.contains("l_unused"),
      s"left scan kept an unused column:\n$physical")
    assert(!physical.contains("r_unused"),
      s"right scan kept an unused payload column:\n$physical")
    assert(physical.contains("LessThan(lid,1300)"),
      s"left predicate not pushed to the scan:\n$physical")
    // the node itself must still be planned natively
    assert(physical.contains("AsofJoin"), physical)
  }

  test("pruned plan equals the rule-free plan row for row") {
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    val pruned = collectPairs(query)
    val bare = withoutPrune(collectPairs(query))
    assert(pruned == bare)
    // the rule really was off on the bare side: the right scan kept the
    // unused payload column
    assert(withoutPrune(query.queryExecution.executedPlan.toString)
      .contains("r_unused"))
    assert(pruned.nonEmpty && pruned.values.exists(_.isDefined))
  }

  test("payload-referencing and non-deterministic conjuncts stay above") {
    val df = AsofJoin.join(
        spark.read.parquet(s"$dir/left"), spark.read.parquet(s"$dir/right"),
        "k", "t", Seq("rid"))
      .filter(col("rid") > 2100 && col("lid") < 1350)
      .select(col("lid"), col("rid"))
    val physical = df.queryExecution.executedPlan.toString
    // the left-only conjunct reaches the scan; the payload one must NOT
    // (pre-join filtering of right rows would change who matches)
    assert(physical.contains("LessThan(lid,1350)"), physical)
    assert(!physical.contains("GreaterThan(rid,2100)"),
      s"payload predicate was pushed into a scan:\n$physical")
    // and the answer agrees with the composed tier-(a) form
    val composed = graft.operators.TemporalJoins.asof(
        spark.read.parquet(s"$dir/left"), spark.read.parquet(s"$dir/right"),
        "k", "t", Seq("rid"))
      .filter(col("rid") > 2100 && col("lid") < 1350)
      .select(col("lid"), col("rid"))
    assert(df.collect().map(_.toSeq).toSet ==
      composed.collect().map(_.toSeq).toSet)
  }

  test("key-only conjuncts mirror to the ASOF right side (both scans filter)") {
    def df = AsofJoin.join(
        spark.read.parquet(s"$dir/left"), spark.read.parquet(s"$dir/right"),
        "k", "t", Seq("rid"))
      .filter(col("k") < 5 && col("lid") < 1300)
      .select(col("k"), col("lid"), col("rid"))
    val physical = df.queryExecution.executedPlan.toString
    // the key predicate must reach BOTH parquet scans; the lid one only
    // the left — right rows of failing keys match only dropped lefts
    assert("LessThan\\(k,5\\)".r.findAllIn(physical).size >= 2,
      s"key predicate not mirrored to the right scan:\n$physical")
    assert("LessThan\\(lid,1300\\)".r.findAllIn(physical).size == 1, physical)
    assert(physical.contains("AsofJoin"), physical)
    // rule-off differential: mirroring must not change the answer
    val withRule = df.collect().map(_.toSeq).toSet
    assert(withoutPrune(df.collect()).map(_.toSeq).toSet == withRule)
    assert(withRule.nonEmpty)
  }

  test("overlap node: key-only conjuncts reach the OPPOSITE side's scan") {
    def df = OverlapJoin.join(
        spark.read.parquet(s"$dir/left")
          .selectExpr("k", "cast(lid as long) as s0",
            "cast(lid as long) + 50 as e0", "lid"),
        spark.read.parquet(s"$dir/right")
          .selectExpr("k", "cast(rid as long) - 1000 as rs0",
            "cast(rid as long) - 950 as re0", "rid"),
        "k", "s0", "e0", "rs0", "re0", Seq("rid"))
      .filter(col("k") =!= 2)
      .select(col("k"), col("lid"), col("rid"))
    val physical = df.queryExecution.executedPlan.toString
    // the left-side key conjunct must appear on BOTH scans (an inner
    // join: a failing key on either side can produce no pair)
    assert("Not\\(EqualTo\\(k,2\\)\\)".r.findAllIn(physical).size >= 2,
      s"key predicate not mirrored across the overlap join:\n$physical")
    val withRule = df.collect().map(_.toSeq).toSet
    assert(withoutPrune(df.collect()).map(_.toSeq).toSet == withRule)
    assert(withRule.nonEmpty)
  }

  test("overlap node: both-side pushdown and pruning reach the scans") {
    def df = OverlapJoin.join(
        spark.read.parquet(s"$dir/left")
          .selectExpr("k", "cast(lid as long) as s0",
            "cast(lid as long) + 50 as e0", "lid", "l_unused"),
        spark.read.parquet(s"$dir/right")
          .selectExpr("k", "cast(rid as long) as rs0",
            "cast(rid as long) + 50 as re0", "rid", "r_unused"),
        "k", "s0", "e0", "rs0", "re0", Seq("rid", "r_unused"))
      .filter(col("lid") < 1100 && col("rid") > 2050)
      .select(col("lid"), col("rid"))
    val physical = df.queryExecution.executedPlan.toString
    // an INNER join: both one-sided conjuncts reach their scans
    assert(physical.contains("LessThan(lid,1100)"), physical)
    assert(physical.contains("GreaterThan(rid,2050)"), physical)
    assert(!physical.contains("l_unused") && !physical.contains("r_unused"),
      s"unused columns kept:\n$physical")
    assert(physical.contains("OverlapJoin"), physical)
    // and the same query with the rule off agrees row for row
    val withRule = df.collect().map(_.toSeq).toSet
    assert(withoutPrune(df.collect()).map(_.toSeq).toSet == withRule)
  }

  test("randomized differential: any filter/projection mix, rule == no rule") {
    import org.apache.spark.sql.Column
    val rnd = new scala.util.Random(19)
    val preds: Seq[Column] = Seq(col("lid") < 1200, col("k") =!= 3,
      col("rid") > 2050, col("l_also_unused") > 90.0, col("rid").isNull,
      col("lid") % 2 === 0)
    val projs: Seq[Seq[Column]] = Seq(
      Seq(col("lid"), col("rid")), Seq(col("lid")),
      Seq(col("rid"), col("l_unused")),
      Seq(col("k"), col("lid"), col("rid"), col("r_unused")))
    for (trial <- 1 to 8) {
      val pred = preds(rnd.nextInt(preds.length)) &&
        preds(rnd.nextInt(preds.length))
      val proj = projs(rnd.nextInt(projs.length))
      def q = AsofJoin.join(
          spark.read.parquet(s"$dir/left"),
          spark.read.parquet(s"$dir/right"),
          "k", "t", Seq("rid", "r_unused"))
        .filter(pred).select(proj: _*)
      val withRule = q.collect().map(_.toSeq).toSeq
        .sortBy(_.mkString("|"))
      val bare = withoutPrune(q.collect()).map(_.toSeq).toSeq
        .sortBy(_.mkString("|"))
      assert(withRule == bare, s"trial $trial: pred=$pred proj=$proj")
    }
  }
}
