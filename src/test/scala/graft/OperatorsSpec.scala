package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Unit specs for the core reference operators (SURVEY.md §5.2):
  * T3 lag semantics, J4 tolerance boundary at the reference's real
  * 20 days, T6/T7 corner cases, T11-T13 sentiment contract, A4
  * precedence incl. the N3 empty-string ordering, validator aggregates,
  * calendar invariants.
  */
class PctChangeSpec extends SparkSpec {
  import spark.implicits._

  test("every registered query has an oracle: queries.keySet == oracleSql.keySet") {
    // The driver hashes ONLY queries with an oracle row; a query key
    // without one silently downgrades to an unchecked run (round 11's
    // dedup_semantic). Drift in either direction must fail loudly.
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o, s"queries without oracle: ${(q -- o).toSeq.sorted.mkString(", ")}; " +
      s"oracles without query: ${(o -- q).toSeq.sorted.mkString(", ")}")
    // A repeated name in the registry would silently drop one definition
    // from both maps; every registered name must be distinct.
    val names = SparkEntry.registry.map(_.name)
    val repeated = names.diff(names.distinct).distinct.sorted
    assert(repeated.isEmpty, s"repeated query names: ${repeated.mkString(", ")}")
    assert(SparkEntry.queries.size == SparkEntry.registry.size)
  }

  test("T3: first row per key has null pct_change; later rows match the algebra") {
    val df = Seq(("a", 1, 100.0), ("a", 2, 110.0), ("a", 3, 99.0), ("b", 1, 50.0))
      .toDF("k", "t", "close")
    val out = PctChange.withPctChange(df, Seq("k"), Seq(col("t")), "close")
      .orderBy("k", "t").collect()
    assert(out(0).isNullAt(3))                       // a@1: no previous row
    assert(out(1).getDouble(3) == 10.0)              // 100 -> 110
    assert(out(2).getDouble(3) == -10.0)             // 110 -> 99
    assert(out(3).isNullAt(3))                       // b@1: per-key window
  }

  test("T3/N6: range filter AFTER the window keeps the buffer semantics") {
    val df = Seq(("a", 1, 100.0), ("a", 2, 110.0)).toDF("k", "t", "close")
    val out = PctChange.withPctChange(df, Seq("k"), Seq(col("t")), "close")
      .filter(col("t") >= 2).collect()
    assert(out.length == 1 && out(0).getDouble(3) == 10.0) // t=1 buffered the lag
  }
}

class AsOfSpec extends SparkSpec {
  import spark.implicits._

  private def fact(rows: (Int, String, Double)*) =
    rows.toDF("k", "d", "v").select(col("k"), to_date(col("d")).as("d"), col("v"))

  test("J4: 19- and 20-day distances match at tolerance 20; 21 does not") {
    def run(prevDate: String) =
      AsOf.yoyAsOf(fact((1, "2024-06-15", 200.0), (1, prevDate, 100.0)),
        "k", "d", "v", offsetMonths = 12, toleranceDays = 20).collect()
    assert(run("2023-07-04").length == 1)  // |target 2023-06-15 - d| = 19
    assert(run("2023-07-05").length == 1)  // 20 — boundary inclusive (market.py:124)
    assert(run("2023-07-06").isEmpty)      // 21 — rejected
  }

  test("J4/N4: zero previous value is rejected; abs(prev) denominator keeps direction") {
    val zero = AsOf.yoyAsOf(fact((1, "2024-06-15", 200.0), (1, "2023-06-15", 0.0)),
      "k", "d", "v", 12, 20)
    assert(zero.collect().isEmpty)         // market.py:130-132
    val neg = AsOf.yoyAsOf(fact((1, "2024-06-15", -50.0), (1, "2023-06-15", -100.0)),
      "k", "d", "v", 12, 20).collect()(0)
    assert(neg.getAs[Double]("yoy_pct") == 50.0) // (-50 - -100)/abs(-100) = +50%
  }

  test("J4/A9: ties on date distance break to the LATER date (argmin on desc order)") {
    val out = AsOf.yoyAsOf(
      fact((1, "2024-06-15", 200.0), (1, "2023-06-10", 100.0), (1, "2023-06-20", 150.0)),
      "k", "d", "v", 12, 20).collect()(0)  // both 5 days from 2023-06-15
    assert(out.getAs[java.sql.Date]("prev_time").toString == "2023-06-20")
  }

  /** The self-join form `yoyAsOf` had before it became two windows over
    * one partitioning — kept as the reference the rewrite must match.
    */
  private def yoyAsOfSelfJoin(fact: org.apache.spark.sql.DataFrame,
      keyCol: String, timeCol: String, valueCol: String,
      offsetMonths: Int, toleranceDays: Int, tiebreakCol: String) = {
    import org.apache.spark.sql.expressions.Window
    val tb = if (tiebreakCol.nonEmpty) Seq(col("tb")) else Nil
    val nonNull = fact.filter(col(valueCol).isNotNull).select((Seq(
      col(keyCol).as("k"), to_date(col(timeCol)).as("t"), col(valueCol).as("v")) ++
      (if (tiebreakCol.nonEmpty) Seq(col(tiebreakCol).as("tb")) else Nil)): _*)
    val latest = nonNull
      .withColumn("__rn", row_number().over(Window.partitionBy(col("k"))
        .orderBy((col("t").desc +: tb.map(_.desc)): _*)))
      .filter(col("__rn") === 1)
      .select(col("k"), col("t").as("cur_time"), col("v").as("cur_value"))
    latest.join(nonNull, Seq("k"))
      .withColumn("__dd",
        abs(datediff(col("t"), add_months(col("cur_time"), -offsetMonths))))
      .filter(col("__dd") <= toleranceDays)
      .withColumn("__rn", row_number().over(Window.partitionBy(col("k"))
        .orderBy((col("__dd").asc +: col("t").desc +: tb.map(_.desc)): _*)))
      .filter(col("__rn") === 1 && col("v") =!= 0)
      .select(col("k").as(keyCol), col("cur_time"), col("cur_value"),
        col("t").as("prev_time"), col("v").as("prev_value"),
        round((col("cur_value") - col("v")) / abs(col("v")) * 100, 2).as("yoy_pct"))
  }

  test("J4: the two-window yoyAsOf returns the self-join form's rows on random inputs") {
    for (seed <- 1 to 4) {
      val rng = new scala.util.Random(seed)
      def maybe[T](p: Double, v: => T): Option[T] =
        if (rng.nextDouble() < p) None else Some(v)
      // few keys and a narrow date range: ties on date, several candidates
      // per key within tolerance, and latest rows decided by the tiebreak
      val base = java.time.LocalDate.parse("2022-01-01")
      val rows = (1 to 400).map { id =>
        (maybe(0.05, rng.nextInt(12).toLong),
          maybe(0.05, java.sql.Date.valueOf(base.plusDays(rng.nextInt(60) * 13L))),
          maybe(0.1, if (rng.nextDouble() < 0.1) 0.0 else (rng.nextInt(2000) - 500).toDouble),
          id.toLong)
      }
      val fact = rows.toDF("k", "d", "v", "id")
      // without a tiebreak the forms agree wherever the pick is unique:
      // one row per (k, d), fixed once and fed to both forms
      val unique = spark.createDataFrame(
        java.util.Arrays.asList(fact.dropDuplicates("k", "d").collect(): _*), fact.schema)
      def norm(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      for (tol <- Seq(20, 120)) {
        val got = norm(AsOf.yoyAsOf(fact, "k", "d", "v", 12, tol, "id"))
        val want = norm(yoyAsOfSelfJoin(fact, "k", "d", "v", 12, tol, "id"))
        assert(want.nonEmpty, s"seed $seed tol $tol: no matches, the case is vacuous")
        assert(got == want, s"seed $seed tol $tol")
        assert(norm(AsOf.yoyAsOf(unique, "k", "d", "v", 12, tol)) ==
          norm(yoyAsOfSelfJoin(unique, "k", "d", "v", 12, tol, "")), s"seed $seed tol $tol")
      }
      // the random inputs reach every case the rewrite argues about
      assert(rows.exists(_._1.isEmpty) && rows.exists(_._2.isEmpty) &&
        rows.exists(_._3.isEmpty) && rows.exists(_._3.contains(0.0)))
    }
  }

  private def tsDf(name: String, rows: (Long, String, Double)*) =
    rows.toDF("k", "t", name)
      .select(col("k"), to_timestamp(col("t")).as("t"), col(name))

  test("native asOfJoin: latest right <= left time within tolerance; else nulls") {
    val left = tsDf("lv",
      (1L, "2024-01-10 00:00:00", 1.0),
      (1L, "2024-01-20 00:00:00", 2.0),
      (2L, "2024-01-10 00:00:00", 3.0),   // key with no right rows
      (3L, "2024-01-10 00:00:00", 4.0))   // match beyond tolerance
    val right = tsDf("rv",
      (1L, "2024-01-08 00:00:00", 10.0),
      (1L, "2024-01-15 00:00:00", 20.0),  // latest for left@20th, not left@10th
      (1L, "2024-02-01 00:00:00", 30.0),  // future: never matches
      (3L, "2023-12-01 00:00:00", 40.0))  // 40 days before left@10th
      .withColumnRenamed("k", "rk").withColumnRenamed("t", "rt")
    val out = AsOf.asOfJoin(left, right, "k", "rk", "t", "rt",
        java.time.Duration.ofDays(7))
      .select(col("k"), col("t"), col("lv"), col("rv"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString.take(10),
        r.getDouble(2), Option(r.get(3)))).toSet
    assert(out == Set(
      (1L, "2024-01-10", 1.0, Some(10.0)),
      (1L, "2024-01-20", 2.0, Some(20.0)),
      (2L, "2024-01-10", 3.0, None),
      (3L, "2024-01-10", 4.0, None)))     // 40-day gap > 7-day tolerance
  }

  test("native asOfJoin handles string keys on both physical paths") {
    val left = Seq(
      ("aa", "2024-01-10 00:00:00", 1.0),
      ("b", "2024-01-10 00:00:00", 2.0),
      ("c", "2024-01-10 00:00:00", 3.0))
      .toDF("k", "t", "lv")
      .select(col("k"), to_timestamp(col("t")).as("t"), col("lv"))
    val right = Seq(
      ("aa", "2024-01-09 00:00:00", 10.0),
      ("b", "2024-01-01 00:00:00", 20.0),  // 9 days back: outside 7-day tolerance
      ("cc", "2024-01-09 00:00:00", 30.0)) // key with no left rows
      .toDF("rk", "rt", "rv")
      .select(col("rk"), to_timestamp(col("rt")).as("rt"), col("rv"))
    // default threshold -> broadcast (UTF8String map keys); -1 -> merge
    // walk (interpreted string ordering)
    for (threshold <- Seq("10MB", "-1")) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      try {
        val out = AsOf.asOfJoin(left, right, "k", "rk", "t", "rt",
            java.time.Duration.ofDays(7))
          .collect().map(r => r.getString(0) -> Option(r.get(5))).toMap
        assert(out == Map("aa" -> Some(10.0), "b" -> None, "c" -> None),
          s"threshold $threshold")
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("left-side filters push through AsOfJoin down to the parquet scan") {
    val left = Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d_ts"))
      .agg(sum(col("value")).as("close"))
    val right = Tables.orders(spark, "/root/testdata/sf0.001")
      .groupBy(col("o_custkey").as("o_key"),
        col("o_orderdate").cast("timestamp").as("o_ts"))
      .agg(sum(col("o_totalprice")).as("o_total"))
    val joined = AsOf.asOfJoin(left, right, "user_id", "o_key", "d_ts", "o_ts",
        java.time.Duration.ofDays(30))
      .filter(col("user_id") < 5)
    val p = joined.queryExecution.executedPlan.toString
    // the rule moves user_id < 5 below the join; aggregate + scan
    // pushdown then carry it into the events parquet scan
    assert(p.contains("LessThan(user_id,5)"), s"filter not pushed to scan:\n$p")
    // and semantics are unchanged vs filtering the result
    val direct = AsOf.asOfJoin(left.filter(col("user_id") < 5), right,
      "user_id", "o_key", "d_ts", "o_ts", java.time.Duration.ofDays(30))
    assert(joined.collect().toSet == direct.collect().toSet)
  }

  test("native asOfJoin directions: forward picks the next row, nearest ties to the later") {
    val left = tsDf("lv",
      (1L, "2024-01-10 00:00:00", 1.0),   // back 2d (Jan 8) vs fwd 5d (Jan 15)
      (2L, "2024-01-10 00:00:00", 2.0),   // back 4d vs fwd 4d: exact tie
      (3L, "2024-01-10 00:00:00", 3.0),   // back out of tolerance, fwd in
      (4L, "2024-01-10 00:00:00", 4.0))   // only a backward candidate
    val right = tsDf("rv",
      (1L, "2024-01-08 00:00:00", 10.0),
      (1L, "2024-01-15 00:00:00", 11.0),
      (2L, "2024-01-06 00:00:00", 20.0),
      (2L, "2024-01-14 00:00:00", 21.0),
      (3L, "2023-12-01 00:00:00", 30.0),
      (3L, "2024-01-12 00:00:00", 31.0),
      (4L, "2024-01-09 00:00:00", 40.0))
      .withColumnRenamed("k", "rk").withColumnRenamed("t", "rt")
    def run(dir: String) = AsOf.asOfJoin(left, right, "k", "rk", "t", "rt",
        java.time.Duration.ofDays(7), dir)
      .collect().map(r => r.getLong(0) -> Option(r.get(5))).toMap
    assert(run("backward") == Map(1L -> Some(10.0), 2L -> Some(20.0),
      3L -> None, 4L -> Some(40.0)))
    assert(run("forward") == Map(1L -> Some(11.0), 2L -> Some(21.0),
      3L -> Some(31.0), 4L -> None))
    assert(run("nearest") == Map(
      1L -> Some(10.0),   // 2 days back beats 5 forward
      2L -> Some(21.0),   // 4 == 4: tie goes to the LATER row (J4 argmin)
      3L -> Some(31.0),   // backward out of tolerance
      4L -> Some(40.0)))  // only candidate
    intercept[IllegalArgumentException] {
      AsOf.asOfJoin(left, right, "k", "rk", "t", "rt",
        java.time.Duration.ofDays(7), "sideways")
    }
  }

  test("native asOfJoin self-join: right side re-aliased, columns bind to the correct side") {
    val df = tsDf("v",
      (1L, "2024-01-10 00:00:00", 1.0),
      (1L, "2024-01-20 00:00:00", 2.0))
    // right derived from the SAME DataFrame => identical exprIds going in
    val right = df.filter(col("t") < to_timestamp(lit("2024-01-15 00:00:00")))
    val out = AsOf.asOfJoin(df, right, "k", "k", "t", "t",
        java.time.Duration.ofDays(7))
      .collect().map(r => (r.getTimestamp(1).toString.take(10), Option(r.get(5))))
      .toSet
    // left@10th matches itself (Jan 10 is in the filtered right side);
    // left@20th has only Jan 10 available, 10 days back > 7-day tolerance
    assert(out == Set(("2024-01-10", Some(1.0)), ("2024-01-20", None)))
  }

  test("native asOfJoin drops null-key/null-time rows instead of crashing the merge") {
    val left = Seq(
      (Option(1L), Option("2024-01-10 00:00:00"), 1.0),
      (None: Option[Long], Option("2024-01-10 00:00:00"), 2.0),  // null key
      (Option(3L), None: Option[String], 3.0))                   // null time
      .toDF("k", "ts", "lv")
      .select(col("k"), to_timestamp(col("ts")).as("t"), col("lv"))
    val right = Seq(
      (Option(1L), Option("2024-01-09 00:00:00"), 10.0),
      (None: Option[Long], Option("2024-01-09 00:00:00"), 20.0))
      .toDF("rk", "rts", "rv")
      .select(col("rk"), to_timestamp(col("rts")).as("rt"), col("rv"))
    val out = AsOf.asOfJoin(left, right, "k", "rk", "t", "rt",
        java.time.Duration.ofDays(7))
      .collect().map(r => (r.getLong(0), Option(r.get(5)))).toSet
    assert(out == Set((1L, Some(10.0)))) // contract-violating rows filtered, no NPE
  }

  test("AsOfJoin reports sum-not-product size stats (planners above it can still broadcast)") {
    val left = tsDf("lv", (1L, "2024-01-10 00:00:00", 1.0))
    val right = tsDf("rv", (1L, "2024-01-08 00:00:00", 10.0))
      .withColumnRenamed("k", "rk").withColumnRenamed("t", "rt")
    val plan = AsOf.asOfJoin(left, right, "k", "rk", "t", "rt",
        java.time.Duration.ofDays(7))
      .queryExecution.optimizedPlan
    val node = plan.collectFirst { case a: graft.plans.AsOfJoin => a }.get
    val (l, r) = (node.left.stats.sizeInBytes, node.right.stats.sizeInBytes)
    assert(node.stats.sizeInBytes == (l + r).max(1)) // default visitor would say l * r
  }

  test("merge path (broadcast disabled) plans sorted co-partitioned children") {
    val left = tsDf("lv", (1L, "2024-01-10 00:00:00", 1.0))
    val right = tsDf("rv", (1L, "2024-01-08 00:00:00", 10.0))
      .withColumnRenamed("k", "rk").withColumnRenamed("t", "rt")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = AsOf.asOfJoin(left, right, "k", "rk", "t", "rt",
        java.time.Duration.ofDays(7)).queryExecution.executedPlan.toString
      // SparkPlan.nodeName strips the Exec suffix in plan strings
      assert(p.contains("AsOfJoin") && !p.contains("BroadcastAsOfJoin"))
      assert(p.contains("Sort") && p.contains("Exchange hashpartitioning"))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("small right side picks BroadcastAsOfJoinExec: the left never shuffles") {
    val left = tsDf("lv", (1L, "2024-01-10 00:00:00", 1.0))
    val right = tsDf("rv", (1L, "2024-01-08 00:00:00", 10.0))
      .withColumnRenamed("k", "rk").withColumnRenamed("t", "rt")
    val p = AsOf.asOfJoin(left, right, "k", "rk", "t", "rt",
      java.time.Duration.ofDays(7)).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastAsOfJoin"))
    assert(!p.contains("Exchange hashpartitioning"), s"left side shuffled:\n$p")
  }

  test("broadcast and merge paths agree for every direction") {
    val left = tsDf("lv",
      (1L, "2024-01-10 00:00:00", 1.0), (2L, "2024-01-10 00:00:00", 2.0),
      (3L, "2024-01-10 00:00:00", 3.0), (4L, "2024-01-10 00:00:00", 4.0))
    val right = tsDf("rv",
      (1L, "2024-01-08 00:00:00", 10.0), (1L, "2024-01-15 00:00:00", 11.0),
      (2L, "2024-01-06 00:00:00", 20.0), (2L, "2024-01-14 00:00:00", 21.0),
      (3L, "2023-12-01 00:00:00", 30.0), (3L, "2024-01-12 00:00:00", 31.0),
      (4L, "2024-01-09 00:00:00", 40.0))
      .withColumnRenamed("k", "rk").withColumnRenamed("t", "rt")
    for (dir <- Seq("backward", "forward", "nearest")) {
      val broadcast = AsOf.asOfJoin(left, right, "k", "rk", "t", "rt",
        java.time.Duration.ofDays(7), dir).collect().map(_.toSeq).toSet
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val merge = try AsOf.asOfJoin(left, right, "k", "rk", "t", "rt",
          java.time.Duration.ofDays(7), dir).collect().map(_.toSeq).toSet
        finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      assert(broadcast == merge, s"direction $dir diverges")
    }
  }
}

class SessionsSpec extends SparkSpec {
  import spark.implicits._

  private def ev(k: String, t: String, id: Long) =
    (k, java.sql.Timestamp.valueOf(t), id)

  test("gap boundary: exactly 30 min stays in-session; one microsecond more splits") {
    val df = Seq(
      ev("a", "2024-01-01 10:00:00", 1),
      ev("a", "2024-01-01 10:30:00", 2),          // gap == 1800s: same session
      ev("a", "2024-01-01 11:00:00.000001", 3),   // gap 1800s + 1µs: new session
      ev("b", "2024-01-01 10:00:00", 4))          // keys never share sessions
      .toDF("k", "ts", "event_id")
    val ids = Sessions.assignIds(df, "k", "ts", Seq("event_id"), 1800)
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(ids == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L))
  }

  test("aggregate: per-session counts, bounds, and exact µs duration") {
    val df = Seq(
      ev("a", "2024-01-01 10:00:00", 1),
      ev("a", "2024-01-01 10:10:00", 2),
      ev("a", "2024-01-01 12:00:00", 3))
      .toDF("k", "ts", "event_id")
    val out = Sessions.aggregate(df, "k", "ts", Seq("event_id"), 1800)
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), r.getTimestamp(3).toString.substring(11, 16),
          r.getLong(5)))).toMap
    assert(out == Map(
      0L -> ((2L, "10:00", 600L * 1000000)),
      1L -> ((1L, "12:00", 0L))))
  }
}

class FuzzySpec extends SparkSpec {
  import spark.implicits._

  private val names = Seq(
    ("cold anvil", 30L), ("old anvil", 30L), ("red anvil", 31L),
    ("blue anvil", 26L), ("red bear", 7L))
    .toDF("name", "n_parts")

  test("linkage finds within-block pairs up to maxDist, each once, name_a < name_b") {
    val out = Fuzzy.linkage(names, "name", Seq("n_parts"), maxDist = 3)
      .collect().map(r => (r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(out(("cold anvil", "old anvil")) == 1L)   // one deletion
    assert(out(("old anvil", "red anvil")) == 2L)
    assert(out(("blue anvil", "old anvil")) == 3L)
    assert(out.keys.forall { case (a, b) => a < b })          // canonical order
    assert(!out.keys.exists { case (a, b) => a == b })        // no self-pairs
  }

  test("blocking is recall-bounding by design: cross-block near-names never pair") {
    // "red anvil" vs "red bear": distance 4 > 3 anyway, but also different
    // blocks — and a hypothetical 1-edit final-token pair would be missed
    // too. The oracle blocks identically, so the miss is cross-engine.
    val out = Fuzzy.linkage(names, "name", Seq("n_parts"), maxDist = 3)
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(!out.exists { case (a, b) => a.endsWith("bear") || b.endsWith("bear") })
  }

  test("length prefilter and banded levenshtein are pure pruning vs the brute form") {
    val brute = names.as("a").join(names.as("b"),
        Fuzzy.lastTokenBlock(col("a.name")) === Fuzzy.lastTokenBlock(col("b.name")) &&
          col("a.name") < col("b.name"))
      .select(col("a.name"), col("b.name"),
        levenshtein(col("a.name"), col("b.name")).cast("long").as("d"))
      .filter(col("d") <= 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val linked = Fuzzy.linkage(names, "name", Seq("n_parts"), maxDist = 3)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(linked == brute)
  }

  test("payload columns ride along per side") {
    val row = Fuzzy.linkage(names, "name", Seq("n_parts"), maxDist = 3)
      .filter(col("name_a") === "cold anvil" && col("name_b") === "old anvil")
      .collect().head
    assert(row.getLong(4) == 30L && row.getLong(5) == 30L)
  }

  test("j6_fuzzy_recall: counts reconcile; misses are EXACTLY the cross-block pairs") {
    val r = SparkEntry.queries("j6_fuzzy_recall")(spark, "/root/testdata/sf0.001")
      .collect().head
    val (t, f, m, cb, pct) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(t == f + m, s"found + missed != truth: $r")
    // every miss is a final-token edit — i.e. the linkage plumbing
    // (length prefilter, banding, cap) loses nothing WITHIN a block
    assert(m == cb, s"in-block pair lost by the linkage plumbing: $r")
    assert(pct == f * 100 / t)
    // non-vacuous at sf0.001: both found and missed pairs exist
    assert(t > 0 && f > 0 && m > 0, s"vacuous recall slice: $r")
  }

  test("hot-block cap: a degenerate all-same-last-token block drops whole") {
    // the exact failure the cap exists for: every name shares the final
    // token (the "Ltd"/"Inc" family), so one block holds the whole
    // domain and the pair stage would be |domain|² in a single task
    val corp = (0 until 10).map(i => (s"name $i corp", 1L))
    val mixed = spark.createDataFrame(
      names.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ++ corp)
      .toDF("name", "n_parts")
    val capped = Fuzzy.linkage(mixed, "name", Seq("n_parts"),
      maxDist = 3, maxBlock = 5)
    // the 10-resident corp block exceeds the cap → contributes nothing
    assert(capped.filter(col("block") === "corp").count() == 0)
    // blocks under the cap are untouched: identical to the uncapped run
    val expect = Fuzzy.linkage(names, "name", Seq("n_parts"), maxDist = 3)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(capped.collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSet == expect)
    // a cap wide enough for everything = no cap at all
    assert(Fuzzy.linkage(mixed, "name", Seq("n_parts"), maxDist = 3,
      maxBlock = 100).filter(col("block") === "corp").count() > 0)
  }
}

class TextSpec extends SparkSpec {
  import spark.implicits._

  private def strip(s: String): String = {
    val df = Seq(s).toDF("n").select(Text.stripSuffix(col("n")))
    df.collect()(0).getString(0)
  }

  test("T6: trailing corporate suffixes strip; descriptors survive") {
    assert(strip("Bank of India Limited") == "Bank of India")
    assert(strip("Hindustan Zinc Ltd.") == "Hindustan Zinc")
    assert(strip("Acme, ltd") == "Acme")
    assert(strip("Mega CORPORATION") == "Mega")
    assert(strip("Tata Corp.  ") == "Tata")
    assert(strip("Jindal Industries") == "Jindal Industries") // not a legal suffix
  }

  private def rel(title: String, name: String, ticker: String = ""): Boolean = {
    val df = Seq(title).toDF("t")
      .select(Text.relevantTitle(col("t"), name, ticker).as("r"))
    df.collect()(0).getBoolean(0)
  }

  test("T7: standalone-phrase semantics (news_utils.py:40-79)") {
    // the canonical rejection: embedded inside a longer entity name
    assert(!rel("State Bank of India cuts rates", "Bank of India Limited"))
    assert(rel("Bank of India cuts rates", "Bank of India Limited"))
    // comma precedes => standalone
    assert(rel("Vedanta, BPCL, Hindustan Zinc among gainers", "Hindustan Zinc Ltd."))
    // ticker term
    assert(rel("BANKINDIA surges 5%", "Bank of India Limited", "BANKINDIA"))
    // no word boundary after a digit-run prefix glued on
    assert(!rel("state9bank of india", "Bank of India Limited"))
    // digit then space is a valid standalone position
    assert(rel("9 Bank of India branches shut", "Bank of India Limited"))
  }

  test("T7: the UDF twin agrees with the literal-phrase expression") {
    val cases = Seq(
      ("State Bank of India cuts rates", false),
      ("Bank of India cuts rates", true),
      ("rbi: bank of india fined", true),
      ("xbank of india", false))
    val df = cases.map(_._1).toDF("t").select(col("t"),
      Text.relevantTitle(col("t"), "Bank of India Limited", "BANKINDIA").as("expr"),
      Text.relevantTitleUdf(col("t"), lit("Bank of India Limited"), lit("BANKINDIA")).as("udf"))
    df.collect().zip(cases).foreach { case (r, (title, expected)) =>
      assert(r.getBoolean(1) == expected, s"expr mismatch: $title")
      assert(r.getBoolean(2) == expected, s"udf mismatch: $title")
    }
  }

  test("T9: blank titles filtered") {
    val df = Seq("real title", "   ", "").toDF("t")
    assert(df.filter(Text.nonEmptyTitle(col("t"))).count() == 1)
  }
}

class SentimentSpec extends SparkSpec {
  import spark.implicits._

  private def analyze(s: String) = {
    val r = Seq(s).toDF("h").select(Sentiment.analyze(col("h")).as("s"))
      .select("s.raw_label", "s.raw_score", "s.label", "s.score").collect()(0)
    (r.getString(0), r.getDouble(1), r.getString(2), r.getDouble(3))
  }

  test("T13: default headline and blanks short-circuit to Neutral/0.0") {
    assert(analyze("No major headline available") == (("neutral", 0.0, "Neutral", 0.0)))
    assert(analyze("   ") == (("neutral", 0.0, "Neutral", 0.0)))
  }

  test("T11/T12: label map and signed 4-dp normalization") {
    val (rl, rs, l, s) = analyze("fast fast slow gains")   // pos=2 neg=1
    assert(rl == "positive" && l == "Positive")
    assert(rs == 0.6667 && s == 0.6667)                     // round(2/3, 4), +sign
    val (rl2, _, l2, s2) = analyze("big big slow crash")    // neg=3 pos=0
    assert(rl2 == "negative" && l2 == "Negative" && s2 == -1.0)
    val (rl3, rs3, l3, s3) = analyze("fast slow tie")       // tie -> neutral
    assert(rl3 == "neutral" && rs3 == 0.5 && l3 == "Neutral" && s3 == 0.0)
    val (rl4, _, l4, s4) = analyze("no lexicon words here") // no hits
    assert(rl4 == "neutral" && l4 == "Neutral" && s4 == 0.0)
  }

  test("T11: unknown raw label canonicalizes to Neutral") {
    val out = Seq("mixed").toDF("x")
      .select(Sentiment.canonicalLabel(col("x"))).collect()(0).getString(0)
    assert(out == "Neutral")
  }

  test("M1 inference seam: batched mapPartitions path equals the expression scorer") {
    // covers every branch: default short-circuit, blank, null, positive,
    // negative, tie, no-hits — across batch boundaries (batchSize=2 over
    // 7 rows) so the live/short-circuit interleave is exercised
    val rows = Seq[(Long, String)](
      (0L, "No major headline available"),
      (1L, "   "),
      (2L, "fast fast slow gains"),
      (3L, "big big slow crash"),
      (4L, "fast slow tie"),
      (5L, "no lexicon words here"),
      (6L, "fast wins")
    ).toDF("doc_id", "headline")
      .withColumn("headline",
        when(col("doc_id") === 6L, lit(null: String)).otherwise(col("headline")))
    val expected = Sentiment.withAnalysis(rows, "headline", "s")
      .select(col("doc_id"), col("s.raw_label"), col("s.raw_score"),
        col("s.label"), col("s.score"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3), r.getDouble(4))).toSet
    val got = SentimentInference.withBatchedAnalysis(
        rows, "doc_id", "headline",
        () => new SentimentInference.LexiconModel(), batchSize = 2)
      .select(col("doc_id"), col("raw_label"), col("raw_score"),
        col("label"), col("score"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3), r.getDouble(4))).toSet
    assert(got == expected)
  }
}

class RecencySpec extends SparkSpec {
  import spark.implicits._

  test("T8: recency window is inclusive on both ends and parameterized") {
    val df = Seq("2024-01-05 00:00:00", "2024-01-05 23:59:59", "2024-01-08 00:00:00",
        "2024-01-04 23:59:59", "2024-01-08 00:00:01")
      .toDF("s").select(to_timestamp(col("s")).as("ts"))
    val out = Recency.recencyWindow(df, "ts", "2024-01-08 00:00:00", 72)
    assert(out.count() == 3)
  }

  test("A4/N8: source precedence preempts recency; N3 empty string sorts oldest") {
    val cands = Seq(
      (1L, "newsdata", "2024-01-07 10:00:00", 10L),        // most recent overall
      (1L, "google_ticker", "2024-01-05 10:00:00", 11L),   // weaker time, stronger source
      (1L, "google_ticker", "", 12L),                      // unknown time = oldest in source
      (2L, "newsdata_ticker", "2024-01-06 00:00:00", 20L),
      (2L, "other_source", "2024-01-07 00:00:00", 21L)     // not in precedence list
    ).toDF("k", "src", "pub", "id")
    val out = Recency.fallbackChain(cands, Seq("k"), "src",
        Seq("google", "google_ticker", "newsdata", "newsdata_ticker"),
        Seq(col("pub").desc, col("id").desc))
      .select("k", "src", "id").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == (("google_ticker", 11L))) // provider preempts; "" loses within source
    assert(out(2L) == (("newsdata_ticker", 20L))) // unlisted source ignored
  }
}

class HeadlineSelectionSpec extends SparkSpec {
  import spark.implicits._

  /** The 4-branch union of per-source scans `selectHeadlines` replaced,
    * kept as the reference the one-scan tagging must match.
    */
  private def selectHeadlinesUnion(inWindow: org.apache.spark.sql.DataFrame) = {
    val unparseable = minute(col("ts")) % 10 === 0
    val relevant = col("event_id") % 5 === 0
    val google = inWindow.filter(col("event_type").isin("click", "view"))
    val newsd = inWindow.filter(col("event_type").isin("purchase", "signup"))
      .filter(!unparseable)
    val cands = google.filter(relevant).withColumn("src", lit("google"))
      .unionByName(google.withColumn("src", lit("google_ticker")))
      .unionByName(newsd.filter(relevant).withColumn("src", lit("newsdata")))
      .unionByName(newsd.withColumn("src", lit("newsdata_ticker")))
      .withColumn("pub_str",
        when(col("src").startsWith("google") && unparseable, lit(""))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")))
    Recency.fallbackChain(cands, Seq("user_id"), "src",
        Seq("google", "google_ticker", "newsdata", "newsdata_ticker"),
        Seq(col("pub_str").desc, col("event_id").desc))
      .select(col("user_id"), col("src").as("headline_source"),
        col("event_id").as("picked_event_id"), col("pub_str"))
  }

  test("A4: one-scan source tagging selects the 4-branch union's winners on random inputs") {
    val types = Array("click", "view", "purchase", "signup", "error", null)
    for (seed <- 1 to 4) {
      val rng = new scala.util.Random(seed)
      val t0 = java.time.LocalDateTime.parse("2024-01-12T00:00:00")
      val rows = (1 to 300).map { i =>
        (if (rng.nextDouble() < 0.05) None else Some(rng.nextInt(40).toLong),
          i.toLong,
          types(rng.nextInt(types.length)),
          // a coarse minute grid: many equal pub_str values, and ~1 in 5
          // minutes unparseable (minute % 10 == 0)
          if (rng.nextDouble() < 0.05) None
          else Some(java.sql.Timestamp.valueOf(t0.plusMinutes(rng.nextInt(30) * 5L))))
      } ++ Seq(
        (95L, 1005L, "click", 1), (95L, 1006L, "click", 2),    // google
        (96L, 1011L, "view", 3),                                // google_ticker
        (97L, 1015L, "purchase", 4), (97L, 1016L, "signup", 5), // newsdata
        (98L, 1021L, "signup", 6),                              // newsdata_ticker
        // no relevant title on either provider; the google row is
        // unparseable (minute 0) and still beats the newsdata one
        (99L, 1001L, "click", 0), (99L, 1002L, "purchase", 1)
      ).map { case (u, id, tpe, m) =>
        (Some(u), id, tpe, Some(java.sql.Timestamp.valueOf(t0.plusMinutes(m.toLong))))
      }
      val inWindow = rows.toDF("user_id", "event_id", "event_type", "ts")
      def norm(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val got = norm(queries.PipelineQueries.selectHeadlines(inWindow))
      assert(got == norm(selectHeadlinesUnion(inWindow)), s"seed $seed")
      assert(got.filter(r => (95 to 99).map(_ + "|").exists(r.startsWith)) == Seq(
        "95|google|1005|2024-01-12 00:01:00",
        "96|google_ticker|1011|2024-01-12 00:03:00",
        "97|newsdata|1015|2024-01-12 00:04:00",
        "98|newsdata_ticker|1021|2024-01-12 00:06:00",
        "99|google_ticker|1001|"))
    }
  }
}

class ValidatorSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    (0.5, Some(1.0), Some("x")), (0.9, Some(2.0), None),
    (1.5, Some(3.0), Some("y")), (0.1, Some(4.0), None))
    .toDF("score", "mandatory", "optional")

  test("A5-A8: one-pass aggregate measures all four rules") {
    val m = Validator.measure(df, Validator.Rules(
      rangeCol = "score", rangeMin = 0.0, rangeMax = 1.0,
      nonNullCols = Seq("mandatory"), nullRateCol = "optional",
      nullRateMax = 0.33)).collect()(0)
    assert(m.getAs[Long]("row_count") == 4)
    assert(m.getAs[Long]("range_violations") == 1)   // 1.5
    assert(m.getAs[Long]("mandatory_nulls") == 0)
    assert(m.getAs[Double]("null_rate") == 0.5)
  }

  test("validate() gates like validator.py") {
    val rules = Validator.Rules("score", 0.0, 2.0, Seq("mandatory"), "optional", 0.6)
    assert(Validator.validate(df, rules, Some(4L)))
    assert(!Validator.validate(df, rules.copy(nullRateMax = 0.33), Some(4L)))
    assert(!Validator.validate(df, rules, Some(15L)))
  }

  test("E1d: provider failures degrade rows, never drop them (engine.py:156-173)") {
    val sf = "/root/testdata/sf0.001"
    val healthy = SparkEntry.queries("e1_pipeline")(spark, sf)
    val degraded = SparkEntry.queries("e1_pipeline_degraded")(spark, sf)
    assert(degraded.count() == healthy.count()) // degrade, never drop
    val sentErr = degraded
      .filter(col("Data_Source_Log").contains("sentiment=error"))
      .select(col("Sentiment_Label"), col("Sentiment_Score")).distinct().collect()
    assert(sentErr.nonEmpty && sentErr.forall(r =>
      r.getString(0) == "Neutral" && r.getDouble(1) == 0.0))
    val newsErr = degraded.filter(col("Data_Source_Log").contains("news=error"))
    assert(newsErr.count() > 0)
    assert(newsErr.select(col("Headline")).distinct().collect()
      .forall(_.getString(0) == Sentiment.DefaultHeadline))
  }
}

class ReconcileSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("reconcile classifies matched/changed/missing/extra exactly") {
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z"))
      .toDF("k", "v").select(col("k"), Reconcile.rowHash(col("v")).as("h"))
    val b = Seq((1L, "x"), (2L, "CHANGED"), (4L, "new"))
      .toDF("k", "v").select(col("k"), Reconcile.rowHash(col("v")).as("h"))
    val c = Reconcile.counts(a, b, "k").collect()(0)
    assert((c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3)) ==
      ((1L, 1L, 1L, 1L))) // 1 match, 2 changed, 3 missing, 4 extra
    val d = Reconcile.diff(a, b, "k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(d == Set((2L, "changed"), (3L, "missing"), (4L, "extra")))
  }

  test("empty snapshots reconcile clean (zeros, not nulls)") {
    val e = Seq.empty[(Long, String)].toDF("k", "v")
      .select(col("k"), Reconcile.rowHash(col("v")).as("h"))
    val c = Reconcile.counts(e, e, "k").collect()(0)
    assert((0 until 4).forall(i => !c.isNullAt(i) && c.getLong(i) == 0L))
  }

  test("identical snapshots reconcile clean") {
    val a = Seq((1L, "x"), (2L, "y"))
      .toDF("k", "v").select(col("k"), Reconcile.rowHash(col("v")).as("h"))
    val c = Reconcile.counts(a, a, "k").collect()(0)
    assert((c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3)) ==
      ((2L, 0L, 0L, 0L)))
    assert(Reconcile.diff(a, a, "k").count() == 0)
  }
}

class FunnelSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("batch funnel: strictly-after ordering, per-stage conditional minima") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // user 1 completes in order
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 10:05:00")),
      (1L, "purchase", ts("2024-01-01 10:10:00")),
      // user 2: click BEFORE the first view -> never reaches stage 2
      (2L, "click", ts("2024-01-01 09:00:00")),
      (2L, "view", ts("2024-01-01 10:00:00")),
      // user 3: view only
      (3L, "view", ts("2024-01-01 10:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, Seq("user_id")).filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    assert(s1.count() == 3 && s2.count() == 1)
    assert(s2.collect()(0).getLong(0) == 1L)
  }
}

class CalendarSpec extends SparkSpec {

  test("G1: inclusive bounds, weekdays only, holidays NOT excluded") {
    val dates = Calendar.tradingDates(spark, "2024-01-01", "2024-01-07")
      .collect().map(_.getDate(0).toString)
    assert(dates.toSeq == Seq("2024-01-01", "2024-01-02", "2024-01-03",
      "2024-01-04", "2024-01-05")) // Jan 6/7 = weekend; Jan 1 kept (holiday)
  }

  test("G2: cross product defines output cardinality") {
    import spark.implicits._
    val keys = Seq("A", "B", "C").toDF("k")
    val n = Calendar.universe(
      Calendar.tradingDates(spark, "2024-01-01", "2024-01-05"), keys).count()
    assert(n == 15) // 5 weekdays x 3 keys — the reference's 15-row contract
  }
}

/** S1 — the typed run configuration (config.yaml:1-13,
  * src/core/config.py:13-33): plain invariants; the real proof that the
  * threading changed nothing is the unchanged 100/100 oracle gate.
  */
class PipelineConfigSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("defaults carry the canonical run parameters every oracle is pinned to") {
    val c = PipelineConfig.Default
    assert(c.asOf == "2024-01-15 00:00:00" && c.lookbackHours == 72)
    assert(c.nSig == c.numBands * c.rowsPerBand && c.nSig == 12)
    assert(c.asOfSql == s"TIMESTAMP '${c.asOf}'")
    assert(c.maxBucket == graft.operators.Dedup.DefaultMaxBucket)
    assert(c.fuzzyMaxBlock == graft.operators.Fuzzy.DefaultMaxBlock)
  }

  test("variants are plain copies — no hidden global state") {
    val c = PipelineConfig.Default.copy(numBands = 8, rowsPerBand = 2)
    assert(c.nSig == 16 && PipelineConfig.Default.nSig == 12)
  }
}
