package graft

import org.apache.spark.sql.types._

/** Testdata schema canary: loads each driver-provided table at sf0.001 and
  * asserts the engine-facing schema this repo's loaders require. When the
  * driver regenerates `/root/testdata` with a changed physical layout (as
  * happened in round 12: `events.ts` moved from TIMESTAMP(NANOS)-as-long to
  * TIMESTAMP(MICROS) NTZ and 35 queries failed as scattered analysis
  * errors), this spec turns the breakage into ONE loud, targeted line:
  * `testdata changed: events.ts is now X (expected ...)`.
  *
  * Assertions are written against what the ENGINE needs (names + an
  * accepted-type set per column), not the exact footer, so a benign
  * re-encoding (e.g. int32 vs int64 keys, or any of the three known
  * `events.ts` layouts) does not cry wolf.
  */
class SchemaCanarySpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private val integral: Set[DataType] = Set(IntegerType, LongType)
  private val timestampish: Set[DataType] =
    Set(TimestampType, TimestampNTZType, LongType, DateType)

  /** table -> (column -> accepted engine-facing types) */
  private val required: Map[String, Seq[(String, Set[DataType])]] = Map(
    "region" -> Seq("r_regionkey" -> integral, "r_name" -> Set(StringType)),
    "nation" -> Seq("n_nationkey" -> integral, "n_name" -> Set(StringType),
      "n_regionkey" -> integral),
    "customer" -> Seq("c_custkey" -> integral, "c_name" -> Set(StringType),
      "c_nationkey" -> integral, "c_acctbal" -> Set(DoubleType),
      "c_mktsegment" -> Set(StringType)),
    "supplier" -> Seq("s_suppkey" -> integral, "s_name" -> Set(StringType),
      "s_nationkey" -> integral, "s_acctbal" -> Set(DoubleType)),
    "part" -> Seq("p_partkey" -> integral, "p_name" -> Set(StringType),
      "p_brand" -> Set(StringType), "p_type" -> Set(StringType),
      "p_size" -> integral, "p_retailprice" -> Set(DoubleType)),
    "orders" -> Seq("o_orderkey" -> integral, "o_custkey" -> integral,
      "o_orderstatus" -> Set(StringType), "o_totalprice" -> Set(DoubleType),
      "o_orderdate" -> timestampish, "o_orderpriority" -> Set(StringType)),
    "lineitem" -> Seq("l_orderkey" -> integral, "l_partkey" -> integral,
      "l_suppkey" -> integral, "l_linenumber" -> integral,
      "l_quantity" -> Set(DoubleType), "l_extendedprice" -> Set(DoubleType),
      "l_discount" -> Set(DoubleType), "l_tax" -> Set(DoubleType),
      "l_returnflag" -> Set(StringType), "l_linestatus" -> Set(StringType),
      "l_shipdate" -> timestampish),
    "events" -> Seq("event_id" -> integral, "ts" -> timestampish,
      "user_id" -> integral, "event_type" -> Set(StringType),
      "value" -> Set(DoubleType), "props" -> Set(StringType)),
    "documents" -> Seq("doc_id" -> integral, "text" -> Set(StringType),
      "lang" -> Set(StringType), "source" -> Set(StringType),
      "n_chars" -> integral),
    "embeddings" -> Seq("vec_id" -> integral,
      "embedding" -> Set(ArrayType(FloatType), ArrayType(FloatType, false),
        ArrayType(DoubleType), ArrayType(DoubleType, false)),
      "label" -> integral))

  for (table <- Tables.names) test(s"canary: $table schema is engine-compatible") {
    val schema = Tables(spark, sf, table).schema
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    for ((colName, accepted) <- required(table)) {
      val actual = byName.get(colName)
      assert(actual.isDefined,
        s"testdata changed: $table.$colName is MISSING " +
        s"(table now has: ${schema.fieldNames.mkString(", ")})")
      assert(accepted.contains(actual.get),
        s"testdata changed: $table.$colName is now ${actual.get} " +
        s"(engine accepts: ${accepted.mkString(" | ")}) — update the " +
        s"matching Tables loader and this canary together")
    }
  }

  /** Runs `body` and counts the Spark jobs it launched, as a
    * SparkListener sees them. Jobs are told apart by a job group (a
    * thread-local property), and a fence job run after `body` flushes the
    * asynchronous listener bus: events arrive in order, so once the fence
    * is seen every job of `body` has been counted.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val fence = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("canary-acquire") => jobs.incrementAndGet()
          case Some("canary-fence")   => fence.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("canary-acquire", "table acquisition")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup("canary-fence", "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fence.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener never saw the fence job")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Acquires `table` under `dir` and checks it against Spark's own
    * schema inference: same schema, and no job launched to get it.
    */
  private def assertJobFree(dir: String, table: String): Unit = {
    val (df, jobs) = jobsDuring(Tables(spark, dir, table))
    assert(jobs == 0, s"acquiring $table launched $jobs Spark job(s)")
    assert(df.schema == spark.read.parquet(s"$dir/$table.parquet").schema,
      s"$table: acquired schema differs from inference")
  }

  for (table <- Tables.names) test(s"acquisition: $table launches no job; schema equals inference") {
    assertJobFree(sf, table)
  }

  test("acquisition: legacy nanos, adjusted-UTC and multi-file layouts match inference with no job") {
    import spark.implicits._
    // legacy layout: TIMESTAMP(NANOS) written by a non-Spark writer, so
    // the footer carries no Spark row metadata and the schema comes from
    // the parquet converter (nanosAsLong=true turns ts into a long)
    val nanosDir = java.nio.file.Files.createTempDirectory("graft-canary-nanos").toString
    locally {
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        """message events {
          |  required int64 event_id;
          |  optional int64 ts (TIMESTAMP(NANOS,false));
          |  required int64 user_id;
          |  optional binary event_type (STRING);
          |  optional double value;
          |  optional binary props (STRING);
          |}""".stripMargin)
      val w = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(s"$nanosDir/events.parquet"))
        .withType(schema).withConf(new org.apache.hadoop.conf.Configuration())
        .build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
          .append("event_id", 1L)
          .append("ts", java.time.Instant.parse("2024-01-14T12:00:00Z")
            .toEpochMilli * 1000000L)
          .append("user_id", 2L).append("event_type", "click")
          .append("value", 1.0).append("props", "{}"))
      finally w.close()
    }
    assert(spark.read.parquet(s"$nanosDir/events.parquet").schema("ts").dataType == LongType)
    assertJobFree(nanosDir, "events")
    assert(Tables.events(spark, nanosDir).select("ts").head().getTimestamp(0) ==
      java.sql.Timestamp.from(java.time.Instant.parse("2024-01-14T12:00:00Z")))

    // adjusted-UTC TIMESTAMP, written by Spark as a directory of several
    // part files plus _SUCCESS and .crc side files
    val multiDir = java.nio.file.Files.createTempDirectory("graft-canary-multi").toString
    (1L to 30L).map(i => (i, java.sql.Timestamp.valueOf("2024-01-14 12:00:00"),
        i % 4, "view", i.toDouble, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartition(3).write.parquet(s"$multiDir/events.parquet")
    assert(new java.io.File(s"$multiDir/events.parquet").listFiles
      .count(_.getName.endsWith(".parquet")) > 1)
    assertJobFree(multiDir, "events")
    assert(Tables.events(spark, multiDir).count() == 30)
  }

  test("acquisition: a missing table fails with Spark's own path error") {
    val dir = java.nio.file.Files.createTempDirectory("graft-canary-missing").toString
    val e = intercept[org.apache.spark.sql.AnalysisException](Tables(spark, dir, "region"))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  test("canary: events loader normalizes ts to session-zone timestamp") {
    // Whatever the footer layout, the engine-facing contract after
    // Tables.events is a plain TimestampType `ts` (downstream epoch-µs
    // arithmetic, window(), and the DuckDB oracle all assume it).
    assert(Tables.events(spark, sf).schema("ts").dataType == TimestampType)
    assert(Tables.eventsInWindow(spark, sf, "2024-01-15 00:00:00", 72)
      .schema("ts").dataType == TimestampType)
  }

  test("kill test: an unknown events.ts layout fails with the one-line diagnosis") {
    // A regenerated testdata with a layout the loaders don't know must
    // surface as ONE targeted message, not 35 scattered analysis errors
    // (round 12's failure mode).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-canary").toString
    Seq((1L, "not-a-timestamp", 2L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException] {
      Tables.events(spark, dir)
    }
    assert(e.getMessage.contains("testdata changed: events.ts is now StringType"))
  }

  test("adjusted-UTC TIMESTAMP events load unchanged with pushdown window bounds") {
    // The third known layout (isAdjustedToUTC=true micros -> Spark
    // TimestampType): pass-through load, instant-literal window filter.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-canary-ts").toString
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-14 12:00:00"), 2L, "click", 1.0, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 3L, "view", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(Tables.events(spark, dir).schema("ts").dataType == TimestampType)
    val win = Tables.eventsInWindow(spark, dir, "2024-01-15 00:00:00", 72)
    assert(win.schema("ts").dataType == TimestampType)
    assert(win.collect().map(_.getAs[Long]("event_id")).toSeq == Seq(1L))
  }
}
