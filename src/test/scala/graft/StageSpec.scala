package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.BlockLoss
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}

/** [[graft.operators.Stage]] under lost blocks, and the guard that keeps
  * it the only place a frame is staged.
  *
  * Each fault case builds a query, reads it once (so every staged frame,
  * lazy ones included, holds its blocks), drops the blocks of every RDD
  * the query persisted, and reads the same logical plan again under a
  * fresh physical plan, so the re-read goes back to the staged RDDs
  * instead of the first read's shuffle outputs.
  */
class StageSpec extends SparkSpec {
  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"

  private def hash(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** (hash of the first read, the re-read after the query's blocks are
    * dropped: its hash or the error it threw).
    */
  private def readAfterBlockLoss(name: String): (String, Try[String]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val q = SparkEntry.queries(name)(spark, sf)
    try {
      val clean = hash(q)
      val staged = sc.getPersistentRDDs.keySet -- before
      assert(staged.nonEmpty, s"$name staged nothing")
      BlockLoss.drop(staged)
      (clean, quietly(Try(hash(GraftPlanBridge.ofRows(spark, q.queryExecution.logical)))))
    } finally (sc.getPersistentRDDs -- before).values.foreach(_.unpersist(blocking = true))
  }

  /** `body` with the task-failure loggers off: an expected lost-block
    * failure would otherwise print executor stack traces into a green run.
    */
  private def quietly[T](body: => T): T = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val names = Seq("org.apache.spark.executor.Executor",
      "org.apache.spark.scheduler.TaskSetManager", "org.apache.spark.rdd.MapPartitionsRDD",
      "org.apache.spark.storage.BlockManager")
    val levels = names.map(n => LogManager.getLogger(n).getLevel)
    names.foreach(Configurator.setLevel(_, Level.OFF))
    try body finally names.zip(levels).foreach { case (n, l) => Configurator.setLevel(n, l) }
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  private val lostCheckpoint = "Checkpoint block rdd_\\d+_\\d+ not found".r

  for (name <- Seq("dedup_containment", "dedup_minhash_est"))
    test(s"share: $name recomputes lost blocks to the unfaulted hash") {
      val (clean, after) = readAfterBlockLoss(name)
      after match {
        case Success(h) => assert(h == clean, s"$name answered differently after block loss")
        case Failure(e) => fail(s"$name failed after block loss:\n${messages(e)}")
      }
    }

  test("truncate: dedup_clusters after block loss gives the same hash or the named error") {
    val (clean, after) = readAfterBlockLoss("dedup_clusters")
    after match {
      case Success(h) => assert(h == clean, "dedup_clusters answered differently after block loss")
      case Failure(e) =>
        assert(lostCheckpoint.findFirstIn(messages(e)).isDefined,
          s"dedup_clusters failed without the lost-checkpoint error:\n${messages(e)}")
    }
  }

  test("no frame is staged outside Stage.scala") {
    // the patterns are split so a scan of this file would not match itself
    val calls = Seq("localCheckpoint", "checkpoint", "persist").map("." + _ + "(") :+ (".cache" + "()")
    val walk = Files.walk(Paths.get("src/main"))
    val sources = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.exists(_.endsWith(Paths.get("operators", "Stage.scala"))),
      "scan must see Stage.scala (run from the project root)")
    val offenders = for {
      p <- sources if !p.endsWith(Paths.get("operators", "Stage.scala"))
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      c <- calls if line.contains(c)
    } yield s"$p:${i + 1}: $c"
    assert(offenders.isEmpty,
      s"stage frames through graft.operators.Stage, not:\n${offenders.mkString("\n")}")
  }
}
