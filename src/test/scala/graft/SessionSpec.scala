package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pins the [[Session]] recipe on the shared test session, and keeps it
  * the only session definition: a builder chain anywhere else under
  * `src/` is where copies start drifting apart again.
  */
class SessionSpec extends SparkSpec {
  test("the shared session carries the Session recipe") {
    val conf = spark.conf
    assert(conf.get("spark.sql.optimizer.excludedRules")
      .contains("InferFiltersFromGenerate"))
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") == "2")
    val row = spark.sql(
      "SELECT relevant_title('Bank of India cuts rates', 'Bank of India Limited', 'BANKINDIA')")
      .collect()(0)
    assert(row.getBoolean(0), "relevant_title resolves through GraftExtensions")
  }

  test("no session is built outside Session.scala") {
    // the pattern is split so this file does not match itself
    val builderCall = "SparkSession" + ".builder"
    val sources = Seq("src/main", "src/test").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.exists(_.endsWith(Paths.get("graft", "Session.scala"))),
      "scan must see Session.scala (run from the project root)")
    val offenders = sources
      .filterNot((p: Path) => p.endsWith(Paths.get("graft", "Session.scala")))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(builderCall))
    assert(offenders.isEmpty,
      s"build sessions through graft.Session.builder, not: ${offenders.mkString(", ")}")
  }
}
