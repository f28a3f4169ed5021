package graft

/** Plan-audit utility: prints the formatted physical plan for the given
  * query names (all queries if none given). Used to keep every operator's
  * plan honest — broadcasts where expected, filters pushed to the scan,
  * whole-stage codegen spans wide, no stray cartesian products.
  *
  * Usage: sbt "runMain graft.Explain <sfDir> [query ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.builder(4).getOrCreate()
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
