package graft.tools

/** Dev tool: print the formatted physical plan of named SparkEntry
  * queries (comma-separated in args or SPARK_GRAFT_ONLY) against
  * SPARK_GRAFT_SF_DIR — the `.explain("formatted")` loop the scale
  * review runs after each operator lands. */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names: Seq[String] =
      if (args.nonEmpty) args.toSeq.flatMap(_.split(","))
      else sys.env.get("SPARK_GRAFT_ONLY").toSeq.flatMap(_.split(","))
    val spark = graft.GraftSession()
    names.foreach { n =>
      graft.SparkEntry.queries.get(n) match {
        case Some(fn) =>
          println(s"\n===== $n =====")
          fn(spark, dir).explain("formatted")
        case None => System.err.println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
