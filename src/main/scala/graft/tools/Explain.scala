package graft.tools

/** Dev tool: print the formatted physical plan of named SparkEntry
  * queries (comma-separated in args or SPARK_GRAFT_ONLY) against
  * SPARK_GRAFT_SF_DIR — the `.explain("formatted")` loop the scale
  * review runs after each operator lands. */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val queries = graft.SparkEntry.queries
    val names = graft.SparkEntry.onlyNames(queries.keySet, args.toSeq).getOrElse(Nil)
    val spark = graft.GraftSession()
    names.foreach { n =>
      println(s"\n===== $n =====")
      queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
