package graft

/** Plan inspector: runMain graft.ExplainQ <queryName> [sfDir] — prints the
  * formatted physical plan of one SparkEntry query (the explain-and-iterate
  * loop the 100 TB mandate requires). */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = Engine.session()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
