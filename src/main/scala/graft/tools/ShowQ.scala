package graft.tools
object ShowQ {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Engine.session("graft-showq", cores = 8)
    spark.sparkContext.setLogLevel("ERROR")
    args.tail.foreach { q =>
      println(s"=== $q ===")
      graft.SparkEntry.queries(q)(spark, args(0)).show(50, false)
    }
    spark.stop()
  }
}
