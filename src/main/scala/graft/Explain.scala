package graft

/** Plan-audit helper: print the formatted physical plan of named gate
  * queries (all of them with no names given). Usage:
  *   graft.Explain <sfDir> [name,name,...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.lift(1).map(_.split(",").toSet)
    val spark = Measure.session("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"[explain] $name failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
