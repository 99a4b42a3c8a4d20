package graft

import org.apache.spark.sql.functions.col

/** A/B harness for the pluggable [[graft.operators.Stager]] modes on the
  * p05 MinHash-LSH pipeline (the heaviest Stager consumer). Run:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.StagerBench"
  *
  * Prints median-of-N wall seconds per mode, so the cost of the durable
  * mode stays measured as the code evolves. Parquet mode stages through a
  * temp TableGraph warehouse (the durable cluster mode) and drops its
  * stage tables between reps.
  */
object StagerBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = Measure.session()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.count() // warm the reader

    val graph = new graft.core.TableGraph(
      java.nio.file.Files.createTempDirectory("graft_stager_ab").toString)
    val modes: Seq[(String, graft.operators.Stager)] = Seq(
      "LocalCheckpoint" -> graft.operators.Stager.LocalCheckpoint,
      "Parquet" -> graft.operators.Stager.Parquet(graph))

    val results = modes.map { case (name, stager) =>
      val samples = (1 to reps).map { _ =>
        // release EXACTLY what this rep staged, outside the timed region:
        // without it blocks pile up across reps and the later modes are
        // measured under the earlier modes' memory pressure. Parquet's
        // dropStages does real FS deletes the in-memory modes never pay,
        // so it stays off the clock too.
        val dt = Measure.releasing(spark, blocking = true) {
          val t0 = System.nanoTime()
          Measure.noop(graft.operators.Stager.using(stager) {
            graft.operators.Dedup.nearDupPairsMinhash(docs, "doc_id", "text",
                shingleN = 3, numHashes = 8, rowsPerBand = 1, threshold = 0.8)
              .orderBy(col("id_a"), col("id_b"))
          })
          (System.nanoTime() - t0) / 1e9
        }
        graph.dropStages()
        dt
      }
      name -> Measure.median(samples)
    }
    val js = results.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""{"metric":"stager_ab_p05","unit":"sec","reps":$reps,"modes":$js,"sf":"$sfDir"}""")
    spark.stop()
  }
}
