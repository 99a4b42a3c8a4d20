package graft

class MeasureSpec extends SparkSpecBase {

  test("releasing frees an RDD persisted inside its body and keeps one persisted before it") {
    val sc = spark.sparkContext
    val standing = sc.parallelize(1 to 10).persist()
    standing.count()
    try {
      val inner = Measure.releasing(spark) {
        val r = sc.parallelize(1 to 10).persist()
        r.count()
        r
      }
      val live = sc.getPersistentRDDs.keySet
      assert(!live.contains(inner.id), "the RDD persisted inside the body must be released")
      assert(live.contains(standing.id), "the RDD persisted before the body must stay")
    } finally standing.unpersist(blocking = true)
  }

  test("releasing frees a localCheckpoint made inside its body and logs no RDD WARN") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val warns = warnings("org.apache.spark.rdd") {
      Measure.releasing(spark, blocking = true) {
        spark.range(10).toDF().localCheckpoint().count()
      }
    }
    assert(warns.isEmpty, warns.mkString("\n"))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("Layers charges each tagged frame's jobs, stages and tasks to its key") {
    val layers = Measure.listen(spark)
    try {
      Measure.tagged(spark, "one")(spark.range(10).collect())
      spark.range(3).collect() // untagged: charged to no key
      Measure.tagged(spark, "two") {
        spark.range(10).collect()
        spark.range(5).collect()
      }
      val costs = layers.drain(spark)
      assert(costs.keySet === Set("one", "two"))
      assert(costs("one").jobs === 1)
      assert(costs("two").jobs === 2)
      for ((k, c) <- costs) {
        assert(c.stages.size === c.jobs, k)
        assert(c.tasks >= c.jobs, k)
        assert(c.stageMs >= 0L && c.taskMs >= 0L, k)
      }
      assert(layers.drain(spark).isEmpty, "a drain forgets what it returned")
    } finally spark.sparkContext.removeSparkListener(layers)
  }

  test("Layers separates the stages of jobs a frame's construction starts") {
    val layers = Measure.listen(spark)
    try {
      Measure.tagged(spark, "q") {
        // an eager stager: localCheckpoint runs its job while the frame is built
        val df = Measure.constructing(spark)(spark.range(100).selectExpr("id % 7 as k")
          .localCheckpoint())
        Measure.noop(df)
      }
      val c = layers.drain(spark)("q")
      assert(c.jobs === 2)
      val (cons, sink) = c.stages.partition(_.cons)
      assert(cons.size === 1 && sink.size === 1, c.stages.mkString("; "))
      assert(c.consStageMs === cons.head.ms)
      assert(c.consStageMs <= c.stageMs)
    } finally spark.sparkContext.removeSparkListener(layers)
  }
}
