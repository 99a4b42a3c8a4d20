package graft

import graft.operators.Splits
import org.apache.spark.sql.functions._

/** Guard rails + the determinism/nesting contracts the p16/p17 gate queries
  * rely on but can't express (the oracle only sees one salt/one rate).
  */
class SplitsSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = testdata("sf0.001", "documents")

  test("assignSplit covers every row, respects weights, and is a pure function of (salt, key)") {
    val out = Splits.assignSplit(docs, "doc_id",
      Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0), salt = "s1")
    val counts = out.groupBy("split").count().as[(String, Long)].collect().toMap
    val total = counts.values.sum
    assert(total === docs.count(), "no row may drop out of the assignment")
    assert(counts.keySet === Set("train", "val", "test"))
    // 80/10/10 within a loose tolerance at n=500
    assert(math.abs(counts("train").toDouble / total - 0.8) < 0.08, counts.toString)
    // re-running the same (salt, key) yields the identical assignment
    val again = Splits.assignSplit(docs, "doc_id",
      Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0), salt = "s1")
    assert(out.select("doc_id", "split").except(again.select("doc_id", "split")).isEmpty)
    // a different salt re-deals: at least SOME keys move
    val redeal = Splits.assignSplit(docs, "doc_id",
      Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0), salt = "s2")
    assert(out.select("doc_id", "split")
      .except(redeal.select("doc_id", "split")).count() > 0)
  }

  test("assignSplit: a key can never straddle splits") {
    // duplicate every key 3x; each copy must land in the same split
    val dup = docs.select(col("doc_id")).crossJoin(Seq(1, 2, 3).toDF("copy"))
    val out = Splits.assignSplit(dup, "doc_id", Seq("a" -> 1.0, "b" -> 1.0), salt = "x")
    val straddlers = out.groupBy("doc_id")
      .agg(countDistinct(col("split")).as("n")).filter(col("n") > 1).count()
    assert(straddlers === 0L)
  }

  test("assignSplit guard rails: empty/non-positive/duplicate weights, bad nBuckets") {
    intercept[IllegalArgumentException] {
      Splits.assignSplit(docs, "doc_id", Seq.empty, salt = "s")
    }
    intercept[IllegalArgumentException] {
      Splits.assignSplit(docs, "doc_id", Seq("a" -> 1.0, "b" -> 0.0), salt = "s")
    }
    intercept[IllegalArgumentException] {
      Splits.assignSplit(docs, "doc_id", Seq("a" -> 1.0, "a" -> 2.0), salt = "s")
    }
    intercept[IllegalArgumentException] {
      Splits.hashBucket(col("doc_id"), "s", nBuckets = 0)
    }
  }

  test("assignSplit bucketCol exposes the audit bucket consistent with splitCol") {
    val out = Splits.assignSplit(docs, "doc_id", Seq("lo" -> 1.0, "hi" -> 1.0),
      salt = "s", bucketCol = Some("bkt"), nBuckets = 100)
    val bad = out.filter(
      (col("bkt") < 50 && col("split") =!= "lo") ||
        (col("bkt") >= 50 && col("split") =!= "hi")).count()
    assert(bad === 0L)
  }

  test("sampleByHash is nested: 1% sample is a subset of the 10% sample") {
    val s1 = Splits.sampleByHash(docs, "doc_id", 0.01, "salt").select("doc_id")
    val s10 = Splits.sampleByHash(docs, "doc_id", 0.10, "salt").select("doc_id")
    assert(s1.except(s10).isEmpty, "raising the rate must keep every sampled key")
    assert(s10.count() > s1.count())
    // boundary rates
    assert(Splits.sampleByHash(docs, "doc_id", 0.0, "salt").isEmpty)
    assert(Splits.sampleByHash(docs, "doc_id", 1.0, "salt").count() === docs.count())
    intercept[IllegalArgumentException] {
      Splits.sampleByHash(docs, "doc_id", 1.5, "salt")
    }
  }

  test("stratifiedSampleByHash: per-stratum rates, default rate, nested subsets") {
    val full = Splits.stratifiedSampleByHash(docs, "doc_id", "lang",
      fractions = Map("en" -> 1.0), defaultFraction = 0.0, salt = "s")
    assert(full.filter(col("lang") =!= "en").isEmpty)
    assert(full.count() === docs.filter(col("lang") === "en").count())
    // nested within a stratum too (same hash, higher threshold)
    val lo = Splits.stratifiedSampleByHash(docs, "doc_id", "lang",
      Map("en" -> 0.05), 0.5, "s").select("doc_id")
    val hi = Splits.stratifiedSampleByHash(docs, "doc_id", "lang",
      Map("en" -> 0.50), 0.5, "s").select("doc_id")
    assert(lo.except(hi).isEmpty)
    intercept[IllegalArgumentException] {
      Splits.stratifiedSampleByHash(docs, "doc_id", "lang", Map("en" -> 2.0), 0.1, "s")
    }
    intercept[IllegalArgumentException] {
      Splits.stratifiedSampleByHash(docs, "doc_id", "lang", Map("en" -> 0.5), -0.1, "s")
    }
  }

  test("hash plans stay narrow: no Exchange in a sampleByHash filter") {
    val plan = Splits.sampleByHash(docs, "doc_id", 0.1, "s")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("sampleByHashWeighted: weight 1 keeps all, 0 keeps none, monotone in weight") {
    import org.apache.spark.sql.functions.lit
    val all = Splits.sampleByHashWeighted(docs.withColumn("w", lit(1.0)), "doc_id", "w", "s")
    assert(all.count() === docs.count())
    assert(Splits.sampleByHashWeighted(docs.withColumn("w", lit(0.0)), "doc_id", "w", "s")
      .count() === 0)
    // out-of-range weights clamp rather than misbehave
    assert(Splits.sampleByHashWeighted(docs.withColumn("w", lit(7.5)), "doc_id", "w", "s")
      .count() === docs.count())
    // NaN weights DROP (Spark's least/greatest would otherwise clamp NaN
    // to 1.0 and keep everything)
    assert(Splits.sampleByHashWeighted(
      docs.withColumn("w", lit(0.0) / lit(0.0)), "doc_id", "w", "s").count() === 0)
    // monotone: survivors at w=0.2 are a subset of survivors at w=0.6,
    // and a constant weight equals sampleByHash at that rate
    val lo = Splits.sampleByHashWeighted(docs.withColumn("w", lit(0.2)), "doc_id", "w", "s")
    val hi = Splits.sampleByHashWeighted(docs.withColumn("w", lit(0.6)), "doc_id", "w", "s")
    assert(lo.select("doc_id").exceptAll(hi.select("doc_id")).count() === 0)
    assert(lo.select("doc_id").exceptAll(
      Splits.sampleByHash(docs, "doc_id", 0.2, "s").select("doc_id")).count() === 0)
    assert(lo.count() === Splits.sampleByHash(docs, "doc_id", 0.2, "s").count())
  }

  test("capPerGroup: per-group quota, deterministic, caps nest") {
    val cap3 = Splits.capPerGroup(docs, "lang", "doc_id", 3, salt = "q")
    val sizes = cap3.groupBy("lang").count().select("count").as[Long].collect()
    assert(sizes.forall(_ <= 3) && sizes.nonEmpty)
    // groups smaller than the cap pass through whole
    val small = docs.filter($"doc_id" < 4) // fewer than 3 docs for some lang
    assert(Splits.capPerGroup(small, "lang", "doc_id", 3, salt = "q").count()
      === small.count())
    // deterministic under input reordering
    val again = Splits.capPerGroup(docs.orderBy($"doc_id".desc), "lang", "doc_id", 3, "q")
    assert(cap3.select("doc_id").exceptAll(again.select("doc_id")).count() === 0)
    // a tighter cap keeps a subset of a looser cap's rows (same salt)
    val cap2 = Splits.capPerGroup(docs, "lang", "doc_id", 2, salt = "q")
    assert(cap2.select("doc_id").exceptAll(cap3.select("doc_id")).count() === 0)
    intercept[IllegalArgumentException] {
      Splits.capPerGroup(docs, "lang", "doc_id", 0)
    }
    intercept[IllegalArgumentException] {
      Splits.capPerGroup(docs.withColumn("__cap_rn", lit(1)), "lang", "doc_id", 3)
    }
  }

  test("capPerGroup: null keys rank last, never stealing quota from real rows") {
    // 3 real keys + 2 null keys in one group, cap 3: the nulls must lose
    val df = Seq(("g", "a"), ("g", "b"), ("g", "c"), ("g", null), ("g", null))
      .toDF("grp", "key")
    val kept = Splits.capPerGroup(df, "grp", "key", 3, salt = "q")
      .select("key").as[String].collect().toSeq
    assert(kept.sorted === Seq("a", "b", "c"))
    // with spare quota the null-key rows still pass through (cap 5)
    assert(Splits.capPerGroup(df, "grp", "key", 5, salt = "q").count() === 5)
  }

  test("capPerGroup: the documented prefix pre-thin preserves the cap's selection") {
    // thin to ~50% by hash-value prefix, then cap — must equal cap alone
    // as long as every thinned group still holds >= maxPerGroup rows
    val thinned = docs.filter(
      Splits.hashValue60($"doc_id", "q") < (0.5 * Splits.HashSpace60).toLong)
    assert(thinned.groupBy("lang").count().select("count").as[Long].collect().forall(_ >= 3))
    val thinCap = Splits.capPerGroup(thinned, "lang", "doc_id", 3, salt = "q")
    val capAlone = Splits.capPerGroup(docs, "lang", "doc_id", 3, salt = "q")
    assert(thinCap.select("doc_id").exceptAll(capAlone.select("doc_id")).count() === 0)
    assert(capAlone.select("doc_id").exceptAll(thinCap.select("doc_id")).count() === 0)
  }

  test("shardForTraining: reproducible shards and positions, epochs reshuffle") {
    val df = (1L to 200L).toDF("doc_id")
    val a = Splits.shardForTraining(df, "doc_id", nShards = 8, salt = "ep0")
    val b = Splits.shardForTraining(df, "doc_id", nShards = 8, salt = "ep0")
    assert(a.collect().toSet === b.collect().toSet) // same salt -> identical layout
    assert(a.select("shard").distinct().count() <= 8)
    assert(a.agg(max("shard")).head().getLong(0) < 8 &&
      a.agg(min("shard")).head().getLong(0) >= 0)
    // positions are 1..n_shard within every shard
    val perShard = a.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("shard_pos").as("mx"), min("shard_pos").as("mn"))
      .collect()
    perShard.foreach(r => assert(r.getLong(1) === r.getInt(2) && r.getInt(3) === 1))
    // a different salt (next epoch) produces a different order
    val ep1 = Splits.shardForTraining(df, "doc_id", nShards = 8, salt = "ep1")
    assert(ep1.collect().toSet !== a.collect().toSet)
    intercept[IllegalArgumentException] {
      Splits.shardForTraining(df.withColumn("shard", lit(1)), "doc_id", 8)
    }
  }

  test("keepBestPerGroup: highest scores kept, null scores last, key breaks ties") {
    val df = Seq(
      ("a", 1L, java.lang.Double.valueOf(0.9)),
      ("a", 2L, java.lang.Double.valueOf(0.5)),
      ("a", 3L, java.lang.Double.valueOf(0.5)),
      ("a", 4L, null.asInstanceOf[java.lang.Double]),
      ("b", 5L, java.lang.Double.valueOf(0.1))
    ).toDF("grp", "doc_id", "score")
    val kept2 = Splits.keepBestPerGroup(df, "grp", "score", "doc_id", 2)
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 === Set(1L, 2L, 5L)) // tie 0.5/0.5 → doc_id 2 wins; null never in quota
    val kept3 = Splits.keepBestPerGroup(df, "grp", "score", "doc_id", 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept3 === Set(1L, 2L, 3L, 5L))
    intercept[IllegalArgumentException] {
      Splits.keepBestPerGroup(df, "grp", "score", "doc_id", 0)
    }
  }

  test("leakSafeSplit drops the train twin of a boundary-straddling dup; holdout intact") {
    // many unique docs + one exact-duplicate TEXT planted on every id, so
    // whichever ids land in 'test', some duplicate pair straddles the split
    val dupText = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = ((1 to 120).map(i => (i.toLong, s"unique u$i v$i w$i x$i y$i z$i q$i r$i")) ++
      (200 to 260).map(i => (i.toLong, dupText))).toDF("doc_id", "text")
    val weights = Seq("train" -> 0.8, "test" -> 0.2)
    val out = Splits.leakSafeSplit(docs, "doc_id", "text", weights,
      salt = "s1", holdout = "test", shingleN = 5)
    val assigned = Splits.assignSplit(docs, "doc_id", weights, salt = "s1")
    val dupIds = (200L to 260L).toSet
    val testDups = assigned.filter($"split" === "test")
      .select("doc_id").as[Long].collect().toSet.intersect(dupIds)
    assert(testDups.nonEmpty, "fixture must land some dup copies in test")
    val kept = out.select("doc_id", "split").as[(Long, String)].collect()
    // every holdout row survives verbatim
    val heldOut = assigned.filter($"split" === "test").select("doc_id").as[Long].collect().toSet
    assert(kept.filter(_._2 == "test").map(_._1).toSet === heldOut)
    // NO train copy of the duplicated text survives (it shares all shingles)
    assert(!kept.exists { case (id, s) => s == "train" && dupIds.contains(id) },
      "train twins of a test doc must drop")
    // unique train docs survive untouched
    assert(kept.count(_._2 == "train") ===
      assigned.filter($"split" === "train").count() -
        assigned.filter($"split" === "train").filter($"doc_id".isin(dupIds.toSeq: _*)).count())
  }

  test("prioritySample: exactly min(k, group), HT weights >= w, heavy row certain") {
    val rows = (1 to 200).map(i => ("big", i.toLong, (i % 7 + 1).toLong)) ++
      (1 to 5).map(i => ("small", 1000L + i, 10L)) ++
      Seq(("big", 999L, 1000000L)) // overwhelming weight: kept w.p. ~1
    val df = rows.toDF("g", "id", "w")
    val out = Splits.prioritySample(df, "g", "id", "w", k = 20)
      .select("g", "id", "w", "priority", "weight_est")
      .as[(String, Long, Long, Double, Double)].collect()
    val byG = out.groupBy(_._1)
    assert(byG("big").length === 20 && byG("small").length === 5)
    // HT: kept weights never shrink; under-k groups keep true weights
    assert(out.forall(r => r._5 >= r._3.toDouble))
    assert(byG("small").forall(r => r._5 === r._3.toDouble))
    // the 1e6-weight row's priority dwarfs every u in (0,1): certainty
    assert(byG("big").exists(_._2 === 999L))
    // kept set = top-k by priority: no dropped row out-prioritizes a kept one
    val keptIds = byG("big").map(_._2).toSet
    val minKept = byG("big").map(_._4).min
    val all = Splits.prioritySample(df, "g", "id", "w", k = 1000)
      .filter($"g" === "big").select("id", "priority")
      .as[(Long, Double)].collect()
    assert(all.filter(r => !keptIds.contains(r._1)).forall(_._2 <= minKept))
    // null / non-positive weights carry no mass
    val dirty = Seq(("g", 1L, Some(5L)), ("g", 2L, None),
      ("g", 3L, Some(0L)), ("g", 4L, Some(-2L))).toDF("g", "id", "w")
    assert(Splits.prioritySample(dirty, "g", "id", "w", 10)
      .select("id").as[Long].collect().toSeq === Seq(1L))
  }

  test("prioritySample: giant group spread over many partitions matches the window reference") {
    import org.apache.spark.sql.expressions.Window
    // ONE group holding ~all rows, scattered over 16 input partitions —
    // the shape the keyed-PrefixSum rank exists for
    val rows = (1 to 5000).map(i => ("giant", i.toLong, (i % 23 + 1).toLong)) ++
      (1 to 3).map(i => ("tiny", 9000L + i, 2L))
    val df = rows.toDF("g", "id", "w").repartition(16)
    val k = 37
    val got = Splits.prioritySample(df, "g", "id", "w", k = k, salt = "gg")
      .select("g", "id", "priority", "weight_est")
      .as[(String, Long, Double, Double)].collect().sortBy(r => (r._1, r._2))
    // reference: the pre-migration single-window formulation, inline
    val u = (Splits.hashValue60(col("id").cast("string"), "prio:gg")
      .cast("double") + lit(0.5)) / lit(graft.operators.Sketch.HashSpace)
    val win = Window.partitionBy(col("g"))
    val ref = df.filter(col("w").isNotNull && col("w").cast("double") > 0.0)
      .withColumn("priority", col("w").cast("double") / u)
      .withColumn("__rn", row_number().over(
        win.orderBy(col("priority").desc, col("id"))))
      .withColumn("__tau",
        max(when(col("__rn") === k + 1, col("priority"))).over(win))
      .filter(col("__rn") <= k)
      .withColumn("weight_est",
        when(col("__tau").isNull, col("w").cast("double"))
          .otherwise(greatest(col("w").cast("double"), col("__tau"))))
      .select("g", "id", "priority", "weight_est")
      .as[(String, Long, Double, Double)].collect().sortBy(r => (r._1, r._2))
    assert(got.length === k + 3)
    assert(got.toSeq === ref.toSeq)
  }

  test("prioritySample: HT subset-sum estimate is unbiased across salts") {
    val rows = (1 to 300).map(i => ("g", i.toLong, (i % 13 + 1).toLong))
    val trueSum = rows.map(_._3).sum.toDouble
    val df = rows.toDF("g", "id", "w")
    val ests = (1 to 25).map { s =>
      Splits.prioritySample(df, "g", "id", "w", k = 40, salt = s.toString)
        .agg(sum($"weight_est")).as[Double].head()
    }
    val mean = ests.sum / ests.size
    assert(math.abs(mean - trueSum) / trueSum < 0.05,
      s"mean HT estimate $mean far from true sum $trueSum")
  }

  // ---------------------------------------------------- temporalSplitByGroup

  test("temporalSplitByGroup: past->train, near future->val, far future->test, per group") {
    val df = (1 to 10).map(i => ("g", f"2024-01-${i}%02d 00:00:00", i.toLong))
      .toDF("grp", "ts_s", "id").withColumn("ts", to_timestamp(col("ts_s")))
    val got = Splits.temporalSplitByGroup(df, "grp", "ts", 0.8, 0.1)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert((1L to 8L).forall(got(_) === "train"))
    assert(got(9L) === "val" && got(10L) === "test")
    // every train ts precedes every val ts precedes every test ts — the leak guarantee
    val byTs = Splits.temporalSplitByGroup(df, "grp", "ts", 0.8, 0.1)
      .select(col("ts").cast("long"), col("split")).as[(Long, String)].collect()
    val maxTrain = byTs.filter(_._2 == "train").map(_._1).max
    val valTs = byTs.filter(_._2 == "val").map(_._1)
    assert(valTs.forall(_ > maxTrain) &&
      byTs.filter(_._2 == "test").map(_._1).forall(t => valTs.forall(_ < t)))
  }

  test("temporalSplitByGroup: at-cut timestamp ties all land on the earlier side; null ts drops") {
    val df = Seq(
      ("g", Some("2024-01-01 00:00:00"), 1L),
      ("g", Some("2024-01-02 00:00:00"), 2L),
      ("g", Some("2024-01-02 00:00:00"), 3L), // tied with the train cut
      ("g", Some("2024-01-03 00:00:00"), 4L),
      ("g", None: Option[String], 5L))
      .toDF("grp", "ts_s", "id").withColumn("ts", to_timestamp(col("ts_s")))
    // n=4, train rank ceil(0.5*4)=2 -> cut = 01-02; BOTH tied rows are train
    val got = Splits.temporalSplitByGroup(df, "grp", "ts", 0.5, 0.25)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "train", 2L -> "train", 3L -> "train", 4L -> "test"))
  }

  test("temporalSplitByGroup: groups cut independently; bad fractions rejected") {
    val df = Seq(
      ("a", "2024-01-01 00:00:00", 1L), ("a", "2024-06-01 00:00:00", 2L),
      ("b", "2025-01-01 00:00:00", 3L), ("b", "2025-06-01 00:00:00", 4L))
      .toDF("grp", "ts_s", "id").withColumn("ts", to_timestamp(col("ts_s")))
    val got = Splits.temporalSplitByGroup(df, "grp", "ts", 0.5, 0.25)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(got(1L) === "train" && got(3L) === "train",
      "each group's own first half is train, regardless of absolute time")
    intercept[IllegalArgumentException] {
      Splits.temporalSplitByGroup(df, "grp", "ts", 0.9, 0.2)
    }
  }

  test("neymanAllocation: hand-computed n·σ split with largest-remainder rounding") {
    val df = Seq(
      ("A", 0.0), ("A", 10.0),          // sd = sqrt(50), w = 2*sqrt(50)
      ("B", 5.0), ("B", 5.0), ("B", 5.0), // constant -> w = 0
      ("C", 0.0), ("C", 2.0))           // sd = sqrt(2),  w = 2*sqrt(2)
      .toDF("src", "v")
    val out = Splits.neymanAllocation(df, "src", "v", 10L)
      .collect().map(r => r.getString(0) -> r).toMap
    // raw_A = 10 * sqrt(50)/(sqrt(50)+sqrt(2)) = 25/3, raw_C = 5/3:
    // bases 8/1, C's remainder .67 > A's .33 -> C takes the leftover seat
    assert(out("A").getAs[Long]("alloc") === 8L)
    assert(out("C").getAs[Long]("alloc") === 2L)
    assert(out("B").getAs[Long]("alloc") === 0L)
    assert(out.values.map(_.getAs[Long]("alloc")).sum === 10L)
    assert(out("B").getAs[Double]("sd") === 0.0)
  }

  test("neymanAllocation: allocations always sum to the budget; all-constant is NULL") {
    val df = (1L to 300L).map(i => (s"s${i % 7}", (i * i % 97).toDouble))
      .toDF("src", "v")
    val allocs = Splits.neymanAllocation(df, "src", "v", 123L)
      .select("alloc").as[Long].collect()
    assert(allocs.sum === 123L, "largest-remainder must hit the budget exactly")
    val const = Seq(("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0)).toDF("src", "v")
    val rows = Splits.neymanAllocation(const, "src", "v", 10L).collect()
    rows.foreach(r => assert(r.isNullAt(r.fieldIndex("alloc")),
      "no variance signal -> undefined allocation"))
  }

  test("kFoldAssign: folds in [0,k), deterministic, and re-salting re-deals") {
    val df = (1L to 200L).toDF("id")
    val a = Splits.kFoldAssign(df, "id", 5, "s1")
      .select("id", "fold").as[(Long, Long)].collect().toMap
    assert(a.values.forall(f => f >= 0 && f < 5))
    assert(a.values.toSet.size === 5, "200 keys should touch all 5 folds")
    val b = Splits.kFoldAssign(df, "id", 5, "s1")
      .select("id", "fold").as[(Long, Long)].collect().toMap
    assert(a === b, "same salt -> identical assignment")
    val c = Splits.kFoldAssign(df, "id", 5, "s2")
      .select("id", "fold").as[(Long, Long)].collect().toMap
    assert(a !== c, "new salt -> re-dealt folds")
    intercept[IllegalArgumentException] { Splits.kFoldAssign(df, "id", 1, "s") }
  }

  test("kFoldAssign: groupCol keeps every row of a group in ONE fold") {
    val df = (1L to 300L).map(i => (i, s"grp${i % 17}")).toDF("id", "src")
    val folds = Splits.kFoldAssign(df, "id", 4, "s1", groupCol = Some("src"))
      .groupBy("src").agg(countDistinct(col("fold")).as("nf"))
      .select("nf").as[Long].collect()
    assert(folds.forall(_ === 1L), "a group must never straddle folds")
  }

  test("poisson1Thresholds60: a valid monotone inverse CDF with mean ~1") {
    val th = Splits.poisson1Thresholds60
    assert(th.size === 9)
    assert(th === th.sorted, "CDF thresholds must be monotone")
    // cdf_0 = 1/e: the first threshold is floor(2^60/e) — the BigDecimal
    // value is exact, the double-math reference is good to ulp(2^60) = 256
    assert(math.abs(th.head - math.floor(math.pow(2.0, 60) / math.E).toLong) <= 256L)
    // last CDF covers all but P(X >= 9 | λ=1) ≈ 1.11e-6 of the space
    assert(Splits.HashSpace60 - th.last < (Splits.HashSpace60 / 500000L))
  }

  test("poissonBootstrapMean: interval brackets the mean and is deterministic") {
    val df = (1L to 400L).map(i => ("g", i, (i % 50).toDouble)).toDF("src", "id", "x")
    val r1 = Splits.poissonBootstrapMean(df, "src", "x", "id", "b1", nReps = 60)
    val row = r1.head()
    assert(row.getAs[Long]("n") === 400L)
    assert(row.getAs[Long]("b_reps") === 60L)
    val (m, lo, hi) = (row.getAs[Double]("mean"),
      row.getAs[Double]("ci_lo"), row.getAs[Double]("ci_hi"))
    assert(lo <= m && m <= hi, s"CI [$lo,$hi] must bracket mean $m")
    assert(hi - lo > 0.0, "resampled means cannot all coincide here")
    val row2 = Splits.poissonBootstrapMean(df, "src", "x", "id", "b1", nReps = 60).head()
    assert(row2.getAs[Double]("ci_lo") === lo && row2.getAs[Double]("ci_hi") === hi,
      "same salt -> bit-identical interval")
  }

  test("poissonBootstrapMean: NULL group/value rows drop; groups independent") {
    val df = Seq(
      (Some("a"), 1L, Some(10.0)), (Some("a"), 2L, Some(20.0)),
      (Some("a"), 3L, None), (None, 4L, Some(99.0)),
      (Some("b"), 5L, Some(5.0)), (Some("b"), 6L, Some(5.0))).toDF("src", "id", "x")
    val out = Splits.poissonBootstrapMean(df, "src", "x", "id", "b1", nReps = 40)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(out === Map("a" -> 2L, "b" -> 2L))
    val b = Splits.poissonBootstrapMean(df.filter($"src" === "b"), "src", "x", "id", "b1", nReps = 40).head()
    // constant column: every resample mean is exactly 5 -> degenerate CI
    assert(b.getAs[Double]("ci_lo") === 5.0 && b.getAs[Double]("ci_hi") === 5.0)
  }

  test("curriculumOrder: per-group rank by score desc and round-robin interleave") {
    val df = Seq(("x", 1L, 10L), ("x", 2L, 20L), ("y", 3L, 5L))
      .toDF("src", "id", "score")
    val rows = Splits.curriculumOrder(df, "src", "id", "score")
      .orderBy("position").collect()
    val got = rows.map(r => (r.getAs[Long]("id"),
      r.getAs[Long]("rank_in_group"), r.getAs[Long]("position"))).toSeq
    // x: id2 (score 20) rank 1, id1 rank 2; y: id3 rank 1; gi x=0 y=1, ng=2
    assert(got === Seq((2L, 1L, 0L), (3L, 1L, 1L), (1L, 2L, 2L)))
  }

  test("curriculumOrder: score ties break by id; NULL scores drop") {
    val df = Seq(("x", 5L, Some(7L)), ("x", 4L, Some(7L)), ("x", 9L, None))
      .toDF("src", "id", "score")
    val rows = Splits.curriculumOrder(df, "src", "id", "score")
      .orderBy("position").collect()
    assert(rows.map(_.getAs[Long]("id")).toSeq === Seq(4L, 5L))
  }

  test("deterministicShuffle: contiguous 0-based permutation, stable across runs, salt re-deals") {
    val df = (1L to 500L).toDF("id").repartition(7)
    val p1 = Splits.deterministicShuffle(df, "id", "s1")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("shuffle_pos")).toMap
    // a permutation: every position 0..n-1 exactly once
    assert(p1.values.toSeq.sorted === (0L until 500L))
    // deterministic: a second run is identical
    val p2 = Splits.deterministicShuffle(df, "id", "s1")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("shuffle_pos")).toMap
    assert(p1 === p2)
    // a different salt re-deals (at least one id moves)
    val p3 = Splits.deterministicShuffle(df, "id", "s2")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("shuffle_pos")).toMap
    assert(p1 !== p3)
    // and it is genuinely shuffled, not identity-ordered
    assert((1L to 500L).count(i => p1(i) == i - 1L) < 50)
  }

  test("hashUniformityKs: uniform keys score low; a degenerate population scores high") {
    val many = (1L to 20000L).toDF("id")
    val r = Splits.hashUniformityKs(many, "id", "s")
    val row = r.head()
    assert(row.getAs[Long]("n_keys") === 20000L)
    val ks = row.getAs[Double]("ks_stat")
    // 20k uniform draws: D ~ 1.36/sqrt(n) ≈ 0.0096 at 95%; 0.02 is lax
    assert(ks > 0.0 && ks < 0.02, s"ks $ks")
    val one = Seq(42L).toDF("id")
    assert(Splits.hashUniformityKs(one, "id", "s").head()
      .getAs[Double]("ks_stat") >= 0.5)
  }
}
