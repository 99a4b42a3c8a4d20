package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, IntegerType, LongType,
  StructField, StructType}

/** Distributed running sums over a global or per-group ordering — the
  * cumulative scan behind CDF/rank machinery ([[Profile.ksStatistic]],
  * [[Drift.mannWhitneyU]], [[Profile.keySkew]]'s histogram quantiles)
  * WITHOUT `Window.orderBy(...)`'s single-reducer collapse: Spark moves
  * every row of an unpartitioned ordered window to one task, which is
  * fine for a Zipf-bounded histogram but a wall for a frame with
  * millions of distinct values.
  *
  * Same recipe as [[Dedup.sortedNeighborhoodPairs]]'s contiguous global
  * rank: range-exchange on the order key, per-partition running sums,
  * then add a broadcast per-partition offset table built from the
  * numPartitions partition totals — never data.
  */
object PrefixSum {

  /** Stage `df` before the range exchange when its plan is expensive:
    * RangePartitioning SAMPLES its child to pick bounds, so the child's
    * post-exchange work runs TWICE (once for bounds, once for the real
    * shuffle) — for a prefix-sum fed by a long broadcast-join chain (the
    * packing step at the tail of a composed funnel) that re-runs the
    * whole chain. One checkpoint of the narrow input buys both passes.
    * Opt-in: for the family's typical input (an already-aggregated
    * per-distinct-value count frame) the extra staging job costs more
    * than the re-sampled aggregate. */
  private[operators] def stagedInput(df: DataFrame, stage: Boolean): DataFrame =
    if (stage) Stager.stage(df,
      s"prefix_sum_in_${java.util.UUID.randomUUID().toString.take(8)}")
    else df

  /** One INCLUSIVE running-sum column `cum_<c>` per entry of `sumCols`,
    * over ascending `orderCols` (lexicographic), computed WITHIN each
    * `keyCols` group — or over the whole frame when `keyCols` is empty —
    * without ever partitioning a window by the group key.
    * `Window.partitionBy(group)` sorts EVERY row of a group through ONE
    * reducer, which is exactly wrong when the group key has low
    * cardinality and the groups are corpus-sized (a funnel's |stages|−1
    * transitions, a per-source ranking over a giant source). Here the
    * range exchange is on the COMPOSITE (keyCols ++ orderCols) sort key,
    * so one giant group spreads over many contiguous partitions;
    * per-partition running sums run inside each (partition, group) slice;
    * and the stitch adds a broadcast offset computed per (partition,
    * group) — an offsets frame of at most numPartitions + |groups| − 1
    * rows (each group occupies a contiguous partition range), whose own
    * per-group window orders a handful of partition ids, never data.
    *
    * The range-partitioned input is staged: the offset table and the
    * per-partition sums MUST see the same nondeterministic range split —
    * re-evaluating the exchange per consumer could desynchronize them
    * (the [[Dedup.sortedNeighborhoodPairs]] `snm_ranked` rationale) — so
    * downstream consumers also read the stage, not the original plan.
    *
    * Contract: the composite (keyCols ++ orderCols) tuples must be
    * DISTINCT and non-null — with ties the sum at a tied row would depend
    * on nondeterministic intra-tie order; with distinct keys the result
    * is exact and reproducible wherever the sampled range boundaries
    * land. Callers feed per-distinct-value count frames or
    * unique-id-tiebroken rows, so this is free.
    *
    * 100 TB shape: one range exchange of the data, one broadcast of the
    * tiny offsets table — the group-key cardinality never appears in any
    * exchange or window of the data-sized frame. A global scan collects
    * its ≤ numPartitions totals to the driver while the frame is built. */
  def withKeyedRunningSums(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String], sumCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "withKeyedRunningSums: orderCols must be non-empty")
    require(sumCols.nonEmpty, "withKeyedRunningSums: sumCols must be non-empty")
    val keys = keyCols.map(c => col(s"`$c`"))
    val ords = orderCols.map(c => col(s"`$c`"))
    val parted = Stager.stage(
      df.repartitionByRange((keys ++ ords): _*)
        .withColumn("__psid", spark_partition_id()),
      s"prefix_sum_${java.util.UUID.randomUUID().toString.take(8)}")
    val wp = Window.partitionBy(col("__psid") +: keys: _*)
      .orderBy(ords.map(_.asc): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = sumCols.foldLeft(parted) { (d, c) =>
      d.withColumn(s"cum_$c", sum(col(s"`$c`")).over(wp))
    }
    // per-(partition, group) totals: ≤ numPartitions + |groups| − 1 rows
    // (groups are contiguous under the composite range sort)
    val totals = parted.groupBy(col("__psid") +: keys: _*)
      .agg(sum(col(s"`${sumCols.head}`")).as(s"__t_${sumCols.head}"),
        sumCols.tail.map(c => sum(col(s"`$c`")).as(s"__t_$c")): _*)
    val offsets =
      if (keyCols.isEmpty) globalOffsets(totals, sumCols.map(c => c -> local.schema(s"cum_$c").dataType))
      else {
        // partitions by group and orders PARTITION IDS, never data
        val wo = Window.partitionBy(keys: _*).orderBy(col("__psid"))
          .rowsBetween(Window.unboundedPreceding, -1)
        sumCols.foldLeft(totals) { (d, c) =>
          d.withColumn(s"__o_$c", coalesce(sum(col(s"__t_$c")).over(wo), lit(0L)))
        }.select((col("__psid") +: keys) ++ sumCols.map(c => col(s"__o_$c")): _*)
      }
    sumCols.foldLeft(
      local.join(broadcast(offsets), "__psid" +: keyCols)) { (d, c) =>
        // cast the offset DOWN to the local running-sum type before the
        // add: summing a DECIMAL(25,9) column makes the local cum
        // DECIMAL(35,9) but the double-summed offset DECIMAL(38,9), and
        // (35,9)+(38,9) overflows precision 38 — Spark's precision-loss
        // rule would then silently re-round the stitched sum to scale 8
        // (caught by the p165 gate: survival factors lost their 9th
        // decimal). (35,9)+(35,9) → (36,9), exact; long+long unchanged.
        d.withColumn(s"cum_$c",
          col(s"cum_$c") + col(s"__o_$c").cast(local.schema(s"cum_$c").dataType))
          .drop(s"__o_$c")
    }.drop("__psid")
  }

  /** The offsets of a global scan (no group key): its ≤ numPartitions
    * partition totals are collected in partition-id order and scanned on
    * the driver, linear in the partition count — the additions a
    * running-sum window over the totals makes, in the same order, so
    * DOUBLE offsets are bit-identical (a NULL total adds nothing, as the
    * window's `sum` skips it). A window with no partition key would do the
    * same work but logs WindowExec's "No Partition Defined" WARN at every
    * planning of every plan that holds it, burying the WARN where a window
    * over DATA collapses onto one reducer. Each offset is kept at its local
    * running sum's type. */
  private[graft] def globalOffsets(totals: DataFrame, sumTypes: Seq[(String, DataType)]): DataFrame = {
    val rows = totals.select(col("__psid") +: sumTypes.map { case (c, _) => col(s"__t_$c") }: _*)
      .collect().sortBy(_.getInt(0))
    val offsets = sumTypes.zipWithIndex.map { case ((_, t), i) =>
      val (zero, plus) = addition(t)
      rows.map(r => if (r.isNullAt(i + 1)) zero else r.get(i + 1)).scanLeft(zero)(plus)
    }
    totals.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows.indices.map(j => Row.fromSeq(rows(j).get(0) +: offsets.map(_(j)))): _*),
      StructType(StructField("__psid", IntegerType, nullable = false) +:
        sumTypes.map { case (c, t) => StructField(s"__o_$c", t) }))
  }

  /** Zero and `+` of a `sum` result type, as the driver-side scan adds. */
  private def addition(t: DataType): (Any, (Any, Any) => Any) = t match {
    case LongType => (0L, (a, b) => a.asInstanceOf[Long] + b.asInstanceOf[Long])
    case DoubleType => (0.0, (a, b) => a.asInstanceOf[Double] + b.asInstanceOf[Double])
    case _: DecimalType => (java.math.BigDecimal.ZERO,
      (a, b) => a.asInstanceOf[java.math.BigDecimal].add(b.asInstanceOf[java.math.BigDecimal]))
    case other => throw new IllegalArgumentException(
      s"withKeyedRunningSums: no global offset scan for running sums of type $other")
  }
}
