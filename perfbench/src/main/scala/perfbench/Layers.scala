package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, computed from each op's window. */
object Layers {
  /** One timed op (or sub-op) window plus measurements taken around it. */
  final case class Rec(op: Int, kind: String, startUs: Long, endUs: Long,
      extra: Map[String, Double])

  private type Iv = Seq[(Long, Long)]
  private def s(us: Double): Double = us / 1e6

  /** Layer self times nest innermost first: fetches run inside stages, and
    * stages, planning phases, registry construction and MagicTable calls
    * are each charged only for time no inner layer covers. */
  def opMetrics(r: Rec, o: OpRecord, fetches: Iv): Map[String, Double] = {
    import Trace.{exclusiveUs, unionUs}
    val wall = (r.endUs - r.startUs).toDouble
    def spans(p: String => Boolean): Iv = o.spans.filter(x => p(x.name)).map(x => (x.startUs, x.endUs))
    val stageIv = o.stages.map(x => (x.startUs, x.endUs))
    val planIv = o.queries.flatMap(_.phases.map { case (_, a, b) => (a, b) })
    val construct = spans(_ == "registry.construct")
    val calls = spans(_.startsWith("magictable."))
    val phase = Trace.PlanPhases.toSeq.map { p =>
      s"plan.${p}_s" -> s(o.queries.flatMap(_.phases.collect { case (`p`, a, b) => b - a }).sum.toDouble)
    }
    val modules = (Trace.Modules :+ "other").flatMap { m =>
      val st = o.stages.filter(_.module == m)
      Seq(s"operators.$m.jobs" -> o.jobs.count(_ == m).toDouble,
        s"operators.$m.stage_wall_s" -> s(unionUs(st.map(x => (x.startUs, x.endUs))).toDouble))
    }
    val pipeline = o.spans.filter(_.name == "pipeline.p233").map(x => "pipeline.p233_s" -> x.durS)
    val all = fetches ++ stageIv ++ planIv ++ construct ++ calls
    // layers an op does not touch stay absent, so their means cover only
    // the ops that have them (registry queries vs the MagicTable flow)
    def when(present: Boolean)(kv: (String, Double)*): Map[String, Double] =
      if (present) kv.toMap else Map.empty
    when(construct.nonEmpty)(
      "registry.construct_s" -> s(construct.map { case (a, b) => b - a }.sum.toDouble),
      "self.registry_s" -> s(exclusiveUs(construct, fetches ++ stageIv ++ planIv).toDouble)) ++
    when(calls.nonEmpty)(
      "self.sources_s" -> s(unionUs(fetches).toDouble),
      "self.magictable_s" -> s(exclusiveUs(calls, fetches ++ stageIv ++ planIv ++ construct).toDouble)) ++
    Map(
      "plan.exchanges" -> o.queries.map(_.shuffles).sum.toDouble,
      "plan.broadcast_exchanges" -> o.queries.map(_.broadcasts).sum.toDouble,
      "exec.jobs" -> o.jobs.size.toDouble,
      "exec.stages" -> o.stages.size.toDouble,
      "exec.tasks" -> o.tasks.size.toDouble,
      "exec.empty_tasks" -> o.tasks.count(_.empty).toDouble,
      "exec.driver_gap_s" -> s(wall - unionUs(construct ++ planIv ++ stageIv)),
      "exec.stage_wall_s" -> s(unionUs(stageIv).toDouble),
      "exec.task_s" -> o.tasks.map(_.runMs).sum / 1e3,
      "exec.shuffle_write_mb" -> o.tasks.map(_.shuffleWriteBytes).sum / 1e6,
      "exec.spill_mb" -> o.tasks.map(_.spillBytes).sum / 1e6,
      "self.exec_s" -> s(exclusiveUs(stageIv, fetches).toDouble),
      "self.plan_s" -> s(exclusiveUs(planIv, fetches ++ stageIv).toDouble),
      "trace.op_s" -> s(wall),
      "trace.residual_s" -> s(wall - unionUs(all))
    ) ++ phase ++ modules ++ pipeline ++ r.extra
  }

  /** Sum sub-ops into ops, then average every metric over the ops that
    * report it; ratio metrics are ratios of the summed counts. */
  def aggregate(trace: Trace, recs: Seq[Rec]): Map[String, Double] = {
    val fetches = BenchFetcher.intervals.asScala.toSeq
    val perOp = recs.groupBy(_.op).values.map { subs =>
      subs.map { r =>
        val w = fetches.filter { case (a, b) => a >= r.startUs && b <= r.endUs }
        opMetrics(r, trace.opRecord(r.op, r.startUs, r.endUs), w)
      }.reduce((a, b) => (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap)
    }.toSeq
    if (perOp.isEmpty) return Map.empty
    val keys = perOp.flatMap(_.keySet).distinct
    def total(k: String) = perOp.map(_.getOrElse(k, 0.0)).sum
    def ratio(a: String, b: String) = if (total(b) > 0) total(a) / total(b) else 0.0
    val mean = keys.map(k => k -> total(k) / perOp.count(_.contains(k))).toMap
    val helpers = Set("exec.empty_tasks", "tablegraph.hits", "tablegraph.cacheable_calls")
    mean -- helpers ++ Map(
      "exec.empty_task_frac" -> ratio("exec.empty_tasks", "exec.tasks"),
      "sources.fetches_per_url" -> ratio("sources.fetch_calls", "sources.distinct_urls"),
      "tablegraph.hit_ratio" -> ratio("tablegraph.hits", "tablegraph.cacheable_calls"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.isEmpty) 0.0
    else if (v.size % 2 == 1) v(v.size / 2)
    else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }

  private def procField(file: String, key: String): Option[Long] =
    try Files.readAllLines(Paths.get(file)).asScala.find(_.startsWith(key))
      .map(_.stripPrefix(key).trim.split("\\s+")(0).toLong)
    catch { case _: Exception => None }

  /** Peak resident set size of this JVM (VmHWM), MB. */
  def peakRssMb(): Double = procField("/proc/self/status", "VmHWM:").getOrElse(0L) / 1024.0

  /** Bytes this process has passed to write calls (/proc/self/io wchar). */
  def wcharBytes(): Long = procField("/proc/self/io", "wchar:").getOrElse(0L)

  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def jitMs(): Long = {
    val cb = java.lang.management.ManagementFactory.getCompilationMXBean
    if (cb != null && cb.isCompilationTimeMonitoringSupported) cb.getTotalCompilationTime else 0L
  }

  def localPath(uri: String): String =
    if (uri.startsWith("file:")) new java.net.URI(uri).getPath else uri

  def filesUnder(dir: String): Set[String] = {
    val root = Paths.get(localPath(dir))
    if (!Files.exists(root)) Set.empty
    else {
      val st = Files.walk(root)
      try st.iterator.asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet
      finally st.close()
    }
  }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val st = Files.walk(root)
    try st.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally st.close()
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case x => quote(x.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
