package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import graft.core.Jsons
import graft.sources.Fetcher

/** Stand-in for the remote API of the MagicTable flow: reads the fixture file of a
  * URL (`<root>/<md5(url)>.json`) and adds a fixed per-request latency.
  * Counters live in the companion object: in `local[N]` the executors share
  * the driver JVM, so executor-side fetches of a chain count here too. */
class BenchFetcher(root: String, latencyMs: Long) extends Fetcher {
  override def fetchRaw(url: String): Either[Int, String] = {
    val t0 = Clock.nowUs
    Thread.sleep(latencyMs)
    val p = Paths.get(root, Jsons.md5Hex(url) + ".json")
    val out = if (Files.exists(p)) Right(new String(Files.readAllBytes(p), "UTF-8")) else Left(404)
    BenchFetcher.record(url, out.isRight, t0, Clock.nowUs)
    out
  }
}

object BenchFetcher {
  /** Simulated round-trip time of one API request. */
  val LatencyMs = 3L

  val calls = new AtomicLong(0)
  val failed = new AtomicLong(0)
  val micros = new AtomicLong(0)
  val urls: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Fetch intervals (epoch µs), kept only while a traced op runs. */
  val intervals = new ConcurrentLinkedQueue[(Long, Long)]()
  @volatile var recording = false

  def record(url: String, ok: Boolean, t0: Long, t1: Long): Unit = {
    calls.incrementAndGet()
    if (!ok) failed.incrementAndGet()
    micros.addAndGet(t1 - t0)
    urls.add(url)
    if (recording) intervals.add((t0, t1))
  }

  def reset(): Unit = {
    calls.set(0); failed.set(0); micros.set(0); urls.clear()
  }
}
