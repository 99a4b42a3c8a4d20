package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ExecutionException, Executors, Future, ThreadFactory}
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.TaskContext

/** Transport abstraction for everything the reference fetches over HTTPS
  * (API pages, web pages, PDFs, chain fan-out URLs). The build/test
  * environment is zero-egress, so the default implementation is
  * file-backed; an HTTP implementation can be plugged in where egress
  * exists. Implementations MUST be Serializable — chain ships the fetcher
  * to executors inside a mapPartitions closure (the reference instead loops
  * rows on the driver, magictable.py:250-266 — the #1 thing not to copy) —
  * and thread-safe: [[Fetcher.concurrently]] calls `fetchRaw` and
  * `fetchWithRetry` of one instance from up to [[Fetcher.MaxInFlight]]
  * threads at once.
  */
trait Fetcher extends Serializable {

  /** Fetch one URL; Left(status) on failure, Right(body) on success. */
  def fetchRaw(url: String): Either[Int, String]

  /** Retry policy of the reference (magictable.py:317-347): max 5 attempts,
    * backoff 2^attempt seconds + jitter in [0,1)s, 429 honored like any
    * retryable failure; after final failure returns None — the row keeps
    * all-null api_* columns (magictable.py:340,389).
    * Jitter is seeded per-URL so tests are deterministic; sleeps can be
    * disabled for tests via `maxSleepMs = 0`.
    */
  def fetchWithRetry(url: String, maxRetries: Int = 5, maxSleepMs: Long = 30000L): Option[String] = {
    val rng = new Random(url.hashCode.toLong)
    var attempt = 0
    while (attempt < maxRetries) {
      fetchRaw(url) match {
        case Right(body) => return Some(body)
        case Left(_) =>
          attempt += 1
          if (attempt < maxRetries && maxSleepMs > 0) {
            val delayMs = math.min(maxSleepMs,
              (math.pow(2, attempt) * 1000L + rng.nextInt(1000)).toLong)
            Thread.sleep(delayMs)
          }
      }
    }
    None
  }
}

object Fetcher {

  /** Most per-URL units in flight in one task: enough to overlap a
    * partition's round trips, few enough that a wide partition never opens
    * thousands of connections — or starts thousands of threads — at once. */
  val MaxInFlight = 16

  /** THE multi-URL fetch path (the reference's `asyncio.gather`,
    * magictable.py:371-373): runs `unit` — a URL's fetch and whatever
    * belongs to it (cache read and write, flattening) — on up to
    * [[MaxInFlight]] URLs at a time, and yields the results in URL order.
    * A unit's exception is rethrown when its result is reached, so it
    * fails the task as a serial loop would. The pool stops when the last
    * result is taken and, inside a task, when the task completes (success,
    * failure or kill): a cancelled task interrupts fetches asleep in
    * backoff rather than leaving them to run out. */
  def concurrently[T](urls: Iterator[String])(unit: String => T): Iterator[T] = {
    val pool = Executors.newFixedThreadPool(MaxInFlight, daemonThreads)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => pool.shutdownNow()))
    val inFlight = mutable.Queue.empty[Future[T]]
    def fill(): Unit =
      while (inFlight.size < MaxInFlight && urls.hasNext) {
        val url = urls.next()
        inFlight.enqueue(pool.submit(() => unit(url)))
      }
    new Iterator[T] {
      override def hasNext: Boolean = {
        fill()
        if (inFlight.isEmpty) pool.shutdown()
        inFlight.nonEmpty
      }
      override def next(): T = {
        if (!hasNext) throw new NoSuchElementException("no URL left")
        try inFlight.dequeue().get()
        catch { case e: ExecutionException => throw e.getCause }
      }
    }
  }

  private val daemonThreads: ThreadFactory = { r =>
    val t = new Thread(r, "graft-fetch")
    t.setDaemon(true)
    t
  }
}

/** Offline fetcher: resolves a URL to a fixture file under `root`.
  * Mapping: strip the scheme, replace every non [A-Za-z0-9._-] char with
  * '_', append ".json" if no extension. Missing fixture -> Left(404).
  */
class FileFetcher(rootDir: String) extends Fetcher {
  override def fetchRaw(url: String): Either[Int, String] = {
    val p = FileFetcher.resolve(rootDir, url)
    if (Files.exists(p)) Right(new String(Files.readAllBytes(p), "UTF-8"))
    else Left(404)
  }
}

object FileFetcher {
  def resolve(rootDir: String, url: String): Path = {
    val noScheme = url.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    val safe = noScheme.map(c => if (c.isLetterOrDigit || "._-".contains(c)) c else '_')
    val named = if (safe.contains('.') && safe.split('.').last.length <= 5) safe else s"$safe.json"
    Paths.get(rootDir, named)
  }

  /** Write a fixture for `url` (test/gate helper). Temp + atomic move: gate
    * fixtures are seeded by whichever JVM runs first while others may
    * already be fetching — a torn read would feed null api_* rows into a
    * correctness compare. */
  def writeFixture(rootDir: String, url: String, body: String): Path = {
    val p = resolve(rootDir, url)
    Files.createDirectories(p.getParent)
    val tmp = Files.createTempFile(p.getParent, "." + p.getFileName.toString, ".tmp")
    try {
      Files.write(tmp, body.getBytes("UTF-8"))
      Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
    p
  }
}

/** In-memory fetcher for unit tests: url -> body, with an optional set of
  * URLs that always fail (exercises the retry-exhausted -> all-null path).
  */
class MapFetcher(entries: Map[String, String], alwaysFail: Set[String] = Set.empty)
    extends Fetcher {
  override def fetchRaw(url: String): Either[Int, String] =
    if (alwaysFail.contains(url)) Left(500)
    else entries.get(url).toRight(404)
}
