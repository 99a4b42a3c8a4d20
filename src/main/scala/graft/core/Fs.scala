package graft.core

import java.io.{ObjectInputStream, ObjectOutputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Warehouse file ops routed through the Hadoop [[FileSystem]] API so the
  * graph warehouse / URL cache work wherever Spark's own parquet writes work
  * (local file:, HDFS, S3A, ...), not only on a POSIX mount. `java.nio.file`
  * must never touch a warehouse path: against an `hdfs://` or `s3a://` URI it
  * either throws or silently writes executor-local disk, degrading shared
  * caches to per-node (round-3 verdict, "what's wrong" #3).
  *
  * All helpers resolve the FileSystem from the path's own scheme (falling
  * back to `fs.defaultFS`), so one call site handles every store.
  */
object Fs {

  /** Driver-side Hadoop conf: the active session's (carries `spark.hadoop.*`
    * overrides, e.g. S3 credentials) when one exists, else vanilla. */
  def driverConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  def fsFor(path: String, conf: Configuration): (FileSystem, HPath) = {
    val p = new HPath(path)
    (p.getFileSystem(conf), p)
  }

  def exists(path: String, conf: Configuration): Boolean = {
    val (fs, p) = fsFor(path, conf); fs.exists(p)
  }

  def mkdirs(path: String, conf: Configuration): Unit = {
    val (fs, p) = fsFor(path, conf); fs.mkdirs(p); ()
  }

  def readString(path: String, conf: Configuration): Option[String] = {
    val (fs, p) = fsFor(path, conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(out.toString("UTF-8"))
      } finally in.close()
    }
  }

  /** Write-to-temp + rename. On HDFS the rename is atomic; on object stores
    * it is copy+delete but still single-key-visible, so a reader never sees
    * a torn body.
    *
    * overwrite=true (checkpoints): the rename goes through [[org.apache.hadoop.fs.FileContext]]
    * with Rename.OVERWRITE — one call, ATOMIC on HDFS; on local/object
    * stores the AbstractFileSystem default handles overwrite non-atomically
    * (documented), so a crash can still lose the destination there — which
    * is why checkpoint READERS fall back to the newest surviving temp file
    * (TableGraph.loadCheckpoint).
    *
    * overwrite=false (cache entries): if the destination appears
    * concurrently, another writer of the same idempotent key won the race —
    * the temp is discarded, first writer wins. A rename that fails with no
    * winner present throws rather than silently dropping the write; callers
    * for whom the write is best-effort (executor cache maintenance) catch.
    *
    * Either way a create, write or rename that throws (an interrupted
    * cache put of a cancelled fetch, say) deletes the temp first.
    */
  def writeStringAtomic(path: String, body: String, conf: Configuration,
      overwrite: Boolean = true): Unit = {
    val (fs, p) = fsFor(path, conf)
    val parent = p.getParent
    if (parent != null) fs.mkdirs(parent)
    val tmp = new HPath(parent,
      "." + p.getName + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    try {
      val out = fs.create(tmp, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      if (overwrite) {
        val fc =
          if (p.toUri.getScheme == null) org.apache.hadoop.fs.FileContext.getFileContext(conf)
          else org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
        fc.rename(fs.makeQualified(tmp), fs.makeQualified(p),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } else if (!fs.rename(tmp, p)) {
        fs.delete(tmp, false)
        if (!fs.exists(p))
          throw new java.io.IOException(s"rename to $path failed with no concurrent winner")
      }
    } catch {
      // an interrupted or failed create, write or rename leaves no temp
      case e: Throwable =>
        try fs.delete(tmp, false) catch { case d: Throwable => e.addSuppressed(d) }
        throw e
    }
    ()
  }

  def delete(path: String, conf: Configuration, recursive: Boolean = true): Unit = {
    val (fs, p) = fsFor(path, conf)
    if (fs.exists(p)) fs.delete(p, recursive)
    ()
  }

  /** [[readString]], falling back to the newest surviving
    * `.<name>.tmp-*` sibling when the destination is missing — the
    * crash-window recovery for checkpoint readers: on stores where
    * overwrite-rename is not atomic, a crash between delete and rename
    * loses the destination but leaves the fully-written temp. A torn temp
    * (writer died mid-write) surfaces as unparseable content, which
    * checkpoint loaders already treat as start-clean. */
  def readStringWithTempFallback(path: String, conf: Configuration): Option[String] =
    readString(path, conf).orElse {
      val (fs, p) = fsFor(path, conf)
      val parent = p.getParent
      if (parent == null || !fs.exists(parent)) None
      else {
        val prefix = "." + p.getName + ".tmp-"
        fs.listStatus(parent).filter(_.getPath.getName.startsWith(prefix))
          .sortBy(_.getModificationTime).lastOption
          .flatMap(s => readString(s.getPath.toString, conf))
      }
    }

  /** Delete the CHILDREN of a directory, keeping the directory itself. */
  def clearDir(path: String, conf: Configuration): Unit = {
    val (fs, p) = fsFor(path, conf)
    if (fs.exists(p)) fs.listStatus(p).foreach(s => fs.delete(s.getPath, true))
  }

  /** Move src over dst. The old dst is renamed ASIDE (not deleted) before
    * src moves into place, so the old payload survives every failure shape:
    * either the aside rename hasn't happened (old payload intact at dst) or
    * it has (old payload intact at the aside path — restored on failure,
    * and a crash in that window is healed ON ENTRY by the next replace of
    * the same dst, which renames the newest surviving aside back into
    * place before proceeding). The aside copy is deleted only after the
    * new payload is in place; a crash exactly then leaks one redundant
    * `.<name>.old-*` sibling — storage, not correctness — reclaimed here.
    * Restore renames are themselves checked: if one fails, the thrown
    * error names the aside path that still holds the old payload. */
  def replace(src: String, dst: String, conf: Configuration): Unit = {
    val (fs, s) = fsFor(src, conf)
    val d = new HPath(dst)
    val parent = d.getParent
    val asides =
      if (parent != null && fs.exists(parent))
        fs.listStatus(parent).filter(_.getPath.getName.startsWith("." + d.getName + ".old-"))
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    if (!fs.exists(d) && asides.nonEmpty) {
      // crash between aside-rename and into-place-rename: the newest aside
      // is the ONLY copy of the old destination — restore it, then replace
      val newest = asides.maxBy(_.getModificationTime).getPath
      if (!fs.rename(newest, d))
        throw new java.io.IOException(
          s"restore of crash-orphaned aside $newest -> $dst failed; old payload remains at $newest")
      asides.filter(_.getPath != newest).foreach(st => fs.delete(st.getPath, true))
    } else {
      // dst intact -> any surviving aside is a redundant leak; reclaim
      asides.foreach(st => fs.delete(st.getPath, true))
    }
    val aside = new HPath(parent,
      "." + d.getName + ".old-" + java.util.UUID.randomUUID().toString.take(8))
    val hadOld = fs.exists(d)
    if (hadOld && !fs.rename(d, aside))
      throw new java.io.IOException(s"rename-aside $dst -> $aside failed")
    def restoreOr(base: java.io.IOException): java.io.IOException =
      if (hadOld && !fs.rename(aside, d))
        new java.io.IOException(s"${base.getMessage}; restore $aside -> $dst ALSO " +
          s"failed — old payload remains at $aside", base)
      else base
    // some FS impls THROW on a bad src instead of returning false — restore
    // the old payload on either failure shape before propagating
    val renamed =
      try fs.rename(s, d)
      catch { case e: Throwable =>
        if (hadOld && !fs.rename(aside, d))
          e.addSuppressed(new java.io.IOException(
            s"restore $aside -> $dst failed — old payload remains at $aside"))
        throw e
      }
    if (!renamed) throw restoreOr(new java.io.IOException(s"rename $src -> $dst failed"))
    if (hadOld) fs.delete(aside, true)
    ()
  }
}

/** Ships a Hadoop [[Configuration]] (not Serializable itself) inside task
  * closures so executor-side code (Chain's URL-cache reads/writes) resolves
  * the SAME filesystem — with the session's `spark.hadoop.*` credentials —
  * as the driver. Hand-rolled rather than Spark's internal wrapper to stay
  * off private APIs.
  */
class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
