package graft

import java.net.URI
import scala.jdk.CollectionConverters._
import java.nio.file.{Files, Paths}
import graft.core.{Fs, PosixLocalFileSystem, TableGraph}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission

/** Crash-safety contract of Fs.replace (core/Fs.scala): the destination
  * payload must survive every failure point — the old delete-then-rename
  * could lose the table's parquet while the checkpointed catalog still
  * listed it. And the session's `file:` filesystem: fork-free permission
  * changes that leave the same bits as Hadoop's own. */
class FsSpec extends SparkSpecBase {
  import spark.implicits._

  // the session's conf, so the `file:` filesystem these specs use (Hadoop
  // caches the first one a JVM asks for) is the engine's
  private lazy val conf = spark.sparkContext.hadoopConfiguration

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_fs").toString

  private def write(path: String, body: String): Unit =
    Fs.writeStringAtomic(path, body, conf)

  test("replace swaps payload and leaves no aside copy behind") {
    val dir = tmpDir()
    write(s"$dir/src", "new")
    write(s"$dir/dst", "old")
    Fs.replace(s"$dir/src", s"$dir/dst", conf)
    assert(Fs.readString(s"$dir/dst", conf) === Some("new"))
    assert(!new java.io.File(dir).list().exists(_.startsWith(".dst.old-")),
      "the aside copy must be deleted after a successful swap")
  }

  test("failed replace restores the old destination instead of losing it") {
    val dir = tmpDir()
    write(s"$dir/dst", "old")
    // src does not exist -> the into-place rename fails AFTER the old
    // payload moved aside; the old payload must come back
    intercept[java.io.IOException] {
      Fs.replace(s"$dir/missing_src", s"$dir/dst", conf)
    }
    assert(Fs.readString(s"$dir/dst", conf) === Some("old"),
      "a failed replace must never lose the existing destination")
  }

  test("replace reclaims aside copies leaked by an earlier crash") {
    val dir = tmpDir()
    write(s"$dir/dst", "old")
    write(s"$dir/.dst.old-crash001", "leaked") // crash-after-rename leftover
    write(s"$dir/src", "new")
    Fs.replace(s"$dir/src", s"$dir/dst", conf)
    assert(Fs.readString(s"$dir/dst", conf) === Some("new"))
    assert(!new java.io.File(dir).list().exists(_.startsWith(".dst.old-")),
      "stale aside copies for this destination must be reclaimed")
  }

  test("replace heals a crash-orphaned aside: dst missing, aside is the only copy") {
    // crash window: aside rename done, into-place rename not -> dst is gone
    // and .dst.old-* holds the only old payload. The NEXT replace must
    // restore it before proceeding, so even a replace that then fails
    // (missing src) leaves the old payload back at dst.
    val dir = tmpDir()
    write(s"$dir/.dst.old-deadbeef", "only-copy")
    intercept[java.io.IOException] {
      Fs.replace(s"$dir/missing_src", s"$dir/dst", conf)
    }
    assert(Fs.readString(s"$dir/dst", conf) === Some("only-copy"),
      "the orphaned aside must be renamed back to dst on entry")
  }

  test("replace heals the NEWEST orphaned aside and drops older ones") {
    val dir = tmpDir()
    write(s"$dir/.dst.old-aaaa0001", "older")
    Thread.sleep(1100) // local FS mtime granularity is 1s
    write(s"$dir/.dst.old-bbbb0002", "newer")
    write(s"$dir/src", "new")
    Fs.replace(s"$dir/src", s"$dir/dst", conf)
    assert(Fs.readString(s"$dir/dst", conf) === Some("new"))
    assert(!new java.io.File(dir).list().exists(_.startsWith(".dst.old-")),
      "all asides reclaimed after a successful replace")
  }

  private def octal(digits: String): Int = Integer.parseInt(digits, 8)

  /** Permission bits (octal 7777) of a local file or directory. */
  private def mode(path: java.nio.file.Path): Int =
    Files.getAttribute(path, "unix:mode").asInstanceOf[Int] & octal("7777")

  /** Every file and directory under `root` with its bits; random name
    * parts (UUIDs, temp suffixes, hex ids) masked so two runs line up. */
  private def modes(root: String): Seq[(String, Int)] = {
    val r = Paths.get(root)
    val walk = Files.walk(r)
    try walk.iterator().asScala.toSeq.map { p =>
      r.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "U")
        .replaceAll("-[0-9a-f]{8}\\b", "-H") -> mode(p)
    }.sortBy(_._1)
    finally walk.close()
  }

  /** `body` under session conf `fs.file.impl` = `impl` and Hadoop umask
    * `umask`, with a fresh filesystem per lookup. */
  private def underImpl[T](impl: Class[_], umask: String)(body: => T): T = {
    val keys = Seq("fs.file.impl" -> impl.getName, "fs.file.impl.disable.cache" -> "true",
      "fs.permissions.umask-mode" -> umask)
    val prev = keys.map { case (k, _) => k -> Option(conf.get(k)) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** The `file:` filesystem Hadoop picks without the session's setting. */
  private def hadoopDefault: Class[_] =
    FileSystem.getFileSystemClass("file", new org.apache.hadoop.conf.Configuration())

  test("the session's file: filesystem is PosixLocalFileSystem") {
    assert(FileSystem.get(new URI("file:///"), conf).getClass === classOf[PosixLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass === classOf[PosixLocalFileSystem])
  }

  test("a rename onto an existing local file fails, as in Hadoop's default file: filesystem") {
    val dir = tmpDir()
    for (impl <- Seq(hadoopDefault, classOf[PosixLocalFileSystem])) underImpl(impl, "022") {
      val fs = FileSystem.getLocal(conf)
      val (a, b) = (new HPath(s"$dir/${impl.getSimpleName}.a"), new HPath(s"$dir/${impl.getSimpleName}.b"))
      Fs.writeStringAtomic(a.toString, "a", conf)
      Fs.writeStringAtomic(b.toString, "b", conf)
      assert(!fs.rename(a, b), impl.getName)
      assert(Fs.readString(b.toString, conf) === Some("b"), impl.getName)
      assert(fs.rename(a, new HPath(s"$dir/${impl.getSimpleName}.c")), impl.getName)
    }
  }

  test("local files and directories carry Hadoop's bits under umask 022 and 077") {
    val rows = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    for (umask <- Seq("022", "077")) {
      val trees = Seq(hadoopDefault, classOf[PosixLocalFileSystem]).map { impl =>
        val dir = tmpDir()
        underImpl(impl, umask) {
          Fs.writeStringAtomic(s"$dir/cache/a/entry.json", "{}", conf, overwrite = false)
          Fs.writeStringAtomic(s"$dir/ckpt/state.json", "{}", conf)
          new TableGraph(s"$dir/wh").addTable("t", rows)
          rows.write.parquet(s"$dir/pq")
        }
        modes(dir).filter(_._1.nonEmpty)
      }
      assert(trees(1) === trees(0), s"umask $umask")
      val expected = (if (umask == "022") Set("644", "755") else Set("600", "700")).map(octal)
      assert(trees(1).map(_._2).toSet === expected, s"umask $umask: ${trees(1)}")
    }
  }

  test("a write that throws leaves no temp file behind") {
    val dir = tmpDir()
    for (overwrite <- Seq(false, true)) underImpl(classOf[FailingWriteFileSystem], "022") {
      intercept[java.io.InterruptedIOException] {
        Fs.writeStringAtomic(s"$dir/cache/entry.json", "{}", conf, overwrite)
      }
    }
    assert(new java.io.File(s"$dir/cache").list().toSeq === Nil)
  }

  test("a sticky bit falls back to Hadoop's chmod") {
    val fs = FileSystem.getLocal(conf)
    val local = Paths.get(tmpDir(), "shared")
    val dir = new HPath(local.toUri)
    fs.mkdirs(dir)
    fs.setPermission(dir, new FsPermission(octal("1777").toShort))
    // java.nio cannot set a sticky bit: 1777 shows Hadoop's path ran
    assert(mode(local) === octal("1777"))
    // a sticky target falls back too, and the bits come out as chmod's
    fs.setPermission(dir, new FsPermission(octal("750").toShort))
    assert(mode(local) === octal("750"))
  }
}

/** A `file:` filesystem whose output streams throw on the first write, as
  * an interrupted write would. */
class FailingWriteFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  override def create(f: HPath, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    val out = super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    new org.apache.hadoop.fs.FSDataOutputStream(new java.io.OutputStream {
      override def write(b: Int): Unit = throw new java.io.InterruptedIOException("write interrupted")
      override def close(): Unit = out.close()
    }, null)
  }
}
