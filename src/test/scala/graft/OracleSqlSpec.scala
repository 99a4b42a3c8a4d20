package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Pins the text of every [[SparkEntry.oracleSql]] entry: the DuckDB side
  * of each gate must not move when the registry or [[OracleSql]] is
  * refactored. `oracle_sql.md5` holds one `<gate> <md5 of the UTF-8 SQL>`
  * line per gate; regenerate it from a `graft.Verify` dump with
  * `python3 -c 'import json,hashlib,sys; d=json.load(open(sys.argv[1]));
  * print("\n".join(f"{k} {hashlib.md5(v.encode()).hexdigest()}" for k, v
  * in sorted(d.items())))' <out>/oracle_sql.json` — only when an oracle
  * change is intended. */
class OracleSqlSpec extends AnyFunSuite {

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  private lazy val pinned: Map[String, String] = {
    val src = scala.io.Source.fromResource("oracle_sql.md5")(scala.io.Codec.UTF8)
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(name, digest) = line.split(' ')
      name -> digest
    }.toMap
    finally src.close()
  }

  test("the gate name set equals the pinned one") {
    val live = SparkEntry.oracleSql.keySet
    assert((live -- pinned.keySet).isEmpty, s"gates missing from oracle_sql.md5: ${(live -- pinned.keySet).toSeq.sorted}")
    assert((pinned.keySet -- live).isEmpty, s"pinned gates gone: ${(pinned.keySet -- live).toSeq.sorted}")
  }

  test("every oracle SQL text hashes to its pinned md5") {
    val changed = SparkEntry.oracleSql.toSeq.sortBy(_._1).collect {
      case (name, sql) if pinned.get(name).exists(_ != md5(sql)) => s"$name ${md5(sql)}"
    }
    assert(changed.isEmpty, changed.mkString("oracle SQL changed (gate, new md5):\n", "\n", ""))
  }
}
