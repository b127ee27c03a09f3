package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Pins every `SparkEntry.oracleSql` entry to the sha256 of its UTF-8
  * text, as listed in `graft/oracle_sql.sha256` (one `<hex>  <name>`
  * line per oracle, sorted by name). A refactor of how the oracles are
  * assembled must keep every hash; byte-identical SQL means identical
  * DuckDB results. Serve aliases share their base oracle, so they hash
  * the same as it.
  *
  * Regenerate the resource only for an intended oracle change, after
  * `tools/compare.py` confirms it: the failure message prints the new
  * line of every changed or added oracle. */
class OracleHashSpec extends AnyFunSuite {
  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  private val pinned: Map[String, String] = {
    val in = getClass.getResourceAsStream("/graft/oracle_sql.sha256")
    assert(in != null, "resource graft/oracle_sql.sha256 is missing")
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    text.linesIterator.filter(_.nonEmpty).map { line =>
      val Array(hash, name) = line.split("  ", 2)
      name -> hash
    }.toMap
  }

  test("every oracle's SQL hashes to its pinned sha256") {
    val actual = SparkEntry.oracleSql.map { case (k, v) => k -> sha256(v) }
    val missing = (pinned.keySet -- actual.keySet).toSeq.sorted
    val changed = actual.toSeq.sorted.collect {
      case (k, h) if !pinned.get(k).contains(h) => s"$h  $k"
    }
    assert(missing.isEmpty && changed.isEmpty,
      s"\nmissing oracles: ${missing.mkString(", ")}" +
        s"\nchanged or added (new resource lines):\n${changed.mkString("\n")}")
  }
}
