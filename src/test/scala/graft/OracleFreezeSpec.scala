package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The DuckDB oracle SQL is frozen: it is the independent replica every
  * Spark query is hash-compared against, so a refactor of the Spark side
  * must not move it. An intended oracle edit updates `Sha256` here and
  * records why in CHANGES.md. */
class OracleFreezeSpec extends AnyFunSuite {

  private val Sha256 = "c3377ce888fa24dfc7d1531ff652ab0fb7d1219dc844a167d418653caedf6924"

  test("SparkEntry.oracleSql is unchanged (SHA-256 over its entries sorted by key)") {
    val text = SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v\n" }.mkString
    val sha = MessageDigest.getInstance("SHA-256").digest(text.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
    assert(sha === Sha256)
  }
}
