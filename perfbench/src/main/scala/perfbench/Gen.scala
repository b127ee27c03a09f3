package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.{SplittableRandom, UUID}
import scala.collection.mutable
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** Order events in the reference producer's shape: UUID `orderID`,
  * `customerID` uniform in 1..10000, `amount` uniform in 20..499, encoded
  * as the producer's JSON bytes. Every event of one generator has a
  * distinct order id unless it is an explicit re-delivery. */
final class Gen(seed: Long) {
  private val rnd = new SplittableRandom(seed)
  val hi = mutable.ArrayBuffer.empty[Long]
  val lo = mutable.ArrayBuffer.empty[Long]
  val cust = mutable.ArrayBuffer.empty[Int]
  /** Last amount delivered for each key. */
  val amt = mutable.ArrayBuffer.empty[Int]

  def keys: Int = hi.size

  private def fresh(): Int = {
    hi += rnd.nextLong(); lo += rnd.nextLong()
    cust += 1 + rnd.nextInt(Gen.Customers)
    amt += 20 + rnd.nextInt(480)
    hi.size - 1
  }

  /** `n` events: a share `redeliver` of them re-deliver a key created by an
    * earlier call with a new amount (never twice in one call), the rest
    * are new keys. Returns the JSON payload of each event. */
  def batch(n: Int, redeliver: Double = 0.0): Array[Array[Byte]] = {
    val old = keys
    val again = if (old == 0) 0 else math.min((n * redeliver).toInt, old)
    val picked = mutable.LinkedHashSet.empty[Int]
    while (picked.size < again) picked += rnd.nextInt(old)
    val out = new Array[Array[Byte]](n)
    var i = 0
    picked.foreach { k =>
      amt(k) = 20 + (amt(k) - 20 + 1 + rnd.nextInt(479)) % 480
      out(i) = payload(k); i += 1
    }
    while (i < n) { out(i) = payload(fresh()); i += 1 }
    out
  }

  def orderId(k: Int): String = new UUID(hi(k), lo(k)).toString

  def payload(k: Int): Array[Byte] =
    s"""{"orderID":"${orderId(k)}","customerID":${cust(k)},"amount":${amt(k)}}""".getBytes(UTF_8)
}

object Gen {
  val Customers = 10000

  /** Spark's `xxhash64(order_id, customer_id, customer_name, city,
    * purchase_amount)` of one enriched row, computed without Spark SQL:
    * seed 42, each column hashed with the previous hash as its seed. */
  def rowHash(orderId: String, cust: Long, name: String, city: String, amount: Long): Long = {
    var h = 42L
    h = bytes(orderId, h)
    h = XXH64.hashLong(cust, h)
    h = bytes(name, h)
    h = bytes(city, h)
    XXH64.hashLong(amount, h)
  }

  private def bytes(s: String, seed: Long): Long = {
    val b = s.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET.toLong, b.length, seed)
  }

  /** Expected rows, bit_xor of row hashes, and amount total for a set of
    * keys of `g`, joined to `customers` (id → (name, city)). */
  def expected(g: Gen, keys: Iterator[Int], customers: Map[Int, (String, String)]): Expect = {
    var rows = 0L; var xor = 0L; var total = 0L
    keys.foreach { k =>
      val (name, city) = customers(g.cust(k))
      rows += 1
      xor ^= rowHash(g.orderId(k), g.cust(k), name, city, g.amt(k))
      total += g.amt(k)
    }
    Expect(rows, xor, total)
  }
}

final case class Expect(rows: Long, xor: Long, amountTotal: Long)
