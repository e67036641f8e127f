package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

/** Order-insensitive fingerprints of a table: row count and the sum of a
  * 64-bit hash of each row's canonical `|`-joined text. Spark computes
  * the table's side; a model computes the same from its own rows. */
object Check {

  val Null = "\\N"

  def hash(canon: String): Long = {
    val b = canon.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  final class Fingerprint {
    var rows = 0L
    var sum = BigInt(0)
    def add(canon: String): Unit = { rows += 1; sum += hash(canon) }
    override def toString: String = s"$rows rows, hash sum $sum"
    def same(o: (Long, BigInt)): Boolean = o._1 == rows && o._2 == sum
  }

  /** (count, hash sum) of `df` over `cols`, nulls rendered as `\N`. */
  def spark(df: DataFrame, cols: Seq[String]): (Long, BigInt) = {
    val canon = concat_ws("|", cols.map(c => coalesce(col(c).cast("string"), lit(Null))): _*)
    val r = df.agg(count(lit(1)), sum(xxhash64(canon).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0)))
  }
}
