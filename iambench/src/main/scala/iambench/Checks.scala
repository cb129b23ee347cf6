package iambench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The comparisons every run makes between the program's answers and the
  * generator's, outside the timed spans. Each returns the mismatch, or
  * None when the answer is right. */
object Checks {

  /** Row count, order-free hash and largest `b` of a two-column result:
    * the Spark side of [[Org.Digest]]. */
  def digestOf(df: DataFrame, a: String, b: String): Row =
    df.agg(count(lit(1)), sum(pmod(xxhash64(col(a), col(b)), lit(Org.HashModulus))),
      max(col(b))).head()

  def digest(what: String, got: Row, want: Org.Digest): Option[String] =
    if (got.getLong(0) == want.count && !got.isNullAt(1) && got.getLong(1) == want.hash) None
    else Some(s"$what: (${got.get(0)}, ${got.get(1)}) pairs, expected (${want.count}, ${want.hash})")

  def census(what: String, got: (Long, Long), want: (Long, Long)): Option[String] =
    if (got == want) None
    else Some(s"$what: ${got._1} vertices and ${got._2} edges, expected ${want._1} and ${want._2}")

  def same[A](what: String, got: A, want: A): Option[String] =
    if (got == want) None else Some(s"$what: got ${short(got)}, expected ${short(want)}")

  private def short(x: Any): String = x match {
    case s: Iterable[_] => s.take(5).mkString(s"${s.size} [", ", ", if (s.size > 5) ", ...]" else "]")
    case o => o.toString
  }
}
