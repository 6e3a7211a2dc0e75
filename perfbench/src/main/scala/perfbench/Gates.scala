package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent digests of a table's rows, for the correctness gates. */
object Gates {

  /** (row count, sum of 32-bit row hashes) over `cols` in the given order.
    * The hashes are masked to 32 bits so the sum cannot overflow.
    */
  def digest(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.select(cols.map(col): _*)
      .agg(count(lit(1)), coalesce(sum(xxhash64(cols.map(col): _*).bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Throws unless `actual` holds exactly the rows of `expected`. */
  def requireSame(what: String, expected: DataFrame, actual: DataFrame, cols: Seq[String]): Unit = {
    val want = digest(expected, cols)
    val got = digest(actual, cols)
    if (want != got)
      throw new IllegalStateException(
        s"$what: expected ${want._1} rows with digest ${want._2}, found ${got._1} rows with digest ${got._2}")
  }
}
