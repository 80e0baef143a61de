package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output checks. Each returns human-readable failures; empty = pass. */
object Checks {

  /** Relative tolerance for doubles: two engines that merge the same
    * per-row states in a different summation order agree to ~1e-12. */
  val Tol = 1e-9

  /** Keyed comparison both ways: every key of each side is present on the
    * other exactly once, integer columns are equal and double columns agree
    * within `Tol` (NaN equals NaN). This is `exceptAll` in both directions
    * with a float tolerance. */
  def sameRows(what: String, got: DataFrame, exp: DataFrame, keys: Seq[String],
               exact: Seq[String], approx: Seq[String]): Seq[String] = {
    val cols = keys ++ exact ++ approx
    val g = got.select(cols.map(c => col(c).as(s"g_$c")) :+ lit(1).as("g_here"): _*)
    val e = exp.select(cols.map(c => col(c).as(s"e_$c")) :+ lit(1).as("e_here"): _*)
    val j = g.join(e, keys.map(k => col(s"g_$k") <=> col(s"e_$k")).reduce(_ && _), "full_outer")
    val bad = (exact.map(c => !(col(s"g_$c") <=> col(s"e_$c"))) ++ approx.map { c =>
      val a = col(s"g_$c"); val b = col(s"e_$c")
      !(a <=> b) && (a.isNull || b.isNull ||
        abs(a - b) > lit(Tol) * greatest(lit(1.0), abs(b)))
    } :+ col("g_here").isNull :+ col("e_here").isNull).reduce(_ || _)
    val r = j.agg(count(lit(1)), sum(when(bad, 1L).otherwise(0L)),
      sum(col("g_here")), sum(col("e_here"))).head()
    val (rows, mism) = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    val (nGot, nExp) = (if (r.isNullAt(2)) 0L else r.getLong(2),
      if (r.isNullAt(3)) 0L else r.getLong(3))
    val out = Seq.newBuilder[String]
    if (mism != 0) out += s"$what: $mism of $rows keyed rows differ"
    if (nGot != nExp || rows != nExp)
      out += s"$what: $nGot rows read, $nExp expected, $rows keys joined"
    out.result()
  }

  def equal[T](what: String, got: T, exp: T): Seq[String] =
    if (got == exp) Nil else Seq(s"$what: got $got, expected $exp")

  /** Relative tolerance against the reference's printed oracle constants. */
  val OracleTol = 1e-7

  def near(what: String, got: Double, exp: Double): Seq[String] =
    if (math.abs(got - exp) <= OracleTol * math.max(1.0, math.abs(exp))) Nil
    else Seq(s"$what: got $got, expected $exp")

  /** Order-independent checksum forcing every column of every row. */
  def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(bit_xor(xxhash64(df.columns.map(col): _*)), count(lit(1))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  /** Sum of `field` over the table's lineage lines of one tier. */
  def lineageSum(lines: Seq[String], tier: String, field: String,
                 bucketOk: Long => Boolean = _ => true): Long = {
    val tierRe = ("\"tier\":\"" + java.util.regex.Pattern.quote(tier) + "\"").r
    def num(l: String, f: String): Long = {
      val i = l.indexOf("\"" + f + "\":") + f.length + 3
      l.substring(i).takeWhile(ch => ch.isDigit || ch == '-').toLong
    }
    lines.filter(l => tierRe.findFirstIn(l).isDefined)
      .filter(l => bucketOk(num(l, "bucket"))).map(num(_, field)).sum
  }
}
