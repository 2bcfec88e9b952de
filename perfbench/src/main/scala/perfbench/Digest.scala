package perfbench

import java.util.concurrent.{Callable, Executors}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content digests. Each row hashes to 64 bits over
  * a canonical rendering in which doubles are rounded to
  * [[Digest.Places]] decimal places, so a changed summation order or
  * partitioning cannot flip the digest; the row hashes are then summed
  * (as two 32-bit halves, so no sum overflows), which ignores row order. */
object Digest {
  val Places = 4

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast("double"), Places)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    // hash functions reject maps: digest the key-sorted entry array
    case MapType(kt, vt, _) =>
      canon(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case StructType(fs) => struct(fs.map(f => canon(c.getField(f.name), f.dataType).as(f.name)).toSeq: _*)
    case _ => c
  }

  private def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.sortBy(_.name).map(f => canon(col(s"`${f.name}`"), f.dataType)).toSeq: _*)

  /** Digest of a DataFrame: "<rows>:<hex>". Columns are taken in name
    * order, so a reordered projection digests the same. */
  def of(df: DataFrame): String = many(Seq("" -> df))("")

  /** Digests of several DataFrames, one Spark job each, up to four at a
    * time: the jobs are small and their driver-side planning dominates. */
  def many(dfs: Seq[(String, DataFrame)]): Map[String, String] =
    Par.map(dfs) { case (name, df) => name -> one(df) }.toMap

  private def one(df: DataFrame): String = {
    val r = df.select(rowHash(df).as("h")).agg(count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L))).head()
    render(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Digest of driver-side rows (already collected results). */
  def ofRows(rows: Seq[Seq[Any]]): String = {
    var lo, hi = 0L
    rows.foreach { r =>
      val h = scala.util.hashing.MurmurHash3.seqHash(r.map {
        case d: Double => rounded(d).toString
        case f: Float => rounded(f.toDouble).toString
        case x => String.valueOf(x)
      })
      val h64 = h.toLong * 0x9E3779B97F4A7C15L
      lo += h64 & 0xFFFFFFFFL
      hi += h64 >>> 32
    }
    render(rows.size.toLong, lo, hi)
  }

  /** A double as the digests see it: rounded to [[Places]] decimal places. */
  def rounded(d: Double): BigDecimal = BigDecimal(d).setScale(Places, BigDecimal.RoundingMode.HALF_UP)

  private def render(n: Long, lo: Long, hi: Long): String =
    f"$n:${(hi * 0x100000001b3L) ^ lo}%016x"
}

/** Runs untimed driver-side work (checks, reads) on up to four threads. */
object Par {
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(4, xs.size)))
    try xs.map(x => pool.submit(new Callable[B] { def call(): B = f(x) })).map(_.get())
    finally pool.shutdown()
  }
}
