package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Guarded driver folds — the one admission rule behind every
  * iterative operator that can finish a small input on the driver
  * instead of paying a few Spark jobs per distributed round.
  *
  * A fold is admitted when three policies hold, all decided here:
  *   - the cap: `driverCap > 0` and the input has at most that many
  *     rows (`driverCap = 0` pins the distributed loop, which is how
  *     the agreement specs exercise it);
  *   - the id types: every key column's JVM equality AND ordering
  *     equal Spark's ([[idComparator]] — integral, boolean, string).
  *     Binary ids compare by reference on the JVM, and doubles split
  *     −0.0 from 0.0 where Spark's joins and aggregates merge them, so
  *     those take the distributed loop;
  *   - NULLs: no key column is NULL (the distributed joins drop a NULL
  *     id; a fold's hash maps would route values through it).
  *
  * Admission is one job: the rows it collects are the fold's input.
  * The fold is a win only below the cap; above it the caller runs its
  * unchanged distributed loop.
  */
object DriverFold {

  /** JVM comparator matching Spark's column order for the id types
    * whose order is PROVABLY identical on both sides — integrals
    * naturally, strings via UTF8String's unsigned-byte comparator
    * (java.lang.String.compareTo is UTF-16 code-unit order, which
    * diverges on supplementary characters). None for anything else:
    * driver fast paths must fall back to the distributed plan. */
  private[graft] def idComparator(dt: DataType)
      : Option[java.util.Comparator[Any]] = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType =>
      Some((a: Any, b: Any) => a.asInstanceOf[Comparable[Any]].compareTo(b))
    case StringType =>
      Some((a: Any, b: Any) =>
        UTF8String.fromString(a.asInstanceOf[String])
          .compareTo(UTF8String.fromString(b.asInstanceOf[String])))
    case _ => None
  }

  /** The rows of `df` when a driver fold may replace the distributed
    * loop: at most `cap` rows, every `keyCols` type in the
    * [[idComparator]] whitelist, and no NULL key. `None` — without
    * running a job — when `cap <= 0` or a key type is refused;
    * otherwise one `limit(cap + 1)` collect, so an oversized input
    * stops after `cap + 1` rows instead of being scanned in full. */
  def admit(df: DataFrame, cap: Long, keyCols: Seq[String])
      : Option[Array[Row]] = {
    require(cap <= Int.MaxValue - 1,
      s"driverCap must be at most ${Int.MaxValue - 1}, got $cap")
    if (cap <= 0L ||
        keyCols.exists(c => idComparator(df.schema(c).dataType).isEmpty))
      return None
    val keys = keyCols.map(df.schema.fieldIndex)
    val rows = df.limit(cap.toInt + 1).collect()
    if (rows.length <= cap && rows.forall(r => keys.forall(!r.isNullAt(_))))
      Some(rows)
    else None
  }

  /** A fold's result as a DataFrame: about 50k rows per partition, at
    * most 32 partitions. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType)
      : DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows,
      math.max(1, math.min(rows.size / 50000, 32))), schema)
}
