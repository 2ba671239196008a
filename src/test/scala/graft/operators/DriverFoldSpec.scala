package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, udf}

/** The admission rule every guarded driver fold shares: the cap, the
  * NULL-key refusal and the id-type whitelist. */
class DriverFoldSpec extends SparkSpec {
  import spark.implicits._

  test("admit: exactly cap rows pass, cap + 1 and NULL keys are refused") {
    val five = (1L to 5L).toDF("k")
    assert(DriverFold.admit(five, 5L, Seq("k")).map(_.map(_.getLong(0)).toSeq)
      .contains(Seq(1L, 2L, 3L, 4L, 5L)))
    assert(DriverFold.admit(five, 4L, Seq("k")).isEmpty)
    val withNull = Seq(Some("a"), None, Some("b")).toDF("k")
    assert(DriverFold.admit(withNull, 10L, Seq("k")).isEmpty)
    // Only the key columns are NULL-checked.
    val nullPayload = Seq(("a", None: Option[Long])).toDF("k", "v")
    assert(DriverFold.admit(nullPayload, 10L, Seq("k")).map(_.length)
      .contains(1))
    assertThrows[IllegalArgumentException](
      DriverFold.admit(five, Int.MaxValue.toLong, Seq("k")))
  }

  test("admit: cap = 0 and refused key types return None without a job") {
    val boom = udf((x: Long) => {
      if (x >= 0L) throw new IllegalStateException("evaluated"); x })
    val longs = spark.range(3).select(boom(col("id")).as("k"))
    assert(DriverFold.admit(longs, 0L, Seq("k")).isEmpty)
    for (t <- Seq("binary", "double", "float", "decimal(10,0)")) {
      val refused = spark.range(3)
        .select(boom(col("id")).cast("string").cast(t).as("k"))
      assert(DriverFold.admit(refused, 10L, Seq("k")).isEmpty, t)
    }
    // The same frame under a whitelisted type IS evaluated.
    intercept[Exception](DriverFold.admit(longs, 10L, Seq("k")))
  }
}
