package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}

import scala.collection.mutable

/** Oracle-gated queries of `SparkEntry.queries`, run the way `graft.Bench`
  * runs them: build the frame, `count()` it, then drop cached blocks and
  * scratch tables. The seed only shuffles the order within a pass. */
final class Gates(spark: SparkSession, tr: Tracer, dataDir: String) {

  /** Order-independent content hash of a result: the wrapping sum of a
    * 64-bit digest of each row's canonical text. Doubles are rounded to
    * nine significant digits, so summation order cannot flip the key. */
  def contentHash(rows: Array[Row]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def canon(v: Any): String = v match {
      case null => "∅"
      case d: Double => num(d)
      case f: Float => num(f.toDouble)
      case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case other => other.toString
    }
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
        .stripTrailingZeros.toPlainString
    rows.foldLeft(0L) { (acc, r) =>
      val h = md.digest(r.toSeq.map(canon).mkString("\u0001")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      acc + java.nio.ByteBuffer.wrap(h).getLong
    }
  }

  /** Untimed pass that collects every result for the answer key. */
  def keyPass(gates: Seq[(String, String)]): Seq[(String, Long, Long)] =
    gates.map { case (_, g) =>
      val rows = SparkEntry.queries(g)(spark, dataDir).collect()
      cleanup()
      (g, rows.length.toLong, contentHash(rows))
    }

  /** One pass; returns each gate's wall time, or None when it failed.
    * Spans are `wedge.<gate>` for the census and `gates.<family>` else. */
  def pass(gates: Seq[(String, String)]): Seq[(String, Option[Double])] =
    gates.map { case (family, g) =>
      val scope = if (family == "wedge") s"wedge.${g.takeWhile(_ != '_')}" else s"gates.$family"
      val t0 = System.nanoTime()
      val ok = try {
        tr.span(scope, mutable.LinkedHashMap[String, Any]("gate" -> g)) {
          SparkEntry.queries(g)(spark, dataDir).count()
          cleanup()
        }
        true
      } catch { case e: Exception =>
        System.err.println(s"gate $g failed: $e")
        false
      }
      g -> (if (ok) Some((System.nanoTime() - t0) / 1e9) else None)
    }

  private def cleanup(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    SparkEntry.reapScratch()
  }
}

object Gates {
  /** (family, gate) for the `gate_mix` workload: the telemetry surface,
    * driver-fold graph gates, an ACID commit gate and LLM-data gates. */
  val mix: Seq[(String, String)] = Seq(
    "telemetry" -> "q01_daily_summary", "telemetry" -> "q06_sessionize",
    "telemetry" -> "q14_asof_join", "telemetry" -> "q28_sessions_batch",
    "graph_fold" -> "q119_pagerank", "graph_fold" -> "q182_hits",
    "acid" -> "q139_restore_roundtrip",
    "llm" -> "q17_dedup_exact", "llm" -> "q19_minhash_candidates", "llm" -> "q24_lang_id")

  /** The compute- and shuffle-bound link-prediction gate, run at sf0.1. */
  val census: Seq[(String, String)] = Seq("wedge" -> "q221_adamic_adar")
}
