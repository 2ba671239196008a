package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Row, SparkSession}

import scala.collection.mutable

/** The per-run outcome the JVM hands back to run.py as JSON. */
final class Outcome {
  val ops = mutable.ArrayBuffer.empty[Double]
  val passes = mutable.ArrayBuffer.empty[Double]
  val extra = mutable.LinkedHashMap.empty[String, List[Double]]
  val check = mutable.LinkedHashMap.empty[String, Any]
  var heapMb = 0.0
  var attempted = 0L
  var failed = 0L
  var report: Map[String, Array[Row]] = Map.empty
}

/** The timed passes. Their number is fixed before the run, from
  * `--seconds` and the workload's typical pass time on the recorded machine
  * (`Plan.count`), so a faster program does the same work, not more of it.
  *
  * A traced run first takes `untimed` more passes, then at least four, in
  * the order untraced, traced, traced, untraced, each followed by the same
  * pause (`Tracer.settle`). Both kinds then start warm and from the same
  * idle state, and a drift in speed across the run cancels out of the
  * overhead. */
final class Plan(tr: Tracer, traceRun: Boolean) {
  var timedStart = 0.0
  val untimed: Int = if (traceRun) 1 else 0
  def timed(passes: Int)(pass: () => Unit): Unit = {
    for (_ <- 0 until untimed) {
      pass()
      tr.settle()
    }
    timedStart = tr.now()
    for (i <- 0 until (if (traceRun) math.max(passes, 4) else passes)) {
      val traced = traceRun && (i % 4 == 1 || i % 4 == 2)
      if (traced) tr.start()
      val a = tr.now()
      pass()
      val b = tr.now()
      if (traced) tr.stop() else if (traceRun) tr.settle()
      tr.pass(traced, a, b)
    }
  }
}

object Plan {
  /** Passes that fill about `seconds` at `typical` seconds a pass. */
  def count(seconds: Double, typical: Double): Int = math.max(1, math.round(seconds / typical).toInt)
}

/** `Main <workload> <seed> <seconds> <trace 0|1> <cores> <workDir> <gateDataDir> <out>` */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, _, secondsArg, traceArg, coresArg, workArg, gateDir, outPath) = args
    val seconds = secondsArg.toDouble
    val traceRun = traceArg == "1"
    val cores = coresArg.toInt
    val work = Paths.get(workArg).toAbsolutePath
    val order = Files.readAllLines(work.resolve("order.txt")).toArray.map(_.toString).toSeq

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      // Bound the status stores, so retained driver heap does not grow with
      // the number of passes a faster program fits into the window.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.streaming.ui.retainedQueries", "5")
      .config("spark.sql.streaming.ui.retainedProgressUpdates", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tr = new Tracer(spark)
    val plan = new Plan(tr, traceRun)
    val out = workload match {
      case "train" => new Telemetry(spark, tr, work).sync(warmup = 1, plan)
      case "telemetry_sync" => new Telemetry(spark, tr, work).sync(warmup = 2, plan)
      case "telemetry_backfill" => new Telemetry(spark, tr, work).backfill(seconds, plan)
      case "gate_mix" | "wedge_census" =>
        val g = new Gates(spark, tr, gateDir)
        val all = if (workload == "gate_mix") Gates.mix else Gates.census
        val gates = order.map(n => all.find(_._2 == n).get)
        val o = new Outcome
        o.check("key") = g.keyPass(gates).map { case (n, c, h) => Seq(n, c, h.toString) }
        // A gate_mix pass is short and its gates are small, so one pass
        // after the key pass is not enough to warm them.
        if (workload == "gate_mix") g.pass(gates)
        val times = mutable.LinkedHashMap.empty[String, List[Double]]
        // Typical pass: 3.6 s for gate_mix, 10 s for the census. gate_mix
        // gates are short and their times spread most, so it times 1.5 ×
        // seconds of passes.
        val passes = if (workload == "gate_mix") Plan.count(1.5 * seconds, 3.6)
          else Plan.count(seconds, 10)
        plan.timed(passes) { () =>
          val t0 = System.nanoTime()
          val r = g.pass(gates)
          o.passes += (System.nanoTime() - t0) / 1e9
          o.attempted += r.size
          r.foreach {
            case (n, Some(t)) => times(n) = t :: times.getOrElse(n, Nil)
            case (_, None) => o.failed += 1
          }
        }
        // The typical gate: median over gates of each gate's median time.
        o.ops ++= times.values.map(ts => median(ts))
        o.heapMb = heapRetainedMb()
        o
    }
    if (out.attempted == 0) out.attempted = out.ops.size.toLong

    if (traceRun) tr.write(work.resolve("trace.json").toString, cores)
    val res = new StringBuilder("{")
    def field(k: String, v: String): Unit = {
      if (res.length > 1) res += ','
      res ++= Json.str(k) + ":" + v
    }
    field("timed_start_ms", f"${plan.timedStart}%.3f")
    field("ops", out.ops.mkString("[", ",", "]"))
    field("passes", out.passes.mkString("[", ",", "]"))
    field("extra", out.extra.map { case (k, v) => Json.str(k) + ":" + v.mkString("[", ",", "]") }
      .mkString("{", ",", "}"))
    field("heap_retained_mb", out.heapMb.toString)
    field("attempted", out.attempted.toString)
    field("failed", out.failed.toString)
    field("check", toJson(out.check))
    res += '}'
    Files.write(Paths.get(outPath), res.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Driver heap in use right after a full collection: the heap pools'
    * usage as the collector left it, so allocations by Spark's background
    * threads after the collection do not count. */
  def heapRetainedMb(): Double = {
    import scala.jdk.CollectionConverters._
    def collected(): Double = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
        .map(_.getCollectionUsage.getUsed).sum / (1024.0 * 1024.0)
    }
    // A collection lets Spark's ContextCleaner see unreachable RDDs,
    // broadcasts and shuffles, and blocks unpersisted without waiting are
    // dropped on Spark's own threads: collect again, a second apart, until
    // two readings agree, so the figure does not depend on how far that
    // clean-up had got.
    var prev = collected()
    var cur = prev
    var i = 0
    do {
      Thread.sleep(1000)
      prev = cur
      cur = collected()
      i += 1
    } while (i < 8 && math.abs(cur - prev) > 1.0)
    cur
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def toJson(v: Any): String = v match {
    case null => "null"
    case s: String => Json.str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: java.lang.Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => Json.str(k.toString) + ":" + toJson(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(toJson).mkString("[", ",", "]")
    case other => Json.str(other.toString)
  }
}
