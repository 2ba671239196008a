package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spans and Spark counts recorded from the benchmark's own code.
  *
  * A span is one call into a public function of the program, opened and
  * closed here around that call. Spans live in memory and are written once,
  * when the run ends. Spark work is attributed to spans afterwards, by time
  * interval (trace.py): the load has one client, so calls never overlap
  * except where one span nests inside another.
  *
  * While tracing is off `span` only runs its body, and no listener is
  * registered with Spark.
  */
final class Tracer(spark: SparkSession) {
  case class Span(id: Int, name: String, parent: Int, start: Double,
      var end: Double, attrs: mutable.LinkedHashMap[String, Any])

  private val baseNanos = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution. */
  def now(): Double = baseMs + (System.nanoTime() - baseNanos) / 1e6

  @volatile private var on = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  // One client, but a streaming query's foreachBatch runs on the stream's
  // own thread while the client waits for it: the stack is shared.
  private var stack = List.empty[Span]

  private case class StageAgg(var tasks: Long = 0, var runMs: Long = 0,
      var cpuNs: Long = 0, var gcMs: Long = 0, var schedMs: Long = 0,
      var readBytes: Long = 0, var writeBytes: Long = 0, var spill: Long = 0,
      var submit: Double = 0, var complete: Double = 0)
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
  private val jobs = mutable.LinkedHashMap.empty[Int, Array[Double]]
  private val plans = mutable.ArrayBuffer.empty[Seq[Double]]
  private val passes = mutable.ArrayBuffer.empty[(Boolean, Double, Double)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = Array(e.time.toDouble, -1.0)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_(1) = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val a = stages.getOrElseUpdate((i.stageId, i.attemptNumber()), StageAgg())
      a.submit = i.submissionTime.getOrElse(0L).toDouble
      a.complete = i.completionTime.getOrElse(0L).toDouble
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), StageAgg())
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        a.readBytes += m.shuffleReadMetrics.totalBytesRead
        a.writeBytes += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L).toDouble
      Tracer.this.synchronized {
        plans += Seq(start, ms("analysis"), ms("optimization"), ms("planning"))
      }
    }
  }

  def tracing: Boolean = on

  /** Register the listeners and open a traced pass. */
  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    on = true
  }

  /** Close a traced pass: let its events arrive, then unregister. */
  def stop(): Unit = {
    on = false
    settle()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  /** The pause that follows every pass of a traced run, traced or not, so
    * both kinds start from the same idle state: wait for Spark's
    * asynchronous events of the pass's jobs to arrive. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (synchronized(jobs.values.exists(_(1) < 0)) && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // task-end and plan events trail their job-end
  }

  def pass(traced: Boolean, start: Double, end: Double): Unit = synchronized {
    passes += ((traced, start, end))
  }

  /** Run `body` inside a span named `name` when tracing is on. `attrs` is
    * filled by the caller with layer-specific counts. */
  def span[T](name: String, attrs: mutable.LinkedHashMap[String, Any] = null)(body: => T): T = {
    if (!on) return body
    val s = synchronized {
      val sp = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), now(), -1,
        if (attrs == null) mutable.LinkedHashMap.empty else attrs)
      spans += sp
      stack = sp :: stack
      sp
    }
    try body finally synchronized {
      s.end = now()
      stack = stack.filterNot(_ eq s)
    }
  }

  def write(path: String, cores: Int): Unit = synchronized {
    def num(d: Double) = f"$d%.3f"
    def value(v: Any): String = v match {
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case m: collection.Map[_, _] =>
        m.map { case (k, x) => Json.str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
      case other => Json.str(String.valueOf(other))
    }
    val sb = new StringBuilder
    sb ++= s"""{"cores":$cores,"spans":["""
    sb ++= spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""start":${num(s.start)},"end":${num(s.end)},"attrs":${value(s.attrs)}}"""
    }.mkString(",")
    sb ++= """],"jobs":["""
    sb ++= jobs.map { case (id, t) => s"""[$id,${num(t(0))},${num(t(1))}]""" }.mkString(",")
    sb ++= """],"stages":["""
    sb ++= stages.map { case ((id, att), a) =>
      s"""{"id":$id,"attempt":$att,"submit":${num(a.submit)},"complete":${num(a.complete)},""" +
        s""""tasks":${a.tasks},"run_ms":${a.runMs},"cpu_ns":${a.cpuNs},"gc_ms":${a.gcMs},""" +
        s""""sched_ms":${a.schedMs},"shuffle_read_bytes":${a.readBytes},""" +
        s""""shuffle_write_bytes":${a.writeBytes},"spill_bytes":${a.spill}}"""
    }.mkString(",")
    sb ++= """],"plans":["""
    sb ++= plans.map(_.map(num).mkString("[", ",", "]")).mkString(",")
    sb ++= """],"passes":["""
    sb ++= passes.map { case (t, a, b) => s"""[$t,${num(a)},${num(b)}]""" }.mkString(",")
    sb ++= "]}"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
