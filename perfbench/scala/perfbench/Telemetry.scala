package perfbench

import graft.operators.{Pipeline, SmartSync}
import graft.sources.{Ingest, ManifestTable, Raw}
import graft.sources.Schemas.{CleaningHistory, StatusSample}
import graft.streaming.{Rollup, Sessionizer}
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The reference pipeline end to end: landing drop → Raw → normalize →
  * sessionize (AvailableNow stream, cleaning_history committed from
  * foreachBatch) → transactional smart sync of the device snapshots →
  * rollup from the change feed → read-side reports. */
final class Telemetry(spark: SparkSession, tr: Tracer, base: Path) {
  import spark.implicits._

  private val ChangeTable = "cleaning_history"
  private val RollupTable = "device_rollup"

  private val snapshotSchema = StructType(Seq(
    StructField("timestamp", TimestampType), StructField("device_name", StringType),
    StructField("clean_time", DoubleType), StructField("clean_area", DoubleType),
    StructField("clean_count", LongType),
    StructField("main_brush_work_time", LongType), StructField("side_brush_work_time", LongType),
    StructField("filter_work_time", LongType), StructField("sensor_dirty_time", LongType),
    StructField("cleaning_brush_work_time", LongType), StructField("mop_work_time", LongType),
    StructField("state", StringType), StructField("battery", IntegerType),
    StructField("fan_power", StringType), StructField("water_box_status", StringType),
    StructField("water_box_mode", StringType), StructField("mop_mode", StringType),
    StructField("error_code", IntegerType)))

  /** One pipeline instance: its landing zone, tables, rollup and stream
    * checkpoint, all under `dir`. */
  final class Lane(dir: Path) {
    val landing: Path = Files.createDirectories(dir.resolve("landing"))
    val tables: String = dir.resolve("tables").toString
    val rollup: String = dir.resolve("rollup").toString
    private val ckpt = dir.resolve("ckpt").toString

    /** Land one drop atomically (rename inside the checkout's file system). */
    def land(drop: Path, link: Boolean): Unit = {
      val dst = landing.resolve(drop.getFileName)
      if (link) Files.createLink(dst, drop)
      else Files.move(drop, dst, StandardCopyOption.ATOMIC_MOVE)
    }

    /** Run the sessionizer stream over every landed file not yet seen.
      * Returns the number of input rows it read. */
    def sessionize(): Long = {
      val attrs = mutable.LinkedHashMap.empty[String, Any]
      tr.span("streaming.Sessionizer", attrs) {
        val raw = spark.readStream
          .schema(Raw.statusLandingSchema.add(StructField("_corrupt_record", StringType)))
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(landing.toString)
        val samples = Ingest.normalizeStatus(raw.filter(col("_corrupt_record").isNull))
          .select(col("deviceName"), col("timestamp").as("ts"), col("state"),
            col("battery"), col("fanPower"), col("waterBoxMode").as("waterLevel"),
            col("mopMode"), col("errorCode"))
          .as[StatusSample]
        val q = Sessionizer.sessions(samples)(spark).writeStream
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .foreachBatch((b: Dataset[CleaningHistory], id: Long) => commitSessions(b.toDF, id))
          .start()
        q.awaitTermination()
        val progress = q.recentProgress.filter(_.numInputRows > 0)
        if (tr.tracing) {
          progress.lastOption.flatMap(_.stateOperators.headOption).foreach { so =>
            attrs("state_rows") = so.numRowsTotal
            attrs("state_memory_bytes") = so.memoryUsedBytes
          }
          Seq("getBatch", "queryPlanning", "addBatch", "walCommit").foreach { k =>
            attrs(s"duration.$k" + "_s") =
              progress.map(p => p.durationMs.asScala.get(k).map(_.longValue).getOrElse(0L)).sum / 1000.0
          }
        }
        progress.map(_.numInputRows).sum
      }
    }

    private def commitSessions(batch: DataFrame, id: Long): Unit = {
      val attrs = mutable.LinkedHashMap.empty[String, Any]
      val before = if (tr.tracing) dataFiles(ChangeTable) else Map.empty[String, Long]
      val rows = tr.span("sources.ManifestTable.commitMulti", attrs) {
        ManifestTable.commitMulti(spark, tables, s"sessions-$id",
          appends = Map(ChangeTable -> batch)).getOrElse(ChangeTable, 0L)
      }
      if (tr.tracing) {
        val added = dataFiles(ChangeTable) -- before.keySet
        attrs("rows") = rows
        attrs("files_written") = added.size
        attrs("bytes_written") = added.values.sum
      }
    }

    /** Parquet data files of a table on disk, with their sizes. */
    def dataFiles(table: String): Map[String, Long] = {
      val root = Path.of(tables, table)
      if (!Files.exists(root)) Map.empty
      else {
        val s = Files.walk(root)
        try s.iterator.asScala.filter(_.toString.endsWith(".parquet"))
          .map(p => p.toString -> Files.size(p)).toMap
        finally s.close()
      }
    }

    def readSnapshot(files: Seq[Path]): DataFrame =
      spark.read.schema(snapshotSchema).json(files.map(_.toString): _*)

    /** Transactional smart sync of one device snapshot (summary and status)
      * plus the consumables readings, sealed by `syncId`. */
    def sync(snapshot: Seq[Path], consumables: Seq[Path], syncId: String): SmartSync.Result = {
      val snap = readSnapshot(snapshot)
      val attrs = mutable.LinkedHashMap.empty[String, Any]
      val r = tr.span("operators.SmartSync.runTransactional", attrs) {
        SmartSync.runTransactional(spark, Ingest.normalizeSummary(snap),
          Ingest.normalizeStatus(snap), Ingest.normalizeConsumables(readSnapshot(consumables)),
          tables, syncId)
      }
      attrs("devices_with_new_work") = r.devicesWithNewWork
      r
    }

    def rollupFromChanges(): Option[(Long, Long)] =
      tr.span("streaming.Rollup.syncFromChanges") {
        Rollup.syncFromChanges(spark, tables, ChangeTable, Seq("deviceName"),
          Seq("cleanTimeMin"), rollup, RollupTable)
      }

    def history: DataFrame = ManifestTable.read(spark, tables, ChangeTable)
    def table(name: String): DataFrame = ManifestTable.read(spark, tables, name)
    def rollupRows: DataFrame = ManifestTable.read(spark, rollup, RollupTable)

    def daily(): Array[Row] =
      Pipeline.dailySummary(history, "timestamp", "cleanAreaM2", "cleanTimeMin").collect()

    /** Read-side report over the loaded tables. */
    def report(): Map[String, Array[Row]] = tr.span("operators.Pipeline.report") {
      val h = history
      Map(
        "daily" -> Pipeline.dailySummary(h, "timestamp", "cleanAreaM2", "cleanTimeMin").collect(),
        "inconsistent" -> Pipeline.summaryConsistency(h, latestSummary()).collect(),
        "asof" -> Pipeline.consumablesAsOfCleaning(h.select("deviceName", "timestamp"),
          table("consumables").select("deviceName", "timestamp")).collect(),
        "rollup" -> rollupRows.collect())
    }

    /** The newest clean_summary row per device. */
    def latestSummary(): DataFrame =
      graft.operators.Incremental.newestPerKey(table("clean_summary"),
        "deviceName", "timestamp", "timestamp")

    def quarantined(): (Long, Long) = {
      val q = Raw.readStatusQuarantine(spark, landing.toString).cache()
      try (q.filter(col("_corrupt_record").isNotNull).count(),
        q.filter(col("_corrupt_record").isNull).count())
      finally q.unpersist()
    }
  }

  private def sorted(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator.asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
  }

  private def ms(t: java.sql.Timestamp): Any = if (t == null) null else t.getTime

  private def historyRows(l: Lane): Seq[Seq[Any]] =
    l.history.collect().toSeq.map(r => Seq(r.getAs[String]("deviceName"),
      ms(r.getAs[java.sql.Timestamp]("timestamp")), r.getAs[Any]("cleanTimeMin"),
      r.getAs[Any]("batteryStart"), r.getAs[Any]("batteryEnd"), r.getAs[Any]("fanPower"),
      r.getAs[Any]("waterLevel"), r.getAs[Any]("mopMode"), r.getAs[Any]("state"),
      r.getAs[Any]("errorCode")))

  private def rollupRows(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(r => Seq(r.getAs[String]("deviceName"), r.getAs[Long]("n_rows"),
      r.getAs[Double]("sum_cleanTimeMin")))

  private def dailyRows(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(r => Seq(r.getAs[java.sql.Date]("date").toString,
      r.getAs[Long]("totalCleanings"), r.getAs[Double]("totalTimeMin")))

  /** `telemetry_sync`: one client in a closed loop, one drop per tick.
    * Every drop after the warm-up is one tick, except the last: it is never
    * synced, and its snapshot carries new work for the replay of a sealed
    * sync id. run.py sets the number of drops from `--seconds`. */
  def sync(warmup: Int, plan: Plan): Outcome = {
    val lane = new Lane(base.resolve("lane"))
    val drops = sorted(base.resolve("drops"))
    val snaps = sorted(base.resolve("snaps"))
    val out = new Outcome
    var k = 0
    var lastDaily = Array.empty[Row]
    def tick(): (Double, Double) = {
      val t0 = System.nanoTime()
      lane.land(drops(k), link = false)
      lane.sessionize()
      lane.sync(Seq(snaps(k)), Seq(snaps(k)), s"sync-$k")
      lane.rollupFromChanges()
      val t1 = System.nanoTime()
      lastDaily = tr.span("operators.Pipeline.report")(lane.daily())
      k += 1
      ((t1 - t0) / 1e9, (System.nanoTime() - t0) / 1e9)
    }
    while (k < warmup) tick()
    plan.timed(drops.size - 1 - k - plan.untimed) { () =>
      val (op, pass) = tick()
      out.ops += op
      out.passes += pass
    }
    out.heapMb = Main.heapRetainedMb()
    val last = k - 1

    // Answer key inputs and exactly-once replays (untimed).
    val countsBefore = Seq(ChangeTable, "clean_summary", "device_status", "consumables")
      .map(t => t -> lane.table(t).count()).toMap
    val spare = snaps(last + 1)
    val replay = lane.sync(Seq(spare), Seq(spare), s"sync-${warmup - 1}")
    val resealed = ManifestTable.commitMulti(spark, lane.tables, "sessions-0",
      appends = Map(ChangeTable -> lane.history.limit(1)))
    val emptyRun = lane.sessionize()
    val countsAfter = countsBefore.keys.map(t => t -> lane.table(t).count()).toMap
    val (bad, good) = lane.quarantined()
    out.check ++= Map(
      "last_drop" -> last,
      "history" -> historyRows(lane),
      "clean_summary" -> lane.table("clean_summary").collect().toSeq.map(r =>
        Seq(r.getAs[String]("deviceName"), ms(r.getAs[java.sql.Timestamp]("timestamp")),
          r.getAs[Long]("totalCleanCount"))),
      "rollup" -> rollupRows(lane.rollupRows.collect()),
      "daily" -> dailyRows(lastDaily),
      "replay_new_work" -> replay.devicesWithNewWork,
      "replay_rows" -> (replay.statusRows + replay.summaryRows + replay.consumablesRows),
      "resealed_tables" -> resealed.size,
      "empty_run_rows" -> emptyRun,
      "counts_before" -> countsBefore,
      "counts_after" -> countsAfter,
      "quarantined" -> bad,
      "landed_samples" -> good)
    out
  }

  /** `telemetry_backfill`: one large drop through the same stages as a
    * single batch, then the read-side report over the loaded tables. */
  def backfill(seconds: Double, plan: Plan): Outcome = {
    val drop = sorted(base.resolve("drops")).head
    val snap = Seq(base.resolve("snaps").resolve("snap-final.json"))
    val readings = Seq(base.resolve("snaps").resolve("consumables.json"))
    val out = new Outcome
    var cycle = 0
    var lane: Lane = null
    def once(input: Path): (Double, Double, Long) = {
      if (lane != null) Main.deleteTree(base.resolve(s"cycle-${cycle - 1}"))
      lane = new Lane(base.resolve(s"cycle-$cycle"))
      cycle += 1
      val t0 = System.nanoTime()
      lane.land(input, link = true)
      val rows = lane.sessionize()
      lane.sync(snap, readings, "backfill")
      lane.rollupFromChanges()
      val t1 = System.nanoTime()
      out.report = lane.report()
      ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, rows)
    }
    once(base.resolve("warmup.json"))
    plan.timed(Plan.count(seconds, 4.5)) { () =>
      val (load, report, rows) = once(drop)
      out.ops += load
      out.passes += load + report
      out.extra("report_s") = report :: out.extra.getOrElse("report_s", Nil)
      out.extra("backfill_rows_per_s") = rows / load :: out.extra.getOrElse("backfill_rows_per_s", Nil)
    }
    out.heapMb = Main.heapRetainedMb()
    val (bad, good) = lane.quarantined()
    out.check ++= Map(
      "history" -> historyRows(lane),
      "rollup" -> rollupRows(out.report("rollup")),
      "daily" -> dailyRows(out.report("daily")),
      "inconsistent" -> out.report("inconsistent").length,
      "asof" -> out.report("asof").toSeq.map(r => Seq(r.getAs[String]("deviceName"),
        ms(r.getAs[java.sql.Timestamp]("timestamp")),
        ms(r.getAs[java.sql.Timestamp]("lastConsumablesTs")))),
      "quarantined" -> bad,
      "landed_samples" -> good)
    out
  }
}
