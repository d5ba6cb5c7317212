package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.sources.Cdc
import graft.streaming.{Pipelines, Sinks}

/** The reference's five streaming jobs, each with its real sink, fed JSON
  * wire lines through MemoryStream. One round hands one micro-batch to
  * each job in a fixed order and waits for that job's commit; the round's
  * wall time is one latency sample. */
final class StreamJobs(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._
  private implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val Str = StringType
  private def schema(cols: (String, DataType)*) =
    StructType(cols.map { case (n, t) => StructField(n, t) })
  val OrderSchema: StructType = schema("id" -> Str, "user_id" -> Str, "province_id" -> Str,
    "order_status" -> Str, "total_amount" -> DoubleType, "create_time" -> Str)
  val DetailSchema: StructType = schema("id" -> Str, "order_id" -> Str, "sku_id" -> Str,
    "sku_name" -> Str, "order_price" -> Str, "sku_num" -> Str, "create_time" -> Str)
  val UserSchema: StructType = schema("id" -> Str, "login_name" -> Str, "user_level" -> Str,
    "birthday" -> Str, "gender" -> Str, "operate_time" -> Str)
  private val routes = Cdc.referenceRoutes(OrderSchema, DetailSchema, UserSchema)

  /** One round's wire lines, read from disk when the round runs, so the heap
    * holds no input beyond the round in hand. */
  private def wire(kind: String, r: Int): Seq[String] = {
    val f = Paths.get(ctx.work, "wire", f"${kind}_$r%04d.wire")
    if (Files.exists(f)) Files.readAllLines(f).asScala.toSeq else Seq.empty
  }
  private def events(r: Int): Seq[String] = wire("events", r)
  private def cdc(r: Int): Seq[(String, String, String)] =
    wire("cdc", r).map { l => val f = l.split("\t", 3); (f(0), f(1), f(2)) }
  private val nRounds =
    new java.io.File(s"${ctx.work}/wire").list().map(_.dropRight(5).takeRight(4).toInt).max + 1

  private def sinkPath(job: String) = s"${ctx.work}/sinks/$job"
  val Jobs: Seq[String] = Seq("dau", "alert", "gmv", "sale_detail", "user_info")

  private val evIn = Map("dau" -> MemoryStream[String], "alert" -> MemoryStream[String])
  private val cdcIn = Map("gmv" -> MemoryStream[(String, String, String)],
    "sale_detail" -> MemoryStream[(String, String, String)],
    "user_info" -> MemoryStream[(String, String, String)])

  private def eventsOf(job: String): DataFrame = Pipelines.parseEvents(evIn(job).toDF().toDF("value"))
  private def changelogOf(job: String): DataFrame = cdcIn(job).toDF().toDF("table", "op", "data")

  /** Wraps a Sinks call: traced runs persist the batch once so the sink's
    * own time is measured apart from the micro-batch's upstream work, and
    * count the rows in the parquet files the call created. */
  private def sink(job: String, batch: DataFrame)(write: DataFrame => Unit): Unit =
    if (!ctx.trace) write(batch)
    else {
      val b = batch.persist()
      try {
        val handed = b.count()
        val before = Footers.files(spark, sinkPath(job))
        ctx.layers.time(s"sinks.$job.write_s")(write(b))
        val written = Footers.rowsIn(spark, Footers.files(spark, sinkPath(job)) -- before)
        if (handed > 0) ctx.layers.add(s"sinks.$job.rows_written_per_row", written.toDouble / handed)
      } finally b.unpersist()
    }

  private def start(job: String, df: DataFrame)(write: DataFrame => Unit): StreamingQuery =
    df.writeStream.queryName(job)
      .option("checkpointLocation", s"${ctx.work}/ckpt/$job")
      .foreachBatch((b: DataFrame, _: Long) => sink(job, b)(write))
      .start()

  private val queries: Map[String, StreamingQuery] = Map(
    "dau" -> start("dau", Pipelines.dauDedup(eventsOf("dau"))) { b =>
      Sinks.upsertByKey(b, sinkPath("dau"), Seq("user_id", "log_date"), "ts", "event_id")
    },
    "alert" -> start("alert", Pipelines.alerts(eventsOf("alert"))) { b =>
      Sinks.appendDailyPartitioned(
        Pipelines.throttlePerMinute(b).withColumn("dt", date_format(col("window_start"), "yyyy-MM-dd")),
        sinkPath("alert"), "dt", Seq("user_id", "minute_bucket"))
    },
    "gmv" -> start("gmv", Cdc.route(changelogOf("gmv"), routes)("orders")
        .withColumn("create_date", substring(col("create_time"), 1, 10))
        .withColumn("create_hour", substring(col("create_time"), 12, 2))) { b =>
      Sinks.upsertByKey(b, sinkPath("gmv"), Seq("id"), "create_time", "id")
    },
    "sale_detail" -> {
      val r = Cdc.route(changelogOf("sale_detail"), routes)
      val orders = r("orders").select(col("id").as("o_order_id"),
        to_timestamp(col("create_time")).as("o_ts"), col("user_id"),
        col("order_status"), col("total_amount"))
      val details = r("details").select(col("id").as("d_id"), col("order_id").as("d_order_id"),
        to_timestamp(col("create_time")).as("d_ts"), col("sku_id"), col("sku_name"),
        col("order_price").cast("double").as("sku_price"), col("sku_num"))
      start("sale_detail", Pipelines.saleDetailJoin(orders, details)
          .withColumn("dt", date_format(col("o_ts"), "yyyy-MM-dd"))) { b =>
        Sinks.appendDailyPartitioned(b, sinkPath("sale_detail"), "dt", Seq("d_id"))
      }
    },
    "user_info" -> start("user_info", Cdc.route(changelogOf("user_info"), routes)("users")) { b =>
      Sinks.upsertByKey(b, sinkPath("user_info"), Seq("id"), "operate_time", "id")
    })

  private val seenBatch = mutable.Map.empty[String, Long].withDefaultValue(-1L)

  /** Traced: fold the progress reports of batches run since the last call. */
  private def recordProgress(): Unit = Jobs.foreach { job =>
    queries(job).recentProgress.filter(_.batchId > seenBatch(job)).foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }.withDefaultValue(0.0)
      ctx.layers.add(s"streaming.$job.batch_s", p.batchDuration / 1e3)
      ctx.layers.add(s"streaming.$job.add_batch_s", d("addBatch"))
      ctx.layers.add(s"streaming.$job.planning_s", d("queryPlanning"))
      ctx.layers.add(s"streaming.$job.commit_s", d("walCommit") + d("commitOffsets"))
      ctx.layers.add(s"streaming.$job.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      ctx.layers.add(s"streaming.$job.state_mb", p.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0)
      seenBatch(job) = p.batchId
    }
  }

  /** Traced: the parse layer alone, over one round's wire lines. */
  private def timeParse(r: Int): Unit = {
    val ev = events(r).toDF("value")
    val cl = cdc(r).toDF("table", "op", "data")
    ctx.layers.time("sources.parse_s") {
      Pipelines.parseEvents(ev).write.format("noop").mode("overwrite").save()
      Cdc.route(cl, routes).values.foreach(_.write.format("noop").mode("overwrite").save())
    }
  }

  /** Hands round r to every job; returns the number of records handed over. */
  private def runRound(r: Int): Int = {
    val (ev, cl) = (events(r), cdc(r))
    Jobs.foreach { job =>
      evIn.get(job).foreach(_.addData(ev))
      cdcIn.get(job).foreach(_.addData(cl))
      queries(job).processAllAvailable()
    }
    ev.size + cl.size
  }

  private var records = 0L

  /** Set-up hands the first rounds over untimed: a keyed sink's first batch
    * creates its table and every later batch merges into it, so both kinds of
    * batch run before timing, and the further rounds let the JIT settle.
    * Four rounds carry 4 of the 5 minutes an alert window spans, so the first
    * timed batch brings the window state to its steady size.
    * Timed round r hands over data round r + WarmRounds - 1. */
  val WarmRounds = 4
  def setup(): Unit = { (0 until WarmRounds).foreach(runRound); if (ctx.trace) recordProgress() }
  def hasRound(r: Int): Boolean = r + WarmRounds - 1 < nRounds
  def round(r: Int): Seq[Sample] = {
    val d = r + WarmRounds - 1
    val (dt, res) = ctx.op("round")(runRound(d))
    records += res.getOrElse(0)
    if (ctx.trace) { recordProgress(); timeParse(d) }
    Seq(Sample("round", d, dt, res.isLeft))
  }
  def units: Double = records.toDouble

  def finish(rounds: Int): Map[String, Any] = {
    def watermarkMs(job: String): Long =
      Option(queries(job).lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
        .map(s => java.time.Instant.parse(s).toEpochMilli).getOrElse(0L)
    queries.values.foreach(_.stop())
    Map("rounds_delivered" -> (rounds + WarmRounds),
      "alert_watermark_ms" -> watermarkMs("alert"),
      "sink_rows" -> Jobs.map(j => j -> Footers.rows(spark, sinkPath(j))).toMap)
  }
}

/** Parquet files under a directory and their row counts, read from the
  * footers (no Spark job). */
object Footers {
  /** (path, modification time, length) of every parquet file under `path`. */
  def files(spark: org.apache.spark.sql.SparkSession, path: String): Set[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Set.empty
    else {
      val it = fs.listFiles(p, true)
      val out = Set.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          out += ((f.getPath.toString, f.getModificationTime, f.getLen))
      }
      out.result()
    }
  }

  def rowsIn(spark: org.apache.spark.sql.SparkSession, files: Set[(String, Long, Long)]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    files.toSeq.map { case (f, _, _) =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  def rows(spark: org.apache.spark.sql.SparkSession, path: String): Long = rowsIn(spark, files(spark, path))
}
