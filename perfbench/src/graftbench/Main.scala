package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A workload: an untimed set-up pass over every distinct operation, then
  * whole rounds of the same operations in a closed loop. */
trait Workload {
  def setup(): Unit
  def hasRound(r: Int): Boolean
  def round(r: Int): Seq[Sample]
  /** Work done in the timed rounds so far (records, requests or operations). */
  def units: Double
  /** Untimed, after the timed region: answers for the checker, facts. */
  def finish(rounds: Int): Map[String, Any]
}

/** Runs one workload in this JVM and writes `<dir>/result.json`.
  * Arguments: --workload w --dir d --seed n --seconds s --trace 0|1 --cores k */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = o("dir")
    val seconds = o("seconds").toDouble
    val trace = o.getOrElse("trace", "0") == "1"
    val cores = o.getOrElse("cores", "4")

    val b = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the status store keeps every job, stage and SQL execution it sees,
      // which would make the retained heap grow with the number of
      // operations run; capped, it shows the engine's own state
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // stateful jobs emit and evict only in data batches, so each round is
      // exactly one batch per job and the sinks' contents are deterministic
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    graft.Tables.requiredConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val ctx = new Ctx(spark, work, trace)

    val w: Workload = o("workload") match {
      case "stream_jobs" => new StreamJobs(ctx)
      case "dashboard_serve" => new DashboardServe(ctx, o("seed").toLong)
      case "corpus_refresh" => new CorpusRefresh(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    w.setup()
    ctx.forgetSetup()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val jvm0 = JvmTimes.now()
    val host0 = HostSample.now()
    val samples = mutable.ArrayBuffer.empty[Sample]
    var busy = 0.0
    var r = 1
    // whole rounds; another starts only if that ends the timed region
    // nearer to `seconds` than stopping would
    while (w.hasRound(r) && (r == 1 || busy + busy / (r - 1) / 2 < seconds)) {
      val s = w.round(r)
      samples ++= s
      busy += s.map(_.seconds).sum
      r += 1
    }
    val host1 = HostSample.now()
    val jvm1 = JvmTimes.now()
    val heapMb = JvmTimes.retainedHeapMb()
    val units = w.units
    if (trace) {
      ctx.chargeJobs()
      ctx.layers.add("jvm.setup.jit_s", jvm0.jitS)
      ctx.layers.add("jvm.setup.gc_s", jvm0.gcS)
      ctx.layers.add("jvm.timed.jit_s", jvm1.jitS - jvm0.jitS)
      ctx.layers.add("jvm.timed.gc_s", jvm1.gcS - jvm0.gcS)
    }
    val facts = w.finish(r - 1)
    Json.write(s"$work/result.json", Map(
      "setup_s" -> setupS,
      "busy_s" -> busy,
      "units" -> units,
      "retained_heap_mb" -> heapMb,
      "rounds" -> (r - 1),
      "samples" -> samples.map(s => Map("op" -> s.op, "round" -> s.round,
        "s" -> s.seconds, "failed" -> s.failed, "key" -> s.key)),
      "host" -> Map("load1_start" -> host0.load1, "load1_end" -> host1.load1,
        "other_cpu_share" -> HostSample.otherCpuShare(host0, host1)),
      "layers" -> ctx.layers.raw,
      "facts" -> facts))
    spark.stop()
  }
}
