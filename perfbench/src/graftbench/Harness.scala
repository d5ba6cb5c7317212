package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the harness's result file. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), apply(v).getBytes(StandardCharsets.UTF_8))
}

/** One timed operation: its name, wall seconds and whether the harness saw
  * it fail (it threw, or its answer differed from the checked one). */
final case class Sample(op: String, round: Int, seconds: Double, failed: Boolean, key: String = "")

/** Per-layer figures collected only in traced runs: named lists of
  * observations, reduced to one figure each by run.py. */
final class Layers {
  private val obs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit =
    obs.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v
  def time[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally add(name, (System.nanoTime() - t0) / 1e9)
  }
  def raw: Map[String, Seq[Double]] = obs.map { case (k, v) => k -> v.toSeq }.toMap
  def clear(): Unit = obs.clear()
}

/** JIT and GC time so far, from the Compilation and GarbageCollector
  * MXBeans, in seconds. */
final case class JvmTimes(jitS: Double, gcS: Double)
object JvmTimes {
  def now(): JvmTimes = JvmTimes(
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3)

  /** Heap in use after full collections: the state the run retained. */
  def retainedHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Host evidence read from /proc: busy and total CPU ticks, this
  * process's own ticks and the 1-minute load. */
final case class HostSample(busy: Long, total: Long, self: Long, load1: Double)
object HostSample {
  private def read(p: String): String = new String(Files.readAllBytes(Paths.get(p)))
  def now(): HostSample =
    try {
      val cpu = read("/proc/stat").linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      val idle = cpu(3) + (if (cpu.length > 4) cpu(4) else 0L)
      val s = read("/proc/self/stat")
      val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
      HostSample(cpu.sum - idle, cpu.sum, rest(11).toLong + rest(12).toLong,
        read("/proc/loadavg").trim.split("\\s+")(0).toDouble)
    } catch { case _: Throwable => HostSample(-1, -1, -1, -1.0) }

  /** Share of the machine's CPU used outside this process between a and b. */
  def otherCpuShare(a: HostSample, b: HostSample): Double =
    if (a.total < 0 || b.total <= a.total) -1.0
    else math.max(0.0, ((b.busy - a.busy) - (b.self - a.self)).toDouble / (b.total - a.total))
}

/** Spark job accounting keyed by job group: each traced operation runs
  * under its own group `op#n`, so jobs, tasks, executor time, bytes
  * scanned and shuffled, and the wall time no job was running can be
  * charged to it. */
final class JobListener extends SparkListener {
  final class Acc {
    var jobs = 0; var tasks = 0L; var runMs = 0L; var scanBytes = 0L; var shuffleBytes = 0L
    val spans = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val byGroup = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  @volatile private var open = 0

  private def group(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    group(e.properties).foreach { g =>
      byGroup.getOrElseUpdate(g, new Acc).jobs += 1
      e.stageIds.foreach(s => stageGroup(s) = g)
      jobStart(e.jobId) = (g, e.time)
      open += 1
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      byGroup(g).spans += ((t0, e.time)); open -= 1
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = byGroup(g)
      a.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.scanBytes += m.inputMetrics.bytesRead
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
      }
    }
  }

  /** Wait (bounded) until every started job's end event arrived. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    Thread.sleep(200)
    while (open > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  /** Per-invocation figures for a group whose wall interval was [t0, t1] ms. */
  def figures(g: String, t0: Long, t1: Long): Map[String, Double] = synchronized {
    val a = byGroup.getOrElse(g, new Acc)
    val clipped = a.spans.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s >= end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    Map("jobs" -> a.jobs.toDouble, "tasks" -> a.tasks.toDouble,
      "outside_jobs_s" -> math.max(0L, (t1 - t0) - covered) / 1e3,
      "executor_run_s" -> a.runMs / 1e3,
      "scan_mb" -> a.scanBytes / 1048576.0,
      "shuffle_mb" -> a.shuffleBytes / 1048576.0)
  }
}

/** Shared run state: the session, the trace switch, and helpers that time
  * one operation and (when traced) charge its Spark jobs to it. */
final class Ctx(val spark: SparkSession, val work: String, val trace: Boolean) {
  val layers = new Layers
  private val listener = if (trace) Some(new JobListener) else None
  listener.foreach(spark.sparkContext.addSparkListener)
  private val invocations = mutable.ArrayBuffer.empty[(String, String, Long, Long)]
  private var seq = 0

  /** Run `body` as operation `op`; returns (seconds, result or error). */
  def op[T](name: String)(body: => T): (Double, Either[Throwable, T]) = {
    seq += 1
    val g = s"$name#$seq"
    if (trace) spark.sparkContext.setJobGroup(g, name, interruptOnCancel = false)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    if (trace) {
      spark.sparkContext.clearJobGroup()
      invocations += ((name, g, w0, w1))
    }
    r.left.foreach { e =>
      System.err.println(s"[graftbench] $name threw: $e")
      e.printStackTrace(System.err)
    }
    (dt, r)
  }

  /** Fold the per-invocation Spark figures into `spark.<op>.*` layers. */
  def chargeJobs(): Unit =
    listener.foreach { l =>
      l.drain()
      invocations.groupBy(_._1).foreach { case (name, inv) =>
        inv.foreach { case (_, g, w0, w1) =>
          l.figures(g, w0, w1).foreach { case (k, v) => layers.add(s"spark.$name.$k", v) }
        }
      }
    }

  /** Drop what the set-up pass recorded: per-layer figures are timed-region only. */
  def forgetSetup(): Unit = { invocations.clear(); layers.clear() }
}
