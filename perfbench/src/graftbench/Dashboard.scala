package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, hash, lit, sum}
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.ops.Endpoints

/** An order-free digest of a query result: its row count, the sum of a
  * 32-bit hash of each row's non-floating columns, and the sum of each
  * floating column. Two digests match when count and hash sum are equal and
  * each floating sum agrees to 1e-9 relative, since Spark may add floating
  * values in any order. */
final case class Digest(rows: Long, hashSum: Option[Long], floatSums: Seq[Option[Double]]) {
  def matches(o: Digest): Boolean =
    rows == o.rows && hashSum == o.hashSum && floatSums.size == o.floatSums.size &&
      floatSums.zip(o.floatSums).forall {
        case (Some(a), Some(b)) => a == b || (a.isNaN && b.isNaN) ||
          math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
        case (a, b) => a == b
      }
}
object Digest {
  def of(df: DataFrame): Digest = {
    val (floating, rest) = df.schema.fields.partition(f =>
      f.dataType == DoubleType || f.dataType == FloatType)
    val aggs = count(lit(1)) +:
      (if (rest.isEmpty) Nil else Seq(sum(hash(rest.map(f => df.col(s"`${f.name}`")): _*).cast("long")))) ++:
      floating.map(f => sum(df.col(s"`${f.name}`").cast("double"))).toSeq
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val h = if (rest.isEmpty) 0 else 1
    Digest(row.getLong(0), if (rest.isEmpty) None else Option(row.get(1)).map(_.asInstanceOf[Long]),
      floating.indices.map(i => Option(row.get(1 + h + i)).map(_.asInstanceOf[Double])))
  }
}

/** The publisher's three endpoints and the q01-q18 reference queries,
  * served in a closed loop over read-only tables. A round is one seeded
  * permutation of every distinct request. */
final class DashboardServe(ctx: Ctx, seed: Long) extends Workload {
  import ctx.spark

  private val dir = s"${ctx.work}/tables"
  private val registry = graft.SparkEntry.queries
  private val RefName = """q(\d\d)_.*""".r
  val RefQueries: Seq[String] =
    registry.keys.collect { case n @ RefName(i) if i.toInt <= 18 => n }.toSeq.sorted

  /** A request: its op group, its key (unique per distinct request) and
    * the call that serves it, returning a comparable answer: the endpoint's
    * response, or a registry query's [[Digest]], which runs it in full. */
  final case class Req(group: String, key: String, serve: () => Any)

  private val requests: Seq[Req] = {
    val endpoint = Files.readAllLines(Paths.get(ctx.work, "requests.tsv")).asScala.toSeq.map { l =>
      val f = l.split("\t", -1)
      f(0) match {
        case "realtime_total" => Req(f(0), l, () => Endpoints.realtimeTotal(spark, dir, f(1)))
        case "realtime_hours" => Req(f(0), l, () => Endpoints.realtimeHours(spark, dir, f(1), f(2)))
        case "sale_detail" => Req(f(0), l, () => Endpoints.saleDetail(spark, dir, f(3), f(4).toInt))
      }
    }
    endpoint ++ RefQueries.map(n => Req("ref_queries", n, () => Digest.of(registry(n)(spark, dir))))
  }

  private val out = s"${ctx.work}/answers"
  /** The first answer to each request. finish() ties it to the answer the
    * checker verifies. */
  private val answers = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  /** Requests served at least once with an answer other than their first. */
  private val unstable = scala.collection.mutable.LinkedHashSet.empty[String]
  private var served = 0

  private def serve(req: Req, round: Int): Sample = {
    val (dt, res) = ctx.op(req.group)(req.serve())
    val bad = res match {
      case Right(d: Digest) => !answers.getOrElseUpdate(req.key, d).asInstanceOf[Digest].matches(d)
      case Right(a) => answers.getOrElseUpdate(req.key, a) != a
      case Left(_) => true
    }
    if (bad) unstable += req.key
    Sample(req.group, round, dt, bad, req.key)
  }

  private val tableNames = Seq("orders", "lineitem", "customer", "part", "events")

  /** Two untimed passes: the first compiles every request's plans, the
    * second lets the JIT settle on them. */
  def setup(): Unit = for (_ <- 1 to 2) requests.foreach(serve(_, 0))
  def hasRound(r: Int): Boolean = true
  def round(r: Int): Seq[Sample] = {
    val samples = new scala.util.Random(seed * 7919 + r).shuffle(requests).map(serve(_, r))
    served += samples.size
    if (ctx.trace) tableNames.foreach { t =>
      ctx.layers.time("tables.resolve_s")(graft.Tables.table(spark, dir, t))
    }
    samples
  }
  def units: Double = served.toDouble

  /** Writes the checked answers: each registry query's result, whose digest
    * must match the first served one, and the endpoints' first answers.
    * Reports the registry queries whose first answer is not the checked one
    * and the requests whose answer ever changed. */
  def finish(rounds: Int): Map[String, Any] = {
    val unchecked = RefQueries.filter { n =>
      registry(n)(spark, dir).write.parquet(s"$out/$n")
      answers.get(n).exists(d => !d.asInstanceOf[Digest].matches(Digest.of(spark.read.parquet(s"$out/$n"))))
    }
    val oracle = graft.SparkEntry.oracleSql
    Json.write(s"$out/oracle.json", RefQueries.flatMap(n => oracle.get(n).map(n -> _)).toMap)
    Json.write(s"$out/endpoints.json", answers.collect {
      case (k, a: Endpoints.TotalCardSet) =>
        Map("request" -> k, "cards" -> a.cards.map(c => Map("id" -> c.id, "value" -> c.value)))
      case (k, a: Seq[_]) =>
        Map("request" -> k, "hours" -> a.collect { case h: Endpoints.HourPair =>
          Seq(h.hour, h.today, h.yesterday) })
      case (k, a: Endpoints.SaleDetailResponse) =>
        Map("request" -> k, "total" -> a.total, "detail" -> a.detail,
          "stat" -> a.stat.map(s => s.options.map(_.value)))
    }.toSeq)
    Map("distinct_requests" -> requests.size, "unchecked" -> unchecked, "unstable" -> unstable.toSeq)
  }
}
