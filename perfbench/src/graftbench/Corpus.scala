package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

import graft.streaming.{Sinks, TrainingPipeline}

/** Rounds of corpus ingest followed by curation queries over the grown
  * tables, in one live session: the tables change under the session's
  * memo. Round 0 is the set-up pass. */
final class CorpusRefresh(ctx: Ctx) extends Workload {
  import ctx.spark

  private val corpus = s"${ctx.work}/corpus"
  private def batch(r: Int) = f"${ctx.work}/batches/batch_$r%04d"
  private val registry = graft.SparkEntry.queries
  val Queries: Seq[String] = Seq("q24_ngram_jaccard", "q25_minhash_lsh", "q23_dedup_exact",
    "q205_bm25_search", "q52_tfidf", "q27_cosine_topk")

  /** Lands the round's document and embedding files in the tables' directories,
    * as an upstream writer outside this session would, then runs the ingest
    * path over the landed documents into the chunks table. */
  private def ingest(r: Int): Unit = {
    for (t <- Seq("documents", "embeddings"))
      Files.copy(Paths.get(s"${batch(r)}/$t.parquet"),
        Paths.get(f"$corpus/$t.parquet/part-r$r%04d.parquet"))
    val chunks = TrainingPipeline.corpusIngest(spark.read.parquet(s"${batch(r)}/documents.parquet"))
    val path = s"$corpus/chunks"
    if (!ctx.trace) Sinks.appendDailyPartitioned(chunks, path, "source", Seq("doc_id", "chunk_idx"))
    else {
      val c = chunks.persist()
      try {
        val handed = c.count()
        val before = Footers.files(spark, path)
        ctx.layers.time("sinks.corpus.write_s")(
          Sinks.appendDailyPartitioned(c, path, "source", Seq("doc_id", "chunk_idx")))
        if (handed > 0)
          ctx.layers.add("sinks.corpus.rows_written_per_row",
            Footers.rowsIn(spark, Footers.files(spark, path) -- before).toDouble / handed)
      } finally c.unpersist()
    }
  }

  private def saveAnswer(r: Int, name: String, rows: Array[Row]): Unit = {
    val d = Paths.get(ctx.work, "answers", f"r$r%04d")
    Files.createDirectories(d)
    Files.write(d.resolve(s"$name.jsonl"),
      rows.map(_.json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def runRound(r: Int): Seq[Sample] = {
    val (ti, ri) = ctx.op("ingest")(ingest(r))
    Sample("ingest", r, ti, ri.isLeft) +: Queries.map { n =>
      val (dt, res) = ctx.op(n)(registry(n)(spark, corpus).collect())
      res.foreach(saveAnswer(r, n, _))
      Sample(n, r, dt, res.isLeft)
    }
  }

  private var ops = 0
  private val nBatches = new java.io.File(s"${ctx.work}/batches").list().length

  def setup(): Unit = runRound(0)
  def hasRound(r: Int): Boolean = r < nBatches
  def round(r: Int): Seq[Sample] = {
    val out = runRound(r)
    ops += out.size
    if (ctx.trace) {
      val sc = spark.sparkContext
      ctx.layers.add("memo.cached_entries", sc.getPersistentRDDs.size.toDouble)
      ctx.layers.add("memo.cached_mb", sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0)
    }
    out
  }
  def units: Double = ops.toDouble

  def finish(rounds: Int): Map[String, Any] = {
    Json.write(s"${ctx.work}/answers/oracle.json",
      Queries.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)
    Map("rounds_ingested" -> (rounds + 1),
      "documents" -> Footers.rows(spark, s"$corpus/documents.parquet"),
      "chunks" -> Footers.rows(spark, s"$corpus/chunks"))
  }
}
