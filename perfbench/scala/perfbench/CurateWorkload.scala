package perfbench

import graft.engine.Graft
import graft.embed.Embeddings
import graft.pipeline.{Dedup, Mix, NgramLM, TextFunctions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `curate`: repeated passes of the curation chain over incoming document
  * batches, checked against stores built from a reference corpus at set-up
  * (MinHash signatures, span gram frequencies, n-gram LM). Each stage of a
  * pass is one request and writes its output, which the next stage reads:
  * quality → exact dedup → near dedup (within the batch and against the
  * store) → span strip → perplexity buckets → embedding → semantic dedup →
  * token-budget mix. Passes alternate between two batches.
  */
final class CurateWorkload(spark: SparkSession, in: String, out: java.nio.file.Path) extends Workload {
  import CurateWorkload._

  private val batches = Seq(s"$in/batch_0.parquet", s"$in/batch_1.parquet")
  private lazy val batchDocs = batches.map(b => b -> spark.read.parquet(b).count()).toMap
  private val passes = out.resolve("passes")
  private var root: String = _
  private var meter: DiskMeter = _
  private var written0 = 0L
  private var inputBytes = 0L

  def size: Int = Stages.length * 1000
  def kind(r: Int): String = Stages(r % Stages.length)
  def indexPaths: Seq[String] = Nil
  def bytesWritten: Long = { meter.sweep(); meter.written - written0 }
  def userBytes: Long = inputBytes

  def setup(r: String): Unit = {
    Trace.newSetup()
    root = r
    val ref = spark.read.parquet(s"$in/reference.parquet")
    Trace.timed("pipeline.store_build_ms") {
      Dedup.writeSignatureStore(ref, "doc_id", "text", s"$root/signatures")
      Dedup.writeGramStore(ref, "doc_id", "text", s"$root/grams", SpanN)
      NgramLM.writeLM(ref, "text", s"$root/lm")
    }
    meter = new DiskMeter(passes)
    meter.sweep()
    written0 = meter.written
    inputBytes = 0L
  }

  /** One pass over the small warm-up batch, whatever `n`. */
  def warmup(n: Int): Unit = Stages.indices.foreach(s => runStage(s, s"$in/warmup.parquet", s"$root/warmup"))

  private def dir(pass: Int): String = passes.resolve(s"p$pass").toString

  def execute(r: Int): Any = {
    val pass = r / Stages.length
    runStage(r % Stages.length, batches(pass % batches.size), dir(pass))
  }

  private def read(path: String): DataFrame = Trace.span("engine.table")(Graft.cachedRead(spark, path))

  /** Runs stage `s` of the pass whose outputs live under `dst`, reading
    * the previous stage's output (or `batch` for the first stage). */
  private def runStage(s: Int, batch: String, dst: String): Unit = {
    val name = Stages(s)
    val src = if (s == 0) read(batch) else read(s"$dst/${Stages(s - 1)}")
    Trace.span(if (name == "embed") "embed.embed" else s"pipeline.${name}") {
      val df: DataFrame = name match {
        case "quality" =>
          src.filter(TextFunctions.langId(col("text")) === "en" &&
            TextFunctions.qualityMicros(col("text")) >= QualityMin)
        case "exact_dedup" =>
          src.join(Dedup.exactKeepers(src, "text", "doc_id"), col("doc_id") === col("keep_id"), "left_semi")
        case "near_dedup" =>
          val within = Dedup.nearPairs(src, "doc_id", "text", ShingleN, NearThreshold)
            .select(col("b").as("doc_id"))
          val stored = Dedup.nearDupsAgainstStore(read(s"$in/reference.parquet"), src,
            s"$root/signatures", "doc_id", "text", ShingleN, NearThreshold).select(col("new_id").as("doc_id"))
          src.join(within.union(stored).distinct(), Seq("doc_id"), "left_anti")
        case "strip" =>
          val st = Dedup.stripSpansAgainstStore(src, s"$root/grams", "doc_id", "text", SpanN, SpanMinDocs)
          val cleaned = st.select(col(st.columns.head).cast("long").as("doc_id"),
            col("clean_text"), col("kept_tokens"))
          src.select(col("doc_id"), col("source")).join(cleaned, Seq("doc_id"))
            .filter(col("kept_tokens") > 0).withColumnRenamed("clean_text", "text")
        case "ppl" =>
          val scored = NgramLM.scoreAgainstStore(src, s"$root/lm", "doc_id", "text")
          src.join(NgramLM.pplBuckets(scored, "doc_id").select(col("doc_id"), col("avg_cost_micros"), col("bucket")),
            Seq("doc_id"))
        case "embed" =>
          Embeddings.embedStage(src, "text", "emb", () => Embeddings.HashingProvider(EmbedDim, normalize = true))
        case "semantic_dedup" =>
          val pairs = Dedup.cosinePairs(src, "doc_id", "emb", EmbedDim, SemanticThreshold)
          src.join(pairs.select(col("b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti").drop("emb")
        case "mix" =>
          Mix.byBudget(src.withColumn("score", -col("avg_cost_micros")), "doc_id", "source",
            "kept_tokens", "score", TokenBudget)
      }
      df.write.mode("overwrite").parquet(s"$dst/$name")
    }
  }

  def record(r: Int, out: Any): Rec = {
    val s = r % Stages.length
    val batch = batches((r / Stages.length) % batches.size)
    inputBytes += Util.du(java.nio.file.Paths.get(batch)) / Stages.length
    if (Trace.active && Stages(s) == "embed")
      Trace.count("embed.tokens", spark.read.parquet(s"${dir(r / Stages.length)}/embed")
        .select(sum(TextFunctions.tokenCount(col("text")))).head.getLong(0).toDouble)
    // one pass covers a batch's documents: each stage completes 1/8 of it
    Rec(batchDocs(batch) / Stages.length, s"""["p${r / Stages.length}/${Stages(s)}"]""")
  }
}

object CurateWorkload {
  val Stages: Seq[String] = Seq("quality", "exact_dedup", "near_dedup", "strip", "ppl", "embed",
    "semantic_dedup", "mix")
  val QualityMin = 400000L
  val ShingleN = 3
  val NearThreshold = 0.8
  val SpanN = 8
  val SpanMinDocs = 3
  val EmbedDim = 64
  val SemanticThreshold = 0.999
  val TokenBudget = 20000L
}
