package graftbench

import graft.ml.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `corpus_dedup`: quality band → MinHash-LSH near-duplicate pairs →
  * connected components → keep the canonical member → n-gram
  * decontamination against an eval set → parquet. */
object Corpus {
  // the MlSpec planted-recall gate's LSH parameters
  val Threshold = 0.4
  val Bands = 32
  val RowsPerBand = 4
  val MinQuality = 0.75
  val DecontamN = 8

  final case class Stages(quality: DataFrame => DataFrame,
                          pairs: DataFrame => DataFrame,
                          cc: (DataFrame, DataFrame) => DataFrame,
                          decontam: DataFrame => DataFrame)

  def stages(evalSet: DataFrame): Stages = Stages(
    docs => docs.filter(TextAnalysis.qualityScore(col("text")) >= MinQuality),
    docs => Dedup.minhashLshPairs(docs, "doc_id", "text",
      threshold = Threshold, bands = Bands, rowsPerBand = RowsPerBand),
    (docs, pairs) => {
      val labels = Dedup.connectedComponents(docs.select(col("doc_id").as("node")),
        pairs.select("id_a", "id_b"))
      // canonical member = the component's label (its smallest doc_id)
      docs.join(labels.filter(col("node") === col("label")), col("doc_id") === col("node"))
        .select("doc_id", "text")
    },
    kept => kept.join(Dedup.decontaminate(kept, evalSet, "doc_id", "text", DecontamN),
      Seq("doc_id"), "left_anti"))

  def pipeline(spark: SparkSession, corpus: String, evalPath: String, out: String): Unit = {
    val s = stages(spark.read.parquet(evalPath))
    val docs = s.quality(spark.read.parquet(corpus))
    s.decontam(s.cc(docs, s.pairs(docs))).write.mode("overwrite").parquet(out)
  }

  def run(ctx: Ctx): Unit = {
    val (corpus, evalPath, out) = (ctx.m("corpus"), ctx.m("eval"), ctx.path("out/corpus"))
    val records = ctx.mLong("records")
    val pass = (_: Int) => pipeline(ctx.spark, corpus, evalPath, out)
    Setup.measure(ctx)(Loop.warmUp(2)(pass))
    if (!ctx.trace) {
      Loop.record(ctx, Loop.closed(ctx.seconds)(pass), records)
      return
    }
    val untraced = Loop.closed(ctx.seconds / 2)(pass)
    val tracer = new Tracer(ctx.spark)
    tracer.attach()
    val traced = Loop.closed(ctx.seconds / 2)(_ => tracedPass(ctx, tracer, corpus, evalPath, out))
    tracer.detach()
    ctx.layer ++= tracer.report(traced.size)
    Seq("quality", "minhash_pairs", "cc", "decontam").foreach { n =>
      ctx.layer(s"ml.${n}_ms") = tracer.spanMedian(n)
    }
    val untracedRps = Stats.median(untraced.map(p => records / p.wallMs))
    ctx.layer("trace.overhead_share") =
      1.0 - Stats.median(traced.map(p => records / p.wallMs)) / untracedRps

    // candidate pairs: the same LSH with no verification threshold
    val spark = ctx.spark
    val s = stages(spark.read.parquet(evalPath))
    val docs = s.quality(spark.read.parquet(corpus)).localCheckpoint()
    val candidates = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.0,
      bands = Bands, rowsPerBand = RowsPerBand).localCheckpoint()
    val nCand = candidates.count()
    ctx.layer("ml.candidate_pairs") = nCand.toDouble
    ctx.layer("ml.true_pair_share") =
      if (nCand == 0) 0.0 else candidates.filter(col("jaccard") >= Threshold).count().toDouble / nCand
    ctx.layer("ml.kept_share") = spark.read.parquet(out).count().toDouble / records

    ctx.restartSpark(1)
    val one = Loop.closed(ctx.seconds / 3, minPasses = 2)(pass)
    ctx.layer("exec.speedup_vs_1core") = untracedRps / Stats.median(one.map(p => records / p.wallMs))
  }

  /** One pass with every stage materialised under its own span. */
  private def tracedPass(ctx: Ctx, t: Tracer, corpus: String, evalPath: String, out: String): Unit = {
    val spark = ctx.spark
    val s = stages(spark.read.parquet(evalPath))
    val docs = t.span("quality")(s.quality(spark.read.parquet(corpus)).localCheckpoint())
    val pairs = t.span("minhash_pairs")(s.pairs(docs).localCheckpoint())
    val kept = t.span("cc")(s.cc(docs, pairs).localCheckpoint())
    t.span("decontam")(s.decontam(kept).write.mode("overwrite").parquet(out))
  }
}
