package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{CleanText, TurnAnalysis}
import graft.model.CleanConfig
import graft.quality.FilterConfig
import graft.run.QualityFilter
import graft.scrub.Scrubber

/** The traced run's layer panel: each layer's public function, or the
  * registry query that runs it on its own, forced on a staged input inside
  * a span named after the metric it yields. The bench builds no stage
  * input out of another stage's output: a stage whose input only the
  * program's own glue makes is not timed here (see README.md). */
final class Layers(spark: SparkSession, tracer: Tracer) {

  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timed(name: String)(df: => DataFrame): Unit =
    tracer.span(name)(force(df))

  /** Flagship chain, one layer added per pass: scan; + CleanText;
    * + TurnAnalysis; + Scrubber; the full `QualityFilter` (which adds the
    * conv_id exchange, the cross-turn window and the verdict). Self times
    * are the differences between consecutive passes. */
  def flagshipPrefixes(turns: org.apache.spark.sql.Dataset[graft.model.Turn]): Unit = {
    val scan = turns.toDF()
    val cleaned = scan.withColumn("clean_text",
      CleanText(col("text"), CleanConfig.transcriptDefault))
    val analysed = cleaned.withColumn("a",
      TurnAnalysis(col("clean_text"), col("role"), FilterConfig()))
    val scrubbed = analysed.withColumn("scrubbed_text", Scrubber(col("clean_text")))
    timed("prefix.scan")(scan)
    timed("prefix.clean_text")(cleaned)
    timed("prefix.turn_analysis")(analysed)
    timed("prefix.scrub_text")(scrubbed)
    timed("prefix.full")(QualityFilter(spark, turns))
  }

  /** The SFT manifest's stage operators, each on the staged turns as the
    * registry's standalone queries run them (q93, q90, q92, q89), and the
    * pack on the weighted manifest. Inputs are pinned before their span,
    * as the registry stages its transcript table. */
  def sftStages(turnsMs: DataFrame): Unit = {
    import graft.transcript._
    val in0 = turnsMs.localCheckpoint(eager = true)
    timed("transcript.pseudonymize_s")(
      Pseudonymize.rewrite(spark, in0, passThrough = Seq("role", "tool", "ts_ms")))
    timed("transcript.turn_dedup_s")(TurnDedup.drops(spark, in0))
    timed("transcript.conv_gate_s")(ConvGate.signals(spark, in0))
    timed("transcript.assemble_s")(ConvOps.assemble(spark, in0))
    val weighted = Workloads.Sft.weighted(SftPipeline.manifest(spark, in0))
      .localCheckpoint(eager = true)
    timed("operators.pack_s")(Workloads.Sft.packWeighted(weighted))
  }

  /** The capstone's stage operators on the staged documents: the registry
    * queries that run each on its own (q06, q52, q43, q57, q48), and the
    * substring cut, which the registry runs only on a corpus of its own
    * making, called directly with q59's settings. */
  def capstoneStages(docsDir: String, docs: DataFrame): Unit = {
    def query(name: String) = graft.SparkEntry.queries(name)(spark, docsDir)
    timed("dedup.exact_s")(query("q06_dedup_exact"))
    timed("dedup.near_dup_s")(query("q52_dup_groups"))
    timed("text.substr_dedup_s")(graft.text.SubstrDedup.dedup(spark, docs,
      "doc_id", "text", graft.text.SubstrDedup.Config(k = 25, minCount = 2)))
    timed("dedup.decontaminate_s")(query("q43_decontaminate"))
    timed("sample.interleave_s")(query("q57_weighted_interleave"))
    timed("operators.pack_scalable_s")(query("q48_pack_sequences"))
  }
}
