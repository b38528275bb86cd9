package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.TranscriptGen
import graft.model.Turn
import graft.run.QualityFilter

/** A staged input: a parquet directory with its row count. */
final case class Staged(dir: String, rows: Long, params: Map[String, Any])

/** A named workload: how its input is generated from the seed, and one pass
  * of the program over the staged input. The program sees only the staged
  * parquet, never the seed. */
sealed trait Workload {
  def name: String
  /** Generator parameters; part of the staging key and of the stamp. */
  def params: Map[String, Any]
  /** Writes the input under `dir`; returns its row count. */
  def generate(spark: SparkSession, dir: String, seed: Long): Long
  /** One pass: the program's output for the staged input, not yet forced. */
  def run(spark: SparkSession, in: Staged): DataFrame
}

object Workloads {
  /** Bumped whenever generation changes, so stale staged inputs are never
    * reused. */
  val GenVersion = 1

  /** Committed document table the traced panel's capstone stages sample. */
  val DocsFile = "documents_sf0.01.parquet"

  def turns(spark: SparkSession, in: Staged): org.apache.spark.sql.Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(in.dir).as[Turn]
  }

  /** Transcripts from the program's own seeded generator. */
  abstract class Transcripts(val convs: Long, val megaTurns: Int) extends Workload {
    def params: Map[String, Any] =
      Map("table" -> "turns", "convs" -> convs, "mega_turns" -> megaTurns)
    def generate(spark: SparkSession, dir: String, seed: Long): Long = {
      // one file per core: the generator's many small partitions would
      // otherwise cost more to write than to generate
      TranscriptGen.dataset(spark, convs, megaTurns, seed)
        .coalesce(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir).count()
    }
  }

  /** The flagship job, `graft.run.QualityFilter`, over the staged turns. */
  final class Flagship(val name: String, convs: Long, mega: Int)
      extends Transcripts(convs, mega) {
    def run(spark: SparkSession, in: Staged): DataFrame =
      QualityFilter(spark, turns(spark, in))
  }

  /** The SFT manifest packed into training windows: the registry's
    * `q96_sft_pack` without its final sort. Every sft run checks that this
    * composition and the registry's query give the same rows
    * ([[Checks.sftMatchesRegistry]]), so the two cannot drift apart. */
  object Sft extends Transcripts(2000, 1000) {
    val name = "sft"
    def run(spark: SparkSession, in: Staged): DataFrame =
      pack(graft.transcript.SftPipeline.manifest(spark, turnsMs(turns(spark, in))))

    /** Turns with `ts` as epoch millis, the form the transcript operators
      * take. */
    def turnsMs(turns: org.apache.spark.sql.Dataset[Turn]): DataFrame =
      turns.toDF().select(
        col("conv_id"), col("turn_idx"), col("role"), col("text"),
        col("tool"), unix_millis(col("ts")).as("ts_ms"))

    /** Weight each manifest row, over 8 conv-id shards. */
    def weighted(manifest: DataFrame): DataFrame = manifest.select(
      expr("cast(substring(conv_id, 6) as bigint) % 8").as("shard"),
      col("conv_id"), col("turn_idx"),
      (length(col("context")).cast("long") + 64L).as("weight"))

    /** Pack weighted rows into 4096-char windows per shard. */
    def packWeighted(weighted: DataFrame): DataFrame =
      graft.operators.Pack.contiguous(weighted, Seq("shard"),
        "conv_id", "weight", budget = 4096L, tieCols = Seq("turn_idx"))

    def pack(manifest: DataFrame): DataFrame = packWeighted(weighted(manifest))

    /** The columns `q96_sft_pack` returns. */
    val outputColumns = Seq("shard", "conv_id", "turn_idx", "weight", "bin")
  }

  /** The document table the traced run's capstone-layer panel reads: a
    * seeded row sample of the committed sf0.01 document table (the
    * generator has no document counterpart). Staged like a workload input
    * but not a workload: a q59 pass runs 56 jobs (≈7 s) and its DuckDB
    * oracle ≈90 s, more than a run of this bench can hold. */
  object Documents {
    val name = "documents"
    val fraction = 0.9
    def params: Map[String, Any] =
      Map("table" -> "documents", "source" -> DocsFile, "fraction" -> fraction)
    def generate(spark: SparkSession, dir: String, seed: Long, dataDir: String): Long = {
      val src = new File(dataDir, DocsFile)
      require(src.isFile, s"missing committed input $src")
      spark.read.parquet(src.getPath).coalesce(1)
        .sample(withReplacement = false, fraction, seed)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      read(spark, dir).count()
    }
    /** `dir` holds `documents.parquet`, the layout the registry reads. */
    def read(spark: SparkSession, dir: String): DataFrame =
      spark.read.parquet(s"$dir/documents.parquet")
  }

  val all: Seq[Workload] = Seq(new Flagship("flagship", 4000, 2000), Sft)

  /** The flagship job on transcripts whose conv 0 holds about 40 % of the
    * turns, above a 4-core host's 25 % share per core: run by the traced
    * panel so the trace shows what one hot conversation does to the
    * conv_id exchange and window. */
  val SkewProbe = new Flagship("flagship_skew", 1000, 9000)

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
