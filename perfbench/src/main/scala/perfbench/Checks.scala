package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Turn
import graft.run.QualityFilter
import graft.quality.FilterConfig

/** Output checks, run once per run outside the timed region. */
object Checks {
  final case class Result(name: String, ok: Boolean, detail: String)

  /** Flagship output on a seeded sample of conversations against the
    * program's sequential evaluator, `QualityFilter.sequentialFull`. The
    * sample always holds conv 0, which is checked in seeded windows of
    * `windowLen` turns, each fed the `crossTurnWindow` turns before it. */
  def flagshipSample(spark: SparkSession, in: Staged, seed: Long,
      nConvs: Int = 30, nWindows: Int = 3, windowLen: Int = 200): Result = {
    val turns = Workloads.turns(spark, in)
    val convs = in.params("convs").asInstanceOf[Long]
    def convId(i: Long) = f"conv-$i%08d"
    val conv0 = convId(0)
    val rng = new scala.util.Random(seed)
    val others = Seq.fill(nConvs)(convId(1 + rng.nextLong(convs - 1))).distinct
    val sample = turns.filter(col("conv_id").isin(others :+ conv0: _*)).collect().toSeq
    val (conv0Turns, otherTurns) = sample.partition(_.conv_id == conv0)
    val k = FilterConfig().crossTurnWindow
    val windows = Seq.fill(nWindows) {
      val a = rng.nextInt(math.max(1, conv0Turns.size - windowLen + 1))
      (a, math.min(a + windowLen, conv0Turns.size))
    }
    def inWindows(i: Int) = windows.exists { case (a, b) => i >= a && i < b }

    val actual: Map[(String, Int), Row] = QualityFilter(spark, turns)
      .filter(col("conv_id").isin(others :+ conv0: _*))
      .select("conv_id", "turn_idx", "keep", "drop_reasons", "clean_text",
        "lang", "scrubbed_text")
      .collect()
      .filter(r => r.getString(0) != conv0 || inWindows(r.getInt(1)))
      .map(r => (r.getString(0), r.getInt(1)) -> r)
      .toMap

    val sorted0 = conv0Turns.sortBy(_.turn_idx).toIndexedSeq
    val expected =
      QualityFilter.sequentialFull(otherTurns) ++
        windows.flatMap { case (a, b) =>
          val fed: Seq[Turn] = sorted0.slice(math.max(0, a - k), b)
          QualityFilter.sequentialFull(fed).filter(_.turn_idx >= a)
        }.distinctBy(e => (e.conv_id, e.turn_idx))

    val problems = expected.flatMap { e =>
      actual.get((e.conv_id, e.turn_idx)) match {
        case None => Some(s"${e.conv_id}/${e.turn_idx}: missing")
        case Some(r) =>
          val got = (r.getBoolean(2), r.getSeq[String](3).toList, r.getString(4),
            r.getString(5), r.getString(6))
          val want = (e.keep, e.drop_reasons, e.clean_text, e.lang, e.scrubbed_text)
          if (got == want) None
          else Some(s"${e.conv_id}/${e.turn_idx}: got $got, want $want")
      }
    }
    val extra = actual.size - expected.size
    val ok = problems.isEmpty && extra == 0
    Result("sequential_sample", ok,
      if (ok) s"${expected.size} turns of ${others.size + 1} conversations match " +
        s"(conv 0 in ${windows.size} windows)"
      else (problems.take(3) :+ s"$extra unexpected rows").mkString("; "))
  }

  /** Runs a registry query untimed and writes its output for the oracle
    * comparison, which run.py makes in DuckDB with the query's
    * `SparkEntry.oracleSql`. */
  def registryOutput(spark: SparkSession, query: String, dir: String,
      out: String): Map[String, Any] = {
    val df: DataFrame = graft.SparkEntry.queries(query)(spark, dir)
    df.write.mode("overwrite").parquet(out)
    Map("query" -> query, "input_dir" -> dir, "output" -> out,
      "sql" -> graft.SparkEntry.oracleSql(query))
  }

  /** The sft workload's composition ([[Workloads.Sft]]) against the
    * registry's `q96_sft_pack` on the registry's own transcripts for `dir`:
    * equal digests show the bench runs the program's query, not a copy that
    * has drifted from it. `registryOut` holds the query's output, written by
    * [[registryOutput]]. */
  def sftMatchesRegistry(spark: SparkSession, dir: String, registryOut: String): Result = {
    val sft = Workloads.Sft
    val mine = Digest.of(sft.pack(graft.transcript.SftPipeline.manifest(spark,
      sft.turnsMs(graft.SparkEntry.synthTurns(spark, dir))))
      .select(sft.outputColumns.map(col): _*))
    val registry = Digest.of(spark.read.parquet(registryOut).select(sft.outputColumns.map(col): _*))
    Result("sft_matches_q96", mine == registry,
      if (mine == registry) s"the sft composition and q96_sft_pack agree (digest $mine)"
      else s"the sft composition gives digest $mine, q96_sft_pack $registry")
  }
}
