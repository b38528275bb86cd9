package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run of one workload in one JVM: stage the seeded input
  * (untimed, cached), set up (read-back check of the staged input and one
  * warm-up pass), run timed passes for `--seconds`, check the output, and
  * write the raw record that run.py turns into metrics. `setup_s` is the
  * time from JVM start to the end of the warm-up, less the staging. With
  * `--trace 1` untraced and traced passes alternate, and the layer panel
  * ([[Layers]]) runs after them.
  *
  * Load model: a closed loop with one client; each pass starts when the
  * previous one ends, on `local[cores]`.
  *
  * Usage (run.py builds the classpath and passes these):
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --cores C --work DIR --data DIR --out FILE
  */
object Main {
  /** Fewest timed passes in an untraced run; a traced run makes at least
    * two untraced and two traced ones. */
  val MinPasses = 3
  /** Layer panel repetitions; a repetition after the first starts only
    * before `PanelStartLimitS` seconds of JVM time, so a traced run on a
    * slow host still ends well inside the bench's 180 s limit. */
  val PanelReps = 2
  val PanelStartLimitS = 90

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, work: String, data: String, out: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments near: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("cores").toInt, get("work"), get("data"), get("out"))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val w = Workloads.byName(a.workload)
    new Run(a, w, jvmStartMs).execute()
  }

  /** Spark session for the bench: the program's recommended builder, with
    * every scratch directory inside the bench's work directory. */
  def session(a: Args): SparkSession = {
    val tmp = new File(a.work, "spark-tmp").getAbsolutePath
    val spark = graft.run.GraftSession.builder(s"local[${a.cores}]", a.cores)
      .appName("perfbench")
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .config("spark.graft.scratchDir", tmp)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

final class Run(a: Main.Args, w: Workload, jvmStartMs: Long) {
  import Main._

  private val storage = new StorageListener
  private val traceListener = new TraceListener
  private val tracer = new Tracer
  private var spark: SparkSession = _

  private val born = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2f s  $msg")

  private def newSession(): Unit = {
    spark = session(a)
    spark.sparkContext.addSparkListener(storage)
  }

  private def parquet(dir: String): DataFrame = spark.read.parquet(dir)

  /** Where input `name` for this seed is staged, and the key it is staged
    * under. */
  private def location(name: String, params: Map[String, Any]): (File, String) = {
    val key = (params.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" } :+
      s"seed=${a.seed}" :+ s"gen=${Workloads.GenVersion}").mkString(",")
    (new File(a.work, s"input/$name-${Integer.toHexString(key.hashCode)}"), key)
  }

  /** The row count recorded for input `name`, when it is staged under the
    * same key and `read` still sees that many rows. */
  private def recorded(name: String, params: Map[String, Any],
      read: String => DataFrame): Option[(String, Long)] = {
    val (dir, key) = location(name, params)
    val meta = new File(dir, "_staged.json")
    val data = s"${dir.getAbsolutePath}/data"
    Some(meta).filter(_.isFile).map(f => Json.mapper.readTree(f))
      .filter(_.path("key").asText == key).map(_.path("rows").asLong)
      .filter(_ == read(data).count())
      .map(n => (data, n))
  }

  /** Stages input `name` for this seed with `generate`, unless it is
    * already staged and its row count still matches. */
  private def stage(name: String, params: Map[String, Any],
      read: String => DataFrame)(generate: String => Long): Unit = {
    if (recorded(name, params, read).isEmpty) {
      log(s"generating $name input for seed ${a.seed}")
      val (dir, key) = location(name, params)
      val n = generate(s"${dir.getAbsolutePath}/data")
      Json.mapper.writeValue(new File(dir, "_staged.json"), Map("key" -> key, "rows" -> n))
    }
  }

  /** Input `name` as staging left it, checked by row count. */
  private def load(name: String, params: Map[String, Any],
      read: String => DataFrame): Staged = {
    val (data, rows) = recorded(name, params, read).getOrElse(throw new IllegalStateException(
      s"$name input for seed ${a.seed} is not staged, or its row count changed"))
    Staged(data, rows, params)
  }

  private val docs = Workloads.Documents
  private val skew = Workloads.SkewProbe

  /** Runs `body` with the trace listener attached; returns its result
    * and the Spark-engine metrics of that interval. */
  private def traced[T](body: => T): (T, Map[String, Double]) = {
    val sc = spark.sparkContext
    org.apache.spark.BusDrain(sc)
    traceListener.reset()
    sc.addSparkListener(traceListener)
    val t0 = System.currentTimeMillis()
    try {
      val out = body
      val t1 = System.currentTimeMillis()
      org.apache.spark.BusDrain(sc)
      (out, traceListener.metrics(t0, t1, a.cores))
    } finally sc.removeSparkListener(traceListener)
  }

  /** Unpersists every RDD persisted since `before` was taken. */
  private def release(before: collection.Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }

  /** One timed pass, as the record written for run.py; the program's
    * failures are recorded, not hidden. */
  private def pass(in: Staged, withTrace: Boolean): Map[String, Any] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    org.apache.spark.BusDrain(sc)
    storage.reset()
    def timed() = {
      val n0 = System.nanoTime()
      val r =
        try Right(Digest.of(w.run(spark, in)))
        catch { case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      (r, (System.nanoTime() - n0) / 1e9)
    }
    val ((result, wall), engine) =
      if (withTrace) traced(tracer.span("pass.traced")(timed()))
      else (tracer.span("pass")(timed()), Map.empty[String, Double])
    // untimed: let the listeners see every event, then free this pass's
    // persisted RDDs and collect garbage so passes stay independent
    org.apache.spark.BusDrain(sc)
    release(before)
    System.gc()
    result.left.foreach(e => System.err.println(s"[perfbench] pass failed: $e"))
    Map("wall_s" -> wall, "digest" -> result.toOption, "error" -> result.left.toOption,
      "traced" -> withTrace, "pins" -> storage.pinnedRdds,
      "peak_storage_mb" -> storage.peakMb, "broadcasts" -> storage.broadcastCount,
      "broadcast_mb" -> storage.broadcastMb, "spark" -> engine)
  }

  def execute(): Unit = {
    // staging: untimed, and excluded from set-up time
    newSession()
    val s0 = System.nanoTime()
    stage(w.name, w.params, parquet)(w.generate(spark, _, a.seed))
    if (a.trace) {
      stage(docs.name, docs.params, docs.read(spark, _))(
        docs.generate(spark, _, a.seed, a.data))
      stage(skew.name, skew.params, parquet)(skew.generate(spark, _, a.seed))
    }
    val stagingS = (System.nanoTime() - s0) / 1e9

    // set-up: read-back check of the staged input and one warm-up pass,
    // whose output digest is the run's reference
    val in = load(w.name, w.params, parquet)
    val warmDigest = Digest.of(w.run(spark, in))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - stagingS
    log(f"set up in $setupS%.2f s after JVM start, less $stagingS%.2f s of staging")

    // timed passes: a closed loop for --seconds (traced runs alternate)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    while (passes.size < (if (a.trace) 4 else MinPasses) ||
        (System.nanoTime() - start) / 1e9 < a.seconds)
      passes += pass(in, withTrace = a.trace && passes.size % 2 == 1)
    log(s"${passes.size} passes")

    // the traced run's layer panel, and the flagship job on the skewed
    // input with the trace listener attached
    val skewRuns = mutable.ArrayBuffer.empty[Map[String, Double]]
    val panelInputs = if (!a.trace) Nil else {
      val docsIn = load(docs.name, docs.params, docs.read(spark, _))
      val skewIn = load(skew.name, skew.params, parquet)
      val layers = new Layers(spark, tracer)
      def elapsedS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      for (rep <- 1 to PanelReps if rep == 1 || elapsedS < PanelStartLimitS) {
        val before = spark.sparkContext.getPersistentRDDs.keySet
        layers.flagshipPrefixes(Workloads.turns(spark, in))
        layers.sftStages(Workloads.Sft.turnsMs(Workloads.turns(spark, in)))
        layers.capstoneStages(docsIn.dir, docs.read(spark, docsIn.dir))
        skewRuns += traced(tracer.span("skew.wall_s")(layers.force(skew.run(spark, skewIn))))._2
        release(before)
      }
      log("layer panel done")
      Seq(docsIn, skewIn)
    }

    // output checks, untimed
    val checks = w match {
      case _: Workloads.Flagship => Seq(Checks.flagshipSample(spark, in, a.seed))
      case _ => Nil
    }
    val oracle: Option[Map[String, Any]] = w match {
      case Workloads.Sft => Some(Checks.registryOutput(spark, "q96_sft_pack",
        new File(a.work, "oracle/sf0.01").getAbsolutePath,
        new File(a.work, "oracle/q96-out").getAbsolutePath))
      case _ => None
    }
    val drift = oracle.map(o => Checks.sftMatchesRegistry(spark,
      o("input_dir").toString, o("output").toString))
    (checks ++ drift).foreach(c => log(s"checked: ${c.detail}"))
    stop(spark)

    val record = Map(
      "workload" -> w.name,
      "seed" -> a.seed,
      "cores" -> a.cores,
      "input" -> (in.params + ("rows" -> in.rows)),
      "panel_inputs" -> panelInputs.map(p => p.params + ("rows" -> p.rows)),
      "skew_probe" -> skewRuns.toSeq,
      "staging_s" -> stagingS,
      "setup_s" -> setupS,
      "warmup_digest" -> warmDigest,
      "passes" -> passes.toSeq,
      "checks" -> (checks ++ drift).map(c =>
        Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "oracle" -> oracle,
      "spans" -> tracer.spans)
    Json.mapper.writeValue(new File(a.out), record)
  }
}
