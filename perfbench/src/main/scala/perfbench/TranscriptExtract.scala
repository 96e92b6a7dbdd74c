package perfbench

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.{Turn, TurnResult}
import graft.operators.Extraction
import graft.sources.Snapshot

/** Batch job: `extractSkewAware` → `observed` → `Snapshot.write` over a
  * pre-materialized transcript table, at 4N = all cores and again at
  * N = a quarter of them, in one process. */
object TranscriptExtract {
  val Convs = 4000
  val MonsterThreshold = 1000L
  val NumChunks = 32
  /** shares of the run's seconds given to the 4N and N phases */
  val Share4N = 0.35
  /** untimed full jobs before the first timed one: job walls still fall
    * with the JIT over the first three */
  val WarmUpJobs = 3
  val ShareN = 0.65

  def cfg(cores: Int): Extraction.Config =
    Extraction.Config(numPartitions = cores, monsterThreshold = MonsterThreshold)

  /** The measured operation: one full extraction job and commit. */
  def job(spark: SparkSession, turns: Dataset[Turn], out: Path, cores: Int): Map[String, Long] = {
    val (df, obs) = Extraction.observed(Extraction.extractSkewAware(turns, cfg(cores)))
    Snapshot.write(df, out.toString, "conv_id", NumChunks, observation = Some(obs))
  }

  /** The committed snapshot and its metrics must match the driver-side
    * oracle: row count, fingerprint and every observed counter. */
  def check(r: Report, spark: SparkSession, out: Path, m: Map[String, Long],
            exp: Inputs.Expected): Boolean = {
    import spark.implicits._
    val fp = Fingerprint.ofTurnResults(Snapshot.read(spark, out.toString).as[TurnResult])
    val want = Map("turns" -> exp.turns, "records" -> exp.records, "spans" -> exp.spans,
      "invalid_turns" -> exp.invalidTurns)
    r.check(fp == exp.fp, s"snapshot fingerprint $fp, expected ${exp.fp}") &&
      r.check(want.forall { case (k, v) => m.get(k).contains(v) },
        s"observed metrics $m, expected $want")
  }

  def prepare(ctx: Ctx, spark: SparkSession): Inputs.Table =
    Inputs.transcripts(ctx, spark, Convs, MonsterThreshold)

  def run(ctx: Ctx): Unit = {
    val s = ctx.s
    val r = ctx.report
    var spark = ctx.session(s.cores)
    val table = prepare(ctx, spark)
    val exp = table.exp
    val outRoot = s.work.resolve("run/extract")
    Bench.deleteTree(outRoot)
    var seq = 0
    def turns() = Inputs.readTurns(spark, table.path)
    var kept: Option[(Path, Map[String, Long])] = None

    /** One attempted full job at `cores`, checked unless it is a warm-up;
      * its wall if it passed. A tracer, if given, is attached around it. */
    def once(cores: Int, tracer: Option[Phases.Tracer] = None,
             keep: Boolean = false, warmUp: Boolean = false): Option[Double] = {
      val out = outRoot.resolve(s"t$seq")
      seq += 1
      Heap.checkpoint() // collector debt of earlier work stays out of the timing
      val res = r.attempt("full job") {
        ctx.trace.span(s"full_job@$cores")(Bench.time(
          tracer.fold(job(spark, turns(), out, cores))(t => t(job(spark, turns(), out, cores)))))
      }
      val ok = res.exists { case (m, _) =>
        warmUp || ctx.trace.span("check")(check(r, spark, out, m, exp)) }
      if (keep) kept = res.map(x => (out, x._1)) else Bench.deleteTree(out)
      res.filter(_ => ok).map(_._2)
    }

    /** The first day of a daily ingest: the table as a tagged
      * `incrementalCommit` onto a path that holds no table yet. */
    def firstDay(): Unit = {
      val fresh = outRoot.resolve("first-day")
      r.attempt(Bench.KnownDefect) {
        val m = Extraction.incrementalCommit(turns(), fresh.toString, cfg(s.cores), NumChunks, "day-1")
        check(r, spark, fresh, m, exp)
      }
      Bench.deleteTree(fresh)
    }

    (1 to WarmUpJobs).foreach(_ => once(s.cores, warmUp = true)) // JIT, codegen, caches
    ctx.timedStart()
    val walls4 = ArrayBuffer[Double]()

    if (!s.trace) {
      ctx.loopFor(System.nanoTime(), Share4N, 3)(_ => walls4 ++= once(s.cores))
      firstDay()
      spark.stop()
      spark = ctx.session(s.coresN)
      val walls1 = ArrayBuffer[Double]()
      ctx.loopFor(System.nanoTime(), ShareN, 3)(_ => walls1 ++= once(s.coresN))
      val rate4 = exp.turns / Stats.median(walls4.toSeq)
      val rate1 = exp.turns / Stats.median(walls1.toSeq)
      val eff = rate4 / (s.cores.toDouble / s.coresN * rate1)
      r.named("job_turns_per_s") = Metric(rate4, "turns/s", walls4.size, s"${s.cores} cores")
      r.named("job_1c_turns_per_s") = Metric(rate1, "turns/s", walls1.size, s"${s.coresN} cores")
      r.named("scaling_eff") = Metric(eff, "ratio", 1,
        s"${s.coresN}→${s.cores} cores; target 0.8 ${if (eff >= 0.8) "met" else "missed"}")
      r.named("gen_s") = Metric(table.genSeconds, "s", 1, "cached per seed, not in setup_s")
      Phases.endToEnd(ctx, Metric(rate4, "1/s", walls4.size), walls4.toSeq, walls1.toSeq)
    } else {
      // alternate untraced and traced jobs so both sample the same conditions
      val tracer = new Phases.Tracer(spark, s.cores)
      val tracedWalls = ArrayBuffer[Double]()
      ctx.loopFor(System.nanoTime(), 2 * Share4N, 6) { i =>
        if (i % 2 == 0) walls4 ++= once(s.cores)
        else tracedWalls ++= once(s.cores, Some(tracer))
      }
      firstDay()
      val counters = SparkCounters.attach(spark.sparkContext)
      val c = cfg(s.cores)
      val split = ctx.trace.span("layer_split")(Layers.extractionSplit(
        Inputs.readTurns(spark, table.path), c, 3, counters, spark))
      val (build, exec) = Layers.buildExec(
        Extraction.extractSkewAware(Inputs.readTurns(spark, table.path), c).toDF)
      once(s.cores, keep = true) // one kept commit for the storage-layer figures
      val (committedBytes, files) = kept
        .map(k => Bench.treeBytes(k._1.resolve("v0"), ".parquet")).getOrElse((0L, 0))
      val m = kept.map(_._2).getOrElse(Map.empty)
      Phases.perLayer(ctx, tracer.result, walls4.toSeq, tracedWalls.toSeq, build, exec,
        Layers.fsmTurnsPerSecond(s.seed, 2000))
      val full = Stats.median(walls4.toSeq)
      val N = r.named
      N("operators.scan_s") = Metric(split.scan, "s", 3)
      N("operators.exchange_sort_s") = Metric(split.exchangeSort, "s", 3)
      N("operators.extract_s") = Metric(split.extract, "s", 3)
      N("operators.skew_route_s") = Metric(split.skewAware - split.extract, "s", 3)
      N("operators.task_skew") = Metric(split.taskSkew, "ratio", 1)
      for (k <- Seq("turns", "records", "spans", "invalid_turns"))
        N(s"operators.$k") = Metric(m.getOrElse(k, -1L).toDouble, "count", 1)
      N("operators.monsters") = Metric(exp.monsters, "count", 1)
      N("sources.write_s") = Metric(full - split.skewAware, "s", walls4.size)
      N("sources.bytes_per_input_byte") = Metric(committedBytes.toDouble / table.bytes, "ratio", 1)
      N("sources.files") = Metric(files, "count", 1)
      N("sources.gen_s") = Metric(table.genSeconds, "s", 1)
      kept.foreach(k => Bench.deleteTree(k._1))
    }
    spark.stop()
  }
}
