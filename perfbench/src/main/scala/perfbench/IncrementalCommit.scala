package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.core.{FixtureGen, Turn, TurnResult}
import graft.operators.Extraction
import graft.sources.Snapshot

/** Closed loop, one client: from a pre-built base snapshot, each iteration
  * commits a new tagged batch with `Extraction.incrementalCommit`, then
  * looks up one just-committed conversation with `Snapshot.readWhere`;
  * every few iterations an earlier tag is replayed. */
object IncrementalCommit {
  /** the base is the seed's transcript_extract table */
  val BaseConvs: Int = TranscriptExtract.Convs
  val BatchConvs = 200
  val NumChunks = 32
  val ReplayEvery = 3
  val MinIterations = 7
  /** point lookups per iteration, each of a different new conversation */
  val Lookups = 6
  val MonsterThreshold = 1000L

  def cfg(cores: Int): Extraction.Config =
    Extraction.Config(numPartitions = cores, monsterThreshold = MonsterThreshold)

  /** Conversations of batch `k` (batch -1 is the warm-up batch). */
  def batchRange(k: Int): (Long, Long) = {
    val from = BaseConvs.toLong + (k + 1).toLong * BatchConvs
    (from, from + BatchConvs)
  }

  def batch(spark: SparkSession, p: FixtureGen.Profile, k: Int): Dataset[Turn] = {
    import spark.implicits._
    val (from, until) = batchRange(k)
    spark.createDataset((from until until).flatMap(FixtureGen.conversation(p, _)))
  }

  def copyTree(from: Path, to: Path): Unit = {
    val st = Files.walk(from)
    try st.forEach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst) else Files.copy(f, dst)
    } finally st.close()
  }

  /** The base snapshot of the seed, committed once and cached. */
  def baseSnapshot(ctx: Ctx, spark: SparkSession): (Path, Inputs.Expected) = {
    val table = Inputs.transcripts(ctx, spark, BaseConvs, MonsterThreshold)
    val dir = table.path.getParent.resolve("base-snapshot")
    if (!Files.exists(dir.resolve("manifest-v0.json"))) {
      Bench.deleteTree(dir)
      val (_, secs) = Bench.time {
        val (df, obs) = Extraction.observed(Extraction.extractSkewAware(
          Inputs.readTurns(spark, table.path), cfg(ctx.s.cores)))
        Snapshot.write(df, dir.toString, "conv_id", NumChunks, observation = Some(obs), tag = "base")
      }
      ctx.genSeconds += secs
    }
    (dir, table.exp)
  }

  def run(ctx: Ctx): Unit = {
    val s = ctx.s
    val r = ctx.report
    val spark = ctx.session(s.cores)
    import spark.implicits._
    val c = cfg(s.cores)
    val p = Inputs.profile(s.seed, BaseConvs)
    val (base, baseExp) = baseSnapshot(ctx, spark)
    val runDir = s.work.resolve("run/incremental")
    Bench.deleteTree(runDir)
    val rng = new scala.util.Random(s.seed)

    // warm-up on a throwaway copy: one append and one lookup
    val warm = runDir.resolve("warm")
    copyTree(base, warm)
    Extraction.incrementalCommit(batch(spark, p, -1), warm.toString, c, NumChunks, "warm")
    Snapshot.readWhere(spark, warm.toString, col("conv_id") === f"conv${batchRange(-1)._1}%08d").count()
    Bench.deleteTree(warm)

    val table = runDir.resolve("table")
    copyTree(base, table)
    ctx.timedStart()

    // the first day of an ingest: a tagged commit onto a path with no table
    val fresh = runDir.resolve("fresh")
    r.attempt(Bench.KnownDefect) {
      val m = Extraction.incrementalCommit(batch(spark, p, 0), fresh.toString, c, NumChunks, "day-0")
      r.check(m.get("turns").contains(Inputs.expected(p, batchRange(0)._1, batchRange(0)._2,
        MonsterThreshold).turns), s"fresh-path commit metrics $m")
    }

    val appends, lookups, replays = ArrayBuffer[Double]()
    val tagMetrics = collection.mutable.Map[Int, Map[String, Long]]()
    var committedTurns = 0L
    val tracer = if (s.trace) Some(new Phases.Tracer(spark, s.cores)) else None
    val tracedAppends = ArrayBuffer[Double]()
    val skewNoop, plainNoop = ArrayBuffer[Double]()
    val fileFracs = ArrayBuffer[Double]()

    ctx.loopFor(System.nanoTime(), 1.0, MinIterations) { k =>
      val (from, until) = batchRange(k)
      val exp = Inputs.expected(p, from, until, MonsterThreshold)
      val ds = batch(spark, p, k)
      val traced = tracer.filter(_ => k % 2 == 1)
      Heap.checkpoint() // collector debt of earlier work stays out of the timing
      r.attempt("tagged append") {
        val (m, secs) = ctx.trace.span("append")(Bench.time(traced.fold(
          Extraction.incrementalCommit(ds, table.toString, c, NumChunks, s"b$k"))(t =>
          t(Extraction.incrementalCommit(ds, table.toString, c, NumChunks, s"b$k")))))
        val want = Map("turns" -> exp.turns, "records" -> exp.records, "spans" -> exp.spans,
          "invalid_turns" -> exp.invalidTurns)
        if (r.check(want.forall { case (key, v) => m.get(key).contains(v) },
            s"batch b$k metrics $m, expected $want")) {
          (if (traced.isDefined) tracedAppends else appends) += secs
          tagMetrics(k) = m
          committedTurns += exp.turns
        }
      }

      for (_ <- 1 to Lookups) {
        val conv = from + rng.nextInt(BatchConvs)
        val cid = f"conv$conv%08d"
        r.attempt("point lookup") {
          val pred = col("conv_id") === cid
          val (got, secs) = ctx.trace.span("lookup")(Bench.time(
            Snapshot.readWhere(spark, table.toString, pred).as[TurnResult].collect()))
          if (r.check(got.sortBy(_.turn_idx).toSeq == Inputs.parsed(p, conv),
              s"lookup of $cid: ${got.length} rows differ from the oracle"))
            lookups += secs
          if (s.trace) fileFracs += Snapshot.readWhere(spark, table.toString, pred).inputFiles.length
            .toDouble / Snapshot.read(spark, table.toString).inputFiles.length
        }
      }

      if (k % ReplayEvery == ReplayEvery - 1) {
        val j = rng.nextInt(k)
        val old = batch(spark, p, j)
        r.attempt("tag replay") {
          val v0 = Snapshot.committedVersion(table.toString)
          val (m, secs) = ctx.trace.span("replay")(Bench.time(
            Extraction.incrementalCommit(old, table.toString, c, NumChunks, s"b$j")))
          if (r.check(m == tagMetrics.getOrElse(j, Map.empty) &&
              Snapshot.committedVersion(table.toString) == v0,
              s"replay of b$j returned $m or committed a new version"))
            replays += secs
        }
      }

      if (s.trace && k % 4 == 0) {
        skewNoop += Bench.time(Layers.noop(Extraction.extractSkewAware(ds, c).toDF))._2
        plainNoop += Bench.time(Layers.noop(Extraction.extract(ds, c).toDF))._2
      }
    }

    val rows = Snapshot.read(spark, table.toString).count()
    r.checkOp(rows == baseExp.turns + committedTurns,
      s"final row count $rows, expected ${baseExp.turns + committedTurns}")
    val (committedVersions, manifestBytes) = (Snapshot.committedVersion(table.toString).getOrElse(-1),
      Files.size(table.resolve(s"manifest-v${Snapshot.committedVersion(table.toString).getOrElse(0)}.json")))

    val batchTurns = committedTurns.toDouble / math.max(1, tagMetrics.size)
    if (!s.trace) {
      val (ap50, atail) = Phases.latency(appends.toSeq)
      val (lp50, ltail) = Phases.latency(lookups.toSeq)
      r.named("append_p50_s") = ap50
      r.named("append_tail_s") = atail
      r.named("lookup_p50_s") = lp50
      r.named("lookup_tail_s") = ltail
      r.named("replay_p50_s") = Phases.latency(replays.toSeq)._1
      r.named("versions") = Metric(committedVersions, "count", 1)
      Phases.endToEnd(ctx, Metric(batchTurns / Stats.median(appends.toSeq), "1/s", appends.size),
        appends.toSeq, lookups.toSeq)
    } else {
      val (build, exec) = Layers.buildExec(
        Extraction.extractSkewAware(batch(spark, p, 10000), c).toDF)
      Phases.perLayer(ctx, tracer.get.result, appends.toSeq, tracedAppends.toSeq, build, exec,
        Layers.fsmTurnsPerSecond(s.seed, 2000))
      val N = r.named
      N("operators.skew_route_s") = Metric(Stats.median(skewNoop.toSeq) - Stats.median(plainNoop.toSeq),
        "s", skewNoop.size)
      N("sources.append_s") = Metric(Stats.median(appends.toSeq) - Stats.median(skewNoop.toSeq),
        "s", appends.size)
      N("sources.lookup_files_frac") = Metric(Stats.median(fileFracs.toSeq), "frac", fileFracs.size)
      N("sources.replay_s") = Metric(Stats.median(replays.toSeq), "s", replays.size)
      N("sources.manifest_bytes") = Metric(manifestBytes, "B", 1)
      N("sources.versions") = Metric(committedVersions, "count", 1)
    }
    spark.stop()
  }
}
