package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** The declared queries of `SparkEntry.queries` named in the committed
  * fingerprint file, over the committed sf0.01 tables: untimed warm-up
  * passes, then timed passes for the run's seconds. Every execution is
  * checked against the query's committed fingerprint. The seed is ignored:
  * the query fixtures are fixed. */
object QuerySweep {
  val FingerprintFile = "query_fingerprints.tsv"
  val Tables = "sf0.01"
  /** untimed warm passes after the cold one: the first warm pass is still
    * about a fifth slower than the passes after it, as the JIT catches up */
  val WarmPasses = 1

  final case class Expected(name: String, fp: Option[Fingerprint.Fp])

  def expected(file: Path): Seq[Expected] =
    Files.readAllLines(file).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\t")
        Expected(f(0), if (f.length >= 3) Some(Fingerprint.Fp(f(1).toLong, f(2))) else None)
      }

  /** One query: build the frame and force its executed plan (build), then
    * run that plan to completion, fingerprinting its output rows (exec). */
  final case class Timing(build: Double, exec: Double, fp: Fingerprint.Fp) {
    def wall: Double = build + exec
  }

  def timeQuery(spark: SparkSession, dir: String, name: String): Timing = {
    val (df, b) = Bench.time { val d = SparkEntry.queries(name)(spark, dir); d.queryExecution.executedPlan; d }
    val (fp, e) = Bench.time(Fingerprint.executeAndHash(df))
    Timing(b, e, fp)
  }

  def run(ctx: Ctx): Unit = {
    val s = ctx.s
    val r = ctx.report
    val spark = ctx.session(s.cores)
    val dir = s.data.resolve(Tables).toString
    val fpFile = s.record.getOrElse(s.data.resolve(FingerprintFile))
    val qs = expected(fpFile)
    val names = qs.map(_.name)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries in $fpFile: ${unknown.mkString(", ")}")

    val want = qs.map(e => e.name -> e.fp).toMap
    val recorded = collection.mutable.LinkedHashMap[String, Fingerprint.Fp]()
    /** One pass over the queries; the timing of each query that ran and
      * produced its expected fingerprint. While recording, the first pass
      * defines the expected fingerprints and later passes must repeat them. */
    def pass(label: String, tracer: Option[Phases.Tracer] = None): Map[String, Timing] =
      ctx.trace.span(label) {
        Heap.checkpoint() // collector debt of earlier work stays out of the timing
        names.flatMap { q =>
          r.attempt(s"query $q") {
            ctx.trace.span(q)(tracer.fold(timeQuery(spark, dir, q))(t => t(timeQuery(spark, dir, q))))
          }.filter { t =>
            val exp = if (s.record.isDefined) recorded.getOrElseUpdate(q, t.fp) else want(q).orNull
            r.check(t.fp == exp, s"query $q fingerprint ${t.fp}, expected ${Option(exp).getOrElse("none")}")
          }.map(q -> _)
        }.toMap
      }

    val cold = pass("cold pass")
    (1 to WarmPasses).foreach(_ => pass("warm-up"))
    ctx.timedStart()
    val passes = ArrayBuffer[Map[String, Timing]]()
    val tracedPasses = ArrayBuffer[Map[String, Timing]]()
    val tracer = if (s.trace) Some(new Phases.Tracer(spark, s.cores)) else None
    val c0 = SparkCounters.codegenCompiles
    ctx.loopFor(System.nanoTime(), if (s.trace) 2.0 else 1.0, if (s.trace) 4 else 3) { i =>
      if (tracer.isDefined && i % 2 == 1) tracedPasses += pass("traced pass", tracer)
      else passes += pass("timed pass")
    }
    val compiles = SparkCounters.codegenCompiles - c0
    s.record.foreach(f => Files.writeString(f, names.map(q => recorded.get(q).fold(q)(fp =>
      s"$q\t${fp.rows}\t${fp.hash}")).mkString("", "\n", "\n")))

    def perQuery(f: Timing => Double): Seq[(String, Double)] =
      names.map(q => q -> passes.flatMap(_.get(q).map(f)).toSeq).filter(_._2.nonEmpty)
        .map { case (q, xs) => q -> xs.sum / xs.size }
    val sweeps = passes.map(_.values.map(_.wall).sum).toSeq
    val sweep = sweeps.sum / sweeps.size // the mean over timed passes, as per query
    val (bq, eq) = (perQuery(_.build).toMap, perQuery(_.exec).toMap)
    r.detail("queries") = Json.obj(perQuery(_.wall).map { case (q, w) =>
      q -> Json.obj("wall_s" -> Json.num(w), "build_s" -> Json.num(bq(q)),
        "exec_s" -> Json.num(eq(q)), "cold_s" -> cold.get(q).map(t => Json.num(t.wall)).getOrElse("null"),
        "walls_s" -> passes.flatMap(_.get(q).map(t => Json.num(t.wall))).mkString("[", ",", "]"))
    }: _*)

    if (!s.trace) {
      // the distribution over the queries, each at its mean over the timed
      // passes: of three, a median would keep one sample per query
      val warm = perQuery(_.wall).map(_._2)
      val (qp50, qtail) = Phases.latency(warm)
      r.named("sweep_s") = Metric(sweep, "s", sweeps.size, s"${names.size} queries per pass")
      r.named("query_p50_s") = qp50
      r.named("query_tail_s") = qtail
      Phases.endToEnd(ctx, Metric(names.size / sweep, "1/s", sweeps.size),
        warm, cold.values.map(_.wall).toSeq)
    } else {
      def passSum(f: Timing => Double) = Stats.median(passes.map(_.values.map(f).sum).toSeq)
      val n = names.size.toDouble
      def sums(ps: Iterable[Map[String, Timing]]) = ps.map(_.values.map(_.wall).sum).toSeq
      Phases.perLayer(ctx, tracer.get.result, sums(passes), sums(tracedPasses),
        passSum(_.build) / n, passSum(_.exec) / n, Layers.fsmTurnsPerSecond(s.seed, 2000))
      r.named("SparkEntry.build_s") = Metric(passSum(_.build), "s", passes.size, "summed over a pass")
      r.named("SparkEntry.exec_s") = Metric(passSum(_.exec), "s", passes.size, "summed over a pass")
      r.named("SparkEntry.codegen_compiles") = Metric(
        compiles.toDouble / (passes.size + tracedPasses.size), "count",
        passes.size + tracedPasses.size, "per timed pass")
    }
    spark.stop()
  }
}
