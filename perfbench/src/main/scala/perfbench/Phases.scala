package perfbench

import org.apache.spark.sql.SparkSession

/** Shared shape of every workload's measurements: timed samples, the
  * end-to-end metrics derived from them, and the per-layer metrics every
  * traced run reports. */
object Phases {

  /** Median and tail of a timing sample as (p50, tail) metrics. */
  def latency(xs: Seq[Double]): (Metric, Metric) = {
    val (tname, tv) = Stats.tail(xs)
    (Metric(Stats.median(xs), "s", xs.size, "p50"), Metric(tv, "s", xs.size, tname))
  }

  /** The end-to-end metrics, shared by all workloads; what "op", "op2" and
    * "rate" stand for is workload-specific (see README.md). The tail of op2
    * is printed but not declared: over a few single-core jobs it swings
    * with the host's speed more than any bound allows. */
  def endToEnd(ctx: Ctx, rate: Metric, op: Seq[Double], op2: Seq[Double]): Unit = {
    val r = ctx.report
    val (p50, tail) = latency(op)
    val (p50b, tailb) = latency(op2)
    r.named("op2_tail_s") = tailb
    Heap.checkpoint()
    r.e2e("setup_s") = Metric(ctx.setupSeconds, "s", 1)
    r.e2e("ok_rate") = Metric(1.0 - r.failed.toDouble / r.attempted, "frac",
      r.attempted.toInt, s"${r.failed} of ${r.attempted} failed")
    r.e2e("peak_heap_mb") = Metric(Heap.peakMb, "MB", 1)
    r.e2e("rate_per_s") = rate
    r.e2e("op_p50_s") = p50
    r.e2e("op_tail_s") = tail
    r.e2e("op2_p50_s") = p50b
    r.named("fail_rate") = Metric(r.failed.toDouble / r.attempted, "frac", r.attempted.toInt,
      s"${r.failed} of ${r.attempted} failed")
    r.named("setup_s") = r.e2e("setup_s")
    r.named("peak_heap_mb") = r.e2e("peak_heap_mb")
    r.detail("samples") = Json.obj("op_s" -> op.map(Json.num).mkString("[", ",", "]"),
      "op2_s" -> op2.map(Json.num).mkString("[", ",", "]"))
  }

  /** Listener counts of the traced operations of a run. */
  final case class Traced(ops: Int, wall: Double, cores: Int,
                          counts: Map[String, Long], compiles: Long)

  /** Wraps single operations with a listener that is attached only while
    * they run, so traced and untraced operations can alternate. */
  final class Tracer(spark: SparkSession, cores: Int) {
    private val sc = spark.sparkContext
    private val l = new SparkCounters
    private var ops = 0
    private var wall = 0.0
    private var compiles = 0L

    def apply[T](body: => T): T = {
      sc.addSparkListener(l)
      val c0 = SparkCounters.codegenCompiles
      val t0 = System.nanoTime()
      try body
      finally {
        SparkCounters.drain(sc)
        sc.removeSparkListener(l)
        wall += (System.nanoTime() - t0) / 1e9
        compiles += SparkCounters.codegenCompiles - c0
        ops += 1
      }
    }

    def result: Traced = Traced(ops, wall, cores, l.snapshot(), compiles)
  }

  /** The per-layer metrics every traced run reports. `untraced`/`tracedOps`
    * are the same operation's walls without and with the listener. */
  def perLayer(ctx: Ctx, t: Traced, untraced: Seq[Double], tracedOps: Seq[Double],
               build: Double, exec: Double, fsmTurnsPerS: Double): Unit = {
    val L = ctx.report.layers
    val n = math.max(1, t.ops)
    def per(k: String) = t.counts(k).toDouble / n
    L("core.fsm_turns_per_s") = Metric(fsmTurnsPerS, "1/s", 1)
    L("plan.build_s") = Metric(build, "s", 1)
    L("plan.exec_s") = Metric(exec, "s", 1)
    L("codegen.compiles") = Metric(t.compiles.toDouble / n, "count/op", n)
    L("spark.jobs") = Metric(per("jobs"), "count/op", n)
    L("spark.stages") = Metric(per("stages"), "count/op", n)
    L("spark.tasks") = Metric(per("tasks"), "count/op", n)
    L("spark.task_run_s") = Metric(per("run_ms") / 1000, "s/op", n)
    L("spark.gc_s") = Metric(per("gc_ms") / 1000, "s/op", n)
    L("spark.shuffle_write_bytes") = Metric(per("shuffle_write_bytes"), "B/op", n)
    L("spark.spill_bytes") = Metric(per("spill_bytes"), "B/op", n)
    L("spark.busy_frac") = Metric(t.counts("run_ms") / 1000.0 / (t.wall * t.cores), "frac", n)
    L("trace_overhead_frac") = Metric(
      Stats.median(tracedOps) / Stats.median(untraced) - 1, "frac", tracedOps.size)
  }
}
