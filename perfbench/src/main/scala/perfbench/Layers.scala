package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.core.{ConvParser, FixtureGen, Turn}
import graft.operators.Extraction

/** Per-layer measurements taken in traced runs, each around a public call
  * into one layer of the program. */
object Layers {

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Median wall of `reps` noop executions of a freshly built frame. */
  def noopSeconds(reps: Int)(build: => DataFrame): Double =
    Stats.median((1 to reps).map(_ => Bench.time(noop(build))._2))

  /** (build, exec) seconds: construct the frame and force its executed
    * plan, then run that same plan to completion without output. */
  def buildExec(build: => DataFrame): (Double, Double) = {
    val (df, b) = Bench.time { val d = build; d.queryExecution.executedPlan; d }
    val (_, e) = Bench.time(df.queryExecution.toRdd.foreach(_ => ()))
    (b, e)
  }

  /** Single-thread FSM throughput (turns/s) of `ConvParser.parse` over the
    * first `convs` conversations of the seed's default profile, held in
    * memory. The best of three passes, after one warm-up pass. */
  def fsmTurnsPerSecond(seed: Long, convs: Int): Double = {
    val p = Inputs.profile(seed, convs)
    val sample = (0L until convs.toLong).map(FixtureGen.conversation(p, _))
    val turns = sample.map(_.size).sum
    def pass(): Double = Bench.time(sample.foreach(c =>
      ConvParser.parse(c.head.conv_id, c).foreach(_ => ())))._2
    pass()
    turns / (1 to 3).map(_ => pass()).min
  }

  /** The operator-layer split of one extraction input, in seconds:
    * pruned scan, exchange + sort, plain `extract` and `extractSkewAware`
    * (each to a noop sink, median of `reps`), plus the slowest ÷ median task
    * of the skew-aware FSM stage. */
  final case class Split(scan: Double, exchangeSort: Double, extract: Double,
                         skewAware: Double, taskSkew: Double)

  def extractionSplit(turns: => Dataset[Turn], cfg: Extraction.Config, reps: Int,
                      counters: SparkCounters, spark: SparkSession): Split = {
    val pruned = () => turns.select(col("conv_id"), col("turn_idx"), col("text"))
    val scan = noopSeconds(reps)(pruned())
    val sorted = noopSeconds(reps)(pruned()
      .repartition(cfg.numPartitions, col("conv_id"))
      .sortWithinPartitions(col("conv_id"), col("turn_idx")))
    val plain = noopSeconds(reps)(Extraction.extract(turns, cfg).toDF)
    val skew = noopSeconds(reps)(Extraction.extractSkewAware(turns, cfg).toDF)
    SparkCounters.drain(spark.sparkContext)
    val before = counters.maxStageId
    noop(Extraction.extractSkewAware(turns, cfg).toDF)
    SparkCounters.drain(spark.sparkContext)
    Split(scan, sorted - scan, plain, skew, counters.resultStageSkew(before))
  }
}
