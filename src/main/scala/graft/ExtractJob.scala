package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.{FixtureGen, Turn, TurnResult}
import graft.operators.Extraction
import graft.sources.{Snapshot, TranscriptGen}

/** spark-submit-style entry for the full north-rule pipeline:
  * synthesize (or read) the transcript table → salted/skew-aware extraction →
  * checkpointed snapshot write with per-chunk lineage + extraction metrics.
  *
  * Usage: ExtractJob <workDir> [numConvs] [cores] [numChunks]
  * (cores defaults to SPARK_GRAFT_CPUS, else this machine's cores)
  */
object ExtractJob {
  /** Executor width when none is given (also Bench's and Verify's). */
  def defaultCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString).toInt

  /** The extraction job, shared with `Bench`'s N→4N measurement.
    * monsterThreshold BELOW the fixture's monster size (default
    * monsterTurns = 1200 < Config's default 2000): with the default
    * threshold the skew routing this job exists to demonstrate would
    * silently never trigger and every monster would straggle a normal
    * hash partition. */
  def extract(turns: Dataset[Turn], cores: Int): Dataset[TurnResult] =
    Extraction.extractSkewAware(turns,
      Extraction.Config(numPartitions = cores, monsterThreshold = 1000L))

  def main(args: Array[String]): Unit = {
    val workDir = if (args.length > 0) args(0) else "target/extract-job"
    val numConvs = if (args.length > 1) args(1).toInt else 2000
    val cores = if (args.length > 2) args(2).toInt else defaultCores
    val numChunks = if (args.length > 3) args(3).toInt else 32

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-extract")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val rawPath = s"$workDir/raw"
    val profile = FixtureGen.Profile(numConvs = numConvs)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(rawPath)))
      TranscriptGen.materialize(spark, profile, rawPath, cores)

    val turns = spark.read.parquet(rawPath).as[Turn]
    val (observedDf, obs) = Extraction.observed(extract(turns, cores))
    val metrics = Snapshot.write(observedDf,
      s"$workDir/extracted", "conv_id", numChunks, observation = Some(obs))
    println(s"committed snapshot with metrics: $metrics")
    println(Snapshot.manifestJson(s"$workDir/extracted").take(600))
    spark.stop()
  }
}
