package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.core.{FixtureGen, Json, Turn}
import graft.sources.{Snapshot, TranscriptGen}

/** Benchmark: the declared-query sweep plus one N→4N extraction measurement,
  * both measured by this run on this machine. Prints exactly ONE COMPACT
  * JSON line (last stdout line, small enough for a 2 KB output tail):
  * {"metric":"total","value":<sweep sec>,"unit":"sec","sf":"...",
  *  "n_queries":N,"slowest_queries":{worst 10},"query_errors":{...only
  *  queries that threw...},"extraction":{N vs 4N},"full":"bench/full_bench.json"}
  * The complete per-query map goes to `bench/full_bench.json` (same schema,
  * superset) and to a per-query table in BENCH.md.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<sf dir> sbt -batch "runMain graft.Bench"`;
  * the width is SPARK_GRAFT_CPUS, else this machine's cores. */
object Bench {

  private def newSession(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", "/dev/shm/spark-local")
      // shuffle writes were syscall-bound at 32k buffers (stack-sampled);
      // finer input splits keep the map stage multi-wave so one slow task
      // does not gate the barrier at high parallelism
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.shuffle.unsafe.file.output.buffer", "1m")
      .config("spark.shuffle.spill.diskWriteBufferSize", "1m")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  // timestamped stderr phase markers: a run cut by a timeout leaves a tail
  // that says WHERE the time went
  private val T0 = System.nanoTime()
  private def phase(msg: String): Unit =
    System.err.println(f"[bench] +${(System.nanoTime() - T0) / 1e9}%.1f s  $msg")

  def main(args: Array[String]): Unit = {
    phase("main entered (JVM startup cost is everything before this line)")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = ExtractJob.defaultCores

    phase(s"query sweep starting on $sfDir")
    val results: Seq[(String, Double, Option[String])] = {
      val spark = newSession(cores)
      // untimed warmup: session-wide one-time costs (codegen compiler,
      // parquet reader init, noop-sink registration) otherwise land
      // entirely on whichever query sorts first
      try {
        spark.range(1 << 16).selectExpr("sum(id % 7) as s")
          .write.format("noop").mode("overwrite").save()
        spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1024)
          .write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] warmup skipped: ${e.getMessage}")
      }
      try SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        var err: Option[String] = None
        val sec = time {
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            err = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          }
        }
        phase(f"$name $sec%.1f s${err.map(e => s"  ERR $e").getOrElse("")}")
        // the batch-job hygiene Dedup documents: the query's noop sink
        // has fully consumed its plans, so its signature-frame persists
        // are dead weight — release OUTSIDE the timer so 145 queries in
        // one JVM don't accumulate MEMORY_AND_DISK blocks toward LRU
        // pressure (and so no query's wall includes a predecessor's GC)
        graft.operators.Dedup.releaseCaches()
        // JMH-style isolation, also OUTSIDE the timer: drain the
        // predecessor's garbage now instead of letting a full-GC pause
        // land inside whichever successor first allocates hard.
        // Sum-of-timed-secs ("total") excludes it.
        System.gc()
        (name, sec, err)
      } finally spark.stop()
    }

    phase(s"extraction N->4N starting ($ExtractionConvs conversations)")
    val scaling = measureScaling(cores)

    val total = results.map(_._2).sum
    val qs = results.map { case (k, v, _) => Json.str(k) + f":$v%.3f" }
      .mkString("{", ",", "}")
    val slowest = results.sortBy(-_._2).take(10)
      .map { case (k, v, _) => Json.str(k) + f":$v%.3f" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) => Json.str(k) + ":" + Json.str(e) }
      .mkString("{", ",", "}")
    // the COMPACT stdout line must stay under a 2 KB tail even when queries
    // fail: cap at 2 errors × 100 chars + a pointer; the full map is in
    // bench/full_bench.json and BENCH.md
    val errsCompact = {
      val all = results.collect { case (k, _, Some(e)) => (k, e) }
      val kept = all.take(2).map { case (k, e) => Json.str(k) + ":" + Json.str(e.take(100)) }
      val tail = if (all.size > 2)
        Seq(Json.str("_more") + ":" + Json.str(s"${all.size - 2} more in bench/full_bench.json"))
      else Nil
      (kept ++ tail).mkString("{", ",", "}")
    }
    val extraction = scaling.toJson
    Files.createDirectories(Paths.get("bench"))
    Files.writeString(Paths.get("bench/full_bench.json"),
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
      s""""queries":$qs,"query_errors":$errs,"extraction":$extraction}""" + "\n")

    val memTotalKb = scala.util.Using(scala.io.Source.fromFile("/proc/meminfo"))(_.getLines()
      .collectFirst { case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toLong }.get)
      .getOrElse(-1L)
    val benchMd = Seq(
      "# BENCH — measured on this machine (local mode)",
      "",
      "Written by `graft.Bench`; every number below comes from one run.",
      "",
      "## Machine",
      "",
      "| quantity | value |",
      "| --- | --- |",
      s"| cores (`local[N]` width of the sweep) | $cores |",
      f"| memory (MemTotal) | ${memTotalKb / 1048576.0}%.1f GiB |",
      s"| JVM max heap | ${Runtime.getRuntime.maxMemory() >> 20} MiB |",
      s"| JVM | ${System.getProperty("java.version")} |",
      "",
      s"## Extraction, N vs 4N cores (north rule: efficiency ≥ $ScalingTarget)",
      "",
      "Job: `ExtractJob.extract` (skew-aware extraction, partitions = cores,",
      "monster threshold 1000) to the noop sink, over a fixed-seed (42)",
      s"`TranscriptGen` table of $ExtractionConvs conversations and ${scaling.turns} turns",
      "on disk. Both widths run in one JVM: one warm-up job, then the median",
      s"of $TimedJobs timed jobs.",
      "",
      "| cores | median wall | turns/s |",
      "| --- | --- | --- |",
      f"| ${scaling.coresN} (N) | ${scaling.secN}%.2f s | ${scaling.turnsPerSecN}%.0f |",
      f"| ${scaling.cores4N} (4N) | ${scaling.sec4N}%.2f s | ${scaling.turnsPerSec4N}%.0f |",
      "",
      f"Scaling efficiency ${scaling.efficiency}%.3f: target $ScalingTarget " +
        s"**${if (scaling.targetMet) "met" else "missed"}**.",
      "",
      s"## Per-query timings (local[$cores], $sfDir)",
      "",
      "Noop-sink materialization per query, one sample each; full map also in",
      "`bench/full_bench.json` (`queries`); failures under `query_errors`.",
      f"${results.size} queries, ${results.count(_._3.nonEmpty)} errors, total $total%.1f s.",
      "",
      "| query | sec |",
      "| --- | --- |") ++
      results.sortBy(-_._2).map { case (k, v, e) =>
        f"| $k | $v%.2f${e.map(_ => " ERR").getOrElse("")} |" }
    Files.writeString(Paths.get("BENCH.md"), benchMd.mkString("", "\n", "\n"))

    // the one stdout line: compact on purpose (see scaladoc) — complete
    // per-query map lives in bench/full_bench.json and the BENCH.md table
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${results.size},"slowest_queries":$slowest,"query_errors":$errsCompact,"extraction":$extraction,"full":"bench/full_bench.json"}""")
  }

  /** Conversations in the fixed-seed (42) extraction table. */
  val ExtractionConvs = 20000
  val TimedJobs = 3
  /** North rule: throughput scaling efficiency from N to 4N executors. */
  val ScalingTarget = 0.8

  /** Median job walls of the extraction job at N and 4N cores. */
  case class Scaling(turns: Long, coresN: Int, cores4N: Int, secN: Double, sec4N: Double) {
    def turnsPerSecN: Double = turns / secN
    def turnsPerSec4N: Double = turns / sec4N
    def efficiency: Double = turnsPerSec4N / turnsPerSecN / (cores4N.toDouble / coresN)
    def targetMet: Boolean = efficiency >= ScalingTarget
    def toJson: String =
      f"""{"turns":$turns,"cores_n":$coresN,"cores_4n":$cores4N,""" +
      f""""sec_n":$secN%.3f,"sec_4n":$sec4N%.3f,""" +
      f""""turns_per_sec_n":$turnsPerSecN%.1f,"turns_per_sec_4n":$turnsPerSec4N%.1f,""" +
      f""""scaling_efficiency":$efficiency%.3f,"scaling_target":$ScalingTarget,""" +
      s""""scaling_target_met":$targetMet}"""
  }

  /** The `ExtractJob` extraction at 4N = `cores` and N = max(1, cores / 4)
    * in this JVM, over one fixed-seed transcript table materialized under a
    * temp dir (deleted on return): one warm-up and `TimedJobs` timed jobs to
    * the noop sink at each width, median wall. */
  private def measureScaling(cores: Int): Scaling = {
    val coresN = math.max(1, cores / 4)
    val dir = Files.createTempDirectory("graft-bench-extract")
    val raw = dir.resolve("raw").toString
    try {
      var turns = 0L
      def medianWall(c: Int): Double = {
        val spark = newSession(c)
        try {
          if (turns == 0L) {
            TranscriptGen.materialize(spark, FixtureGen.Profile(numConvs = ExtractionConvs),
              raw, parallelism = cores)
            turns = spark.read.parquet(raw).count()
          }
          import spark.implicits._
          def job(): Double = time {
            ExtractJob.extract(spark.read.parquet(raw).as[Turn], c)
              .write.format("noop").mode("overwrite").save()
          }
          job()
          val walls = Seq.fill(TimedJobs)(job()).sorted
          phase(f"extraction local[$c]: ${walls.map(w => f"$w%.2f").mkString(" ")} s")
          walls(walls.size / 2)
        } finally spark.stop()
      }
      val sec4N = medianWall(cores)
      val secN = medianWall(coresN)
      Scaling(turns, coresN, cores, secN, sec4N)
    } finally Snapshot.deleteRecursively(dir)
  }
}
