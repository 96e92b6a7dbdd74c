package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: (sfDir, outDir); optional 3rd arg = comma-separated
    // query-name filter for fast local iteration on a new oracle
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, Option.empty[Set[String]])
      case Array(a, b, c) => (a, b, Some(c.split(",").toSet))
      case _ =>
        System.err.println(
          "usage: graft.Verify <sfDir> <outDir> [q_name1,q_name2,...]")
        sys.exit(2)
    }
    // default to machine width: the driver invokes this without env
    // overrides, and local[4] over 100+ queries is a silent budget-killer
    val cpus = ExtractJob.defaultCores.toString
    System.err.println(s"[verify] main entered, local[$cpus] on $sfDir")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Queries run on a small thread pool: per-query wall at sf0.01 is
    // dominated by plan/codegen latency, not data, so 6 concurrent Spark
    // jobs cut the dump from ~160s to well under the driver's budget even
    // in bad host weather. Shared state (fixture writers, the memoized BPE
    // training run, table reads) is synchronized in SparkEntry; each query
    // writes its own directory.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "6").toInt)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        scala.concurrent.Future {
          val t0 = System.nanoTime()
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
          System.err.println(f"[verify] $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
        }
      }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // ONE escaping implementation: graft.core.Json.str handles backslash,
    // quote, and all control chars — a tab or CR in builder-authored SQL
    // would otherwise make the driver's json.load fail and silently zero
    // the round's correctness.
    import graft.core.Json
    // __SFHASH__ lets an oracle read a fixture a query EXPORTED for this
    // exact sf dir (e.g. q_topic_match's topic vectors): queries key such
    // dirs by d.hashCode, and d is the same sfDir string passed here, so
    // the substituted path always names this run's own export
    val sfHash = java.lang.Integer.toHexString(sfDir.hashCode)
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${Json.str(k)}: ${Json.str(v.replace("__SFHASH__", sfHash))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
