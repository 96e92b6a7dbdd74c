package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the benchmark's own output. */
object Json {
  def str(s: String): String = graft.core.Json.str(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** Settings handed over by `run.py`: everything machine-derived is decided
  * there and recorded with the result. */
final case class Settings(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    cores: Int, coresN: Int, heap: String, storage: String,
    work: Path, data: Path, out: Path, launchMs: Long, record: Option[Path],
    prepare: Boolean) {
  def sparkVersion: String = org.apache.spark.SPARK_VERSION
}

object Settings {
  def parse(args: Array[String]): Settings = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Settings(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("cores").toInt, get("cores-n").toInt, get("heap"),
      get("storage"), Paths.get(get("work")), Paths.get(get("data")),
      Paths.get(get("out")), get("launch-ms").toLong, kv.get("record").map(Paths.get(_)),
      kv.get("prepare").contains("1"))
  }
}

/** One measured figure with its unit and sample count. */
final case class Metric(value: Double, unit: String, n: Int, note: String = "")

/** What a workload run produced: operation counts, failures by cause, the
  * end-to-end metrics, the figures under the workload's own names, per-layer
  * figures (traced runs) and free-form detail for the detail file. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.LinkedHashMap[String, Long]()
  val e2e = mutable.LinkedHashMap[String, Metric]()
  val named = mutable.LinkedHashMap[String, Metric]()
  val layers = mutable.LinkedHashMap[String, Metric]()
  val detail = mutable.LinkedHashMap[String, String]()

  def fail(cause: String): Unit = {
    failed += 1
    failures(cause) = failures.getOrElse(cause, 0L) + 1
  }

  /** Runs one attempted operation; an exception counts as a failure named
    * by its class and message. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what: ${Bench.cause(e)}")
        None
    }
  }

  /** An output check of an operation already counted by [[attempt]]. */
  def check(ok: Boolean, cause: => String): Boolean = {
    if (!ok) fail(s"check: $cause")
    ok
  }

  /** A check that is also an operation of its own. */
  def checkOp(ok: Boolean, cause: => String): Boolean = {
    attempted += 1
    check(ok, cause)
  }
}

/** Shared state of one benchmark process. */
final class Ctx(val s: Settings) {
  val trace = new Trace(s.trace)
  val report = new Report
  /** wall seconds spent generating per-seed inputs in this process (none
    * when `run.py` prepared them in a process of their own, as it does) */
  var genSeconds = 0.0
  private var firstTimedMs = -1L

  /** Marks the start of the first timed operation (defines `setup_s`). */
  def timedStart(): Unit = if (firstTimedMs < 0) {
    firstTimedMs = System.currentTimeMillis()
    Heap.checkpoint()
  }

  def setupSeconds: Double = (firstTimedMs - s.launchMs) / 1000.0 - genSeconds

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", s.work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Loops `op` until `share` of the run's seconds have passed since
    * `startNs`, running it at least `minOps` times. */
  def loopFor(startNs: Long, share: Double, minOps: Int)(op: Int => Unit): Int = {
    var i = 0
    while (i < minOps || (System.nanoTime() - startNs) / 1e9 < s.seconds * share) {
      op(i)
      i += 1
    }
    i
  }
}

object Bench {
  /** Names the failure every run provokes on purpose: a tagged
    * `incrementalCommit` onto a path that holds no table yet, as the first
    * day of a daily ingest. */
  val KnownDefect = "first-day tagged commit"
  /** The failure as the program raises it today; any other failure of that
    * operation is not excused. */
  val KnownDefectCause = s"$KnownDefect: NoSuchFileException"

  def cause(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).linesIterator.nextOption().getOrElse("")}"
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally st.close()
  }

  def treeBytes(p: Path, suffix: String = ""): (Long, Int) = {
    val st = Files.walk(p)
    try {
      val fs = st.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix))
        .toArray.map(_.asInstanceOf[Path])
      (fs.map(Files.size).sum, fs.length)
    } finally st.close()
  }

  def main(args: Array[String]): Unit = {
    val s = Settings.parse(args)
    Files.createDirectories(s.work)
    val ctx = new Ctx(s)
    if (s.prepare) {
      // generate and cache the seed's inputs, then exit without a result
      val spark = ctx.session(s.cores)
      s.workload match {
        case "transcript_extract" => TranscriptExtract.prepare(ctx, spark)
        case "incremental_commit" => IncrementalCommit.baseSnapshot(ctx, spark)
        case _ =>
      }
      spark.stop()
      return
    }
    s.workload match {
      case "transcript_extract" => TranscriptExtract.run(ctx)
      case "incremental_commit" => IncrementalCommit.run(ctx)
      case "query_sweep" => QuerySweep.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    SparkSession.getActiveSession.foreach(_.stop())
    emit(ctx)
  }

  private def metricJson(m: Metric): String =
    Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit), "n" -> m.n.toString) ++
      (if (m.note.nonEmpty) Seq("note" -> Json.str(m.note)) else Nil): _*)

  /** Prints the human-readable summary and writes the result file (the
    * last stdout line `run.py` prints) and the detail file beside it. */
  private def emit(ctx: Ctx): Unit = {
    val s = ctx.s
    val r = ctx.report
    val mode = if (s.trace) "traced" else "end-to-end"
    println(s"== perfbench ${s.workload} ($mode) seed=${s.seed} spark=${s.sparkVersion} " +
      s"cores=${s.cores} cores_n=${s.coresN} heap=${s.heap} storage=${s.storage}")
    def show(title: String, ms: collection.Map[String, Metric]): Unit = if (ms.nonEmpty) {
      println(s"-- $title")
      ms.foreach { case (k, m) =>
        println(f"  $k%-34s ${Json.num(m.value)}%14s ${m.unit}%-8s n=${m.n}" +
          (if (m.note.nonEmpty) s"  (${m.note})" else ""))
      }
    }
    show("workload figures", r.named)
    show("end-to-end metrics", r.e2e)
    show("per-layer metrics", r.layers)
    println(s"-- operations: attempted=${r.attempted} failed=${r.failed}")
    r.failures.foreach { case (c, n) => println(s"  failure x$n: $c") }

    val correct = r.failures.keys.forall(_.startsWith(KnownDefectCause))
    val shown = if (s.trace) r.layers else r.e2e
    val result = Json.obj(
      "correct" -> correct.toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "metrics" -> Json.obj(shown.toSeq.map { case (k, m) =>
        k -> Json.obj("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)) }: _*))
    val settings = Json.obj(
      "workload" -> Json.str(s.workload), "seed" -> s.seed.toString,
      "seconds" -> Json.num(s.seconds), "trace" -> s.trace.toString,
      "spark_version" -> Json.str(s.sparkVersion), "cores" -> s.cores.toString,
      "cores_n" -> s.coresN.toString, "heap" -> Json.str(s.heap),
      "storage" -> Json.str(s.storage))
    val detail = Json.obj(
      "settings" -> settings,
      "attempted" -> r.attempted.toString, "failed" -> r.failed.toString,
      "failures" -> Json.obj(r.failures.toSeq.map { case (k, v) => k -> v.toString }: _*),
      "named" -> Json.obj(r.named.toSeq.map { case (k, m) => k -> metricJson(m) }: _*),
      "end_to_end" -> Json.obj(r.e2e.toSeq.map { case (k, m) => k -> metricJson(m) }: _*),
      "per_layer" -> Json.obj(r.layers.toSeq.map { case (k, m) => k -> metricJson(m) }: _*),
      "detail" -> Json.obj(r.detail.toSeq: _*),
      "spans" -> ctx.trace.json)
    val base = s.out.getFileName.toString.stripSuffix(".json")
    Files.writeString(s.out.resolveSibling(s"$base.detail.json"), detail + "\n")
    Files.writeString(s.out, result + "\n")
  }
}
