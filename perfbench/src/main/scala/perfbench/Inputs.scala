package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import graft.core.{ConvParser, FixtureGen, Turn, TurnResult}
import graft.sources.TranscriptGen

/** Per-seed inputs and the expected outputs computed from them on the driver
  * without Spark. Both are cached under the work directory, so generation
  * is paid once per seed and never counted in set-up time. */
object Inputs {

  /** What the driver-side oracle (`ConvParser.parse` over
    * `FixtureGen.conversation`) says a conversation range must produce. */
  final case class Expected(convs: Int, turns: Long, monsters: Int, records: Long,
                            spans: Long, invalidTurns: Long, fp: Fingerprint.Fp) {
    def line: String = Seq(convs, turns, monsters, records, spans, invalidTurns,
      fp.rows, fp.hash).mkString(" ")
  }

  def profile(seed: Long, convs: Int): FixtureGen.Profile =
    FixtureGen.Profile(numConvs = convs, seed = seed)

  /** Expected results of conversations `[from, until)` of a profile. */
  def expected(p: FixtureGen.Profile, from: Long, until: Long, monsterThreshold: Long): Expected = {
    var turns, records, spans, invalid, hash = 0L
    var monsters = 0
    var i = from
    while (i < until) {
      val conv = FixtureGen.conversation(p, i)
      turns += conv.size
      if (conv.size > monsterThreshold) monsters += 1
      ConvParser.parse(conv.head.conv_id, conv).foreach { t =>
        if (t.record.isDefined) records += 1
        spans += t.spans.size
        if (!t.valid) invalid += 1
        hash += Fingerprint.turn(t)
      }
      i += 1
    }
    Expected((until - from).toInt, turns, monsters, records, spans, invalid,
      Fingerprint.Fp(turns, java.lang.Long.toHexString(hash)))
  }

  private def parseExpected(l: String): Expected = {
    val f = l.trim.split(" ")
    Expected(f(0).toInt, f(1).toLong, f(2).toInt, f(3).toLong, f(4).toLong, f(5).toLong,
      Fingerprint.Fp(f(6).toLong, f(7)))
  }

  /** A materialized transcript table of `convs` conversations. */
  final case class Table(path: Path, exp: Expected, bytes: Long, genSeconds: Double)

  /** `TranscriptGen.materialize` of the default profile at `seed`, cached. */
  def transcripts(ctx: Ctx, spark: SparkSession, convs: Int, monsterThreshold: Long): Table = {
    val dir = ctx.s.work.resolve(s"gen/turns-s${ctx.s.seed}-n$convs")
    val raw = dir.resolve("raw")
    val meta = dir.resolve("meta.txt")
    if (!Files.exists(meta)) {
      Bench.deleteTree(dir)
      val p = profile(ctx.s.seed, convs)
      val (_, genS) = Bench.time(
        TranscriptGen.materialize(spark, p, raw.toString, ctx.s.cores))
      val (exp, expS) = Bench.time(expected(p, 0, convs, monsterThreshold))
      ctx.genSeconds += genS + expS
      val tmp = dir.resolve("meta.tmp")
      Files.writeString(tmp, s"$genS\n${exp.line}\n")
      Files.move(tmp, meta, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val lines = Files.readAllLines(meta)
    Table(raw, parseExpected(lines.get(1)), Bench.treeBytes(raw, ".parquet")._1,
      lines.get(0).toDouble)
  }

  def readTurns(spark: SparkSession, path: Path) = {
    import spark.implicits._
    spark.read.parquet(path.toString).as[Turn]
  }

  /** Driver-side reference of one conversation's results, in turn order. */
  def parsed(p: FixtureGen.Profile, conv: Long): Seq[TurnResult] = {
    val c = FixtureGen.conversation(p, conv)
    ConvParser.parse(c.head.conv_id, c).toSeq
  }
}
