package perfbench

import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, XxHash64}
import graft.core.TurnResult

/** Order-independent fingerprints of program outputs: a row count plus a
  * wrapping sum of per-row 64-bit hashes, so any distribution or ordering of
  * the same rows gives the same value and any changed row changes it. */
object Fingerprint {

  final case class Fp(rows: Long, hash: String) {
    override def toString: String = s"$rows:$hash"
  }

  private def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  /** Canonical encoding of every field of one extraction result
    * (conv_id, turn_idx, valid, doc_type, spans, record), hashed. */
  def turn(t: TurnResult): Long = {
    val sb = new java.lang.StringBuilder(256)
    def field(v: Any): Unit = { sb.append(String.valueOf(v)); sb.append('\u0001') }
    field(t.conv_id); field(t.turn_idx); field(t.valid); field(t.doc_type)
    field(t.spans.length)
    t.spans.foreach { s => field(s.label); field(s.start); field(s.end); field(s.text) }
    t.record match {
      case None => field("-")
      case Some(r) =>
        field("+")
        r.productIterator.foreach(field)
    }
    hash64(sb.toString)
  }

  /** (rows, wrapping hash sum) of extraction results held on the driver. */
  def ofTurns(it: Iterator[TurnResult]): (Long, Long) =
    it.foldLeft((0L, 0L)) { case ((n, h), t) => (n + 1, h + turn(t)) }

  def ofTurnResults(ds: Dataset[TurnResult]): Fp = {
    import ds.sparkSession.implicits._
    val parts = ds.mapPartitions(it => Iterator(ofTurns(it))).collect()
    Fp(parts.map(_._1).sum, java.lang.Long.toHexString(parts.map(_._2).sum))
  }

  /** Runs a frame's executed plan to completion and fingerprints its
    * output on the way: row count plus the wrapping sum of Spark's
    * `xxhash64` over all columns of each row, computed in the tasks, so
    * only one pair per partition reaches the driver. */
  def executeAndHash(df: DataFrame): Fp = {
    val attrs = df.queryExecution.executedPlan.output
    val hash = BindReferences.bindReference[Expression](XxHash64(attrs, 42L), attrs)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n, h = 0L
      it.foreach { row => n += 1; h += hash.eval(row).asInstanceOf[Long] }
      Iterator((n, h))
    }.collect()
    Fp(parts.map(_._1).sum, java.lang.Long.toHexString(parts.map(_._2).sum))
  }
}
