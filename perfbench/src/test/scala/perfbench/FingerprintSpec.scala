package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{CisRecord, Span, TurnResult}

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val rec = CisRecord("1.1.1 Ensure x", "Level 1", "d", "r", "a", "rem", "", "v8")
  private val rows = Seq(
    TurnResult("conv1", 0, valid = true, "rhel7", Nil, None),
    TurnResult("conv1", 1, valid = true, "rhel7", Seq(Span("Audit", 3, 9, "run x")), Some(rec)),
    TurnResult("conv2", 0, valid = false, "unknown", Nil, None))

  test("the turn fingerprint ignores row order and sees every field") {
    assert(Fingerprint.ofTurns(rows.iterator) == Fingerprint.ofTurns(rows.reverse.iterator))
    val changed = Seq(
      rows(1).copy(turn_idx = 2), rows(1).copy(valid = false), rows(1).copy(doc_type = "win10"),
      rows(1).copy(spans = Seq(Span("Audit", 3, 10, "run x"))),
      rows(1).copy(record = Some(rec.copy(default_value = "x"))), rows(1).copy(record = None))
    changed.foreach(c => assert(Fingerprint.turn(c) != Fingerprint.turn(rows(1)), c))
  }

  test("the Spark-side turn fingerprint equals the driver-side one") {
    import spark.implicits._
    val (n, h) = Fingerprint.ofTurns(rows.iterator)
    val fp = Fingerprint.ofTurnResults(rows.toDS().repartition(3))
    assert(fp == Fingerprint.Fp(n, java.lang.Long.toHexString(h)))
  }

  test("query fingerprints ignore partitioning and row order, and see values") {
    import spark.implicits._
    val df = Seq((1, "a", 2.5), (2, "b", -1.0), (3, null, 0.0)).toDF("k", "s", "x")
    val fp = Fingerprint.executeAndHash(df)
    assert(fp.rows == 3)
    assert(Fingerprint.executeAndHash(df.repartition(3)) == fp)
    assert(Fingerprint.executeAndHash(df.orderBy($"k".desc)) == fp)
    assert(Fingerprint.executeAndHash(df.filter($"k" < 3)) != fp)
    assert(Fingerprint.executeAndHash(df.withColumn("x", $"x" + 1)) != fp)
  }
}
