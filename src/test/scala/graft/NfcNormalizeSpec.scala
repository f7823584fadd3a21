package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.plans.NfcNormalizeExpression

/** Unicode NFC normalization ([[graft.plans.NfcNormalizeExpression]])
  * and the canonicalization pipeline built on it
  * ([[TextFunctions.normalizeText]]). Byte parity with DuckDB's
  * `nfc_normalize` runs under the oracle gate as qd35. All non-ASCII
  * literals are written as \u escapes so the normalization form of the
  * SOURCE FILE cannot silently change the fixtures.
  */
class NfcNormalizeSpec extends AnyFunSuite {

  lazy val spark: SparkSession =
    graft.runtime.GraftSession.builder("graft-test", "8").getOrCreate()

  // decomposed (NFD) spellings and their precomposed (NFC) images
  private val cafeNfd = "Cafe\u0301"          // e + combining acute
  private val cafeNfc = "Caf\u00e9"
  private val naiveNfd = "nai\u0308ve"        // i + combining diaeresis
  private val naiveNfc = "na\u00efve"
  private val angstromNfd = "A\u030Angstro\u0308m" // A + ring, o + diaeresis
  private val angstromNfc = "\u00c5ngstr\u00f6m"
  private val alreadyNfc = "\u00e9d\u00e9j\u00e0" // édéjà, already composed

  test("composes NFD sequences to precomposed forms; ASCII passes through") {
    import spark.implicits._
    val rows = Seq(cafeNfd, naiveNfd, angstromNfd, "plain ascii text", alreadyNfc)
      .toDF("t")
      .select(F.col("t"), TextFunctions.nfcNormalize(F.col("t")).as("n"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows(cafeNfd) == cafeNfc)
    assert(rows(naiveNfd) == naiveNfc)
    assert(rows(angstromNfd) == angstromNfc)
    assert(rows("plain ascii text") == "plain ascii text")
    assert(rows(alreadyNfc) == alreadyNfc)
    // composition changes the char length — the reason dedup keys over
    // un-normalized text split identical-looking strings
    assert(cafeNfd.length == 5 && rows(cafeNfd).length == 4)
  }

  test("direct eval matches codegen; null propagates; SQL surface works") {
    import spark.implicits._
    // interpreted path (expression eval outside codegen)
    val direct = NfcNormalizeExpression.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(cafeNfd)).toString
    assert(direct == cafeNfc)
    // codegen'd path over a parquet-backed scan
    graft.runtime.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .createOrReplaceTempView("nfc_docs")
    val df = spark.sql(
      "SELECT nfc_normalize(text || ' \u00e9') AS n FROM nfc_docs")
    val codegenned = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(codegenned, df.queryExecution.executedPlan.toString)
    assert(df.collect().forall(_.getString(0).endsWith(" \u00e9")))
    // null in, null out
    val n = Seq(Option.empty[String]).toDF("t")
      .select(TextFunctions.nfcNormalize(F.col("t"))).head()
    assert(n.isNullAt(0))
  }

  test("normalizeText canonicalizes case, controls, spacing, and NFD in one pass") {
    import spark.implicits._
    val out = Seq(s"  $cafeNfd\t\tNAI\u0308VE \r\n x y  ")
      .toDF("t")
      .select(TextFunctions.normalizeText(F.col("t")).as("n"))
      .head().getString(0)
    assert(out == "caf\u00e9 na\u00efve x y")
    // idempotent: normalizing a normalized string is the identity
    val again = Seq(out).toDF("t")
      .select(TextFunctions.normalizeText(F.col("t")).as("n"))
      .head().getString(0)
    assert(again == out)
    // the canonical dedup-key property: NFC and NFD spellings of the
    // same rendered text normalize to the same key
    val keys = Seq(s"$cafeNfd x", s"$cafeNfc x").toDF("t")
      .select(TextFunctions.normalizeText(F.col("t")).as("n"))
      .collect().map(_.getString(0)).distinct
    assert(keys.length == 1)
  }
}
