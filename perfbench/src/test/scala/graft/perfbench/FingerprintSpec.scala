package graft.perfbench

import java.math.{BigDecimal => JBigDecimal}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()

  test("canonical numbers match the DuckDB cross-check's rendering") {
    // expected strings are what perfbench/tools/oracle_xcheck.py prints
    def n(d: Double) = Fingerprint.number(new JBigDecimal(d))
    assert(n(1234565.0) == "123456e1") // a tie rounds half-even
    assert(n(0.1) == "1e-1")
    assert(n(-2.5e-7) == "-25e-8")
    assert(n(100.0) == "1e2")
    assert(n(1.0 / 3) == "333333e-6")
    assert(n(123456789.0) == "123457e3")
    assert(n(-0.0) == "0")
  }

  test("stable under repartitioning, row order and summation order") {
    val base = spark.range(0, 20000).select(
      (col("id") % 37).as("k"),
      (col("id") * 0.001 + 1.0 / 3).as("v"),
      array(col("id").cast("int"), lit(null).cast("int")).as("a"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id").cast("string")).as("s"))
    def agg(parts: Int) = base.repartition(parts)
      .groupBy("k").agg(sum("v").as("sv"), count("*").as("n"), max("s").as("ms"))
    val fps = Seq(1, 3, 8).map(p => Fingerprint.of(agg(p)))
    assert(fps.distinct.size == 1, fps)
    assert(fps.head.rows == 37)
    val rows = Seq(1, 7).map(p => Fingerprint.of(base.repartition(p).orderBy(rand(p))))
    assert(rows.distinct.size == 1, rows)
    assert(rows.head.rows == 20000)
  }

  test("a changed value, or a duplicated row, changes the fingerprint") {
    val df = spark.range(0, 100).select(col("id"), (col("id") * 1.5).as("x"))
    val a = Fingerprint.of(df)
    val b = Fingerprint.of(df.withColumn("x",
      when(col("id") === 42, col("x") + 1).otherwise(col("x"))))
    val c = Fingerprint.of(df.union(df.filter(col("id") === 7)))
    assert(a.rows == b.rows && a.hash != b.hash)
    assert(c.rows == 101 && c.hash != a.hash)
  }
}
