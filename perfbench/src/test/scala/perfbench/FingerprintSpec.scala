package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rows(parts: Int) = spark.range(0, 5000, 1, parts).select(
    col("id"), (col("id") * 7 % 13).as("k"), concat(lit("v"), col("id")).as("s"),
    array(col("id"), col("id") + 1).as("arr"),
    map(lit("a"), col("id")).as("m"))

  test("a sorted result fingerprints the same under any partitioning") {
    val fps = Seq(1, 3, 8).map(p => Fingerprint.of(rows(p).repartition(p).orderBy("k", "id")))
    assert(fps.distinct.size == 1)
    assert(fps.head.rows == 5000)
    val coalesced = Fingerprint.of(rows(8).orderBy("k", "id").coalesce(1))
    assert(coalesced == fps.head)
  }

  test("column order does not matter, column names do") {
    val df = rows(2).orderBy("id")
    assert(Fingerprint.of(df) == Fingerprint.of(df.select("s", "m", "k", "arr", "id")))
    assert(Fingerprint.of(df) != Fingerprint.of(df.withColumnRenamed("s", "s2")))
  }

  test("row order, values and row count all change the fingerprint") {
    val base = Fingerprint.of(rows(2).orderBy("id"))
    assert(Fingerprint.of(rows(2).orderBy(desc("id"))) != base)
    assert(Fingerprint.of(rows(2).orderBy("id").withColumn("k", col("k") + 1)) != base)
    assert(Fingerprint.of(rows(2).orderBy("id").limit(4999)) != base)
    assert(Fingerprint.of(rows(2).limit(0)).rows == 0)
  }

  test("the hex form round-trips") {
    val f = Fingerprint.of(rows(2).orderBy("id"))
    assert(Fingerprint.parse(f.rows, java.lang.Long.toHexString(f.hash)) == f)
  }
}
