package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{lit, to_json, xxhash64}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Output fingerprint of a query result: its row count plus an
  * order-sensitive hash of every column. Columns are taken in name order
  * (as the oracle compare does), each row is hashed with xxhash64, and the
  * row hashes are combined with their row index, so the value depends on
  * row order but not on how the rows are partitioned. The column names are
  * part of the hash.
  */
final case class Fingerprint(rows: Long, hash: Long) {
  def json: String = s"""{"rows":$rows,"hash":"${java.lang.Long.toHexString(hash)}"}"""
}

object Fingerprint {

  def of(df: DataFrame): Fingerprint = {
    val names = df.columns.sorted.toSeq
    val cols = names.map(c => hashable(df, c))
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val (rows, hash) = df.select(rowHash.as("h")).rdd
      .map(_.getLong(0)).zipWithIndex()
      .map { case (h, i) => mix(h, i) }
      .aggregate((0L, 0L))(
        { case ((n, acc), v) => (n + 1, acc + v) },
        { case ((n1, a1), (n2, a2)) => (n1 + n2, a1 + a2) })
    Fingerprint(rows, hash + mix(MurmurHash3.orderedHash(names).toLong, -1L))
  }

  /** Spark refuses to hash maps; render any column holding one as JSON. */
  private def hashable(df: DataFrame, name: String): Column = {
    val c = df.col(s"`$name`")
    if (hasMap(df.schema(name).dataType)) to_json(c) else c
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** SplitMix64 finalizer over the row hash and its position. */
  private[perfbench] def mix(h: Long, i: Long): Long = {
    var z = h ^ (i * 0x9E3779B97F4A7C15L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def parse(rows: Long, hex: String): Fingerprint =
    Fingerprint(rows, java.lang.Long.parseUnsignedLong(hex, 16))
}
