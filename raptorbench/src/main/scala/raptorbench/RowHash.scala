package raptorbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-independent hash of a result set, for comparing an engine answer
  * with a brute-force one. Each row hashes its values in column-name
  * order; the row hashes are summed (wrapping), so the result does not
  * depend on row or column order but does count duplicate rows. */
object RowHash {

  private def rowHash(r: Row): Long = {
    val names = r.schema.fieldNames
    val text = names.indices.sortBy(names(_))
      .map(i => s"${names(i)}=${r.get(i)}").mkString("\u0001")
    (MurmurHash3.stringHash(text, 0x5eed).toLong << 32) ^
      (MurmurHash3.stringHash(text, 0x7a11).toLong & 0xffffffffL)
  }

  def of(rows: Seq[Row]): String = {
    val sum = rows.iterator.map(rowHash).foldLeft(0L)(_ + _)
    f"${rows.size}%d:$sum%016x"
  }
}
