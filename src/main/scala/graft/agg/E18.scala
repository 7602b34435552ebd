package graft.agg

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit

/** An exact non-negative integer sum too wide for BIGINT, emitted as two
  * BIGINT halves `<name>_hi = x div 10^18` and `<name>_lo = x % 10^18`, so
  * `x = hi * 10^18 + lo`. A DECIMAL output column renders differently on
  * each engine; two BIGINTs do not, and for `x >= 0` floor division and
  * remainder agree on every engine. `hi` fits a BIGINT up to x ~ 9.2e36. */
object E18 {
  val Base: Long = 1000000000000000000L

  /** Driver-side split of an exact value. */
  def split(x: BigInt): (Long, Long) = ((x / Base).toLong, (x % Base).toLong)

  /** The two halves of an exact integer column (a DECIMAL(38,0) sum). `lo`
    * is the exact decimal remainder; `hi` divides the exact multiple
    * `x - lo`, so the decimal quotient's rounding never moves it. */
  def halves(x: Column, name: String): Seq[Column] = {
    val lo = x % lit(Base)
    Seq(((x - lo) / lit(Base)).cast("long").as(s"${name}_hi"),
      lo.cast("long").as(s"${name}_lo"))
  }

  /** The same two halves in the DuckDB oracle dialect (HUGEINT `//`). */
  def oracleSql(x: String, name: String): String =
    s"CAST(CAST($x AS HUGEINT) // $Base AS BIGINT) AS ${name}_hi, " +
      s"CAST(CAST($x AS HUGEINT) % $Base AS BIGINT) AS ${name}_lo"
}
