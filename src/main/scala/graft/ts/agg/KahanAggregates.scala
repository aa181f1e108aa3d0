package graft.ts.agg

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Neumaier-compensated summation state (≙ the reference's
  * math/Kahan.java:29-88 — value + running compensation). */
final case class KahanState(sum: Double, comp: Double, n: Long) {
  def add(x: Double): KahanState = {
    val t = sum + x
    val c =
      if (math.abs(sum) >= math.abs(x)) (sum - t) + x
      else (x - t) + sum
    KahanState(t, comp + c, n + 1)
  }
  def merge(o: KahanState): KahanState = {
    val t = sum + o.sum
    val c =
      if (math.abs(sum) >= math.abs(o.sum)) (sum - t) + o.sum
      else (o.sum - t) + sum
    KahanState(t, comp + o.comp + c, n + o.n)
  }
  def value: Double = sum + comp
}

/**
 * Kahan-compensated aggregates as Spark `Aggregator`s, registered through
 * `functions.udaf` so they evaluate as normal Catalyst aggregate expressions
 * (partial aggregation + merge included). Used when bit-reproducibility of
 * floating sums matters more than staying in whole-stage codegen.
 */
object KahanAggregates {

  private val sumAgg: Aggregator[java.lang.Double, KahanState, java.lang.Double] =
    new Aggregator[java.lang.Double, KahanState, java.lang.Double] {
      def zero: KahanState = KahanState(0.0, 0.0, 0L)
      def reduce(b: KahanState, a: java.lang.Double): KahanState =
        if (a == null) b else b.add(a.doubleValue())
      def merge(b1: KahanState, b2: KahanState): KahanState = b1.merge(b2)
      def finish(r: KahanState): java.lang.Double =
        if (r.n == 0) null else java.lang.Double.valueOf(r.value)
      def bufferEncoder: Encoder[KahanState] = Encoders.product[KahanState]
      def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
    }

  private lazy val sumUdaf = udaf(sumAgg, Encoders.DOUBLE)

  /** Compensated Σ over a double column; null for an empty/all-null group
    * (matching Spark's `sum`). */
  def kahanSum(c: Column): Column = sumUdaf(c)
}
