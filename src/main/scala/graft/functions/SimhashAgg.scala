package graft.functions

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator

/** SimHash signature fold as typed `Aggregator`s: one buffer of
  * per-bit ±1 balances per document instead of exploding every shingle
  * hash into 32/64 (doc, bit) rows.
  *
  * Why this exists: the explode form shuffles `bits × shingles` rows
  * per document through TWO aggregations — at 100 TB that multiplies
  * shuffle volume by the signature width. The aggregator folds shingle
  * hashes into a fixed `Array[Int]` balance vector that Spark
  * partial-aggregates map-side (associative + commutative merge), so
  * ONE shuffle moves one small buffer per (doc × partition).
  *
  * Semantics are bit-identical to the explode form (integer balance
  * counters, `> 0` ⇒ set bit) — the DuckDB oracles keep the explode
  * shape and must keep hash-matching.
  */
object SimhashAggs {

  final case class BitBuf(counts: Array[Int])

  /** 32-bit SimHash over `h32` hashes (low 32 bits used). */
  object Simhash32Agg extends Aggregator[java.lang.Long, BitBuf, java.lang.Long] {
    override def zero: BitBuf = BitBuf(new Array[Int](32))

    override def reduce(b: BitBuf, in: java.lang.Long): BitBuf = {
      if (in != null) {
        val h = in.longValue()
        var j = 0
        while (j < 32) {
          b.counts(j) += (2 * ((h >> j) & 1L) - 1L).toInt
          j += 1
        }
      }
      b
    }

    override def merge(a: BitBuf, b: BitBuf): BitBuf = {
      var j = 0
      while (j < 32) { a.counts(j) += b.counts(j); j += 1 }
      a
    }

    override def finish(b: BitBuf): java.lang.Long = {
      var sig = 0L
      var j = 0
      while (j < 32) {
        if (b.counts(j) > 0) sig |= 1L << j
        j += 1
      }
      java.lang.Long.valueOf(sig)
    }

    override def bufferEncoder: Encoder[BitBuf] = Encoders.product[BitBuf]
    override def outputEncoder: Encoder[java.lang.Long] = Encoders.LONG
  }

  /** 64-bit SimHash: bits 0-59 from `ha`, bits 60-63 from `hb` (the
    * two-column split keeps the hex→BIGINT oracle route inside a
    * signed 64-bit value — see DedupOps.simhashSig64).
    */
  object Simhash64Agg extends Aggregator[(java.lang.Long, java.lang.Long), BitBuf, java.lang.Long] {
    override def zero: BitBuf = BitBuf(new Array[Int](64))

    override def reduce(b: BitBuf, in: (java.lang.Long, java.lang.Long)): BitBuf = {
      // each hash column updates only its own bit range, matching the
      // oracle's per-bit SUM which skips just the bits sourced from a
      // null column (today both derive from one md5 so they're null
      // together, but the algebra shouldn't depend on that invariant)
      if (in._1 != null) {
        val ha = in._1.longValue()
        var j = 0
        while (j < 60) {
          b.counts(j) += (2 * ((ha >> j) & 1L) - 1L).toInt
          j += 1
        }
      }
      if (in._2 != null) {
        val hb = in._2.longValue()
        var j = 60
        while (j < 64) {
          b.counts(j) += (2 * ((hb >> (j - 60)) & 1L) - 1L).toInt
          j += 1
        }
      }
      b
    }

    override def merge(a: BitBuf, b: BitBuf): BitBuf = {
      var j = 0
      while (j < 64) { a.counts(j) += b.counts(j); j += 1 }
      a
    }

    override def finish(b: BitBuf): java.lang.Long = {
      var sig = 0L
      var j = 0
      while (j < 64) {
        // 1L << 63 is Long.MinValue — exactly the bit-63 term the
        // SQL oracle spells as -9223372036854775807 - 1
        if (b.counts(j) > 0) sig |= 1L << j
        j += 1
      }
      java.lang.Long.valueOf(sig)
    }

    override def bufferEncoder: Encoder[BitBuf] = Encoders.product[BitBuf]
    override def outputEncoder: Encoder[java.lang.Long] = Encoders.LONG
  }

  /** SQL registration: once per session
    * ([[GraftFunctions.oncePerSession]] for the guard's contract).
    */
  def register(spark: SparkSession): Unit =
    GraftFunctions.oncePerSession(spark, "simhash_aggs") {
      spark.udf.register("simhash32_agg", org.apache.spark.sql.functions.udaf(Simhash32Agg))
      spark.udf.register("simhash64_agg", org.apache.spark.sql.functions.udaf(Simhash64Agg))
    }
}
