package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering key — the multi-dimensional sort key
  * behind data-skipping layouts (Delta/Iceberg OPTIMIZE ZORDER): bit-
  * interleaving two dimensions makes rows close in EITHER dimension
  * land in nearby sort positions, so writing the table sorted by the
  * key gives parquet row groups tight min/max bounds on BOTH columns
  * at once — a range predicate on either dimension prunes row groups,
  * where a plain (a, b) sort only skips on `a`.
  *
  * Pure integer Column combinators (no UDF, no custom expression):
  * each operand is masked to 31 bits and spread with the classic
  * magic-mask doubling sequence (5 shift/mask steps instead of 31
  * per-bit terms), then OR-combined with the second operand shifted
  * left one. 31 bits per dimension keeps the highest occupied bit at
  * position 62, so keys are always non-negative and signed BIGINT
  * ordering IS unsigned Morton ordering — in Spark and in the DuckDB
  * mirror identically. Inputs beyond 31 bits are masked (callers
  * bucket first: day numbers, ids, grid cells all fit). */
object ZOrder {

  private val Masks: Seq[(Int, Long)] = Seq(
    16 -> 0x0000FFFF0000FFFFL,
    8 -> 0x00FF00FF00FF00FFL,
    4 -> 0x0F0F0F0F0F0F0F0FL,
    2 -> 0x3333333333333333L,
    1 -> 0x5555555555555555L)

  /** Spreads the low 31 bits of `c` to the even bit positions. */
  def spread31(c: Column): Column =
    Masks.foldLeft(c.bitwiseAND(lit(0x7FFFFFFFL))) { case (acc, (s, m)) =>
      acc.bitwiseOR(shiftleft(acc, s)).bitwiseAND(lit(m))
    }

  /** Morton key of (a, b): a's bits on even positions, b's on odd. */
  def key(a: Column, b: Column): Column =
    spread31(a).bitwiseOR(shiftleft(spread31(b), 1))

  /** The same spread as DuckDB SQL (for oracle mirrors). */
  def spread31Sql(expr: String): String =
    Masks.foldLeft(s"($expr & 2147483647)") { case (acc, (s, m)) =>
      s"(($acc | ($acc << $s)) & $m)"
    }

  def keySql(a: String, b: String): String =
    s"(${spread31Sql(a)} | (${spread31Sql(b)} << 1))"

  // ---- n-dimensional generalization (2-4 dims) -------------------------
  //
  // Real layouts cluster more than two dimensions (date, lang, source,
  // bucket). Same construction: spread each operand's bits n apart with a
  // mask-doubling ladder, OR the dims in at offsets 0..n-1. Bits per dim
  // shrink so the highest occupied key bit stays below 63 and signed
  // BIGINT order remains Morton order in both engines:
  //   2 dims x 31 bits -> top bit 61;  3 x 21 -> 62;  4 x 15 -> 59.
  //
  // Each ladder step is written in the OVERFLOW-SAFE form
  //   (acc | ((acc & (m >>> s)) << s)) & m
  // instead of the textbook (acc | acc << s) & m: pre-masking with
  // (m >>> s) keeps every shifted intermediate inside bit 62, because the
  // stride-3/4 ladders otherwise push bits past 63 mid-step (e.g. the
  // stride-3 shift-16 step moves bit 52 to 68) — Java silently drops
  // them but a SQL engine may widen or raise, so neither side ever
  // relies on shift-out truncation. The two forms are algebraically
  // identical where the result is in range: (x << s) & m keeps exactly
  // the bits of x at positions (m >>> s).

  /** Usable low bits per operand for an n-dim key. */
  def inputBits(n: Int): Int = n match {
    case 2 => 31
    case 3 => 21
    case 4 => 15
    case _ => throw new IllegalArgumentException(s"zorder supports 2-4 dims, got $n")
  }

  /** Mask-doubling ladders per stride. Stride 2 is `Masks`; strides 3
    * and 4 are the classic Morton split-by-3 / split-by-4 sequences
    * (constants as in libmorton and fgiesen's Morton-code notes). */
  private val MasksByStride: Map[Int, Seq[(Int, Long)]] = Map(
    2 -> Masks,
    3 -> Seq(
      32 -> 0x001F00000000FFFFL,
      16 -> 0x001F0000FF0000FFL,
      8 -> 0x100F00F00F00F00FL,
      4 -> 0x10C30C30C30C30C3L,
      2 -> 0x1249249249249249L),
    4 -> Seq(
      24 -> 0x000000FF000000FFL,
      12 -> 0x000F000F000F000FL,
      6 -> 0x0303030303030303L,
      3 -> 0x1111111111111111L))

  /** Spreads the low inputBits(n) bits of `c` to stride-n positions. */
  def spreadN(c: Column, n: Int): Column = {
    val in = (1L << inputBits(n)) - 1L
    MasksByStride(n).foldLeft(c.bitwiseAND(lit(in))) { case (acc, (s, m)) =>
      acc.bitwiseOR(shiftleft(acc.bitwiseAND(lit(m >>> s)), s)).bitwiseAND(lit(m))
    }
  }

  /** Morton key of 2-4 dimensions: dims(i)'s bits land on positions
    * congruent to i mod n; dims earlier in the Seq get the lower
    * (finer-interleaved-first) positions, matching `key(a, b)`. */
  def keyN(dims: Seq[Column]): Column = {
    val n = dims.size
    require(n >= 2 && n <= 4, s"zorder supports 2-4 dims, got $n")
    dims.zipWithIndex.map { case (c, i) =>
      if (i == 0) spreadN(c, n) else shiftleft(spreadN(c, n), i)
    }.reduce(_ bitwiseOR _)
  }

  /** DuckDB mirror of spreadN — the same safe-form ladder with the same
    * decimal literals, so key values cross engines bit-identically. */
  def spreadNSql(expr: String, n: Int): String = {
    val in = (1L << inputBits(n)) - 1L
    MasksByStride(n).foldLeft(s"($expr & $in)") { case (acc, (s, m)) =>
      s"(($acc | (($acc & ${m >>> s}) << $s)) & $m)"
    }
  }

  def keyNSql(exprs: Seq[String]): String = {
    val n = exprs.size
    require(n >= 2 && n <= 4, s"zorder supports 2-4 dims, got $n")
    exprs.zipWithIndex.map { case (e, i) =>
      if (i == 0) spreadNSql(e, n) else s"(${spreadNSql(e, n)} << $i)"
    }.mkString("(", " | ", ")")
  }
}
