package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine 64-bit hashing: the SAME hash computable bit-for-bit in Spark
  * (codegen'd built-ins) and in the DuckDB correctness oracle.
  *
  * `xxhash64` is Spark-only — any operator whose OUTPUT depends on hash values
  * (MinHash signatures, SimHash fingerprints, LSH bucket membership) would be
  * unverifiable against the oracle. So the verifiable family is:
  *
  *   gh     = first 8 bytes of md5(x), big-endian, as a signed 64-bit int
  *   h_s    = gh * A_s + B_s  (mod 2^64, two's complement — plain Long wrap)
  *
  * where (A_s, B_s) are fixed pseudo-random constants: A_s odd and < 2^31 so
  * the DuckDB side can reproduce the product inside INT128 without overflow
  * ((2^64−1)·(2^31−1) < 2^95). gh is already md5-uniform, so the 31-bit
  * multiplier loses nothing for minhash/bucket purposes.
  *
  * DuckDB equivalents (validated bit-exact, see OracleSqlGen):
  *   u64:    list_reduce over the 16 hex chars of md5 → HUGEINT in [0, 2^64)
  *   mix:    (u * A + B) % 2^64 in HUGEINT
  *   signed: u ≥ 2^63 ? (u − 2^64)::BIGINT : u::BIGINT
  *
  * NOTE: the Spark side relies on non-ANSI Long wrap-around
  * (`spark.sql.ansi.enabled=false`, the project-wide session setting — same
  * requirement as Graphs.pagerank's fixed-point arithmetic).
  */
object CrossHash {

  /** md5-derived signed 64-bit hash of any column (codegen'd built-ins only).
    * Composed from two 32-bit halves: `conv(hex, 16, 10)` is exact below 2^32
    * and the shift into the sign bit wraps exactly like two's complement. */
  def md5Long(c: Column): Column = {
    val h = md5(c.cast("string"))
    shiftleft(conv(substring(h, 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(h, 9, 8), 16, 10).cast("long"))
  }

  /** Seed-s rehash of an md5Long value: Long-wrap multiply-add. */
  def mix(h: Column, s: Int): Column = {
    val (a, b) = mixers(s)
    h * lit(a) + lit(b)
  }

  /** Pseudo-random (A, B) mix constants, shared verbatim with the oracle
    * generator. A: odd, 31-bit; B: 62-bit non-negative. */
  lazy val mixers: IndexedSeq[(Long, Long)] = {
    val rnd = new scala.util.Random(0xC0FFEE)
    IndexedSeq.fill(64)(((rnd.nextLong() & 0x7FFFFFFFL) | 1L,
      rnd.nextLong() & 0x3FFFFFFFFFFFFFFFL))
  }

  /** Driver/executor-JVM twin of [[md5Long]], for the per-gram and per-token
    * kernels that hash inside mapPartitions or an Aggregator rather than in a
    * SQL expression. Each thread reuses one digest: `getInstance` is a
    * provider lookup plus an allocation, too dear to pay per token. */
  def md5LongJvm(s: String): Long = {
    val d = jvmMd5.get().digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  private val jvmMd5 =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  // ── DuckDB SQL snippet builders (oracle side) ──────────────────────────────

  val Mod: BigInt = BigInt(1) << 64
  val Half: BigInt = BigInt(1) << 63

  /** Unsigned md5-64 of a string expression, as HUGEINT in [0, 2^64). */
  def duckU64(expr: String): String =
    // ONE md5 per evaluation: the md5 happens before the per-digit lambda.
    // The r11 form put md5($expr) inside the 16-digit loop — and when the
    // hosting CTE inlines into a 32-mixer consumer (minhash `sig`), DuckDB
    // re-evaluated 16×32 md5s per input row: the dedup oracles spent >95%
    // of their wall time re-hashing (138 s of a 145 s sf0.1 dedup_groups).
    s"list_reduce(list_transform(string_split(substr(md5($expr), 1, 16), ''), " +
      s"c -> CAST(strpos('0123456789abcdef', c) - 1 AS HUGEINT)), " +
      s"(a, b) -> a * 16 + b)"

  /** Two's-complement reinterpretation HUGEINT → BIGINT, as pure
    * arithmetic: ((u + 2^63) mod 2^64) − 2^63. Evaluates `uExpr` ONCE —
    * the r11 CASE form referenced it three times, and DuckDB re-evaluated
    * each reference (no CSE through the branch), tripling the HUGEINT
    * work inside every minhash/simhash mix. */
  def duckSigned(uExpr: String): String =
    s"CAST((($uExpr) + $Half) % $Mod - $Half AS BIGINT)"

  /** Signed mix_s of an unsigned HUGEINT column (matches [[mix]] over Longs). */
  def duckMix(uExpr: String, s: Int): String = {
    val (a, b) = mixers(s)
    // fused single-mod form of duckSigned((u*a + b) % 2^64): fold the
    // +2^63 shift into the additive constant — one HUGEINT multiply and
    // ONE modulo per evaluation (the 32-mixer minhash signatures are the
    // oracle's hottest expressions)
    s"CAST((($uExpr) * $a + ${BigInt(b) + Half}) % $Mod - $Half AS BIGINT)"
  }

  /** Bit i (0 = MSB) of an unsigned HUGEINT column — matches Spark
    * `shiftright(h, 63-i) & 1` on the signed twin. */
  def duckBit(uExpr: String, msbIndex: Int): String =
    s"((($uExpr) // ${BigInt(1) << (63 - msbIndex)}) % 2)"
}
