package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-engine exactness helpers.
  *
  * The driver's correctness gate hash-compares our parquet output against a
  * DuckDB oracle running the same SQL (BASELINE.md). Floating-point
  * aggregation order differs between engines (and between Spark runs, since
  * partial-aggregate merge order is nondeterministic), so any `sum(double)`
  * is a latent hash mismatch. Money/quantity columns in the test tables carry
  * <= 2 true decimal digits, so casting to decimal(18,4) recovers the exact
  * value in both engines (representation error ~1e-13 is far below the 1e-4
  * rounding step) and all downstream arithmetic is exact and
  * order-independent. Cast back to double only at the very end.
  *
  * This mirrors how a production engine would treat money at 100 TB: decimal
  * semantics survive any shuffle/merge order, doubles do not.
  */
object Exact {
  /** Exact fixed-point view of a <=2-decimal money/quantity double column. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Order-independent exact sum of a money column, emitted as double. */
  def sumMoney(c: Column): Column = sum(dec(c)).cast("double")

  /** Exact average emitted as double (sum exact, single final division). */
  def avgMoney(c: Column): Column =
    (sum(dec(c)).cast("double") / count(lit(1))).cast("double")
}

/** Cross-engine deterministic hashing.
  *
  * The reference's "seeded randomness" (np.random.seed(12345) shuffles /
  * splits, /root/reference/orderly/clean/cleaner.py:796-804, 1375-1388) is a
  * determinism device, not a statistical requirement (SURVEY.md §4.3: exact
  * numpy stream parity is out of scope — the semantics are determinism +
  * uniformity). We re-specify every seeded-random semantic as a hash of the
  * row key. `md5` is implemented identically in Spark and DuckDB, so the
  * oracle can reproduce splits/shuffle-orders bit-for-bit, and the result is
  * stable across cluster sizes and partitionings — which `rand(seed)` is not.
  *
  * At scale, md5-per-row is ~100ns — negligible against shuffle cost; for
  * hot internal paths that never need oracle parity, prefer `xxhash64`.
  */
object XHash {
  /** Deterministic uniform 60-bit non-negative hash of (seed, key...).
    * Evaluated by the native codegen'd [[graft.plans.Md5Bucket60]]
    * expression; bit-identical to the composed built-ins formulation
    * `conv(substring(md5(concat_ws(chr(1), ...)), 1, 15), 16, 10)` that
    * the DuckDB oracle runs (equivalence locked by Md5Bucket60Spec). */
  def bucketHash(seed: String, keys: Column*): Column =
    graft.plans.Md5Bucket60((lit(seed) +: keys): _*)

  /** Uniform bucket in [0, n) — the split/shuffle primitive (C12/C19). */
  def bucket(seed: String, n: Int, keys: Column*): Column =
    pmod(bucketHash(seed, keys: _*), lit(n.toLong))

  /** DuckDB SQL fragment equivalent to [[bucketHash]] — for oracle authors.
    * Spark's `concat_ws` drops a NULL key AND its separator; DuckDB `concat`
    * would keep both adjacent separators. Binding each separator to its key
    * (`chr(1) || key`, NULL-collapsed to '') reproduces concat_ws exactly
    * for nullable keys; for non-null keys it is byte-identical to the plain
    * separator join. */
  def bucketHashSql(seed: String, keyExprs: String*): String = {
    val cat = (s"'$seed'" +: keyExprs.map(e => s"coalesce(chr(1) || ($e), '')"))
      .mkString(" || ")
    s"cast(('0x' || substr(md5($cat), 1, 15)) as bigint)"
  }

  def bucketSql(seed: String, n: Int, keyExprs: String*): String =
    s"(${bucketHashSql(seed, keyExprs: _*)} % $n)"

  /** Spark's `md5(s)` on the JVM: the lowercase hex digest of the UTF-8
    * bytes. */
  def md5Hex(s: String): String = {
    val d = md5(s)
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** The MD5 digest of the UTF-8 bytes of `s`. */
  def md5(s: String): Array[Byte] =
    digest.get().digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private val hexDigits = "0123456789abcdef".toCharArray
  private val digest = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Driver-side evaluation of [[bucketHash]] for CONSTANT keys — lets
    * operators embed derived pseudo-random constants (LSH plane weights,
    * minhash masks) as literals instead of re-hashing per row. */
  def bucketHashJvm(seed: String, keys: String*): Long = {
    val input = (seed +: keys).mkString("\u0001")
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(input.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.map(b => f"${b & 0xff}%02x").mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16)
  }
}
