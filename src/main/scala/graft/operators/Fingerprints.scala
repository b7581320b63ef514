package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.extract.Chemistry

/** F1/F2 — the gen_fp stage (gen_fp/fingerprints.py:37-99): per-molecule
  * fingerprints and the reaction-difference feature matrix.
  *
  * Reference shape: numpy vstack of the whole dataset in RAM. Spark shape:
  * a narrow projection producing `array<int>` columns written to parquet —
  * no driver materialization, linear scan, scales to any row count. The
  * fingerprint kernel itself is pluggable [[Chemistry]] (RDKit Morgan in a
  * real deployment, stable-hash stand-in for engine tests).
  */
object Fingerprints {

  /** F2 — elementwise difference fingerprint:
    * product_fp − reactant0_fp − reactant1_fp (fingerprints.py:58-74). */
  def diffFp(product: Column, r0: Column, r1: Column): Column =
    zip_with(zip_with(product, r0, (a, b) => a - b), r1, (a, b) => a - b)

  /** One row of [[reactionFingerprintsDense]]. */
  final case class FpRow(original_index: Long, fp: Seq[Int])

  /** The scatter kernel: one int array per molecule, 3-gram bucket hits set
    * — O(len + nBits), matching [[graft.extract.IdentityChemistry.fingerprint]]
    * bit-for-bit (spec-locked). Null → zero vector. */
  private def fpOf(s: String, nBits: Int): Array[Int] = {
    val fp = new Array[Int](nBits)
    if (s != null) {
      val n = math.max(s.length - 2, 1)
      var i = 0
      while (i < n) {
        val gram = s.substring(i, math.min(i + 3, s.length))
        val b = (graft.functions.XHash.bucketHashJvm("fpb", gram) % nBits).toInt
        fp(b) = 1
        i += 1
      }
    }
    fp
  }

  /** Scatter-style [[reactionFingerprints]]: computes all three molecule
    * fingerprints and the difference feature in one typed pass —
    * O(len + nBits) per row vs the expression kernel's O(nBits·len)
    * membership probes, which is what makes the reference's default 2048
    * bits practical (fp_size, run.py:332-341). Bit-for-bit equal to
    * `reactionFingerprints(df, IdentityChemistry, nBits)` (spec-locked).
    */
  def reactionFingerprintsDense(df: DataFrame, nBits: Int)
      : org.apache.spark.sql.Dataset[FpRow] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[FpRow]
    df.select(col("original_index").cast("long"),
        try_element_at(col("products"), lit(1)).cast("string"),
        try_element_at(col("reactants"), lit(1)).cast("string"),
        try_element_at(col("reactants"), lit(2)).cast("string"))
      .mapPartitions { rows =>
        rows.map { r =>
          val p = fpOf(if (r.isNullAt(1)) null else r.getString(1), nBits)
          val r0 = fpOf(if (r.isNullAt(2)) null else r.getString(2), nBits)
          val r1 = fpOf(if (r.isNullAt(3)) null else r.getString(3), nBits)
          val out = new Array[Int](2 * nBits)
          var i = 0
          while (i < nBits) {
            out(i) = p(i)
            out(nBits + i) = p(i) - r0(i) - r1(i)
            i += 1
          }
          FpRow(r.getLong(0), out.toSeq)
        }
      }
  }

  /** The gen_fp output: concat(product_fp, diff_fp) per reaction over
    * (product_000, reactant_000, reactant_001), null molecules → zero
    * vector (fingerprints.py:46-54, 76-99). */
  def reactionFingerprints(df: DataFrame, chem: Chemistry, nBits: Int): DataFrame = {
    def fpOrZero(c: Column): Column =
      when(c.isNotNull, chem.fingerprint(c, nBits))
        .otherwise(array_repeat(lit(0), nBits))
    val p = fpOrZero(try_element_at(col("products"), lit(1)))
    val r0 = fpOrZero(try_element_at(col("reactants"), lit(1)))
    val r1 = fpOrZero(try_element_at(col("reactants"), lit(2)))
    df.select(
      col("original_index"),
      concat(p, diffFp(p, r0, r1)).as("fp"))
  }
}
