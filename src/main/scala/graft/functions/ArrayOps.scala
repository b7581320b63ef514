package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Array-column building blocks for the reference's list-valued reaction
  * attributes (SURVEY.md §1.1, §1.5).
  *
  * The reference physically encodes lists as numbered columns
  * (`reactant_000, reactant_001, …`, extract/extractor.py:1164-1182); our
  * working representation is `ArrayType` columns, with the numbered-wide
  * layout as a sink/source codec only. Most functions here are Column
  * builders over Spark's array functions, with no shuffles. The
  * higher-order ones (`transform`, `filter`, `zip_with`, …) run
  * interpreted, not code-generated, so per-row work that chains many of
  * them belongs in plain Scala (see [[graft.extract.Extract]] and
  * [[graft.operators.Cleaner]]); [[scramble]] is such a Scala function,
  * with a Column form that wraps it, and [[Utf8Order]] and [[except]] are
  * the Scala forms of `array_sort`'s order and `array_except`.
  */
object ArrayOps {

  /** Canonical whitespace tokenizer (shared with oracle:
    * `list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '')`). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** E23 — array → numbered wide columns `prefix_nnn` with the reference's
    * `"<missing>"` sentinel fill (extract/extractor.py:1164-1254). */
  def toWide(arr: Column, prefix: String, n: Int,
      sentinel: String = "<missing>"): Seq[Column] =
    // try_element_at: ANSI-safe out-of-bounds → null → sentinel.
    (0 until n).map(i =>
      coalesce(try_element_at(arr, lit(i + 1)), lit(sentinel)).as(f"${prefix}_$i%03d"))

  /** C15 — deterministic per-row scramble: the positions of `xs` ordered
    * by md5(seed, rowKey, element, position) in hex, the position 0-based
    * and the parts joined by \u0001 with null parts skipped (Spark's
    * `concat_ws`). Replaces the reference's seeded `np.random.permutation`
    * per row (clean/cleaner.py:471-509) with a parallelism-independent
    * permutation (SURVEY.md §4.3: numpy stream parity out of scope;
    * determinism + uniformity are the semantics). Positions cannot tie: the
    * hashed strings differ in their last part. The digests are compared
    * as unsigned bytes, which orders them as their hex strings.
    */
  def scrambleOrder(xs: Seq[String], seed: String, rowKey: String): Seq[Int] =
    if (xs.size < 2) xs.indices
    else {
      val head = Seq(seed, rowKey).filter(_ != null)
      val digests = xs.indices.map(i =>
        XHash.md5((head ++ Option(xs(i)) :+ i.toString).mkString("\u0001")))
      xs.indices.sortWith((a, b) =>
        java.util.Arrays.compareUnsigned(digests(a), digests(b)) < 0)
    }

  /** C15 on one list: `xs` in [[scrambleOrder]]; null stays null. */
  def scramble(xs: Seq[String], seed: String, rowKey: String): Seq[String] =
    if (xs == null) null else scrambleOrder(xs, seed, rowKey).map(xs)

  /** C15 as a Column, for the registry: [[scramble]] of `arr`, with
    * `rowKey` read as a string. */
  def scramble(arr: Column, seed: String, rowKey: Column): Column =
    udf((xs: Seq[String], key: String) => scramble(xs, seed, key))
      .apply(arr, rowKey.cast("string"))

  /** Strings in UTF-8 byte order, which is code point order — the order
    * Spark's `array_sort` uses. `String.compareTo` compares UTF-16 units
    * and puts supplementary characters before U+E000–U+FFFF. */
  object Utf8Order extends Ordering[String] {
    private def fix(c: Char): Int = if (c >= 0xe000) c - 0x800 else c + 0x2000
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val x = a.charAt(i); val y = b.charAt(i)
        if (x != y)
          return if (x >= '\ud800' && y >= '\ud800') fix(x) - fix(y) else x - y
        i += 1
      }
      a.length - b.length
    }
  }

  /** `array_except(xs, drop)`: the distinct elements of `xs` not in `drop`,
    * in first-occurrence order; null stays null. */
  def except(xs: Seq[String], drop: Set[String]): Seq[String] =
    if (xs == null) null else xs.distinct.filterNot(drop)

  /** E15 — drop elements whose text parses as a number
    * (extract/extractor.py:754-781). try_cast: ANSI-safe null-on-fail. */
  def dropNumeric(arr: Column): Column =
    filter(arr, x => x.try_cast(org.apache.spark.sql.types.DoubleType).isNull)

  /** E10 — broadcast replacements-dict lookup with identity default
    * (extract/extractor.py:501-516; dict at extract/defaults.py:42-151).
    * The map ships as a literal (→ broadcast to every task); at 100 TB this
    * stays a map-side operation with no shuffle.
    */
  def applyReplacements(c: Column, dict: Map[String, String]): Column =
    if (dict.isEmpty) c
    else coalesce(element_at(typedLit(dict), c), c)
}
