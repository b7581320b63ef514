package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Array-column building blocks for the reference's list-valued reaction
  * attributes (SURVEY.md §1.1, §1.5).
  *
  * The reference physically encodes lists as numbered columns
  * (`reactant_000, reactant_001, …`, extract/extractor.py:1164-1182); our
  * working representation is `ArrayType` columns, with the numbered-wide
  * layout as a sink/source codec only. All functions here are pure Column
  * builders over Spark's array functions — no UDFs, no shuffles. The
  * higher-order ones (`transform`, `filter`, `zip_with`, …) run
  * interpreted, not code-generated, so per-row work that chains many of
  * them belongs in plain Scala (see [[graft.extract.Extract]]).
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

  /** E23⁻¹ — numbered wide columns → array, dropping sentinel/null slots
    * (clean/cleaner.py:129-135 re-nulls the sentinel at merge). */
  def fromWide(cols: Seq[Column], sentinel: String = "<missing>"): Column =
    filter(array(cols: _*), c => c.isNotNull && c =!= sentinel)

  /** E21 — right-pad with nulls to length n (extract/extractor.py:416,
    * 1041-1043: yields padded to products length). */
  def padTo(arr: Column, n: Column): Column =
    concat(arr, array_repeat(lit(null).cast("string"),
      greatest(lit(0), (n - size(arr)).cast("int"))))

  /** E16 — alignment-preserving filter: drop elements of `arr` failing
    * `pred`, co-dropping the positionally-aligned `aligned` elements
    * (extract/extractor.py:879-923: products filtered with their yields).
    * Returns struct(kept, keptAligned).
    */
  def alignedFilter(arr: Column, aligned: Column, pred: Column => Column): Column = {
    val zipped = filter(
      zip_with(arr, aligned, (a, b) => struct(a.as("k"), b.as("v"))),
      z => pred(z.getField("k")))
    struct(
      transform(zipped, z => z.getField("k")).as("kept"),
      transform(zipped, z => z.getField("v")).as("keptAligned"))
  }

  /** E17 — stable partition: elements satisfying `keepFirst` first, the rest
    * after, original relative order preserved (extract/extractor.py:936-1016:
    * unresolvable names moved to the end of each list). */
  def moveToEnd(arr: Column, toEnd: Column => Column): Column =
    concat(filter(arr, x => !toEnd(x)), filter(arr, toEnd))

  /** C15 — deterministic per-row scramble: order elements by
    * md5(seed, rowKey, element, position). Replaces the reference's seeded
    * `np.random.permutation` per row (clean/cleaner.py:471-509) with a
    * parallelism-independent permutation (SURVEY.md §4.3: numpy stream
    * parity out of scope; determinism + uniformity are the semantics).
    */
  def scramble(arr: Column, seed: String, rowKey: Column): Column = {
    val keyed = transform(arr, (x, i) =>
      struct(md5(concat_ws("\u0001", lit(seed), rowKey, x, i)).as("h"), x.as("v")))
    transform(array_sort(keyed), s => s.getField("v"))
  }

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
