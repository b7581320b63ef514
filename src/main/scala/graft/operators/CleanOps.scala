package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{ArrayOps, XHash}

/** The reference's cleaning-stage steps (SURVEY.md §2.3,
  * orderly/clean/cleaner.py) over an array-typed reaction
  * table: each component family (`reactants`, `agents`, `reagents`,
  * `solvents`, `catalysts`, `products`) is one `array<string>` column,
  * `yields` is `array<double>` positionally aligned with `products`
  * (SURVEY.md §1.1). The numbered-wide layout of the reference is handled
  * at the sink/source boundaries ([[ArrayOps.toWide]],
  * [[ReactionTable.fromWide]]).
  *
  * The row-local steps (C2–C8, the C13 dedup key, C10/C11 against a
  * collected frequent set, C15) are plain Scala functions over one row's
  * lists, with the null semantics of the Spark SQL forms they replaced
  * (a null list fails every size test; set operations treat null as a
  * value). [[Cleaner]] applies them in typed `flatMap`s; the registry's
  * Column forms ([[trimComponents]], [[ArrayOps.scramble]]) wrap the same
  * functions. Only the C9 value counts are a Spark operator here.
  */
object CleanOps {

  /** C2 — unresolved-molecule-name handling (clean/cleaner.py:549-657).
    * Three modes over the bad-name set:
    *  - `NullifyIfMapped` (default): rows with `is_mapped` get bad names
    *    removed from every component list; rows without are DELETED if any
    *    component matches.
    *  - `DeleteAll`: drop any row containing a bad name.
    *  - `NullAll`: remove bad names from lists in every row.
    */
  sealed trait BadNameMode
  case object NullifyIfMapped extends BadNameMode
  case object DeleteAll extends BadNameMode
  case object NullAll extends BadNameMode

  /** C2 on one row's component lists: None drops the row, else the lists
    * after stripping. A row whose lists hold no bad name but include a null
    * list counts as unknown, so `DeleteAll` (and `NullifyIfMapped` on an
    * unmapped row) drops it; a null `isMapped` is not mapped. Stripping
    * also drops duplicates within a list (`array_except`). */
  def handleBadNames(lists: Seq[Seq[String]], isMapped: java.lang.Boolean,
      bad: Set[String], mode: BadNameMode): Option[Seq[Seq[String]]] = {
    val clean =
      !lists.exists(l => l == null || l.exists(bad))
    def strip = lists.map(ArrayOps.except(_, bad))
    mode match {
      case DeleteAll => if (clean) Some(lists) else None
      case NullAll => Some(strip)
      case NullifyIfMapped =>
        if (isMapped == java.lang.Boolean.TRUE) Some(strip)
        else if (clean) Some(lists)
        else None
    }
  }

  /** C3 — catalyst→reagent overflow (clean/cleaner.py:148-167, 659-681):
    * catalysts beyond `numCat` move to the end of the reagents. Returns
    * (catalysts, reagents); a null list makes the reagents null. */
  def catalystOverflow(catalysts: Seq[String], reagents: Seq[String],
      numCat: Int): (Seq[String], Seq[String]) =
    if (catalysts == null) (null, null)
    else (catalysts.take(numCat),
      if (reagents == null) null else reagents ++ catalysts.drop(numCat))

  /** C4 — component-count filter (clean/cleaner.py:169-225, 683-703): at
    * most `k` components of the family; `k = -1` keeps every row, even one
    * with a null list. (The reference's column-masking/width-trim is a
    * wide-layout artifact — on arrays the row filter is the whole
    * semantic.) */
  def withinWidth(xs: Seq[_], k: Int): Boolean =
    k < 0 || (xs != null && xs.size <= k)

  /** C4 as a DataFrame filter, for the registry: rows whose string list
    * `c` passes [[withinWidth]]. */
  def trimComponents(df: DataFrame, c: String, k: Int): DataFrame =
    if (k < 0) df
    else df.filter(udf((xs: Seq[String]) => withinWidth(xs, k)).apply(col(c)))

  /** C5 — non-empty filter per family (clean/cleaner.py:244-269, 705-724). */
  def nonEmpty(xs: Seq[_]): Boolean = xs != null && xs.nonEmpty

  /** C6 — at least one condition component across all families
    * (clean/cleaner.py:227-242, 736-745 — conjunction across types, unlike
    * C5); a null list fails the row. */
  def anyCondition(lists: Seq[Seq[_]]): Boolean =
    !lists.contains(null) && lists.exists(_.nonEmpty)

  /** C7 — no-op reaction (clean/cleaner.py:271-287): the reactant set
    * equals the product set. Lists must not be null (C5 runs first). */
  def isNoop(reactants: Seq[String], products: Seq[String]): Boolean =
    reactants.toSet == products.toSet

  /** C8 — yield consistency (clean/cleaner.py:289-316, 756-765): every
    * yield in [0,100] or null, and the sum (nulls as 0) ≤ 100. A null list
    * fails. NaN is out of range here as in Spark, where NaN sorts above
    * every number. */
  def yieldConsistent(yields: Seq[_]): Boolean =
    yields != null && {
      var sum = 0.0
      yields.forall { y =>
        if (y == null) true
        else {
          val d = y.asInstanceOf[Number].doubleValue
          sum += d
          d >= 0 && d <= 100
        }
      } && sum <= 100
    }

  /** C13 dedup key: the md5 hex of the component lists plus the yields
    * (the reference's subset columns, clean/cleaner.py:767-794). Elements
    * are joined with \u0002 and nulls written as \u0003 before the join,
    * so ["50", null] and [null, "50"] differ; lists are joined with
    * \u0001, a null list reads as an empty one; yields are written as
    * Spark casts them to string (`Double.toString`). */
  def dedupKey(lists: Seq[Seq[String]], yields: Seq[_]): String = {
    def part(xs: Seq[_]): String =
      if (xs == null) ""
      else xs.iterator.map(x => if (x == null) "\u0003" else x.toString).mkString("\u0002")
    XHash.md5Hex((lists.map(part) :+ part(yields)).mkString("\u0001"))
  }

  /** C10 on one list (clean/cleaner.py:341-368): values outside the
    * frequent set become `other`; null elements and lists stay null. */
  def rareToOther(xs: Seq[String], frequent: Set[String],
      other: String = "other"): Seq[String] =
    if (xs == null) null
    else xs.map(x => if (x != null && !frequent(x)) other else x)

  /** C11 on one list (clean/cleaner.py:370-396): holds a value outside the
    * frequent set. A null list holds no values, so it never makes its row
    * rare by itself. */
  def hasRare(xs: Seq[String], frequent: Set[String]): Boolean =
    xs != null && xs.exists(x => x != null && !frequent(x))

  /** C15 for products and yields (clean/cleaner.py:471-509): both padded
    * with nulls to the longer length; the products take their scramble
    * order, and the yields take the scramble order of the already
    * scrambled products. That second order is not the first, so a row with
    * two or more products can lose its product↔yield alignment,
    * where the reference co-permutes them. This is what the Column form of
    * this step computed; it is kept so that the cleaner's output does not
    * change with its implementation, and mending it is a separate, output-
    * changing step (ROADMAP). Either list null makes both null. */
  def scrambleProducts(products: Seq[String], yields: Seq[_], seed: String,
      rowKey: String): (Seq[String], Seq[Any]) =
    if (products == null || yields == null) (null, null)
    else {
      val n = math.max(products.size, yields.size)
      val p = products.padTo(n, null)
      val y = (yields: Seq[Any]).padTo(n, null)
      val scrambled = ArrayOps.scrambleOrder(p, seed, rowKey).map(p)
      (scrambled, ArrayOps.scrambleOrder(scrambled, seed, rowKey).map(y))
    }

  /** C9 over array columns — value counts across all component families:
    * one flatten+explode into a single hash aggregate (map-side partial,
    * one shuffle) — clean/cleaner.py:318-339. */
  def valueCountsArrays(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(explode(flatten(array(cols.map(col): _*))).as("value"))
      .filter(col("value").isNotNull)
      .groupBy("value").agg(count(lit(1)).as("cnt"))

  /** The values of `cols` that occur at least `minFreq` times, collected to
    * the driver for [[rareToOther]] and [[hasRare]].
    *
    * Scale note: under a zipf dictionary the RARE set is the unbounded long
    * tail — never collect it. The FREQUENT set is bounded by
    * |data|/minFreq, so it is collected, and anything present but not
    * frequent is rare. Past `maxSet` values this returns None, and callers
    * take the join-based [[Relational.mapRareToOtherArraysJoin]] /
    * [[Relational.removeRareRowsArraysJoin]] instead. One action: pulling
    * `maxSet + 1` strings is within the driver budget the guard enforces,
    * and a count probe first would run the value counts twice. */
  def frequentValues(df: DataFrame, cols: Seq[String], minFreq: Long,
      maxSet: Int = defaultMaxFrequentSet): Option[Set[String]] = {
    val rows = valueCountsArrays(df, cols).filter(col("cnt") >= minFreq)
      .select("value").limit(maxSet + 1).collect()
    if (rows.length > maxSet) None else Some(rows.map(_.getString(0)).toSet)
  }

  val defaultMaxFrequentSet = 100000
}
