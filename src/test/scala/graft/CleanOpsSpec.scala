package graft

import org.apache.spark.sql.functions._

import graft.functions.{ArrayOps, Conversions}
import graft.operators.{CleanOps, ReactionTable, Relational}

/** Unit tests for the cleaning-stage operators over toy frames — the Scala
  * port of the reference's cleaner unit tests
  * (/root/reference/orderly/tests/test_clean.py:12-26 toy frame; golden
  * expectations carried over as data, per SURVEY.md §5).
  */
class CleanOpsSpec extends SparkSpec {
  import spark.implicits._

  // Toy reaction frame: (reactants, agents, solvents, products, yields, is_mapped)
  private val toyRows = Seq(
    (Seq("A", "B"), Seq("cat1"), Seq("s1", "s2"), Seq("P1"), Seq(Some(90.0)), true),
    (Seq("A", "bad"), Seq("cat1"), Seq("s1"), Seq("P2"), Seq(Some(50.0)), true),
    (Seq("C", "bad"), Seq("cat2"), Seq("s2"), Seq("P3"), Seq(Some(10.0)), false),
    (Seq("C"), Seq(), Seq(), Seq("C"), Seq(None: Option[Double]), false)
  )
  private def toy =
    toyRows.toDF("reactants", "agents", "solvents", "products", "yields", "is_mapped")

  /** Each toy row's component lists, in `comps` order, with its mapped flag. */
  private val toyLists = toyRows.map { case (r, a, s, p, _, m) => (Seq(r, a, s, p), m) }

  private val comps = Seq("reactants", "agents", "solvents", "products")

  private def badNames(mode: CleanOps.BadNameMode) =
    toyLists.flatMap { case (ls, m) =>
      CleanOps.handleBadNames(ls, m, Set("bad"), mode).map(_ -> m) }

  test("C2 NullifyIfMapped: mapped rows stripped, unmapped bad rows deleted") {
    val rows = badNames(CleanOps.NullifyIfMapped)
    assert(rows.length == 3) // row 3 (unmapped, has bad) deleted
    val mapped = rows.filter(_._2).map(_._1.head.toList).toSet
    assert(mapped == Set(List("A", "B"), List("A"))) // "bad" removed from mapped row
  }

  test("C2 DeleteAll / NullAll") {
    assert(badNames(CleanOps.DeleteAll).length == 2)
    val na = badNames(CleanOps.NullAll)
    assert(na.length == 4)
    assert(!na.exists(_._1.head.contains("bad")))
  }

  test("C3 catalyst overflow renames into reagents") {
    val (cats, reags) = CleanOps.catalystOverflow(Seq("c1", "c2", "c3"), Seq("r1"), 1)
    assert(cats == Seq("c1"))
    assert(reags == Seq("r1", "c2", "c3"))
  }

  test("C4 trim keeps rows within width; k=-1 keeps all") {
    assert(toyRows.count(r => CleanOps.withinWidth(r._1, 1)) == 1)
    assert(toyRows.count(r => CleanOps.withinWidth(r._1, -1)) == 4)
  }

  test("C5/C6 emptiness filters") {
    assert(toyRows.count(r => CleanOps.nonEmpty(r._2)) == 3)
    assert(toyRows.count(r => CleanOps.anyCondition(Seq(r._2, r._3))) == 3)
  }

  test("C7 drops rows where reactant set == product set") {
    assert(toyRows.count(r => !CleanOps.isNoop(r._1, r._4)) == 3) // row 4: C -> C is a no-op
  }

  test("C8 yield consistency") {
    val rows = Seq(
      (1, Seq(Some(50.0), Some(40.0))),   // ok
      (2, Seq(Some(60.0), Some(60.0))),   // sum > 100
      (3, Seq(Some(-5.0))),               // out of range
      (4, Seq(None: Option[Double]))      // null ok
    )
    val kept = rows.filter(r => CleanOps.yieldConsistent(r._2.map(_.orNull))).map(_._1).toSet
    assert(kept == Set(1, 4))
  }

  /** The frequent set of the toy's agents and solvents at count ≥ 2. */
  private def frequent(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Set[String] =
    CleanOps.frequentValues(df, cols, 2).get

  test("C9/C10/C11 over arrays: counts, rare->other, rare-row removal") {
    val vc = CleanOps.valueCountsArrays(toy, Seq("agents", "solvents"))
      .as[(String, Long)].collect().toMap
    assert(vc == Map("cat1" -> 2, "cat2" -> 1, "s1" -> 2, "s2" -> 2))

    val fs = frequent(toy, Seq("agents", "solvents"))
    val ags = toyRows.flatMap(r => CleanOps.rareToOther(r._2, fs))
    assert(ags.count(_ == "other") == 1 && !ags.contains("cat2"))

    assert(toyRows.count(r => !CleanOps.hasRare(r._2, fs) && !CleanOps.hasRare(r._3, fs)) == 3)
  }

  test("C10/C11 join-path fallback matches the literal-set path") {
    // the join form against the scalar functions over the collected set
    val keyed = toy.withColumn("original_index",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("reactants")).cast("long"))
    val cols = Seq("agents", "solvents")
    val fs = frequent(keyed, cols)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("original_index", "agents", "solvents")
        .as[(Long, Seq[String], Seq[String])].collect().sortBy(_._1).toSeq
    val rows = norm(keyed)

    assert(norm(Relational.mapRareToOtherArraysJoin(keyed, cols, 2, "original_index"))
      == rows.map { case (i, a, s) => (i, CleanOps.rareToOther(a, fs), CleanOps.rareToOther(s, fs)) })
    assert(norm(Relational.removeRareRowsArraysJoin(keyed, cols, 2, "original_index"))
      == rows.filterNot { case (_, a, s) => CleanOps.hasRare(a, fs) || CleanOps.hasRare(s, fs) })
  }

  test("C11 null-array rows: kept unless a sibling column is rare, both paths") {
    // "a" is frequent (3 uses), "rare" appears once
    val rows = Seq(
      (1L, Some(Seq("a")), Some(Seq("a"))),
      (2L, None: Option[Seq[String]], Some(Seq("a"))), // null list, no rare → keep
      (3L, None: Option[Seq[String]], Some(Seq("rare"))), // null list, rare sibling → drop
      (4L, Some(Seq("a")), None: Option[Seq[String]]) // keep
    )
    val df = rows.toDF("original_index", "agents", "solvents")
    val cols = Seq("agents", "solvents")
    val fs = frequent(df, cols)
    val scalar = rows.filterNot { case (_, a, s) =>
      CleanOps.hasRare(a.orNull, fs) || CleanOps.hasRare(s.orNull, fs) }.map(_._1)
    assert(scalar == Seq(1L, 2L, 4L)) // literal path
    val join = Relational.removeRareRowsArraysJoin(df, cols, 2, "original_index")
      .select("original_index").as[Long].collect().sorted.toSeq
    assert(join == Seq(1L, 2L, 4L)) // join path
  }

  test("E21 pad + E23 wide codec round-trip") {
    val df = Seq(Tuple1(Seq("a", "b"))).toDF("l")
    val wide = df.select(ArrayOps.toWide(col("l"), "reactant", 3): _*)
    assert(wide.columns.toSeq == Seq("reactant_000", "reactant_001", "reactant_002"))
    assert(wide.collect()(0).toSeq == Seq("a", "b", "<missing>"))
    val back = ReactionTable.fromWide(spark, wide).select("reactants")
      .as[Seq[String]].collect()(0)
    assert(back == Seq("a", "b"))
  }

  test("C15 scramble is a deterministic permutation") {
    val l = Seq("a", "b", "c", "d", "e")
    val s1 = ArrayOps.scramble(l, "seed", "1")
    val s2 = ArrayOps.scramble(l, "seed", "1")
    assert(s1 == s2 && s1.sorted == Seq("a", "b", "c", "d", "e") && s1 != Seq("a", "b", "c", "d", "e"))
    // the registry's Column form wraps the same function
    val df = Seq((1L, l)).toDF("id", "l")
    assert(df.select(ArrayOps.scramble(col("l"), "seed", col("id")))
      .as[Seq[String]].collect()(0) == s1)
  }

  test("E15 numeric strings dropped") {
    val df = Seq(Tuple1(Seq("12", "abc", "3.5", "x1"))).toDF("l")
    assert(df.select(ArrayOps.dropNumeric(col("l")).as("l"))
      .as[Seq[String]].collect()(0) == Seq("abc", "x1"))
  }

  test("E6/E7 unit conversions match the reference's tables") {
    // extract/extractor.py:423-474 golden cases
    val df = Seq(
      (212.0, 2, 0),   // F -> 100 C
      (300.0, 3, 0),   // K -> 26.85 C
      (0.0, 0, 6),     // ICE_BATH -> 0
      (0.0, 0, 9),     // DRY_ICE -> -78.5
      (0.0, 0, 11)     // LIQ_N2 -> -196
    ).toDF("v", "unit", "ctrl")
    val out = df.select(Conversions.temperatureToCelsius(col("v"), col("unit"), col("ctrl")))
      .as[Double].collect()
    assert(math.abs(out(0) - 100.0) < 1e-9)
    assert(math.abs(out(1) - 26.85) < 1e-9)
    assert(out(2) == 0.0 && out(3) == -78.5 && out(4) == -196.0)

    val t = Seq((90.0, 2), (7200.0, 3), (2.0, 4), (1.5, 1)).toDF("v", "unit")
    val hrs = t.select(Conversions.rxnTimeToHours(col("v"), col("unit"))).as[Double].collect()
    assert(hrs.toSeq == Seq(1.5, 2.0, 48.0, 1.5))
  }

  test("E9 date parse coerces invalid to null") {
    val df = Seq("03/01/1997", "13/45/1997", "garbage").toDF("s")
    val out = df.select(Conversions.parseUsDate(col("s"))).collect().map(_.get(0))
    assert(out(0) != null && out(1) == null && out(2) == null)
  }

  test("E24 filename normalization + grant date") {
    val df = Seq("uspto-grants-1995_11.pb.gz").toDF("f")
    val g = df.select(Conversions.grantDateFromFilename(col("f"))).collect()(0).getDate(0)
    assert(g.toString == "1995-11-01")
  }
}
