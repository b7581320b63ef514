package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.extract._
import graft.extract.OrdWire._
import graft.functions.{ArrayOps, Conversions}

/** The per-reaction Scala extract against the Column pipeline it replaced,
  * on in-memory nested rows (no reference data needed). The old pipeline
  * is kept verbatim below as [[LegacyColumnExtract]]; every config and both
  * chemistries must give the same table row for row.
  *
  * Spark semantics the Scala side has to reproduce, each exercised below:
  *  - `split(s, "[.]")` uses limit -1 and keeps trailing empty strings
  *    ("CCO." → ["CCO", ""]); Java's `String.split(regex)` drops them.
  *  - `array_sort` compares strings by UTF-8 bytes (code point order), not
  *    by UTF-16 units as `String.compareTo` does.
  *  - `array_sort` with a comparator is a stable sort (equal-length product
  *    parts keep their written order, and the first keeps the yield).
  *  - `round(double, 2)` rounds HALF_UP through `BigDecimal` (2.675 → 2.68).
  *  - `coalesce(element_at(dict, x), x)` keeps `x` when the replacement
  *    value is null.
  */
class ExtractParitySpec extends SparkSpec {
  import spark.implicits._

  private val solvents = Seq("O", "ClCCl", "C1CCOC1", "CCO", "OCC")
  private val replacements = Map("CCO" -> "C(C)O", "[Na+]" -> null,
    "c1ccccc1" -> "C1=CC=CC=C1", "[CH3:1]OC" -> "COC")

  private def ids(smiles: String = null, name: String = null): Seq[CompoundId] =
    Option(smiles).map(CompoundId(2, _)).toSeq ++ Option(name).map(CompoundId(6, _))
  private def comp(role: Int, smiles: String = null, name: String = null) =
    Component(role, ids(smiles, name))
  private def rxnId(value: String, mapped: Boolean) = RxnIdentifier(6, value, mapped)

  private def reaction(file: String, i: Int, rxnIds: Seq[RxnIdentifier],
      inputs: Seq[Seq[Component]], products: Seq[Product],
      temp: (Option[Double], Int, Int) = (None, 0, 0),
      time: (Option[Double], Int) = (None, 0),
      procedure: Option[String] = None, start: Option[String] = None) =
    OrdSource.OrdFileReaction(file, i, OrdReaction("ds", "id", rxnIds,
      inputs.zipWithIndex.map { case (cs, k) => InputEntry(s"in$k", cs) },
      products, temp._1, temp._2, temp._3, time._1, time._2, procedure, start))

  /** One case per branch of the extract. */
  private val handMade = Seq(
    // mapped string: unmapped LHS molecule demotes, [H][H] stays a reactant,
    // labelled molecules missing from the string join the agents
    reaction("uspto-grants-2016_07", 0,
      Seq(rxnId("[CH3:1]O.CC(=O)O.[H][H]>[Pd]>[CH3:1]OC |f:0.1|", mapped = true)),
      Seq(Seq(comp(1, "[CH3:1]O"), comp(3, "ClCCl"), comp(2, "[Na+].[Cl-]")),
        Seq(comp(4, "[Pd]"), comp(3, "O"))),
      Seq(Product(ids("[CH3:1]OC"), Some(2.675))),
      temp = (Some(70.0), 2, 0), time = (Some(90.0), 2),
      procedure = Some("Stirred; filtered."), start = Some("03/15/2011")),
    // unmapped string: slots kept as written, [H][H] agent → reactants
    reaction("f1", 1, Seq(rxnId("CO.CC(=O)O>[Pd].[H][H]>COC", mapped = false)),
      Seq(Seq(comp(1, "CO"), comp(2, "5"), comp(2, "1.5e3"))),
      Seq(Product(ids("COC"), Some(0.125)))),
    // no reaction string: labelled fallback, multi-part products, trailing
    // dot, name-only and identifier-less products, yields to round
    reaction("f1", 2, Nil,
      Seq(Seq(comp(1, "CCO."), comp(1, name = "sodium chloride"),
        comp(2, "C"), comp(4, "[Fe+2]"), comp(8, "ignored"))),
      Seq(Product(ids("CC.OO.N"), Some(33.335)), Product(ids("CC"), Some(1.0)),
        Product(ids(name = "the product"), Some(12.5)), Product(Nil, Some(5.0)),
        Product(ids(""), Some(-1.005)))),
    // the last reaction identifier wins; invalid strings give null
    reaction("f1", 3, Seq(rxnId("A>B>C", mapped = false), rxnId("C>D", mapped = true)),
      Seq(Seq(comp(1, "C1CCOC1"))), Nil),
    reaction("f1", 4, Seq(rxnId("A>B>C>D", mapped = false)), Nil, Nil),
    // E19: charcoal in the procedure drops bare carbon, [C] too
    reaction("f1", 5, Seq(rxnId("CC>C.[C].O>CCC", mapped = false)),
      Seq(Seq(comp(2, "[C]"))), Seq(Product(ids("CCC"), None)),
      procedure = Some("Pd on CHARCOAL")),
    // E19: a transition metal among the agents drops bare carbon
    reaction("f1", 6, Seq(rxnId("CC>C.Cl[Pd]Cl>CCC", mapped = false)), Nil,
      Seq(Product(ids("CCC"), Some(99.999)))),
    // ice with no temperature → 0 °C; "Ice Water" by name only
    reaction("f1", 7, Nil,
      Seq(Seq(comp(1, "CC"), comp(3, name = "Ice Water"))),
      Seq(Product(ids("C=C"), None))),
    reaction("f1", 8, Nil, Seq(Seq(comp(3, "O", "ICE"))), Nil),
    // UTF-8 vs UTF-16 order and empty pieces inside the string
    reaction("f1", 9,
      Seq(rxnId("Z\uD835\uDC00.Z\uE000.ZZ..>>Z\uE000.Z\uD835\uDC00.", mapped = false)),
      Nil, Nil),
    // equivalent writings (one class under StructuralChemistry), an
    // unparsable string, duplicated products with different yields
    reaction("f1", 10,
      Seq(rxnId("[OH:1]CC.C(C)[OH:1].not_smiles>OCC>[OH:1]C(C)C.[OH:1]C(C)C", mapped = true)),
      Seq(Seq(comp(1, "OCC"), comp(2, "C(C)O"), comp(3, "CCO"))),
      Seq(Product(ids("[OH:1]C(C)C"), Some(10.0)), Product(ids("[OH:1]C(C)C"), Some(20.0)))),
    // a product also on the left-hand side, solvents among reactants
    reaction("f1", 11, Seq(rxnId("[CH3:1]O.O>ClCCl>[CH3:1]O.[CH2:2]=O", mapped = true)),
      Seq(Seq(comp(3, "O"), comp(3, "ClCCl"), comp(2, "c1ccccc1"))),
      Seq(Product(ids("[CH2:2]=O"), Some(50.0)))),
    // nothing at all
    reaction("f1", 12, Nil, Nil, Nil))

  /** Seeded random reactions over a vocabulary of the same tricky forms. */
  private def randomReactions(n: Int, seed: Long): Seq[OrdSource.OrdFileReaction] = {
    val r = new Random(seed)
    val vocab = Vector("CCO", "OCC", "C(C)O", "O", "[Pd]", "[Pd+2]", "Cl[Pd]Cl",
      "[Fe]", "[Cu]", "C", "[C]", "[H][H]", "c1ccccc1", "CC(=O)O", "[Na+]",
      "[Cl-]", "ClCCl", "C1CCOC1", "5", "1.5e3", "NaN", "CC.", ".O", "",
      "[CH3:1]O", "[CH3:1]OC", "[OH:2][CH2:3]C", "[Pd:4]", "O=C([O-])[O-]",
      "Z\uD835\uDC00", "Z\uE000", "ZZ", "nonsense(")
    val names = Vector("ice", "Ice Water", "sodium chloride", "charcoal", "water")
    def pick[A](xs: Vector[A]): A = xs(r.nextInt(xs.size))
    def mols(k: Int): String = Seq.fill(k)(pick(vocab)).mkString(".")
    def rxnStr: String = {
      val s = Seq(mols(1 + r.nextInt(3)), mols(r.nextInt(3)), mols(1 + r.nextInt(2)))
      val joined = r.nextInt(10) match {
        case 0 => s.take(2).mkString(">")
        case 1 => s.mkString(">") + ">X"
        case _ => s.mkString(">")
      }
      if (r.nextInt(4) == 0) joined + " |f:0.1|" else joined
    }
    def compIds: Seq[CompoundId] = r.nextInt(7) match {
      case 0 => ids(name = pick(names))
      case 1 => ids(mols(1), pick(names))
      case 2 => Nil
      case 3 => ids(name = pick(names)) ++ ids(mols(1), pick(names)) ++ ids(mols(1))
      case _ => ids(mols(1 + r.nextInt(2)))
    }
    def yieldPct: Option[Double] = r.nextInt(4) match {
      case 0 => None
      case 1 => Some(pick(Vector(2.675, 0.125, 33.335, 1.005, 99.995)))
      case _ => Some(r.nextInt(100000) / 1000.0)
    }
    (0 until n).map { i =>
      val rxnIds = Seq.fill(r.nextInt(3))(
        if (r.nextInt(5) == 0) RxnIdentifier(2, "other", r.nextBoolean())
        else rxnId(rxnStr, r.nextBoolean()))
      val inputs = Seq.fill(r.nextInt(4))(Seq.fill(r.nextInt(4))(
        Component(pick(Vector(0, 1, 1, 2, 3, 4, 8)), compIds)))
      val products = Seq.fill(r.nextInt(4))(Product(compIds, yieldPct))
      reaction(s"rand-$seed", i, rxnIds, inputs, products,
        temp = (if (r.nextBoolean()) Some(r.nextInt(200) - 50.0) else None,
          r.nextInt(4), pick(Vector(0, 2, 6, 9))),
        time = (if (r.nextBoolean()) Some(r.nextInt(500).toDouble) else None, r.nextInt(5)),
        procedure = pick(Vector(None, Some("stir"), Some("over Charcoal"), Some(""))),
        start = pick(Vector(None, Some("12/31/1999"), Some("bad date"))))
    }
  }

  /** Rows in [[OrdSource.readNested]]'s shape. */
  private def nestedOf(rs: Dataset[OrdSource.OrdFileReaction]): DataFrame =
    rs.toDF().select(col("fileName"), col("rxnOrdinal"), col("r.*"))
  private def nestedOf(rs: Seq[OrdSource.OrdFileReaction]): DataFrame = nestedOf(rs.toDS())

  private lazy val nested = nestedOf(handMade ++ randomReactions(400, 7L)).cache()

  private def rows(df: DataFrame): Seq[Row] =
    df.orderBy("extracted_from_file", "rxnOrdinal").collect().toSeq

  private val configs = Seq(
    "default" -> (ExtractConfig(), Map.empty[String, String]),
    "trustLabelling" -> (ExtractConfig(trustLabelling = true), Map.empty[String, String]),
    "considerMoleculeNames" ->
      (ExtractConfig(considerMoleculeNames = true), Map.empty[String, String]),
    "useLabellingIfExtractFails=false" ->
      (ExtractConfig(useLabellingIfExtractFails = false), Map.empty[String, String]),
    "includeUnaddedLabelledMolecules=false" ->
      (ExtractConfig(includeUnaddedLabelledMolecules = false), Map.empty[String, String]),
    "replacements with a null value" -> (ExtractConfig(), replacements))

  for (chem <- Seq(IdentityChemistry, StructuralChemistry);
       (name, (cfg, repl)) <- configs) {
    val chemName = chem.getClass.getSimpleName.stripSuffix("$")
    test(s"$chemName, $name: per-reaction extract equals the Column pipeline") {
      val got = Extract.extractReactions(nested, cfg, chem, solvents, repl)
      val want = LegacyColumnExtract.extractReactions(nested, cfg, chem, solvents, repl)
      assert(got.schema.map(f => f.name -> f.dataType.simpleString) ==
        want.schema.map(f => f.name -> f.dataType.simpleString))
      val (g, w) = (rows(got), rows(want))
      assert(g.size == w.size)
      g.zip(w).foreach { case (a, b) => assert(a == b) }
    }
  }

  test("the hand-made cases reach the branches they are written for") {
    val out = rows(Extract.extractReactions(nested, ExtractConfig(),
      IdentityChemistry, solvents)).filter(_.getString(0) != "rand-7")
      .map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    def arr(r: Row, c: String): Seq[Any] = r.getSeq[Any](r.fieldIndex(c))
    val mapped = out("uspto-grants-2016_07" -> 0)
    assert(mapped.getAs[String]("rxn_str") == "[CH3:1]O.CC(=O)O.[H][H]>[Pd]>[CH3:1]OC")
    assert(arr(mapped, "reactants") == Seq("[CH3:1]O", "[H][H]"))
    assert(arr(mapped, "agents") == Seq("[Pd]", "CC(=O)O", "[Cl-]", "[Na+]"))
    assert(arr(mapped, "solvents") == Seq("ClCCl", "O"))
    assert(arr(mapped, "yields") == Seq(2.68))
    val labelled = out("f1" -> 2)
    assert(labelled.isNullAt(labelled.fieldIndex("rxn_str")))
    assert(arr(labelled, "reactants") == Seq("CCO", ""))
    assert(arr(labelled, "products") == Seq("CC", "OO", "N", "CC", ""))
    assert(arr(labelled, "yields") == Seq(33.34, null, null, 33.34, -1.01))
    assert(out("f1" -> 3).isNullAt(2) && out("f1" -> 4).isNullAt(2))
    assert(arr(out("f1" -> 5), "agents").isEmpty)
    assert(arr(out("f1" -> 5), "solvents") == Seq("O"))
    assert(arr(out("f1" -> 6), "agents") == Seq("Cl[Pd]Cl"))
    assert(out("f1" -> 7).getAs[Double]("temperature") == 0.0)
    assert(out("f1" -> 8).getAs[Double]("temperature") == 0.0)
    assert(arr(out("f1" -> 9), "reactants") == Seq("ZZ", "Z\uE000", "Z\uD835\uDC00"))
    assert(arr(out("f1" -> 1), "agents") == Seq("[Pd]"))
  }

  test("a streaming nested frame takes the same per-reaction path") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[OrdSource.OrdFileReaction]
    mem.addData(handMade: _*)
    val q = Extract.extractReactions(nestedOf(mem.toDS()), ExtractConfig(),
      IdentityChemistry, solvents)
      .writeStream.format("memory").queryName("spec_extract_stream")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    q.stop()
    val batch = Extract.extractReactions(nestedOf(handMade), ExtractConfig(),
      IdentityChemistry, solvents)
    assert(rows(spark.table("spec_extract_stream")) == rows(batch))
  }

  test("scalar chemistry methods agree with the Column forms") {
    val sample = Seq("[Pd]", "[Pd+2]", "[Fe]", "[Cu]", "[C]", "C", "CCO", "OCC",
      "C(C)O", "c1ccccc1", "C1=CC=CC=C1", "Cl[Pd]Cl", "[Na+].[Cl-]",
      "sodium chloride", "", null)
    val df = sample.toDF("s")
    for (chem <- Seq(IdentityChemistry, StructuralChemistry)) {
      val got = df.select(col("s"), LegacyChemistry.canonicalize(chem, col("s")),
        LegacyChemistry.hasTransitionMetal(chem, col("s"))).collect()
      got.foreach { r =>
        val s = r.getString(0)
        assert(chem.canonicalString(s) == r.getString(1), s"canonical of $s, $chem")
        // Column null (rlike of null) reads as no metal
        val tm = !r.isNullAt(2) && r.getBoolean(2)
        assert(chem.containsTransitionMetal(s) == tm, s"metal in $s, $chem")
      }
    }
    assert(StructuralChemistry.canonicalString("OCC") ==
      StructuralChemistry.canonicalString("C(C)O"))
    assert(StructuralChemistry.canonicalString("sodium chloride") == null)
  }

  test("E19 Column form (q63) equals the legacy Column copy on edge cases") {
    val cases = Seq[(Seq[String], String)](
      (null, "over charcoal"),
      (null, null),
      (Seq("C", null, "[Pd]"), "stir"),
      (Seq("C", null, "O"), "Pd on Charcoal"),
      (Seq("C", null, "O"), "stir"),
      (Seq("C", "C", "O", "O", "[Pd+2]"), "stir"),
      (Seq("C", "C", "O", "O"), "stir"),
      (Seq("[C]", "C", "O"), "Pd on ChArCoAl"),
      (Seq("C", "[Pd+2]"), null),
      (Seq("C", "O"), null),
      (Seq.empty[String], "charcoal"))
    val df = cases.toDF("agents", "proc").withColumn("i", monotonically_increasing_id())
    for (chem <- Seq(IdentityChemistry, StructuralChemistry)) {
      val out = df.select(col("i"),
        Extract.pdCException(col("agents"), col("proc"), chem).as("got"),
        LegacyColumnExtract.pdCException(col("agents"), col("proc"), chem).as("want"))
        .orderBy("i").collect()
      assert(out.length == cases.size)
      out.foreach(r => assert(r.get(1) == r.get(2), s"$chem: $r"))
      val got = out.map(r => Option(r.getSeq[String](1)))
      assert(got(0).isEmpty && got(1).isEmpty) // a null list stays null
      assert(got(2).contains(Seq(null, "[Pd]"))) // metal: C dropped, null kept
      assert(got(4).contains(Seq("C", null, "O"))) // neither: untouched
      assert(got(5).contains(Seq("O", "[Pd+2]"))) // drop branch dedups
      assert(got(6).contains(Seq("C", "C", "O", "O"))) // keep branch does not
      assert(got(7).contains(Seq("O")))
    }
  }

  test("extract plan: no exchange and at most one higher-order function") {
    val extracted = Extract.extractReactions(nestedOf(handMade), ExtractConfig(),
      IdentityChemistry, solvents)
    val qe = extracted.queryExecution
    val hofs = qe.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case h: HigherOrderFunction => h
    }))
    assert(hofs.size <= 1, hofs.mkString("\n"))
    val p = qe.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), "extract should not shuffle:\n" + p)
  }
}

/** The Column forms of canonicalisation and the transition-metal test that
  * the `Chemistry` trait declared before it kept only the scalars, copied
  * here so the legacy pipeline below stays independent of the scalars it is
  * compared with: Identity as the input itself and two `rlike` patterns,
  * Structural as UDFs over [[Smiles]]. */
private object LegacyChemistry {
  private val tmSymbols = Seq(
    "Ti", "V", "Cr", "Mn", "Fe", "Co", "Ni", "Cu",
    "Zr", "Nb", "Mo", "Tc", "Ru", "Rh", "Pd", "Ag",
    "Hf", "Ta", "W", "Re", "Os", "Ir", "Pt", "Au")
  private val tmPatterns = Seq(
    "\\[(" + tmSymbols.mkString("|") + ")[^A-Za-z]",
    "\\[(" + tmSymbols.mkString("|") + ")\\]")

  private val canonU = udf((s: String) =>
    if (s == null) null else Smiles.canonical(s).orNull)
  private val tmU = udf((s: String) =>
    s != null && Smiles.hasTransitionMetalParsed(s).getOrElse(false))

  def canonicalize(chem: Chemistry, c: Column): Column = chem match {
    case IdentityChemistry => c
    case StructuralChemistry => canonU(c)
  }

  def hasTransitionMetal(chem: Chemistry, c: Column): Column = chem match {
    case IdentityChemistry => c.rlike(tmPatterns(0)) || c.rlike(tmPatterns(1))
    case StructuralChemistry => tmU(c)
  }
}

/** The Column pipeline `Extract.extractReactions` used before the
  * per-reaction function, verbatim except that `ArrayOps.exceptSet` /
  * `intersectSet` are inlined as the `array_except` / `array_intersect`
  * they were, and the chemistry's Column forms come from
  * [[LegacyChemistry]]. */
private object LegacyColumnExtract {

  def hasMappedAtom(c: Column): Column = c.rlike(":\\d+\\]")

  def rxnStrCol: Column = {
    val ident = try_element_at(
      filter(col("identifiers"), i => i.getField("itype") === 6), lit(-1))
    val raw = split(ident.getField("value"), " ").getItem(0)
    when(size(split(raw, ">", -1)) === 3, raw)
  }

  def isMappedCol: Column =
    when(rxnStrCol.isNotNull,
      coalesce(try_element_at(
        filter(col("identifiers"), i => i.getField("itype") === 6), lit(-1))
        .getField("isMapped"), lit(false)))
      .otherwise(lit(false))

  private def idsSmiles(ids: Column, allowName: Boolean): Column = {
    val smiles = try_element_at(
      filter(ids, i => i.getField("itype") === 2), lit(1))
      .getField("value")
    if (!allowName) smiles
    else coalesce(smiles,
      try_element_at(
        filter(ids, i => i.getField("itype") === 6), lit(1))
        .getField("value"))
  }

  private def compSmiles(comp: Column, allowName: Boolean): Column =
    idsSmiles(comp.getField("ids"), allowName)

  def labelled(role: Int, cfg: ExtractConfig): Column = {
    val comps = flatten(transform(col("inputs"), e => e.getField("components")))
    val ofRole = filter(comps, c => c.getField("role") === role)
    val smiles = transform(ofRole, c => compSmiles(c, cfg.considerMoleculeNames))
    val nonNull = filter(smiles, s => s.isNotNull && s =!= "")
    flatten(transform(nonNull, s => split(s, "[.]")))
  }

  def pdCException(agents: Column, procedure: Column, chem: Chemistry): Column =
    when(exists(agents, a => LegacyChemistry.hasTransitionMetal(chem, a)) ||
      contains(lower(coalesce(procedure, lit(""))), lit("charcoal")),
      array_except(agents, array(lit("[C]"), lit("C"))))
      .otherwise(agents)

  def iceTemperature(temperature: Column, ice: Column): Column =
    coalesce(temperature, when(ice, lit(0.0)))

  def icePresent: Column = {
    val comps = flatten(transform(col("inputs"), e => e.getField("components")))
    exists(comps, c => exists(c.getField("ids"),
      i => lower(i.getField("value")).isin("ice", "ice water")))
  }

  def labelledProducts(cfg: ExtractConfig): Column =
    flatten(transform(
      filter(col("products"),
        p => idsSmiles(p.getField("ids"), cfg.considerMoleculeNames).isNotNull),
      p => {
        val first = idsSmiles(p.getField("ids"), cfg.considerMoleculeNames)
        val parts = array_sort(
          split(first, "[.]"),
          (l, r) => when(length(l) > length(r), -1)
            .when(length(l) < length(r), 1).otherwise(0))
        transform(parts, (part, i) =>
          struct(part.as("smiles"),
            when(i === 0, round(p.getField("yieldPct"), 2)).as("yield")))
      }))

  def fromRxnStr(rxnStr: Column, isMapped: Column, chem: Chemistry): Column = {
    val parts = split(rxnStr, ">", -1)
    def mols(i: Int): Column =
      filter(transform(split(parts.getItem(i), "[.]"),
        m => LegacyChemistry.canonicalize(chem, m)), m => m.isNotNull && m =!= "")
    val lhs = concat(mols(0), mols(1))
    val rhsRaw = mols(2)
    val mProducts = array_sort(array_distinct(
      filter(rhsRaw, m => hasMappedAtom(m) && !array_contains(lhs, m))))
    val mReactants = array_sort(array_distinct(filter(lhs,
      m => (hasMappedAtom(m) || m === "[H][H]") && !array_contains(mProducts, m))))
    val mAgents = array_sort(array_distinct(filter(lhs,
      m => !array_contains(mReactants, m) && !array_contains(mProducts, m))))
    val uReactants = array_sort(array_distinct(
      when(array_contains(mols(1), "[H][H]"),
        concat(mols(0), array(lit("[H][H]")))).otherwise(mols(0))))
    val uAgents = array_sort(array_distinct(array_remove(mols(1), "[H][H]")))
    val uProducts = array_sort(array_distinct(rhsRaw))
    struct(
      when(isMapped, mReactants).otherwise(uReactants).as("reactants"),
      when(isMapped, mAgents).otherwise(uAgents).as("agents"),
      when(isMapped, mProducts).otherwise(uProducts).as("products"))
  }

  def mergeToAgents(rxnAgents: Column, labelledConds: Column,
      solventSet: Seq[String], chem: Chemistry): (Column, Column) = {
    val all = array_distinct(concat(rxnAgents, labelledConds))
    val solvents = array_sort(array_intersect(all, typedLit(solventSet)))
    val agentsRaw = array_sort(array_except(all, typedLit(solventSet)))
    val keyed = transform(agentsRaw, a =>
      struct(when(LegacyChemistry.hasTransitionMetal(chem, a), 0).otherwise(1).as("k"),
        a.as("v")))
    val agents = transform(array_sort(keyed), s => s.getField("v"))
    (solvents, agents)
  }

  def extractReactions(nested: DataFrame, cfg: ExtractConfig,
      chem: Chemistry, solventSet: Seq[String],
      replacements: Map[String, String] = Map.empty): DataFrame = {

    val labelledInfo = struct(
      labelled(1, cfg).as("reactants"),
      array().cast("array<string>").as("agents"),
      transform(col("lab_products"), p => p.getField("smiles"))
        .as("products"))
    val withRxn = nested
      .withColumn("rxn_str", rxnStrCol)
      .withColumn("is_mapped", isMappedCol)
      .withColumn("lab_products", labelledProducts(cfg))
      .filter(
        if (cfg.trustLabelling || cfg.useLabellingIfExtractFails) lit(true)
        else col("rxn_str").isNotNull)
      .withColumn("info",
        if (cfg.trustLabelling) labelledInfo
        else when(col("rxn_str").isNotNull,
          fromRxnStr(col("rxn_str"), col("is_mapped"), chem))
          .otherwise(labelledInfo))

    val labelledConds = array_distinct(concat(
      labelled(2, cfg), labelled(3, cfg), labelled(4, cfg)))

    val infoAgents: Column =
      if (cfg.trustLabelling || !cfg.includeUnaddedLabelledMolecules)
        col("info.agents")
      else {
        val allLabelled = array_distinct(concat(
          labelled(1, cfg), labelled(2, cfg), labelled(3, cfg), labelled(4, cfg),
          transform(col("lab_products"), p => p.getField("smiles"))))
        val added = concat(col("info.reactants"), col("info.agents"),
          col("info.products"))
        when(col("rxn_str").isNotNull,
          concat(col("info.agents"),
            filter(allLabelled, x => !array_contains(added, x))))
          .otherwise(col("info.agents"))
      }

    val (solv, agents) = mergeToAgents(
      infoAgents, col("labelled_conds"), solventSet, chem)

    val repl: Column => Column =
      c => filter(transform(c, x => ArrayOps.applyReplacements(x, replacements)),
        x => x.isNotNull)

    val (solvCol, agentsCol) =
      if (cfg.trustLabelling) (array_distinct(labelled(3, cfg)), array().cast("array<string>"))
      else (solv, agents)

    val df = withRxn
      .withColumn("labelled_conds", labelledConds)
      .withColumn("reactants", repl(col("info.reactants")))
      .withColumn("products_raw", repl(col("info.products")))
      .withColumn("reagents",
        if (cfg.trustLabelling) array_distinct(labelled(2, cfg))
        else array().cast("array<string>"))
      .withColumn("catalysts",
        if (cfg.trustLabelling) array_distinct(labelled(4, cfg))
        else array().cast("array<string>"))
      .withColumn("solvents", solvCol)
      .withColumn("agents_pre", agentsCol)
      .withColumn("agents_pre", array_except(col("agents_pre"),
        concat(col("reactants"), col("products_raw"))))
      .withColumn("solvents", array_except(col("solvents"),
        concat(col("reactants"), col("products_raw"))))
      .withColumn("agents_pre",
        pdCException(col("agents_pre"), col("procedureDetails"), chem))
      .withColumn("agents", ArrayOps.dropNumeric(col("agents_pre")))
      .withColumn("temperature", Conversions.temperatureToCelsius(
        col("tempValue"), col("tempUnits"), col("tempControl")))
      .withColumn("temperature", iceTemperature(col("temperature"), icePresent))
      .withColumn("rxn_time", Conversions.rxnTimeToHours(
        col("timeValue"), col("timeUnits")))
      .withColumn("date_of_experiment",
        Conversions.parseUsDate(col("experimentStart")))
      .withColumn("grant_date", Conversions.grantDateFromFilename(col("fileName")))
      .withColumn("yields", transform(col("products_raw"), p =>
        try_element_at(
          filter(col("lab_products"), lp => lp.getField("smiles") === p), lit(1))
          .getField("yield")))
      .withColumn("products", col("products_raw"))

    val roleCols =
      if (cfg.trustLabelling)
        Seq(col("reagents"), col("catalysts"))
      else Seq.empty
    df.select(Seq(
      col("fileName").as("extracted_from_file"), col("rxnOrdinal"),
      col("rxn_str"), col("is_mapped"),
      col("reactants"), col("agents"), col("solvents")) ++ roleCols ++ Seq(
      col("products"), col("yields"),
      col("temperature"), col("rxn_time"),
      col("procedureDetails").as("procedure_details"),
      col("date_of_experiment"), col("grant_date")): _*)
  }
}
