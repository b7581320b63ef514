package graft.extract

import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.extract.OrdSource.NestedReaction
import graft.extract.OrdWire.{CompoundId, RxnIdentifier}
import graft.functions.{ArrayOps, Conversions}

/** E1–E24 — the extraction pipeline (SURVEY.md §2.2) over the nested
  * reaction rows produced by [[OrdSource.readNested]]. The reference walks
  * each reaction in Python (extract/extractor.py:595-1073
  * `handle_reaction_object`); here every step is one compiled Scala
  * function per reaction, [[extractReaction]], applied as a typed
  * `flatMap` from [[OrdSource.NestedReaction]] straight to the output row
  * type [[ExtractedReaction]]: the list-valued steps (E1–E5, E3
  * participation, E11, E12, E18, E19, E21, include-unadded, ice) and the
  * scalar conversions (E6/E7/E9/E15/E20/E24, plain functions in
  * [[graft.functions.Conversions]]) alike. The whole extract is one narrow
  * stage — no shuffle at all until the sink — and its optimized plan is
  * `SerializeFromObject ← MapPartitions ← ExternalRDD` over the batch scan.
  *
  * Why not Column expressions: Spark's higher-order array functions
  * (`transform`, `filter`, `exists`, …) are interpreted, not code-generated,
  * a per-reaction tree of them re-reads the same nested structs many times,
  * and every Column stage on top of the map is analysed and optimized again
  * on each call, which cost a quarter of a warm extract pass.
  *
  * Chemistry-dependent steps (canonicalisation, the transition-metal test)
  * go through a [[Chemistry]] instance's scalar methods; with
  * [[IdentityChemistry]] the pipeline is exact for inputs that are already
  * canonical (the reference's own golden corpus is).
  */
final case class ExtractConfig(
    trustLabelling: Boolean = false,
    considerMoleculeNames: Boolean = false,
    mergeConditionsToAgents: Boolean = true,
    includeUnaddedLabelledMolecules: Boolean = true,
    useLabellingIfExtractFails: Boolean = true)

object Extract {

  /** One output row of the extract: the fields are the output columns, in
    * their order, with their types and nullability. `reagents` and
    * `catalysts` are empty and dropped from the output unless
    * `trustLabelling`. */
  final case class ExtractedReaction(
      extracted_from_file: String, rxnOrdinal: Int,
      rxn_str: String, is_mapped: Boolean,
      reactants: Seq[String], agents: Seq[String], solvents: Seq[String],
      reagents: Seq[String], catalysts: Seq[String],
      products: Seq[String], yields: Seq[Option[Double]],
      temperature: Option[Double], rxn_time: Option[Double],
      procedure_details: String,
      date_of_experiment: LocalDate, grant_date: LocalDate)

  private val extractedEncoder = Encoders.product[ExtractedReaction]

  /** Reactants, agents and products read off a reaction string (E3). */
  final case class RxnMolecules(
      reactants: Seq[String], agents: Seq[String], products: Seq[String])

  private def sortedDistinct(xs: Iterable[String]): Seq[String] =
    xs.toArray.distinct.sorted(ArrayOps.Utf8Order).toSeq

  /** Atom-mapped-molecule test: any `:n]` atom map present
    * (extract/extractor.py:244-249 uses RDKit atom map numbers; on the
    * SMILES string this is exactly the `:digits]` token). */
  private def hasMappedAtom(s: String): Boolean = {
    var i = s.indexOf(':')
    while (i >= 0) {
      var j = i + 1
      while (j < s.length && s.charAt(j) >= '0' && s.charAt(j) <= '9') j += 1
      if (j > i + 1 && j < s.length && s.charAt(j) == ']') return true
      i = s.indexOf(':', i + 1)
    }
    false
  }

  /** Spark's `split(s, "[.]")`: limit -1, so trailing empty strings stay
    * (`String.split(regex)` alone would drop them). */
  private def splitDots(s: String): Array[String] = s.split("\\.", -1)

  /** E1 — first SMILES identifier of an identifier list, else (optionally)
    * its NAME (extract/extractor.py:112-158); null when neither exists. */
  private def idsSmiles(ids: Seq[CompoundId], allowName: Boolean): String = {
    def first(itype: Int): String =
      ids.find(_.itype == itype).map(_.value).orNull
    val smiles = first(2)
    if (smiles == null && allowName) first(6) else smiles
  }

  /** E2 — reaction CXSMILES (LAST identifier of type 6 — the reference's
    * loop overwrites, extractor.py:165-168), extension stripped, exactly
    * two `>` required (extract/extractor.py:160-180). Null otherwise. */
  private def rxnString(ident: RxnIdentifier): String =
    if (ident == null || ident.value == null) null
    else {
      val sp = ident.value.indexOf(' ')
      val raw = if (sp < 0) ident.value else ident.value.substring(0, sp)
      if (raw.count(_ == '>') == 2) raw else null
    }

  /** E3 — participation logic over the reaction string
    * (extract/extractor.py:182-306). With is_mapped: an LHS molecule is a
    * true reactant iff it has ≥1 mapped atom AND is not among products;
    * otherwise it demotes to agents; an RHS molecule is a product iff
    * mapped and not on the LHS; `[H][H]` lands in reactants whenever it is
    * not a product (extractor.py:286-296: the demoted copy survives the
    * agent cleanup exactly when not in reactants/products, then moves).
    * WITHOUT is_mapped the reference keeps every slot as written — no
    * participation filtering, the reactant/agent partition preserved, with
    * only the [H][H] agents→reactants move (extractor.py:294-296). All
    * outputs sorted distinct.
    */
  def fromRxnStr(rxnStr: String, isMapped: Boolean, chem: Chemistry): RxnMolecules = {
    val parts = rxnStr.split(">", -1)
    def mols(i: Int): Array[String] =
      splitDots(parts(i)).map(chem.canonicalString)
        .filter(m => m != null && m.nonEmpty)
    val (m0, m1, rhs) = (mols(0), mols(1), mols(2))
    if (isMapped) {
      val lhs = m0 ++ m1 // reactants + declared agents
      val products = sortedDistinct(
        rhs.filter(m => hasMappedAtom(m) && !lhs.contains(m)))
      val reactants = sortedDistinct(lhs.filter(m =>
        (hasMappedAtom(m) || m == "[H][H]") && !products.contains(m)))
      val agents = sortedDistinct(lhs.filter(m =>
        !reactants.contains(m) && !products.contains(m)))
      RxnMolecules(reactants, agents, products)
    } else {
      val reactants =
        if (m1.contains("[H][H]")) m0 :+ "[H][H]" else m0
      RxnMolecules(sortedDistinct(reactants),
        sortedDistinct(m1.filter(_ != "[H][H]")), sortedDistinct(rhs))
    }
  }

  /** E12 — merge labelled conditions into (solvents, agents): union with
    * rxn-string agents, intersect/except against the solvents dimension,
    * order agents transition-metal-first then alphabetical
    * (extract/extractor.py:545-593). */
  def mergeToAgents(rxnAgents: Seq[String], labelledConds: Seq[String],
      solventSet: Set[String], chem: Chemistry): (Seq[String], Seq[String]) = {
    val all = (rxnAgents ++ labelledConds).distinct
    val solvents = sortedDistinct(all.filter(solventSet.contains))
    val (metals, rest) = sortedDistinct(all.filterNot(solventSet.contains))
      .partition(chem.containsTransitionMetal)
    (solvents, metals ++ rest)
  }

  private val bareCarbon = Set("[C]", "C")

  /** E19 — Pd/C exception (extract/extractor.py:1024-1048): when a
    * transition metal sits among the conditions or the procedure text
    * mentions charcoal, bare carbon ("C"/"[C]") is the catalyst support,
    * not an agent — drop it from the condition list. */
  def pdCException(agents: Seq[String], procedure: String,
      chem: Chemistry): Seq[String] =
    if (agents.exists(chem.containsTransitionMetal) ||
      (procedure != null &&
        procedure.toLowerCase(java.util.Locale.ROOT).contains("charcoal")))
      ArrayOps.except(agents, bareCarbon)
    else agents

  /** Column form of [[pdCException]], for array columns outside the
    * extract (the q63 registry query); a null list stays null. */
  def pdCException(agents: Column, procedure: Column, chem: Chemistry): Column =
    udf((xs: Seq[String], p: String) =>
      if (xs == null) null else pdCException(xs, p, chem))
      .apply(agents, procedure)

  /** E20 — ice defaults a missing temperature to 0 °C
    * (extract/extractor.py:432-441 ice handling). */
  def iceTemperature(temperature: Option[Double], ice: Boolean): Option[Double] =
    if (temperature.isEmpty && ice) Some(0.0) else temperature

  /** Column form of [[iceTemperature]], for the q64 registry query: a null
    * `ice` reads as false. */
  def iceTemperature(temperature: Column, ice: Column): Column =
    udf((t: java.lang.Double, i: java.lang.Boolean) =>
      iceTemperature(Option(t).map(_.doubleValue), i != null && i.booleanValue))
      .apply(temperature, ice)

  /** E4 ice detection: an "ice" / "ice water" identifier among the inputs.
    * Only ASCII letters lower-case to ASCII, so other lengths never match. */
  private def isIce(v: String): Boolean =
    v != null && (v.length == 3 || v.length == 9) && {
      val l = v.toLowerCase(java.util.Locale.ROOT)
      l == "ice" || l == "ice water"
    }

  /** E21 — replacements-dict lookup with identity default
    * (extract/extractor.py:501-516); a null replacement keeps the input. */
  private def replace(xs: Seq[String], dict: Map[String, String]): Seq[String] =
    if (dict.isEmpty) xs
    else xs.map { x =>
      val v = dict.getOrElse(x, null)
      if (v == null) x else v
    }

  /** Every extract step for one reaction (the paper's default path is
    * extractor.py:689-780 branch trust_labelling=False): rxn-string
    * reactants/products when a valid string exists, labelled conditions
    * merged to solvents/agents, E18/E19/E21 cleanups and E15 applied, and
    * the E6/E7/E9/E20/E24 scalars converted. None when the reaction is
    * dropped (no reaction string and `useLabellingIfExtractFails = false`,
    * extractor.py:734-735). */
  def extractReaction(r: NestedReaction, cfg: ExtractConfig, chem: Chemistry,
      solventSet: Set[String], replacements: Map[String, String],
      dates: Conversions.Dates): Option[ExtractedReaction] = {
    val ident = r.identifiers.reverseIterator.find(_.itype == 6).orNull
    val rxnStr = rxnString(ident)
    val isMapped = rxnStr != null && ident.isMapped
    if (rxnStr == null && !cfg.trustLabelling && !cfg.useLabellingIfExtractFails)
      return None

    // E4 — input components routed by reaction_role, multi-molecule SMILES
    // split on '.' (extractor.py:308-375). Roles: 1=reactant 2=reagent
    // 3=solvent 4=catalyst.
    val labelled = Array.fill(5)(ArrayBuffer.empty[String])
    var ice = false
    for (entry <- r.inputs; c <- entry.components) {
      if (c.role >= 1 && c.role <= 4) {
        val s = idsSmiles(c.ids, cfg.considerMoleculeNames)
        if (s != null && s.nonEmpty) labelled(c.role) ++= splitDots(s)
      }
      if (!ice) ice = c.ids.exists(i => isIce(i.value))
    }
    val labReactants = labelled(1).toSeq
    val labReagents = labelled(2).toSeq
    val labSolvents = labelled(3).toSeq
    val labCatalysts = labelled(4).toSeq

    // E5 — labelled products + aligned yields: multi-part products split
    // on '.', longest part (stable) keeps the yield, others get none
    // (extractor.py:377-421). A product with no resolvable identifier is
    // skipped entirely — the reference `continue`s past it
    // (extractor.py:400-401).
    val labProducts = ArrayBuffer.empty[(String, Option[Double])]
    for (p <- r.products) {
      val first = idsSmiles(p.ids, cfg.considerMoleculeNames)
      if (first != null)
        splitDots(first).sortBy(s => -s.codePointCount(0, s.length))
          .iterator.zipWithIndex.foreach { case (part, i) =>
            labProducts += part -> (if (i == 0) p.yieldPct.map(Conversions.round2) else None)
          }
    }
    val labProductSmiles = labProducts.map(_._1).toSeq

    // Per-reaction branch (extractor.py:689-740): rxn-string molecules when
    // a valid reaction string exists (and labelling is not trusted);
    // labelled data otherwise.
    val fromString = !cfg.trustLabelling && rxnStr != null
    val info =
      if (fromString) fromRxnStr(rxnStr, isMapped, chem)
      else RxnMolecules(labReactants, Nil, labProductSmiles)

    // include_unadded_labelled_molecules_as_agents (extractor.py:714-733):
    // in the rxn-string branch, any labelled molecule (of ANY role,
    // products included) absent from the string's reactants/agents/products
    // joins the agents before merge_to_agents.
    val infoAgents =
      if (!fromString || !cfg.includeUnaddedLabelledMolecules) info.agents
      else {
        val added = info.reactants ++ info.agents ++ info.products
        info.agents ++ (labReactants ++ labReagents ++ labSolvents ++
          labCatalysts ++ labProductSmiles).distinct.filterNot(added.contains)
      }

    val reactants = replace(info.reactants, replacements)
    val products = replace(info.products, replacements)
    // trust_labelling keeps the labelled role split (no merge-to-agents,
    // extractor.py:689-697: separate catalyst/reagent/solvent columns)
    val (solvents, agents) =
      if (cfg.trustLabelling) (labSolvents.distinct, Nil)
      else mergeToAgents(infoAgents,
        (labReagents ++ labSolvents ++ labCatalysts).distinct, solventSet, chem)
    // E18 — conditions must be disjoint from reactants ∪ products
    val taken = (reactants ++ products).toSet

    Some(ExtractedReaction(
      r.fileName, r.rxnOrdinal, rxnStr, isMapped,
      reactants,
      // E15 — drop numeric-string "molecules"
      pdCException(ArrayOps.except(agents, taken), r.procedureDetails.orNull, chem)
        .filterNot(Conversions.isNumeric),
      ArrayOps.except(solvents, taken),
      if (cfg.trustLabelling) labReagents.distinct else Nil,
      if (cfg.trustLabelling) labCatalysts.distinct else Nil,
      products,
      // E11/E5 — yields re-aligned onto the final products by equality scan
      products.map(p => labProducts.find(_._1 == p).flatMap(_._2)),
      // E6 — temperature to °C, then E20: ice defaults it to 0 °C
      iceTemperature(
        Conversions.temperatureToCelsius(r.tempValue, r.tempUnits, r.tempControl), ice),
      // E7 — reaction time to hours
      Conversions.rxnTimeToHours(r.timeValue, r.timeUnits),
      r.procedureDetails.orNull,
      // E9 — experiment date; E24 — grant date from the file name
      dates.parseUsDate(r.experimentStart.orNull),
      dates.grantDate(r.fileName)))
  }

  /** Full extraction: [[extractReaction]] per reaction, as one typed
    * `flatMap` whose row type is the output. Output: array-typed reaction
    * table (SURVEY.md §7.1 internal model), `reagents`/`catalysts` after
    * `solvents` only under `trustLabelling`. Dates are read in the session
    * time zone.
    */
  def extractReactions(nested: DataFrame, cfg: ExtractConfig,
      chem: Chemistry, solventSet: Seq[String],
      replacements: Map[String, String] = Map.empty): DataFrame = {
    val solvents = solventSet.toSet
    val dates = Conversions.Dates.session()
    val out = nested.as(OrdSource.nestedEncoder)
      .flatMap(r => extractReaction(r, cfg, chem, solvents, replacements, dates))(
        extractedEncoder)
      .toDF()
    if (cfg.trustLabelling) out else out.drop("reagents", "catalysts")
  }

  /** E23 — numbered-wide sink view with the reference's sentinel/column
    * conventions (extract/extractor.py:1075-1279). */
  def toWideSink(arrayTyped: DataFrame, widths: Map[String, Int]): DataFrame = {
    val wideCols =
      widths.toSeq.sortBy(_._1).flatMap { case (c, n) =>
        if (c == "yields")
          (0 until n).map(i => try_element_at(col(c), lit(i + 1)).as(f"yield_$i%03d"))
        else ArrayOps.toWide(col(c), c.stripSuffix("s"), n)
      }
    val scalarCols = arrayTyped.columns.filterNot(widths.contains).map(col)
    arrayTyped.select((scalarCols ++ wideCols): _*)
  }
}
