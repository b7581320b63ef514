package graft.extract

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.XHash

/** E13/E14/F1 — the chemistry boundary (SURVEY.md §7.1).
  *
  * All non-relational chemistry (SMILES canonicalisation via RDKit
  * round-trip, extract/canonicalise.py:12-72; transition-metal test,
  * extract/defaults.py:10-39; Morgan fingerprints, gen_fp/fingerprints.py:
  * 76-99) sits behind these three functions. The engine ships
  * [[IdentityChemistry]] — treats strings as already-canonical,
  * fingerprints by stable hash — which makes the whole relational pipeline
  * testable without a chem toolkit; a JVM cheminformatics binding would
  * drop in here without touching any operator.
  *
  * The two molecule tests are scalars: the extract calls them once per
  * molecule inside its per-reaction function, and a caller that needs a
  * Column wraps the scalar in a UDF at its call site
  * ([[graft.operators.Dimensions.loadSolvents]], the q63 form of
  * [[Extract.pdCException]]). The fingerprint stays a Column form:
  * [[IdentityChemistry]]'s 3-gram Column kernel is the independent oracle
  * the scalar kernel of [[graft.operators.Fingerprints.reactionFingerprintsDense]]
  * is checked against.
  */
trait Chemistry extends Serializable {
  /** Canonical form of a SMILES/name, null when unparsable. */
  def canonicalString(s: String): String
  /** Transition-metal presence: atomic number ∈ [22,29] ∪ [40,47] ∪ [72,79];
    * false for null. */
  def containsTransitionMetal(s: String): Boolean
  /** Hashed Morgan-style fingerprint as array<int> of length nBits. */
  def fingerprint(c: Column, nBits: Int): Column
}

/** Engine-testable chemistry: no external toolkit.
  * Canonical = input (golden extracted data is already RDKit-canonical, so
  * cleaner-stage parity holds — SURVEY.md §7.4.1).
  */
object IdentityChemistry extends Chemistry {

  def canonicalString(s: String): String = s

  /** Bracket-atom regex over the transition-metal element symbols — exact
    * for the bracket forms the sort key consumes (extract/defaults.py:10-39:
    * Ti..Cu, Zr..Ag, Hf..Au). */
  private val tmSymbols = Seq(
    "Ti", "V", "Cr", "Mn", "Fe", "Co", "Ni", "Cu",
    "Zr", "Nb", "Mo", "Tc", "Ru", "Rh", "Pd", "Ag",
    "Hf", "Ta", "W", "Re", "Os", "Ir", "Pt", "Au")

  private val tmRegexes = Seq(
    "\\[(" + tmSymbols.mkString("|") + ")[^A-Za-z]",
    "\\[(" + tmSymbols.mkString("|") + ")\\]")
    .map(java.util.regex.Pattern.compile)

  /** Either bracket-atom regex found anywhere in the string. */
  def containsTransitionMetal(s: String): Boolean =
    s != null && tmRegexes.exists(_.matcher(s).find())

  /** Morgan-FP stand-in: hash the molecule string into nBits buckets from
    * its character 3-grams (substructure-ish, stable, deterministic). */
  def fingerprint(c: Column, nBits: Int): Column = {
    // one bucket per character 3-gram; dense 0/1 vector of bucket hits
    val buckets = transform(
      sequence(lit(1), greatest(length(c) - 2, lit(1))),
      i => pmod(XHash.bucketHash("fpb", c.substr(i, lit(3))), lit(nBits.toLong)))
    transform(sequence(lit(0), lit(nBits - 1)),
      b => when(array_contains(buckets, b.cast("long")), 1).otherwise(0))
  }
}

/** Structural chemistry over the [[Smiles]] subset parser: a REAL graph
  * canonicalizer (equivalent writings of the same molecule — atom order,
  * ring numbering, branch order — unify to one canonical string) and a
  * graph-based Morgan-style fingerprint. Not RDKit-string-compatible (see
  * the [[Smiles]] scaladoc for documented boundaries), so the golden-corpus
  * parity suites keep [[IdentityChemistry]] (golden data is already
  * RDKit-canonical); this implementation is for fresh corpora where
  * structural unification is the semantic that matters.
  *
  * Scale note: the two scalars memoize in bounded per-executor caches (the
  * extract calls them once per molecule occurrence). Molecule dictionaries
  * are heavy-tailed (water and common solvents dominate), so most
  * occurrences repeat a molecule already parsed and become hashmap hits.
  */
object StructuralChemistry extends Chemistry {
  private val cacheMax = 200000
  // per-JVM (per-executor) caches; "" marks a None result
  @transient private lazy val canonCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  @transient private lazy val tmCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  def canonicalString(s: String): String =
    if (s == null) null
    else {
      val hit = canonCache.get(s)
      if (hit != null) { if (hit.isEmpty) null else hit }
      else {
        val r = Smiles.canonical(s).orNull
        if (canonCache.size < cacheMax) canonCache.put(s, if (r == null) "" else r)
        r
      }
    }

  def containsTransitionMetal(s: String): Boolean =
    if (s == null) false
    else {
      val hit = tmCache.get(s)
      if (hit != null) hit.booleanValue()
      else {
        val r = Smiles.hasTransitionMetalParsed(s).getOrElse(false)
        if (tmCache.size < cacheMax) tmCache.put(s, java.lang.Boolean.valueOf(r))
        r
      }
    }

  /** Unparsable → zero vector (gen_fp/fingerprints.py:46-54 semantics). */
  def fingerprint(c: Column, nBits: Int): Column = {
    val u = udf((s: String) =>
      Smiles.morganBits(s, 3, nBits).map(_.toSeq)
        .getOrElse(Seq.fill(nBits)(0)))
    u(c)
  }
}
