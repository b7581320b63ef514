package graft.extract

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.XHash

/** E13/E14/F1 — the chemistry boundary (SURVEY.md §7.1).
  *
  * All non-relational chemistry (SMILES canonicalisation via RDKit
  * round-trip, extract/canonicalise.py:12-72; transition-metal test,
  * extract/defaults.py:10-39; Morgan fingerprints, gen_fp/fingerprints.py:
  * 76-99) sits behind this trait. The engine ships [[IdentityChemistry]]
  * — treats strings as already-canonical, fingerprints by stable hash —
  * which makes the whole relational pipeline testable without a chem
  * toolkit; a JVM cheminformatics binding would drop in here without
  * touching any operator.
  */
trait Chemistry extends Serializable {
  /** Canonical form of a SMILES/name, null when unparsable. */
  def canonicalize(c: Column): Column
  /** Scalar [[canonicalize]], for per-row Scala code such as the extract. */
  def canonicalString(s: String): String
  /** Same, stripping atom-map numbers (extract/canonicalise.py:30-47). */
  def canonicalizeNoMaps(c: Column): Column
  /** Is this string a resolvable molecule identifier (vs a free name)? */
  def isResolvable(c: Column): Column
  /** Transition-metal presence: atomic number ∈ [22,29] ∪ [40,47] ∪ [72,79]. */
  def hasTransitionMetal(c: Column): Column
  /** Scalar [[hasTransitionMetal]]; false for null. */
  def containsTransitionMetal(s: String): Boolean
  /** Hashed Morgan-style fingerprint as array<int> of length nBits. */
  def fingerprint(c: Column, nBits: Int): Column
}

/** Engine-testable chemistry: pure Column expressions, no external toolkit.
  * Canonical = input (golden extracted data is already RDKit-canonical, so
  * cleaner-stage parity holds — SURVEY.md §7.4.1).
  */
object IdentityChemistry extends Chemistry {

  def canonicalize(c: Column): Column = c
  def canonicalString(s: String): String = s

  /** Strip `:nn` atom maps from bracket atoms: `[CH2:1]` → `[CH2]`. */
  def canonicalizeNoMaps(c: Column): Column =
    regexp_replace(c, ":\\d+\\]", "]")

  /** SMILES-shaped heuristic: non-empty and contains no whitespace and only
    * SMILES alphabet characters. Free-text names ("sodium chloride") fail. */
  def isResolvable(c: Column): Column =
    c.isNotNull && c.rlike("^[A-Za-z0-9@+\\-\\[\\]\\(\\)=#$:./\\\\%*{}]+$")

  /** Bracket-atom regex over the transition-metal element symbols — exact
    * for the bracket forms the sort key consumes (extract/defaults.py:10-39:
    * Ti..Cu, Zr..Ag, Hf..Au). */
  private val tmSymbols = Seq(
    "Ti", "V", "Cr", "Mn", "Fe", "Co", "Ni", "Cu",
    "Zr", "Nb", "Mo", "Tc", "Ru", "Rh", "Pd", "Ag",
    "Hf", "Ta", "W", "Re", "Os", "Ir", "Pt", "Au")

  private val tmPatterns = Seq(
    "\\[(" + tmSymbols.mkString("|") + ")[^A-Za-z]",
    "\\[(" + tmSymbols.mkString("|") + ")\\]")
  private val tmRegexes = tmPatterns.map(java.util.regex.Pattern.compile)

  def hasTransitionMetal(c: Column): Column =
    c.rlike(tmPatterns(0)) || c.rlike(tmPatterns(1))

  /** The same two regexes as [[hasTransitionMetal]], matched with `find`
    * like Spark's `rlike`. */
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
  * Scale note: results memoize in bounded per-executor caches, which serve
  * both the scalar methods (the extract calls these once per molecule
  * occurrence) and the Column UDFs. Molecule dictionaries are heavy-tailed
  * (water and common solvents dominate), so most occurrences repeat a
  * molecule already parsed and become hashmap hits.
  */
object StructuralChemistry extends Chemistry {
  private val cacheMax = 200000
  // per-JVM (per-executor) caches; "" marks a None result
  @transient private lazy val canonCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  @transient private lazy val noMapsCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def memo(cache: java.util.concurrent.ConcurrentHashMap[String, String],
      s: String)(compute: String => Option[String]): Option[String] = {
    val hit = cache.get(s)
    if (hit != null) { if (hit.isEmpty) None else Some(hit) }
    else {
      val r = compute(s)
      if (cache.size < cacheMax) cache.put(s, r.getOrElse(""))
      r
    }
  }

  private def cachedCanonical(s: String): Option[String] =
    if (s == null) None else memo(canonCache, s)(Smiles.canonical)

  @transient private lazy val tmCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  def canonicalString(s: String): String = cachedCanonical(s).orNull

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

  private val canonU = udf((s: String) => canonicalString(s))
  private val canonNoMapsU = udf((s: String) =>
    (if (s == null) None else memo(noMapsCache, s)(Smiles.canonicalNoMaps)).orNull)
  private val resolvableU = udf((s: String) => cachedCanonical(s).isDefined)
  private val tmU = udf((s: String) => containsTransitionMetal(s))

  def canonicalize(c: Column): Column = canonU(c)
  def canonicalizeNoMaps(c: Column): Column = canonNoMapsU(c)
  def isResolvable(c: Column): Column = resolvableU(c)
  def hasTransitionMetal(c: Column): Column = tmU(c)

  /** Unparsable → zero vector (gen_fp/fingerprints.py:46-54 semantics). */
  def fingerprint(c: Column, nBits: Int): Column = {
    val u = udf((s: String) =>
      Smiles.morganBits(s, 3, nBits).map(_.toSeq)
        .getOrElse(Seq.fill(nBits)(0)))
    u(c)
  }
}
