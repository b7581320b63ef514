package graft.extract

import scala.collection.mutable

/** Minimal SMILES parser + canonicalizer (E13 — the chemistry boundary,
  * extract/canonicalise.py:12-72 is an RDKit round-trip; this is an
  * independent structural implementation over a documented SMILES subset).
  *
  * Scope: organic-subset and bracket atoms (isotope, charge, explicit H,
  * atom map), single/double/triple/aromatic bonds, branches, ring closures
  * (incl. %nn). Canonical form = Morgan-style invariant refinement with
  * deterministic tie-breaking, emitted as a rank-ordered DFS; disconnected
  * components canonicalize independently and sort. Guarantees: idempotent;
  * invariant under atom re-ordering / alternative ring numbering / branch
  * order of the SAME graph (spec-locked with a randomized re-writer).
  *
  * Normalization (matching the RDKit round-trip the reference performs):
  *
  *  - '''Implicit hydrogens are made structural.''' Every parsed atom gets a
  *    concrete total-H count — bracket atoms as written, organic-subset
  *    atoms by the Daylight valence rule (smallest standard valence ≥ bond
  *    order sum). Canonical ranking uses that count, so `[CH4]` ≡ `C`,
  *    `[NH3]` ≡ `N`, `[CH3]C` ≡ `CC`. Emission re-derives the reader's
  *    default and brackets only atoms the bare form cannot represent
  *    (isotope/charge/map, non-default H like `[CH3]` radical or `[nH]`).
  *  - '''Kekulized rings are aromatized.''' 5-, 6- and 7-membered rings
  *    over aromatic-capable atoms (B C N O P S) are tested with a
  *    Hückel-style electron count (in-conjugation double bond → 1 e⁻,
  *    pyrrole-type N/P/O/S lone pair → 2 e⁻, exocyclic double / B / C⁺ →
  *    0 e⁻; 4n+2 passes) and rewritten to aromatic form, iterating to a
  *    fixpoint so fused systems (naphthalene, indole, quinoline) resolve
  *    ring by ring; rings sharing one edge whose individual counts fail
  *    are re-tested as a combined perimeter system (azulene). So
  *    `C1=CC=CC=C1` ≡ `c1ccccc1`, `C1=CC=CN1` ≡ `c1cc[nH]c1`, tropylium
  *    `C1=CC=CC=C[CH+]1` ≡ `[cH+]1cccccc1`, while quinones,
  *    cyclohexadienes, cycloheptatriene and other non-aromatic rings keep
  *    their double bonds.
  *
  *  - '''Tetrahedral stereo is canonicalized.''' `@`/`@@` parse as a parity
  *    relative to the written neighbor order (with the OpenSMILES
  *    implicit-H / lone-pair phantom slot), and emission re-derives the
  *    flag for the canonical neighbor order by permutation parity — so
  *    every writing of the same configuration emits one canonical string,
  *    and enantiomers stay distinct. Flags on non-stereogenic centers
  *    (rank-equivalent substituents) are dropped, like RDKit's cleanup.
  *  - '''Double-bond (E/Z) stereo is canonicalized.''' `/`/`\` marks parse
  *    into per-bond side relations; meaningless or incomplete marks are
  *    dropped; and emission re-anchors each conjugated stereo system's
  *    sign at its rank-lowest end (the absolute signs are
  *    writing-dependent: `F/C=C/F` ≡ `F\C=C\F`), so every writing of a
  *    configuration emits one canonical string and E ≠ Z.
  *
  * Ring-bond E/Z follows RDKit: direction marks on ring-closure digits
  * (macrocycle cis/trans across a back-edge) parse and canonicalize like
  * chain marks — emission carries them on the closure digits — while
  * marks on bonds in rings smaller than 8 are dropped (the ring forces
  * the geometry). Contradictory double-marked closures fail the parse
  * and degrade to identity passthrough.
  *
  * Pseudo-asymmetric (r/s) centers are KEPT like RDKit keeps them: the
  * stereo-descriptor refinement splits enantiomorphic branches into
  * distinct rank classes, so the dependent center's neighbors no longer
  * tie and its flag survives cleaning — the two meso diastereomers of
  * pentane-2,3,4-triol canonicalize distinctly while the chiral pair
  * cleans C3 (SmilesSpec locks this).
  *
  *  - '''Axial (cumulene) stereo is canonicalized''' (r9): a 2-connected
  *    `[C@]`/`[C@@]` between two double bonds parses as extended
  *    tetrahedral parity over the four far substituents on the cumulated
  *    chain's TERMINI (per-end phantom slots for implicit H) — allene
  *    directly, longer ODD cumulenes (pentatetraene, ...) by walking the
  *    chain to its sp2 ends. It refines and cleans like tetrahedral
  *    centers (two identical substituents on either end kill the axis),
  *    and emission re-derives the flag for the output's written order —
  *    AlleneStereoSpec + CumuleneStereoSpec lock writer-invariance and
  *    enantiomer distinctness. EVEN cumulenes carry planar (E/Z-like)
  *    stereo, not axial: a chiral flag there is out of subset
  *    (passthrough), and directional marks around them are dropped like
  *    RDKit's legacy perception drops them (stereo bonds must carry
  *    marks on both immediate ends).
  *
  * Documented boundaries (vs RDKit): a kekulé assignment of a large
  * fused polycycle in which neither any single 5/6/7-ring nor any
  * one-edge-fused ring pair reaches 4n+2 even iteratively stays
  * kekulized (three-plus-ring perimeter systems are not re-tested;
  * aromatic WRITINGS of such systems keep their claimed flags via the
  * kekulize-then-reperceive fallback).
  */
object Smiles {

  /** `hCount` is the concrete total hydrogen count — parseComponent fills
    * it in for organic-subset atoms via [[readerImplicitH]]. `chiral`:
    * 0 = none, 1 = `@`, 2 = `@@` — as WRITTEN; the config it denotes is
    * only meaningful together with [[Mol.nbOrder]]. `chiralClass`: the
    * NAMED shape class as written — 0 = bare `@`/`@@` (shape inferred
    * from geometry), 1 = `@TH1`/`@TH2` (must resolve tetrahedral), 2 =
    * `@AL1`/`@AL2` (must resolve to a cumulene axial center). Parse-time
    * metadata only — stripped after shape validation so it never leaks
    * into canonical comparisons. */
  final case class Atom(elem: String, aromatic: Boolean, isotope: Int,
      charge: Int, hCount: Int, atomMap: Int, chiral: Int = 0,
      chiralClass: Int = 0)
  /** order: 1, 2, 3; 4 = aromatic. `dir`: E/Z direction mark on a single
    * bond in a→b orientation — +1 = `/`, -1 = `\`, 0 = none. */
  final case class Bond(a: Int, b: Int, order: Int, dir: Int = 0)
  /** `nbOrder`: per atom, its neighbors in WRITTEN order (preceding atom,
    * then ring-closure partners at their digit positions, then branch/chain
    * atoms), with `-1` marking the implicit-H / lone-pair phantom slot of a
    * chiral atom (OpenSMILES: first if the atom has no preceding atom, else
    * immediately after it). Only consulted for chiral atoms. */
  final case class Mol(atoms: Vector[Atom], bonds: Vector[Bond],
      nbOrder: Vector[Vector[Int]] = Vector.empty) {
    lazy val adj: Vector[Vector[(Int, Int)]] = { // atom -> (neighbor, order)
      val m = Vector.fill(atoms.length)(mutable.ArrayBuffer[(Int, Int)]())
      bonds.foreach { bd => m(bd.a) += ((bd.b, bd.order)); m(bd.b) += ((bd.a, bd.order)) }
      m.map(_.toVector)
    }
  }

  private val organicSubset = Set("B", "C", "N", "O", "P", "S", "F", "Cl", "Br", "I")
  private val aromaticSubset = Set("b", "c", "n", "o", "p", "s")
  private val twoLetter = Set("Cl", "Br")

  /** Transition metals by symbol (atomic number ∈ [22,29]∪[40,47]∪[72,79],
    * extract/defaults.py:10-39). */
  val transitionMetals: Set[String] = Set(
    "Ti", "V", "Cr", "Mn", "Fe", "Co", "Ni", "Cu",
    "Zr", "Nb", "Mo", "Tc", "Ru", "Rh", "Pd", "Ag",
    "Hf", "Ta", "W", "Re", "Os", "Ir", "Pt", "Au")

  // ---- implicit hydrogens --------------------------------------------------

  private val defaultValences: Map[String, Seq[Int]] = Map(
    "B" -> Seq(3), "C" -> Seq(4), "N" -> Seq(3, 5), "O" -> Seq(2),
    "P" -> Seq(3, 5), "S" -> Seq(2, 4, 6),
    "F" -> Seq(1), "Cl" -> Seq(1), "Br" -> Seq(1), "I" -> Seq(1))

  /** H count a SMILES reader infers for the BARE (unbracketed) form of this
    * atom given its incident bond orders. Aromatic atoms: each aromatic bond
    * counts 1 plus one valence unit for the π system (benzene `c` → 1,
    * fusion `c` → 0, pyridine `n` → 0 — which is why pyrrole N must be
    * written `[nH]`). Returns -1 for elements with no bare form.
    */
  private def readerImplicitH(a: Atom, orders: Seq[Int]): Int =
    defaultValences.get(a.elem) match {
      case None => -1 // non-subset elements are always bracketed
      case Some(vals) =>
        if (a.aromatic) {
          val s = orders.map(o => if (o == 4) 1 else o).sum + 1
          math.max(0, vals.head - s)
        } else {
          val s = orders.map(o => if (o == 4) 1 else o).sum
          vals.find(_ >= s).map(_ - s).getOrElse(0)
        }
    }

  // ---- parser --------------------------------------------------------------

  /** Parse one component (no '.'). None on anything outside the subset.
    * Organic-subset atoms come back with their implicit H count made
    * concrete (hCount ≥ 0 for every atom).
    */
  def parseComponent(s: String): Option[Mol] = {
    if (s.isEmpty) return None
    val atoms = mutable.ArrayBuffer[Atom]()
    val bonds = mutable.ArrayBuffer[Bond]()
    val implicitH = mutable.ArrayBuffer[Boolean]() // subset atoms: H not yet known
    val hadPreceder = mutable.ArrayBuffer[Boolean]()
    val nbOrder = mutable.ArrayBuffer[mutable.ArrayBuffer[Int]]()
    val stack = mutable.Stack[Int]()
    val ringOpen = mutable.Map[Int, (Int, Int, Int)]() // ring# -> (atom, order, dir)
    var prev = -1
    var pendingOrder = 0 // 0 = unset (default)
    var pendingDir = 0 // +1 = '/', -1 = '\' (E/Z mark on a single bond)
    var dirConflict = false // both ring ends marked with contradictory dirs
    var i = 0

    def defaultOrder(a: Int, b: Int): Int =
      if (atoms(a).aromatic && atoms(b).aromatic) 4 else 1

    def addBond(a: Int, b: Int, explicit: Int, dir: Int): Unit = {
      val o = if (explicit != 0) explicit else defaultOrder(a, b)
      bonds += Bond(a, b, o, if (o == 1) dir else 0)
    }

    def addAtom(a: Atom, hImplicit: Boolean): Unit = {
      atoms += a
      implicitH += hImplicit
      nbOrder += mutable.ArrayBuffer[Int]()
      hadPreceder += (prev >= 0)
      val idx = atoms.length - 1
      if (prev >= 0) {
        addBond(prev, idx, pendingOrder, pendingDir)
        pendingOrder = 0; pendingDir = 0
        nbOrder(prev) += idx
        nbOrder(idx) += prev
      }
      prev = idx
    }

    def ringBond(n: Int): Unit = {
      ringOpen.remove(n) match {
        case Some((other, opening, dirOpen)) =>
          // bond type may be written at either end; they must agree if both
          val o = if (pendingOrder != 0) pendingOrder
            else if (opening != 0) opening else 0
          // direction marks may sit at either digit (or both): the opening
          // mark reads opener→closer (= a→b as stored); the closing mark
          // reads closer→opener, so it lands in a→b as its negation. Marks
          // at both ends must denote the same side (OpenSMILES: one '/'
          // and one '\'), else the SMILES is contradictory.
          val dirClose = -pendingDir
          if (dirOpen != 0 && dirClose != 0 && dirOpen != dirClose)
            dirConflict = true
          addBond(other, prev, o, if (dirOpen != 0) dirOpen else dirClose)
          pendingOrder = 0; pendingDir = 0
          // written-order bookkeeping: the closer sees the partner at this
          // digit; the opener reserved the slot at ITS digit position
          nbOrder(prev) += other
          val slot = nbOrder(other).indexOf(-(100 + n))
          if (slot >= 0) nbOrder(other)(slot) = prev
        case None =>
          ringOpen(n) = (prev, pendingOrder, pendingDir)
          pendingOrder = 0; pendingDir = 0
          nbOrder(prev) += -(100 + n) // placeholder until the ring closes
      }
    }

    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '(' =>
          if (prev < 0) return None
          stack.push(prev); i += 1
        case ')' =>
          if (stack.isEmpty) return None
          prev = stack.pop(); i += 1
        case '-' => pendingOrder = 1; i += 1
        case '=' => pendingOrder = 2; i += 1
        case '#' => pendingOrder = 3; i += 1
        case ':' => pendingOrder = 4; i += 1
        case '/' => pendingOrder = 1; pendingDir = 1; i += 1
        case '\\' => pendingOrder = 1; pendingDir = -1; i += 1
        case d if d.isDigit =>
          if (prev < 0) return None
          ringBond(d - '0'); i += 1
        case '%' =>
          if (i + 2 >= s.length || !s.charAt(i + 1).isDigit || !s.charAt(i + 2).isDigit)
            return None
          ringBond((s.charAt(i + 1) - '0') * 10 + (s.charAt(i + 2) - '0'))
          i += 3
        case '[' =>
          val close = s.indexOf(']', i)
          if (close < 0) return None
          parseBracket(s.substring(i + 1, close)) match {
            case Some(a) => addAtom(a, hImplicit = false)
            case None => return None
          }
          i = close + 1
        case _ =>
          // organic subset (two-letter first)
          val two = if (i + 1 < s.length) s.substring(i, i + 2) else ""
          if (twoLetter(two)) { addAtom(Atom(two, aromatic = false, 0, 0, 0, 0), hImplicit = true); i += 2 }
          else {
            val one = c.toString
            if (organicSubset(one)) { addAtom(Atom(one, aromatic = false, 0, 0, 0, 0), hImplicit = true); i += 1 }
            else if (aromaticSubset(one)) { addAtom(Atom(one.toUpperCase, aromatic = true, 0, 0, 0, 0), hImplicit = true); i += 1 }
            else return None // incl. stereo /\, '@' outside brackets, unknown
          }
      }
    }
    if (stack.nonEmpty || ringOpen.nonEmpty || atoms.isEmpty ||
      pendingOrder != 0 || dirConflict) None
    else {
      val mol0 = Mol(atoms.toVector, bonds.toVector)
      val resolved = mol0.atoms.zipWithIndex.map { case (a, idx) =>
        if (implicitH(idx))
          a.copy(hCount = math.max(0, readerImplicitH(a, mol0.adj(idx).map(_._2))))
        else a
      }
      // resolve chiral phantoms: a 3-connected chiral atom's implicit H (or
      // lone pair) occupies the OpenSMILES phantom slot; 4-connected needs
      // none. A 2-connected `[C@]`/`[C@@]` with two double bonds is an
      // ALLENE axial center (the @AL1/@AL2 aliases): its stereo references
      // the four substituents on the two sp2 ENDS, so each end with an
      // implicit H gets an end-tagged phantom slot in ITS neighbor order
      // (same preceder rule as tetrahedral). Anything else with a flag is
      // stereo outside the subset → None (canonical() falls back to
      // identity passthrough for '@'-bearing inputs).
      var ok = true
      resolved.zipWithIndex.foreach { case (a, idx) =>
        if (a.chiral != 0) {
          val deg = nbOrder(idx).length
          val axialShape = deg == 2 && a.hCount == 0 && a.elem == "C" &&
            mol0.adj(idx).forall(_._2 == 2)
          // a NAMED class must match the resolved geometry: @TH* on a
          // tetrahedral center, @AL* on a cumulene axial center. A
          // mismatch (e.g. [C@AL1] with four single-bond neighbors)
          // degrades to identity passthrough instead of silently
          // canonicalizing under the wrong shape class.
          if (a.chiralClass == 2 && !axialShape) ok = false
          else if (a.chiralClass == 1 && axialShape) ok = false
          else if (deg == 3 && a.hCount <= 1)
            nbOrder(idx).insert(if (hadPreceder(idx)) 1 else 0, -1)
          else if (axialShape) {
            // axial candidate: walk the cumulated chain outward on both
            // sides to its sp2 termini (allene = 1 step, pentatetraene =
            // 2, ...). Both walks must be the same length — the mark sits
            // on the true center of an ODD cumulene; a mark anywhere else
            // (even cumulene, off-center) is out of subset. Each terminus
            // needs two substituent slots (explicit + implicit H), all
            // single bonds. Phantom sentinel -2-end is end-unique so the
            // two phantoms stay distinguishable inside one 4-atom parity
            // list. This gate must stay in sync with axialWrittenSubs
            // (the walk perception and emission share).
            val walks = mol0.adj(idx).map { case (n0, _) =>
              cumuleneWalk(resolved(_), mol0.adj(_), idx, n0)
            }
            if (walks(0)._3 != walks(1)._3) ok = false
            else walks.foreach { case (e, p, _) =>
              val subs = mol0.adj(e).filter(_._1 != p)
              val eh = resolved(e).hCount
              if (subs.length + eh != 2 || eh > 1 ||
                  subs.exists(_._2 != 1) || resolved(e).chiral != 0)
                ok = false
              else if (eh == 1)
                nbOrder(e).insert(if (hadPreceder(e)) 1 else 0, -2 - e)
            }
          }
          else if (!(deg == 4 && a.hCount == 0)) ok = false
        }
      }
      if (!ok) None
      // class validated — strip it so writing-dependent parse metadata
      // never reaches canonical comparisons ([C@] ≡ [C@TH1] downstream)
      else normalizeEz(Mol(resolved.map(a =>
        if (a.chiralClass == 0) a else a.copy(chiralClass = 0)),
        mol0.bonds, nbOrder.map(_.toVector).toVector))
    }
  }

  /** Walk a cumulated chain outward from axial center `c` through its
    * double-bond neighbor `first`: interior atoms are bare cumulene
    * carbons (2-connected, both bonds double, no H/charge/flag, not
    * aromatic); the walk stops at the first atom that is not one.
    * Returns (terminus, partner, steps) where `partner` is the chain atom
    * the terminus bonds back to and `steps` counts double bonds
    * traversed — equal step counts on both sides ⟺ the mark sits on the
    * true center of an odd cumulene (allene steps=1, pentatetraene
    * steps=2, ...). Always terminates: interiors have degree 2, so a
    * revisit would require a cycle, and any cumulated cycle re-enters
    * through the flagged center, which is never interior. */
  private def cumuleneWalk(atom: Int => Atom, adj: Int => Vector[(Int, Int)],
      c: Int, first: Int): (Int, Int, Int) = {
    def interior(i: Int): Boolean = {
      val a = atom(i)
      a.elem == "C" && !a.aromatic && a.charge == 0 && a.hCount == 0 &&
        a.chiral == 0 && adj(i).length == 2 && adj(i).forall(_._2 == 2)
    }
    var prev = c
    var cur = first
    var steps = 1
    var done = false
    while (!done && interior(cur)) {
      adj(cur).collectFirst { case (x, _) if x != prev => x } match {
        case Some(nxt) => prev = cur; cur = nxt; steps += 1
        case None => done = true // parallel-edge degenerate; cur fails as terminus
      }
    }
    (cur, prev, steps)
  }

  /** The two (terminus, partner) pairs of axial center `c`, one per
    * direction in `c`'s WRITTEN neighbor order. Only meaningful for
    * parser-validated centers (2-connected, both bonds double). */
  private def axialDirEnds(mol: Mol, c: Int): Vector[(Int, Int)] =
    mol.nbOrder(c).toVector.map { n0 =>
      val (e, p, _) = cumuleneWalk(mol.atoms(_), mol.adj(_), c, n0)
      (e, p)
    }

  /** Per-direction terminus substituents of axial center `c` in WRITTEN
    * order (end phantoms included, chain partner excluded) — the
    * 2+2-element reference list the center's parity flag is relative to.
    * Shared by rank perception and emission so parse-time and emit-time
    * parity can never desynchronize. */
  private def axialWrittenSubs(mol: Mol, c: Int): Vector[Vector[Int]] =
    axialDirEnds(mol, c).map { case (e, p) =>
      mol.nbOrder(e).toVector.filter(_ != p)
    }

  // ---- E/Z double-bond stereo ----------------------------------------------

  /** s-value of neighbor `x` approaching end-atom `atom`: dir(x→atom).
    * Bonds store dir in a→b orientation. */
  private def sTo(b: Bond, atom: Int): Int = if (b.b == atom) b.dir else -b.dir

  /** Size of the smallest ring containing edge (a,b): BFS shortest
    * alternative path between the endpoints, avoiding the direct edge.
    * Int.MaxValue when the edge is not in any cycle. */
  private def minRingSize(mol: Mol, a: Int, b: Int): Int = {
    val dist = Array.fill(mol.atoms.length)(-1)
    dist(a) = 0
    val q = mutable.Queue(a)
    while (q.nonEmpty) {
      val u = q.dequeue()
      mol.adj(u).foreach { case (v, _) =>
        if (!(u == a && v == b) && dist(v) < 0) {
          dist(v) = dist(u) + 1
          q.enqueue(v)
        }
      }
    }
    if (dist(b) < 0) Int.MaxValue else dist(b) + 1
  }

  /** A double bond can carry E/Z only outside rings smaller than 8
    * (RDKit's minimum ring size for bond stereo: cis is geometrically
    * forced below that, so marks there are redundant and must not split
    * canonical classes). */
  private def ezCapable(mol: Mol, a: Int, b: Int): Boolean =
    minRingSize(mol, a, b) >= 8

  /** Validate direction marks and clear the meaningless ones. A double bond
    * is stereo-specified only when BOTH ends carry a mark; marks serving no
    * such bond (lone marks, marks next to triple bonds or allene centers,
    * marks around a small-ring double bond) are dropped like RDKit drops
    * them. Two marks on the same end must claim opposite sides, else the
    * SMILES is contradictory → None. */
  private def normalizeEz(mol: Mol): Option[Mol] = {
    val marked = mol.bonds.zipWithIndex.filter(_._1.dir != 0)
    if (marked.isEmpty) return Some(mol)
    val keep = mutable.Set[Int]()
    mol.bonds.foreach { db =>
      if (db.order == 2 && ezCapable(mol, db.a, db.b)) {
        val sides = Seq(db.a, db.b).map { e =>
          marked.filter { case (sb, _) => sb.a == e || sb.b == e }
        }
        if (sides.forall(_.nonEmpty)) {
          sides.zip(Seq(db.a, db.b)).foreach { case (ms, e) =>
            if (ms.length > 2) return None
            if (ms.length == 2 && sTo(ms(0)._1, e) == sTo(ms(1)._1, e))
              return None // both substituents claim the same side
          }
          sides.flatten.foreach { case (_, i) => keep += i }
        }
      }
    }
    Some(Mol(mol.atoms, mol.bonds.zipWithIndex.map { case (b, i) =>
      if (b.dir != 0 && !keep(i)) b.copy(dir = 0) else b
    }, mol.nbOrder))
  }

  /** Perceive stereo double bonds: (a, b) pairs plus the s-value of EVERY
    * real substituent around each live end (marked bonds give theirs; the
    * sibling substituent is the opposite side). */
  private def ezPerception(mol: Mol)
      : (Vector[(Int, Int)], Map[(Int, Int), Int]) = {
    val marked = mol.bonds.filter(b => b.dir != 0 && b.order == 1)
    if (marked.isEmpty) return (Vector.empty, Map.empty)
    val side = mutable.Map[(Int, Int), Int]() // (end, subst) -> s-value
    val stereo = mutable.ArrayBuffer[(Int, Int)]()
    mol.bonds.foreach { db =>
      if (db.order == 2 && ezCapable(mol, db.a, db.b)) {
        val ok = Seq(db.a, db.b).forall { e =>
          marked.exists(sb => sb.a == e || sb.b == e)
        }
        if (ok) {
          stereo += ((db.a, db.b))
          Seq(db.a, db.b).foreach { e =>
            val other = if (e == db.a) db.b else db.a
            marked.filter(sb => sb.a == e || sb.b == e).foreach { sb =>
              val x = if (sb.a == e) sb.b else sb.a
              side((e, x)) = sTo(sb, e)
            }
            // the unmarked sibling substituent sits on the opposite side
            val subst = mol.adj(e).map(_._1).filter(_ != other)
            if (subst.length == 2) {
              (subst.find(x => side.contains((e, x))), subst.find(x => !side.contains((e, x)))) match {
                case (Some(m), Some(u)) => side((e, u)) = -side((e, m))
                case _ => ()
              }
            }
          }
        }
      }
    }
    (stereo.toVector, side.toMap)
  }

  /** Canonically re-anchored direction marks for the substituent bonds of
    * live stereo double bonds, as (parent, child)-oriented dirs. The
    * parsed marks' absolute signs are writing-dependent (`F/C=C/F` ≡
    * `F\C=C\F`), so only the same/opposite-side RELATIONS survive; each
    * connected stereo system (conjugated dienes share mark bonds) is
    * re-anchored at its rank-lowest end's rank-lowest substituent and
    * propagated, giving one canonical sign choice per system. Substituent
    * bonds may be tree edges OR ring bonds (macrocycle E/Z): emission
    * renders the former inline and the latter on ring-closure digits; the
    * emission tree itself is rank-determined, so the rendered string is
    * identical for every writing of the molecule.
    */
  private def ezAssign(mol: Mol, ranks: Array[Int]): Map[(Int, Int), Int] = {
    val (stereo, side) = ezPerception(mol)
    if (stereo.isEmpty) return Map.empty
    // every perceived stereo bond carries a mark on each side, so each end
    // has at least one substituent — all renderable
    val live = stereo
    // constraint graph over variables v(e,x) = dir(x→e)
    val edges = mutable.Map[(Int, Int), mutable.ArrayBuffer[((Int, Int), Int)]]()
    def addEdge(k1: (Int, Int), k2: (Int, Int), sign: Int): Unit = {
      edges.getOrElseUpdate(k1, mutable.ArrayBuffer()) += ((k2, sign))
      edges.getOrElseUpdate(k2, mutable.ArrayBuffer()) += ((k1, sign))
    }
    live.foreach { case (a, b) =>
      Seq((a, b), (b, a)).foreach { case (e, o) =>
        val subs = mol.adj(e).map(_._1).filter(_ != o)
        if (subs.length == 2) addEdge((e, subs(0)), (e, subs(1)), -1)
      }
      val sa = mol.adj(a).map(_._1).filter(_ != b)
      val sb2 = mol.adj(b).map(_._1).filter(_ != a)
      for {
        x <- sa.find(x => side.contains((a, x)))
        y <- sb2.find(y => side.contains((b, y)))
      } addEdge((a, x), (b, y), if (side((a, x)) == side((b, y))) 1 else -1)
    }
    // a substituent bond shared between two stereo systems couples them:
    // dir(x→e) = -dir(e→x)
    edges.keySet.toVector.foreach { case (e, x) =>
      if (edges.contains((x, e))) addEdge((e, x), (x, e), -1)
    }
    val v = mutable.Map[(Int, Int), Int]()
    val ordered = live.sortBy { case (a, b) =>
      (math.min(ranks(a), ranks(b)), math.max(ranks(a), ranks(b)))
    }
    ordered.foreach { case (a, b) =>
      val (eLow, oLow) = if (ranks(a) <= ranks(b)) (a, b) else (b, a)
      val anchor = (eLow,
        mol.adj(eLow).map(_._1).filter(_ != oLow).minBy(ranks(_)))
      if (!v.contains(anchor)) {
        v(anchor) = 1
        val q = mutable.Queue(anchor)
        while (q.nonEmpty) {
          val k = q.dequeue()
          val dk = v(k)
          edges.getOrElse(k, mutable.ArrayBuffer.empty).foreach { case (k2, sign) =>
            if (!v.contains(k2)) { v(k2) = dk * sign; q.enqueue(k2) }
          }
        }
      }
    }
    val out = mutable.Map[(Int, Int), Int]()
    v.foreach { case ((e, x), d) =>
      out((x, e)) = d; out((e, x)) = -d
    }
    out.toMap
  }

  /** `[isotope? symbol @|@@? H<n>? charge? :map?]` — `@TH1`-style named
    * stereo classes stay out of the subset (→ None). */
  private def parseBracket(b: String): Option[Atom] = {
    var i = 0
    def digits(): Int = {
      val st = i
      while (i < b.length && b.charAt(i).isDigit) i += 1
      if (i == st) -1 else b.substring(st, i).toInt
    }
    val isotope = math.max(digits(), 0)
    if (i >= b.length) return None
    // element symbol: uppercase+lowercase?, or aromatic lowercase
    val (elem, aromatic) = {
      val c = b.charAt(i)
      if (c.isUpper) {
        // a lowercase letter after an uppercase one is always part of the
        // element symbol inside brackets (H-count is uppercase 'H') — no
        // exclusions, or two-letter elements ending in 'h' (Rh, Th) break
        val two = if (i + 1 < b.length && b.charAt(i + 1).isLower)
          b.substring(i, i + 2) else c.toString
        i += two.length
        (two, false)
      } else if (aromaticSubset(c.toString)) {
        i += 1
        (c.toUpper.toString, true)
      } else return None
    }
    var h = 0
    var charge = 0
    var map = 0
    var chiral = 0
    var chiralClass = 0
    if (i < b.length && b.charAt(i) == '@') {
      i += 1
      if (i < b.length && b.charAt(i) == '@') { chiral = 2; i += 1 }
      else chiral = 1
      // named tetrahedral/allene classes carry parity like the bare marks
      // (OpenSMILES: @TH1 = @, @TH2 = @@, @AL1/@AL2 likewise) BUT also
      // assert the shape — the class is recorded here and the resolution
      // step REJECTS a named class on the wrong geometry (@AL on a
      // 4-connected tetrahedral atom must passthrough, not silently
      // canonicalize as @TH); other classes (@SP/@TB/@OH) are out of
      // subset
      if (chiral == 1 && (b.regionMatches(i, "TH", 0, 2) ||
          b.regionMatches(i, "AL", 0, 2))) {
        chiralClass = if (b.charAt(i) == 'T') 1 else 2
        if (b.regionMatches(i + 2, "1", 0, 1)) { i += 3 }
        else if (b.regionMatches(i + 2, "2", 0, 1)) { chiral = 2; i += 3 }
        else return None
      } else if (i < b.length && b.charAt(i).isUpper && b.charAt(i) != 'H')
        return None
    }
    while (i < b.length) {
      b.charAt(i) match {
        case 'H' =>
          i += 1
          val d = digits()
          h = if (d < 0) 1 else d
        case '+' =>
          i += 1
          val d = digits()
          charge += (if (d < 0) { var n = 1; while (i < b.length && b.charAt(i) == '+') { n += 1; i += 1 }; n } else d)
        case '-' =>
          i += 1
          val d = digits()
          charge -= (if (d < 0) { var n = 1; while (i < b.length && b.charAt(i) == '-') { n += 1; i += 1 }; n } else d)
        case ':' =>
          i += 1
          val d = digits()
          if (d < 0) return None
          map = d
        case _ => return None // anything else: out of subset
      }
    }
    Some(Atom(elem, aromatic, isotope, charge, h, map, chiral, chiralClass))
  }

  // ---- aromatization -------------------------------------------------------

  private val aromaticCapable = Set("B", "C", "N", "O", "P", "S")

  /** All simple cycles of length 5, 6 or 7, in cycle order, deduped by
    * atom set. Bounded DFS (each cycle enumerated from its minimum atom
    * only); molecules are small so this is cheap. 7-rings feed the
    * tropylium rule and the fused-pair (azulene) pass; the 4n+2 and
    * sp3 gates keep cycloheptatriene/oxepine/azepine kekulized.
    */
  def simpleRings(mol: Mol): Vector[Vector[Int]] = {
    val n = mol.atoms.length
    val seen = mutable.Set[Set[Int]]()
    val out = mutable.ArrayBuffer[Vector[Int]]()
    val path = mutable.ArrayBuffer[Int]()
    val onPath = new Array[Boolean](n)
    def dfs(start: Int, a: Int): Unit = {
      path += a; onPath(a) = true
      mol.adj(a).foreach { case (b, _) =>
        if (b == start && path.length >= 5) {
          if (seen.add(path.toSet)) out += path.toVector
        } else if (!onPath(b) && b > start && path.length < 7) dfs(start, b)
      }
      path.remove(path.length - 1); onPath(a) = false
    }
    (0 until n).foreach(s => dfs(s, s))
    out.toVector
  }

  /** Resolve the input's aromatic-bond claims into one explicit kekulé
    * assignment: every aromatic atom that still needs a valence unit gets
    * exactly one double bond among its aromatic bonds (perfect matching,
    * first solution by backtracking), the rest become single, and all
    * aromatic flags clear. None when an aromatic atom's element/charge is
    * outside the subset or no valence-consistent matching exists — the
    * caller then trusts the input flags as written. This is the front
    * half of RDKit's sanitize contract (kekulize, then re-perceive):
    * without it an input claiming an aromatic bond the kekulé structure
    * doesn't support (a link bond written without `-`) canonicalizes
    * differently from the kekulized writings of the same molecule. */
  /** Double bonds this aromatic atom still needs in a kekulé assignment:
    * effective valence (charge-adjusted) minus hydrogens, non-aromatic
    * bond orders, and one σ unit per aromatic bond. Valid kekulé atoms
    * come out 0 or 1; anything else marks the atom outside the
    * kekulizable subset. Shared with KekuleInvarianceSpec's exhaustive
    * matcher so the spec enumerates exactly the universe [[kekulize]]
    * solves. */
  def kekulizeNeed(mol: Mol, i: Int): Int = {
    val a = mol.atoms(i)
    val vEff = (a.elem, a.charge) match {
      case (e, 0) => defaultValences.get(e).map(_.head).getOrElse(-99)
      case ("C", 1) | ("C", -1) => 3
      case ("N", 1) | ("P", 1) => 4
      case ("N", -1) => 2
      case ("O", 1) | ("S", 1) => 3
      case ("O", -1) | ("S", -1) => 1
      case _ => -99
    }
    val nonArom = mol.adj(i).collect { case (_, o) if o != 4 => o }.sum
    val aromDeg = mol.adj(i).count(_._2 == 4)
    vEff - a.hCount - nonArom - aromDeg
  }

  def kekulize(mol: Mol): Option[Mol] = {
    if (!mol.atoms.exists(_.aromatic)) return Some(mol)
    def ek(a: Int, b: Int) = if (a < b) (a, b) else (b, a)
    val need = new Array[Int](mol.atoms.length)
    var i = 0
    while (i < mol.atoms.length) {
      if (mol.atoms(i).aromatic) {
        need(i) = kekulizeNeed(mol, i)
        if (need(i) < 0 || need(i) > 1) return None
      }
      i += 1
    }
    val want = mol.atoms.indices.filter(j => mol.atoms(j).aromatic && need(j) == 1)
    val adj: Map[Int, Seq[Int]] = want.map { a =>
      a -> mol.adj(a).collect {
        case (b, 4) if mol.atoms(b).aromatic && need(b) == 1 => b }
    }.toMap
    var found: Option[Set[(Int, Int)]] = None
    // Backtrack budget: min-first matching finds a perfect matching of a
    // real aromatic system near-linearly, but an adversarial/degenerate
    // aromatic claim with NO perfect matching could force exponential
    // exhaustion. Past the budget we stop and return None — the sanitize
    // path then trusts the input's aromatic flags, the same degradation
    // as a proven non-matching (and the bounded-enumeration discipline
    // the test-side matcher already applies). Known corner: a CONSTRUCTED
    // molecule that both needs >budget steps AND has a matching would
    // skip the kekulize-then-reperceive repair for this writing only — an
    // input-order-dependent split accepted as the price of bounded time;
    // no chemical-graph input approaches the budget.
    var steps = 0L
    def go(free: Set[Int], acc: List[(Int, Int)]): Unit =
      if (found.isDefined || steps > 500000L) ()
      else if (free.isEmpty) found = Some(acc.toSet)
      else {
        steps += 1
        val a = free.min
        adj(a).foreach { b =>
          if (found.isEmpty && free(b)) go(free - a - b, ek(a, b) :: acc)
        }
      }
    go(want.toSet, Nil)
    found.map { m =>
      Mol(
        mol.atoms.map(_.copy(aromatic = false)),
        mol.bonds.map { b =>
          if (b.order == 4) Bond(b.a, b.b, if (m(ek(b.a, b.b))) 2 else 1)
          else b
        },
        mol.nbOrder)
    }
  }

  /** Hückel-style aromatization to a fixpoint (see object scaladoc). The
    * reference gets this from RDKit's SanitizeMol aromaticity perception
    * (extract/canonicalise.py:12-31); this is an independent 5/6-ring
    * electron-counting implementation.
    *
    * Sanitize order follows RDKit: first [[kekulize]] the input's
    * aromatic claims, then re-perceive from the explicit structure. The
    * re-perceived form is used when it reproduces the claimed aromatic
    * ATOM set (it then also carries the consistent BOND set, fixing
    * writings that claim an aromatic bond the kekulé can't support);
    * when perception is weaker than the claim (macrocyclic or exotic
    * systems outside the 5/6/7-ring model) the input's flags are trusted
    * as written, preserving identity for systems the model doesn't
    * cover.
    */
  def aromatize(mol0: Mol): Mol = {
    val claimed = mol0.atoms.zipWithIndex.collect {
      case (a, i) if a.aromatic => i }.toSet
    if (claimed.isEmpty) return aromatizeCore(mol0)
    kekulize(mol0) match {
      case Some(k) =>
        val re = aromatizeCore(k)
        val perceived = re.atoms.zipWithIndex.collect {
          case (a, i) if a.aromatic => i }.toSet
        if (perceived == claimed) re else aromatizeCore(mol0)
      case None => aromatizeCore(mol0)
    }
  }

  private def aromatizeCore(mol: Mol): Mol = {
    val rings = simpleRings(mol)
    if (rings.isEmpty) return mol
    def ek(a: Int, b: Int): (Int, Int) = if (a < b) (a, b) else (b, a)
    val n = mol.atoms.length
    val arom = Array.tabulate(n)(mol.atoms(_).aromatic)
    val order = mutable.Map[(Int, Int), Int]()
    mol.bonds.foreach(b => order(ek(b.a, b.b)) = b.order)
    val degree = Array.tabulate(n)(mol.adj(_).length)

    val inAnyRing: Set[Int] = rings.flatten.toSet

    /** Hückel count over `cycle` with endocyclic membership `rs`:
      * Some(electrons) when every atom is sp2-compatible, None otherwise.
      * `strictExo` (7-rings and fused perimeters): an atom whose only
      * double bond leaves the ring SYSTEM entirely (tropone's C=O,
      * heptafulvene's =CH2) disqualifies the cycle — without it, 3
      * endocyclic doubles + one 0-electron exocyclic atom hit 6 e⁻ and
      * wrongly aromatize neutral 7-rings that chemically need the
      * tropylium + charge (5/6-rings never need the gate: their fulvene/
      * quinone analogs fail on 4 e⁻ arithmetic alone). An exocyclic
      * double INTO another ring (azulene's fusion atoms) keeps counting
      * 0-but-eligible, which the fused-perimeter pass then resolves. */
    def countElectrons(cycle: Vector[Int], rs: Set[Int],
        strictExo: Boolean): Option[Int] = {
      var ok = true
      var electrons = 0
      cycle.foreach { a =>
        val at = mol.atoms(a)
        val nbs = mol.adj(a).map { case (b, _) => (b, order(ek(a, b))) }
        val conns = degree(a) + at.hCount
        if (nbs.exists(_._2 == 3) || conns > 3) ok = false
        else if (arom(a)) electrons += 1
        else {
          val doubles = nbs.filter(_._2 == 2)
          if (doubles.nonEmpty) {
            // ENDOCYCLIC double (within this ring) → 1 π e⁻; an
            // exocyclic double to a MORE ELECTRONEGATIVE partner
            // (quinone/pyridone C=O, C=N) → sp2 but 0 π e⁻ — the ring
            // can still reach 4n+2 from its other members (2-pyridone).
            // An exocyclic double to another CARBON disqualifies the
            // single ring outright (RDKit's electronegativity rule):
            // that π electron is committed elsewhere — to a fulvene-type
            // =CR2, or to ANOTHER RING's kekulé system (acenaphthylene's
            // peri-fused 5-ring counted 2 e⁻ over the bridge plus three
            // 0-credit atoms and wrongly fired as a 4n+2, n=0 system,
            // splitting the kekulé writings — r9 find). Fused systems
            // never needed the cross-ring 0-credit to fire per-ring: the
            // ring with full alternation aromatizes first and its atoms
            // then count via the arom(a) branch on the next fixpoint
            // pass, and perimeter systems get their own pass where the
            // partner is inside rs.
            if (doubles.exists { case (b, _) => rs(b) }) electrons += 1
            else if (strictExo &&
                !doubles.exists { case (b, _) => inAnyRing(b) }) ok = false
            else if (!strictExo &&
                doubles.forall { case (b, _) => mol.atoms(b).elem == "C" })
              ok = false
          } else at.elem match {
            case "C" =>
              if (at.charge == -1) electrons += 2 // cyclopentadienyl
              else if (at.charge != 1) ok = false // sp3 carbon (C+ = 0 e⁻:
              // the tropylium empty p orbital)
            case "N" | "P" => electrons += 2 // pyrrole-type lone pair
            case "O" | "S" =>
              if (at.charge == 0 && degree(a) == 2 && at.hCount == 0) electrons += 2
              else ok = false
            case "B" => () // empty p orbital
            case _ => ok = false
          }
        }
      }
      if (ok) Some(electrons) else None
    }

    def ringEdges(ring: Vector[Int]): Seq[(Int, Int)] =
      ring.indices.map(i => ek(ring(i), ring((i + 1) % ring.length)))

    def markAromatic(atoms: Iterable[Int], edges: Iterable[(Int, Int)]): Boolean = {
      var any = false
      atoms.foreach { a => if (!arom(a)) { arom(a) = true; any = true } }
      edges.foreach { e => if (order(e) != 4) { order(e) = 4; any = true } }
      any
    }

    /** Fused-pair candidates: two rings sharing exactly ONE edge, with the
      * perimeter cycle (r1's a→b path avoiding the shared edge, then r2's
      * b→a path). Azulene's 5+7 rings individually count 4 and 6-with-a-
      * hole electrons and never fire, but the 10-atom perimeter carries
      * the full 4n+2 system — the naphthalene-style global perception the
      * per-ring rule can't see. */
    lazy val fusedPairs: Vector[(Vector[Int], Vector[Int], Vector[Int])] = {
      def pathAvoiding(r: Vector[Int], a: Int, b: Int): Vector[Int] = {
        val i = r.indexOf(a)
        val rot = r.drop(i) ++ r.take(i)
        if (rot(1) == b) rot.head +: rot.tail.reverse else rot
      }
      (for {
        i <- rings.indices
        j <- (i + 1) until rings.length
        shared = ringEdges(rings(i)).toSet.intersect(ringEdges(rings(j)).toSet)
        if shared.size == 1
        (a, b) = shared.head
      } yield {
        val p1 = pathAvoiding(rings(i), a, b)
        val p2 = pathAvoiding(rings(j), b, a)
        (rings(i), rings(j), p1 ++ p2.slice(1, p2.length - 1))
      }).toVector
    }

    var changed = true
    while (changed) {
      changed = false
      rings.foreach { ring =>
        val allMarked = ring.forall(arom) && ringEdges(ring).forall(order(_) == 4)
        if (!allMarked && ring.forall(a => aromaticCapable(mol.atoms(a).elem))) {
          countElectrons(ring, ring.toSet, strictExo = ring.length >= 7) match {
            case Some(e) if e % 4 == 2 =>
              if (markAromatic(ring, ringEdges(ring))) changed = true
            case _ => ()
          }
        }
      }
      if (!changed) {
        // azulene-class pass only once the per-ring fixpoint is quiescent:
        // aromatizing marks BOTH rings' atoms and edges (fusion included,
        // so the kekulé and aromatic writings converge to one Mol)
        fusedPairs.foreach { case (r1, r2, perim) =>
          val atoms = (r1 ++ r2).distinct
          val edges = (ringEdges(r1) ++ ringEdges(r2)).distinct
          val allMarked = atoms.forall(arom) && edges.forall(order(_) == 4)
          if (!allMarked && perim.forall(a => aromaticCapable(mol.atoms(a).elem))) {
            countElectrons(perim, perim.toSet, strictExo = true) match {
              case Some(e) if e % 4 == 2 =>
                if (markAromatic(atoms, edges)) changed = true
              case _ => ()
            }
          }
        }
      }
    }
    Mol(
      mol.atoms.zipWithIndex.map { case (a, i) => a.copy(aromatic = arom(i)) },
      mol.bonds.map { b =>
        val o = order(ek(b.a, b.b))
        // a direction mark cannot survive on an aromatized bond
        b.copy(order = o, dir = if (o == 4) 0 else b.dir)
      },
      mol.nbOrder)
  }

  // ---- canonical ranking ---------------------------------------------------

  /** Dense ranks of `keys` in lexicographic order (`java.util.Arrays.compare`,
    * a proper prefix first): equal keys share a rank, and the ranks run
    * from 0 to the number of distinct keys minus one, with no gap. */
  private[extract] def squash(keys: Array[Array[Int]]): Array[Int] = {
    val n = keys.length
    val order = Array.tabulate[Integer](n)(Integer.valueOf)
    java.util.Arrays.sort(order,
      (x: Integer, y: Integer) => java.util.Arrays.compare(keys(x), keys(y)))
    val ranks = new Array[Int](n)
    var r = 0
    var k = 1
    while (k < n) {
      if (java.util.Arrays.compare(keys(order(k - 1)), keys(order(k))) != 0) r += 1
      ranks(order(k)) = r
      k += 1
    }
    ranks
  }

  /** Number of classes in dense ranks (the largest rank plus one). */
  private def classes(ranks: Array[Int]): Int = {
    var m = -1
    var i = 0
    while (i < ranks.length) { if (ranks(i) > m) m = ranks(i); i += 1 }
    m + 1
  }

  /** Morgan refinement of the dense ranks `start` over the graph `adj`
    * (atom -> (neighbour, bond order)), until a round no longer adds a
    * class. Each round squashes, per atom, the key
    * `rank, o1, r1, o2, r2, ...`: its current rank, then its neighbours'
    * (bond order, rank) pairs in ascending order. The old rank leads the
    * key, so a round never merges classes. Keys are exact: a hash could
    * collide and merge distinct classes, and break canonical invariance. */
  private[extract] def refine(adj: Vector[Vector[(Int, Int)]], start: Array[Int]): Array[Int] = {
    val n = start.length
    val keys = Array.tabulate(n)(a => new Array[Int](1 + 2 * adj(a).length))
    var ranks = start
    var distinct = classes(ranks)
    var changed = true
    while (changed) {
      var a = 0
      while (a < n) {
        val key = keys(a)
        key(0) = ranks(a)
        val nb = adj(a)
        var m = 0
        while (m < nb.length) {
          val (b, o) = nb(m)
          val r = ranks(b)
          // insertion sort: pair j sits at key(2j + 1), key(2j + 2)
          var j = m
          while (j > 0 && (key(2 * j - 1) > o || (key(2 * j - 1) == o && key(2 * j) > r))) {
            key(2 * j + 1) = key(2 * j - 1); key(2 * j + 2) = key(2 * j)
            j -= 1
          }
          key(2 * j + 1) = o; key(2 * j + 2) = r
          m += 1
        }
        a += 1
      }
      val next = squash(keys)
      val nd = classes(next)
      changed = nd != distinct
      ranks = next
      distinct = nd
    }
    ranks
  }

  /** Morgan-style refinement: start from local invariants, refine by sorted
    * neighbor (order, rank) multisets, then stereo-descriptor refinement,
    * then break residual ties deterministically on the smallest ambiguous
    * class. Returns the molecule with chemically meaningless chirality
    * flags dropped plus a canonical rank per atom.
    *
    * Refinement keys are int arrays compared lexicographically (see
    * [[refine]]); the stereo rounds key each atom by (rank, chiral
    * descriptor, E/Z descriptor) and the tie-break rounds by (rank, 0 for
    * the lifted atom, else 1). Bond orders and descriptors are single
    * digits and ranks stay below 10^9, so these keys sort exactly like
    * their zero-padded decimal renderings (`SmilesRefineParitySpec` checks
    * this against a string-keyed refinement).
    *
    * Stereo handling (the part a stereo-blind ranking gets wrong):
    *  - Each chiral atom contributes a rank-relative parity descriptor —
    *    its flag re-expressed against neighbors sorted by current rank —
    *    which joins the refinement invariant. That splits classes only
    *    stereo distinguishes (the R and S centers of a meso compound), so
    *    symmetric multi-center molecules rank canonically.
    *  - A chiral atom whose neighbors still share a rank class at
    *    convergence is NOT a stereocenter (two automorphically equivalent
    *    substituents — `O[C@H]1CCCC1`): its flag is dropped, mirroring
    *    RDKit's AssignStereochemistry cleanup. Pseudo-asymmetric (r/s)
    *    centers are NOT in that class: the descriptor refinement has by
    *    then split their enantiomorphic branches into different ranks, so
    *    the flag survives — kept, like RDKit keeps r/s.
    *
    * Classic limitation: non-automorphic ties in pathological regular
    * graphs — not observed on chemical graphs in the spec corpus.
    */
  def canonicalAssign(mol: Mol): (Mol, Array[Int]) = {
    val n = mol.atoms.length
    // NOTE: the raw `chiral` flag is EXCLUDED — it is only meaningful
    // relative to the written neighbor order, so two writings of the same
    // config carry different flags; stereo joins via descriptors below.
    val initial: Array[String] = Array.tabulate(n) { i =>
      val a = mol.atoms(i)
      Seq(a.elem, a.aromatic, a.isotope, a.charge, a.hCount, a.atomMap,
        mol.adj(i).length).mkString("|")
    }
    val initialRank = initial.distinct.sorted.zipWithIndex.toMap
    var ranks = refine(mol.adj, initial.map(initialRank))
    val (ezStereo, ezSide) = ezPerception(mol)
    val ezEnd: Map[Int, Int] = // stereo end atom -> its double-bond partner
      ezStereo.flatMap { case (a, b) => Seq(a -> b, b -> a) }.toMap
    // Axial center (allene or longer odd cumulene): 2-connected chiral
    // atom, both bonds double. Its parity references the four far
    // substituents on the chain TERMINI (two per end, end-phantoms
    // included), reached by walking the cumulated chain; the per-end sub
    // lists come from the termini's written neighbor order (phantoms
    // already slotted at parse). The parser is the gatekeeper — only
    // valid centers (equal-length walks, clean termini) keep flags here.
    def isAllene(i: Int): Boolean =
      mol.atoms(i).chiral != 0 && mol.adj(i).length == 2 &&
        mol.adj(i).forall(_._2 == 2)
    def alleneEndSubs(i: Int): Vector[Vector[Int]] = axialWrittenSubs(mol, i)
    // rank-relative parity: the written flag re-expressed against the
    // phantom-first, rank-sorted neighbor order; 0 while neighbors tie.
    // Allene centers compare the written 4-substituent order against the
    // per-end rank-sorted order — the end-block order cancels out of the
    // parity (swapping whole blocks is an even permutation), so two ends
    // tied in rank (2,3-pentadiene) stay well-defined.
    def chiralDesc(i: Int): Int = {
      val a = mol.atoms(i)
      if (a.chiral == 0) 0
      else if (isAllene(i)) {
        val subs = alleneEndSubs(i)
        def rk(x: Int): Int = if (x < 0) x else ranks(x)
        if (subs.exists(s => s.map(rk).distinct.length < s.length)) 0
        else {
          val written = subs.flatten
          val target = subs.flatMap(_.sortBy(rk))
          if (permParity(written, target) == 0) a.chiral else 3 - a.chiral
        }
      }
      else {
        val nbs = mol.adj(i).map(_._1)
        if (nbs.map(ranks(_)).distinct.length < nbs.length) 0
        else {
          val ref = (if (nbs.length == 3) Vector(-1) else Vector.empty) ++
            nbs.sortBy(ranks(_))
          if (permParity(mol.nbOrder(i), ref) == 0) a.chiral else 3 - a.chiral
        }
      }
    }
    // rank-relative E/Z: same-or-opposite side of the two rank-lowest
    // substituents across the double bond; 0 while either side's
    // substituents tie (or the atom is not a stereo-bond end)
    def ezDesc(i: Int): Int = ezEnd.get(i) match {
      case None => 0
      case Some(j) =>
        def sub(e: Int, o: Int) = mol.adj(e).map(_._1).filter(_ != o)
        val si = sub(i, j)
        val sj = sub(j, i)
        if (si.map(ranks(_)).distinct.length < si.length ||
          sj.map(ranks(_)).distinct.length < sj.length) 0
        else {
          val xm = si.minBy(ranks(_))
          val ym = sj.minBy(ranks(_))
          // geometric side σ(x) = -dir(x→e) on BOTH ends, so equal
          // approach values ⟺ same side (F/C=C/F: +1 vs -1 → trans)
          (ezSide.get((i, xm)), ezSide.get((j, ym))) match {
            case (Some(sx), Some(sy)) => if (sx == sy) 1 else 2 // same side = 1
            case _ => 0
          }
        }
    }
    var changed = mol.atoms.exists(_.chiral != 0) || ezStereo.nonEmpty
    while (changed) {
      val keys = Array.tabulate(n)(i => Array(ranks(i), chiralDesc(i), ezDesc(i)))
      if (keys.forall(k => k(1) == 0 && k(2) == 0)) changed = false
      else {
        val next = refine(mol.adj, squash(keys))
        changed = classes(next) != classes(ranks)
        ranks = next
      }
    }
    // clean non-stereogenic flags at convergence (descriptors contributed
    // nothing for these atoms, so the ranks are unaffected by the drop).
    // Allene centers are judged per END (two tied substituent slots on
    // either end kill the axis) — their two direct neighbors tying is
    // NORMAL for a symmetric allene and must not drop the flag.
    val cleanedAtoms = mol.atoms.zipWithIndex.map { case (a, i) =>
      if (a.chiral == 0) a
      else if (isAllene(i)) {
        def rk(x: Int): Int = if (x < 0) x else ranks(x)
        if (alleneEndSubs(i).exists(s =>
            s.map(rk).distinct.length < s.length)) a.copy(chiral = 0)
        else a
      }
      else if (
        mol.adj(i).map(b => ranks(b._1)).distinct.length < mol.adj(i).length)
        a.copy(chiral = 0)
      else a
    }
    // E/Z cleaning: a stereo double bond with rank-tied substituents on
    // either side is not stereogenic — drop the marks that only serve it
    val deadEnds: Set[Int] = ezStereo.flatMap { case (a, b) =>
      def tied(e: Int, o: Int) = {
        val s = mol.adj(e).map(_._1).filter(_ != o)
        s.map(ranks(_)).distinct.length < s.length
      }
      if (tied(a, b) || tied(b, a)) Seq(a, b) else Seq.empty
    }.toSet
    val liveEnds: Set[Int] = ezStereo.flatMap { case (a, b) =>
      if (deadEnds(a) || deadEnds(b)) Seq.empty else Seq(a, b)
    }.toSet
    val cleanedBonds = mol.bonds.map { b =>
      if (b.dir != 0 && !(liveEnds(b.a) || liveEnds(b.b))) b.copy(dir = 0)
      else b
    }
    val cleaned = Mol(cleanedAtoms, cleanedBonds, mol.nbOrder)
    while (classes(ranks) < n) {
      // lift the lowest-index atom of the smallest shared rank
      val size = new Array[Int](n)
      ranks.foreach(r => size(r) += 1)
      val tie = size.indexWhere(_ > 1)
      val r = ranks.indexOf(tie)
      ranks = refine(mol.adj, squash(Array.tabulate(n)(i => Array(ranks(i), if (i == r) 0 else 1))))
    }
    (cleaned, ranks)
  }

  def canonicalRanks(mol: Mol): Array[Int] = canonicalAssign(mol)._2

  // ---- canonical emission --------------------------------------------------

  /** Bare (unbracketed) emission is possible iff the reader would re-infer
    * exactly this atom: no isotope/charge/map/stereo, H = reader default.
    * `chiralOut` is the flag for the EMITTED neighbor order (parity-adjusted
    * by the caller), not the parsed one.
    */
  private def emitAtom(a: Atom, readerH: Int, chiralOut: Int): String = {
    val bareOk = a.isotope == 0 && a.charge == 0 && a.atomMap == 0 &&
      chiralOut == 0 && a.hCount == readerH &&
      (if (a.aromatic) aromaticSubset(a.elem.toLowerCase)
       else organicSubset(a.elem))
    if (bareOk) { if (a.aromatic) a.elem.toLowerCase else a.elem }
    else {
      val sb = new StringBuilder("[")
      if (a.isotope > 0) sb.append(a.isotope)
      sb.append(if (a.aromatic) a.elem.toLowerCase else a.elem)
      if (chiralOut == 1) sb.append("@")
      else if (chiralOut == 2) sb.append("@@")
      if (a.hCount == 1) sb.append("H")
      else if (a.hCount > 1) sb.append("H").append(a.hCount)
      if (a.charge > 0) sb.append(if (a.charge == 1) "+" else s"+${a.charge}")
      else if (a.charge < 0) sb.append(if (a.charge == -1) "-" else s"-${-a.charge}")
      if (a.atomMap > 0) sb.append(":").append(a.atomMap)
      sb.append("]").toString
    }
  }

  /** Permutation parity (0 even / 1 odd) between two orderings of the same
    * element set. */
  private def permParity(from: Seq[Int], to: Seq[Int]): Int = {
    val idx = to.zipWithIndex.toMap
    val p = from.map(idx.getOrElse(_, -1)).toArray
    var inv = 0
    var i = 0
    while (i < p.length) {
      var j = i + 1
      while (j < p.length) { if (p(i) > p(j)) inv += 1; j += 1 }
      i += 1
    }
    inv & 1
  }

  private def bondStr(o: Int, a: Atom, b: Atom): String = o match {
    case 2 => "="
    case 3 => "#"
    case 4 => if (a.aromatic && b.aromatic) "" else ":"
    case 1 => if (a.aromatic && b.aromatic) "-" else ""
    case _ => ""
  }

  /** Rank-ordered DFS emission with ring-closure numbering. */
  def emit(mol: Mol, ranks: Array[Int]): String = {
    val n = mol.atoms.length
    val visited = new Array[Boolean](n)
    // ring bonds: DFS back-edges, discovered during traversal
    val ringNum = mutable.Map[(Int, Int), Int]() // edge -> number
    // atom -> (number, order, partner atom)
    val atomRings = mutable.Map[Int, mutable.ArrayBuffer[(Int, Int, Int)]]()
    var nextRing = 1
    // first pass: find tree/back edges in rank-DFS order
    def neighbors(a: Int): Vector[(Int, Int)] =
      mol.adj(a).sortBy { case (b, _) => ranks(b) }
    val inTree = mutable.Set[(Int, Int)]()
    val parent = Array.fill(n)(-1)
    def key(a: Int, b: Int): (Int, Int) = if (a < b) (a, b) else (b, a)
    def walk(a: Int, from: Int): Unit = {
      visited(a) = true
      neighbors(a).foreach { case (b, o) =>
        if (b != from) {
          if (!visited(b)) { inTree += key(a, b); parent(b) = a; walk(b, a) }
          else if (!inTree(key(a, b)) && !ringNum.contains(key(a, b))) {
            ringNum(key(a, b)) = nextRing
            atomRings.getOrElseUpdate(a, mutable.ArrayBuffer()) += ((nextRing, o, b))
            atomRings.getOrElseUpdate(b, mutable.ArrayBuffer()) += ((nextRing, o, a))
            nextRing += 1
          }
        }
      }
    }
    val start = ranks.zipWithIndex.minBy(_._1)._2
    walk(start, -1)
    // E/Z marks, re-anchored canonically (graph-determined, tree-free)
    val ezRender = ezAssign(mol, ranks)
    // second pass: emit
    java.util.Arrays.fill(visited, false)
    val sb = new StringBuilder
    val ringOpened = mutable.Set[Int]()
    def ringToken(num: Int): String = if (num < 10) num.toString else "%" + num
    def emitFrom(a: Int, from: Int, bondO: Int): Unit = {
      visited(a) = true
      if (from >= 0) {
        val mark = if (bondO == 1) ezRender.getOrElse((from, a), 0) else 0
        if (mark != 0) sb.append(if (mark > 0) "/" else "\\")
        else sb.append(bondStr(bondO, mol.atoms(from), mol.atoms(a)))
      }
      val at = mol.atoms(a)
      val rings = atomRings.getOrElse(a, mutable.ArrayBuffer.empty)
      val kids = neighbors(a).filter { case (b, _) =>
        b != from && !visited(b) && inTree(key(a, b))
      }
      // stereo: the written flag is relative to the written neighbor order;
      // re-derive it for the order THIS emission produces (preceder, phantom
      // H/lone-pair slot, ring digits, then children) — odd permutation
      // parity flips @ <-> @@
      val chiralOut =
        if (at.chiral == 0) 0
        else if (mol.adj(a).length == 2 && mol.adj(a).forall(_._2 == 2)) {
          // axial (allene or longer odd cumulene): parity over the OUTPUT
          // order of the four far substituents on the chain TERMINI.
          // Directions appear in the emitted string as ring-closure
          // ancestor (always above the parent in the DFS tree), then
          // parent, then children; each terminus's substituents follow
          // ITS emitted neighbor order, with the end phantom at the slot
          // the re-parser will assign (after the preceder, or first for
          // the start atom).
          val dirOut: Seq[Int] =
            rings.map(_._3).toSeq ++
              (if (from >= 0) Seq(from) else Seq.empty) ++ kids.map(_._1)
          def outSubs(e: Int, p: Int): Seq[Int] = {
            val ringPartners = atomRings
              .getOrElse(e, mutable.ArrayBuffer.empty).map(_._3).toSeq
            val eKids = neighbors(e).collect { case (b, _)
              if b != parent(e) && inTree(key(e, b)) && parent(b) == e => b }
            val base = (if (parent(e) >= 0) Seq(parent(e)) else Seq.empty) ++
              ringPartners ++ eKids
            val ph = -2 - e
            val withPh =
              if (mol.nbOrder(e).contains(ph)) {
                val pos = if (parent(e) >= 0) 1 else 0
                (base.take(pos) :+ ph) ++ base.drop(pos)
              } else base
            withPh.filter(_ != p)
          }
          val emitted = dirOut.flatMap { n0 =>
            // dirOut permutes nbOrder(a); resolve each direction's
            // terminus by walking from that immediate neighbor
            val (e, p, _) = cumuleneWalk(mol.atoms(_), mol.adj(_), a, n0)
            outSubs(e, p)
          }
          val written = axialWrittenSubs(mol, a).flatten
          if (permParity(written, emitted) == 0) at.chiral else 3 - at.chiral
        }
        else {
          val emitted = mutable.ArrayBuffer[Int]()
          if (from >= 0) emitted += from
          if (mol.adj(a).length == 3) emitted += -1 // phantom slot
          rings.foreach { case (_, _, partner) => emitted += partner }
          kids.foreach { case (b, _) => emitted += b }
          if (permParity(mol.nbOrder(a), emitted.toSeq) == 0) at.chiral
          else 3 - at.chiral
        }
      sb.append(emitAtom(at,
        readerImplicitH(at, mol.adj(a).map(_._2)), chiralOut))
      rings.foreach { case (num, o, partner) =>
        // bond char on the ring-opening digit only (first appearance); an
        // E/Z mark on a single ring bond renders there too, oriented
        // this-atom→partner (the parser's opening-mark convention)
        if (ringOpened.add(num)) {
          val mark = if (o == 1) ezRender.getOrElse((a, partner), 0) else 0
          if (mark != 0) sb.append(if (mark > 0) "/" else "\\")
          else sb.append(bondStr(o, at, mol.atoms(partner)))
          sb.append(ringToken(num))
        } else sb.append(ringToken(num))
      }
      kids.zipWithIndex.foreach { case ((b, o), idx) =>
        if (!visited(b)) {
          val isLast = idx == kids.length - 1
          if (!isLast) {
            sb.append("(")
            emitFrom(b, a, o)
            sb.append(")")
          } else emitFrom(b, a, o)
        }
      }
    }
    emitFrom(start, -1, 0)
    sb.toString
  }

  // ---- public API ----------------------------------------------------------

  private def hasAnyStereo(s: String): Boolean =
    s.contains('@') || s.contains('/') || s.contains('\\')

  /** Canonicalize every component, or None if any falls outside the subset.
    * For stereo-bearing inputs an unparseable component degrades to
    * identity passthrough (like the pre-stereo behavior) instead of null. */
  private def canonicalVia(s: String)(prep: Mol => Mol): Option[String] = {
    if (s == null || s.isEmpty) return None
    val parts = s.split("\\.", -1)
    val canon = parts.map { p =>
      parseComponent(p) match {
        case Some(mol) =>
          val norm = aromatize(prep(mol))
          val (cleaned, ranks) = canonicalAssign(norm)
          emit(cleaned, ranks)
        case None =>
          return if (hasAnyStereo(s)) Some(s) else None
      }
    }
    Some(canon.sorted.mkString("."))
  }

  /** Canonical SMILES of the (possibly multi-component) input; None when
    * outside the parseable subset. Tetrahedral centers canonicalize with
    * parity-correct `@`/`@@` (`@TH1`/`@TH2` are read as their aliases);
    * axial centers (allene and longer odd cumulenes) canonicalize with
    * extended tetrahedral parity over the chain termini (`@AL1`/`@AL2`
    * likewise aliased);
    * double-bond stereo canonicalizes everywhere it is perceivable —
    * acyclic bonds re-anchor their `/`/`\` marks, and in-ring bonds carry
    * them on ring-closure digits. Marks on bonds in rings smaller than 8
    * are dropped (RDKit-style: the geometry is forced by the ring);
    * contradictory double-marked closures fail the parse and degrade to
    * identity passthrough like other stereo-bearing unparseables. ATOM
    * stereo classes the subset cannot re-express (`@SP`/`@TB`/`@OH`,
    * axial marks off an odd cumulene's center) degrade to identity
    * passthrough of the whole input — an unsupported atom flag is never
    * silently dropped. Directional MARKS follow RDKit's legacy
    * perception instead: marks serving no assignable double bond (lone
    * marks, small-ring bonds, marks around cumulated systems — a stereo
    * bond needs marks on both of its OWN ends) are dropped, so the two
    * marked writings of an even cumulene merge with the unmarked form
    * exactly as the reference's canonicalizer merges them
    * (CumuleneStereoSpec locks this).
    */
  def canonical(s: String): Option[String] = canonicalVia(s)(identity)

  /** Which documented boundary branches does `s` hit? The corpus-audit
    * companion to the scaladoc's "documented boundaries" section (r13
    * verdict #5 asked for the passthrough envelope to be COUNTED on real
    * data, not just documented). Per component:
    *  - `stereo_passthrough` — stereo-bearing component outside the
    *    parseable subset (the @SP/@TB/@OH, off-center axial, contradictory
    *    double-marked closure classes): canonical() returns the input
    *    verbatim; sub-tagged `stereo_passthrough:sp_tb_oh` when a named
    *    square-planar/trigonal-bipyramidal/octahedral class is present.
    *  - `unparseable` — non-stereo component outside the subset (treated
    *    as a bad name upstream, not a passthrough).
    *  - `kekule_claim_trusted` — the aromatize sanitize path could not
    *    reproduce the claimed aromatic atom set from the kekulé
    *    (3+-ring combined-perimeter systems and exotic claims): the
    *    written flags are trusted as-is. The canonical string is still
    *    produced — this tags the weaker-perception envelope, not a
    *    passthrough.
    * Returns Nil for fully-covered inputs. Diagnostic only — never on a
    * query path. */
  def boundaryClasses(s: String): Seq[String] = {
    if (s == null || s.isEmpty) return Nil
    s.split("\\.", -1).toSeq.flatMap { p =>
      parseComponent(p) match {
        case None =>
          // mirror canonicalVia exactly: passthrough is decided on the
          // WHOLE input (an unparseable component with stereo ANYWHERE in
          // the string returns the entire input verbatim), so the audit
          // must classify against hasAnyStereo(s), not the component —
          // per-component stereo would undercount the passthrough envelope
          if (!hasAnyStereo(s)) Seq("unparseable")
          else if (p.contains("@SP") || p.contains("@TB") || p.contains("@OH"))
            Seq("stereo_passthrough:sp_tb_oh")
          else Seq("stereo_passthrough")
        case Some(mol) =>
          val claimed = mol.atoms.zipWithIndex.collect {
            case (a, i) if a.aromatic => i }.toSet
          if (claimed.isEmpty) Nil
          else kekulize(mol) match {
            case Some(k) =>
              val perceived = aromatizeCore(k).atoms.zipWithIndex.collect {
                case (a, i) if a.aromatic => i }.toSet
              if (perceived == claimed) Nil else Seq("kekule_claim_trusted")
            case None => Seq("kekule_claim_trusted")
          }
      }
    }
  }

  /** Strip atom maps structurally, then canonicalize. */
  def canonicalNoMaps(s: String): Option[String] =
    canonicalVia(s)(mol =>
      Mol(mol.atoms.map(_.copy(atomMap = 0)), mol.bonds, mol.nbOrder))

  /** Exact transition-metal test from parsed atoms (E14). */
  def hasTransitionMetalParsed(s: String): Option[Boolean] = {
    if (s == null || s.isEmpty) return None
    val parts = s.split("\\.", -1)
    var any = false
    parts.foreach { p =>
      parseComponent(p) match {
        case Some(mol) => any ||= mol.atoms.exists(a => transitionMetals(a.elem))
        case None => return None
      }
    }
    Some(any)
  }

  /** Graph-based Morgan-style fingerprint (F1): per-atom neighborhood
    * hashes for radii 0..r, each scattered into nBits buckets. Structurally
    * faithful to hashed-Morgan semantics (not RDKit-bit-compatible).
    * Runs on the aromatized graph so kekulized and aromatic writings of the
    * same molecule fingerprint identically.
    */
  def morganBits(s: String, radius: Int, nBits: Int): Option[Array[Int]] = {
    if (s == null || s.isEmpty) return None
    val fp = new Array[Int](nBits)
    val parts = s.split("\\.", -1)
    parts.foreach { p =>
      parseComponent(p) match {
        case Some(raw) =>
          val mol = aromatize(raw)
          val n = mol.atoms.length
          var h = Array.tabulate(n) { i =>
            val a = mol.atoms(i)
            graft.functions.XHash.bucketHashJvm("mg0",
              a.elem, a.aromatic.toString, a.charge.toString,
              a.isotope.toString, a.hCount.toString, mol.adj(i).length.toString)
          }
          (0 to radius).foreach { r =>
            h.foreach(v => fp(((v % nBits) + nBits).toInt % nBits) = 1)
            if (r < radius) {
              h = Array.tabulate(n) { i =>
                val nb = mol.adj(i).map { case (b, o) => s"$o:${h(b)}" }.sorted
                graft.functions.XHash.bucketHashJvm("mgr",
                  (h(i).toString +: nb): _*)
              }
            }
          }
        case None => return None
      }
    }
    Some(fp)
  }
}
