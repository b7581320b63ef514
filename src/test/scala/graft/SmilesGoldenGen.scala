package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import graft.extract.Smiles
import graft.extract.Smiles.{Atom, Bond, Mol}

/** Writes the golden table of canonical SMILES that
  * `SmilesRefineParitySpec` checks: one `input<TAB>canonical` line per
  * input, with an empty second column where `Smiles.canonical` is None.
  *
  * The inputs are every SMILES-like string literal of the Smiles and stereo
  * specs, 10 random writings of each literal that parses as one component,
  * 8 random writings of each of 500 seeded random molecules (the
  * `SmilesPropertySpec` generator, grown to 20 atoms and two ring bonds),
  * and 4 writings of each of 120 molecules of up to 30 atoms and 14 ring
  * bonds. Run from the repository root:
  *
  * {{{
  * sbt "Test/runMain graft.SmilesGoldenGen src/test/resources/smiles_canonical_golden.tsv"
  * }}}
  */
object SmilesGoldenGen {

  private val specs = Seq("SmilesSpec", "SmilesPropertySpec", "AlleneStereoSpec",
    "CumuleneStereoSpec", "KekuleInvarianceSpec", "PericondensedProbeSpec",
    "CorannuleneProbeSpec")
  private val literal = "\"((?:[^\"\\\\\n]|\\\\.)*)\"".r
  private val smilesLike = "[A-Za-z0-9@+\\-\\[\\]()=#:/\\\\%.]+"

  /** String literals of the specs that could be SMILES, unescaped. */
  private def literals(): Seq[String] =
    specs.flatMap { s =>
      val src = new String(Files.readAllBytes(
        Paths.get("src/test/scala/graft", s + ".scala")), UTF_8)
      literal.findAllMatchIn(src).map(_.group(1).replace("\\\\", "\\")).toSeq
    }.filter(_.matches(smilesLike)).distinct

  private val valence = Map("C" -> 4, "N" -> 3, "O" -> 2)

  /** A random molecule: a tree of `minAtoms` to `maxAtoms` atoms, up to
    * `maxRings` ring bonds, some double bonds, random tetrahedral flags and
    * E/Z marks on the double bonds of acyclic molecules. */
  private def randomMol(rnd: Random, minAtoms: Int, maxAtoms: Int, maxRings: Int): Mol = {
    val n = minAtoms + rnd.nextInt(maxAtoms - minAtoms + 1)
    val elems = Vector.fill(n)(Seq("C", "C", "C", "N", "O")(rnd.nextInt(5)))
    val bonds = mutable.ArrayBuffer[Bond]()
    val used = Array.fill(n)(0)
    (1 until n).foreach { i =>
      val candidates = (0 until i).filter(p => used(p) < valence(elems(p)))
      val p = if (candidates.isEmpty) i - 1 else candidates(rnd.nextInt(candidates.length))
      bonds += Bond(p, i, 1)
      used(p) += 1; used(i) += 1
    }
    val ringBonds = mutable.Set[Int]()
    (1 to rnd.nextInt(maxRings + 1)).foreach { _ =>
      val spare = (0 until n).filter(a => used(a) < valence(elems(a)))
      if (spare.length >= 2) {
        val a = spare(rnd.nextInt(spare.length))
        val b = spare(rnd.nextInt(spare.length))
        val already = bonds.exists(bd =>
          (bd.a == a && bd.b == b) || (bd.a == b && bd.b == a))
        if (a != b && !already) {
          ringBonds += bonds.length
          bonds += Bond(a, b, 1); used(a) += 1; used(b) += 1
        }
      }
    }
    bonds.indices.foreach { i =>
      val bd = bonds(i)
      if (rnd.nextDouble() < 0.3 &&
        used(bd.a) < valence(elems(bd.a)) && used(bd.b) < valence(elems(bd.b))) {
        bonds(i) = bd.copy(order = 2)
        used(bd.a) += 1; used(bd.b) += 1
      }
    }
    val degree = Array.fill(n)(0)
    bonds.foreach { bd => degree(bd.a) += 1; degree(bd.b) += 1 }
    val hCount = Array.tabulate(n)(a => valence(elems(a)) - used(a))
    val chiral = Array.tabulate(n) { a =>
      if (elems(a) == "C" && degree(a) + hCount(a) == 4 && degree(a) >= 3 &&
        rnd.nextDouble() < 0.4) 1 + rnd.nextInt(2)
      else 0
    }
    bonds.zipWithIndex.foreach { case (db, di) =>
      if (db.order == 2 && ringBonds.isEmpty && rnd.nextDouble() < 0.5) {
        def pickSub(e: Int, other: Int): Option[Int] =
          rnd.shuffle(bonds.zipWithIndex.toList).collectFirst {
            case (sb, si) if sb.order == 1 && sb.dir == 0 &&
              ((sb.a == e && sb.b != other) || (sb.b == e && sb.a != other)) => si
          }
        (pickSub(db.a, db.b), pickSub(db.b, db.a)) match {
          case (Some(i1), Some(i2)) if i1 != i2 =>
            bonds(i1) = bonds(i1).copy(dir = if (rnd.nextBoolean()) 1 else -1)
            bonds(i2) = bonds(i2).copy(dir = if (rnd.nextBoolean()) 1 else -1)
          case _ => ()
        }
      }
    }
    val atoms = Vector.tabulate(n)(a =>
      Atom(elems(a), aromatic = false, 0, 0, hCount(a), 0, chiral(a)))
    val nbOrder = {
      val m = Vector.fill(n)(mutable.ArrayBuffer[Int]())
      bonds.foreach { bd => m(bd.a) += bd.b; m(bd.b) += bd.a }
      Vector.tabulate(n) { a =>
        if (chiral(a) != 0 && degree(a) == 3) (-1 +: m(a)).toVector
        else m(a).toVector
      }
    }
    Mol(atoms, bonds.toVector, nbOrder)
  }

  private def writings(mol: Mol, rnd: Random, k: Int): Seq[String] =
    (1 to k).map(_ => Smiles.emit(mol, rnd.shuffle((0 until mol.atoms.length).toList).toArray))

  private def inputs(): Seq[String] = {
    val rnd = new Random(20261020)
    val lits = literals()
    val rewritten = lits.filterNot(_.contains('.')).flatMap { s =>
      Smiles.parseComponent(s).toSeq.flatMap(writings(_, rnd, 10))
    }
    val random = (1 to 500).flatMap(_ => writings(randomMol(rnd, 4, 20, 2), rnd, 8))
    // many ring bonds, so that writings need two-digit ring numbers
    val caged = (1 to 120).flatMap(_ => writings(randomMol(rnd, 16, 30, 14), rnd, 4))
    (lits ++ rewritten ++ random ++ caged).distinct
  }

  def main(args: Array[String]): Unit = {
    val lines = inputs().map(s => s + "\t" + Smiles.canonical(s).getOrElse(""))
    Files.write(Paths.get(args(0)), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    println(s"${lines.length} lines written to ${args(0)}")
  }
}
