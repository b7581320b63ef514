package graft.extract

import java.nio.charset.StandardCharsets.UTF_8

import scala.io.Source
import scala.util.Random

/** The int-array refinement keys of `Smiles.canonicalAssign` rank atoms
  * exactly as the zero-padded string keys they replaced, and
  * `Smiles.canonical` still writes the strings of the golden table
  * (`src/test/resources/smiles_canonical_golden.tsv`, made by
  * `graft.SmilesGoldenGen` on the string-keyed code). */
class SmilesRefineParitySpec extends org.scalatest.funsuite.AnyFunSuite {

  /** The string-keyed `squash` and `refine` of `canonicalAssign`, verbatim
    * but for the graph, which is a parameter here instead of `mol.adj`. */
  private object StringKeys {
    def squash(keys: Array[String]): Array[Int] = {
      val idx = keys.distinct.sorted.zipWithIndex.toMap
      keys.map(idx)
    }
    def refine(adj: Vector[Vector[(Int, Int)]], init: Array[String]): Array[Int] = {
      val n = init.length
      var ranks = squash(init)
      var distinct = ranks.distinct.length
      var changed = true
      while (changed) {
        val keys = Array.tabulate(n) { a =>
          val nb = adj(a).map { case (b, o) => f"$o:${ranks(b)}%09d" }
            .sorted.mkString(",")
          // old rank as a fixed-width prefix: refinement never merges classes
          f"${ranks(a)}%09d|$nb"
        }
        val next = squash(keys)
        val nd = next.distinct.length
        changed = nd != distinct
        ranks = next
        distinct = nd
      }
      ranks
    }
  }

  /** A random simple graph of 1–60 atoms in 1–4 parts: each part a
    * random tree plus a few extra bonds, orders 1–4 skewed to single. */
  private def randomGraph(rnd: Random): Vector[Vector[(Int, Int)]] = {
    val n = 1 + rnd.nextInt(60)
    val adj = Array.fill(n)(Vector.empty[(Int, Int)])
    val edges = collection.mutable.Set[(Int, Int)]()
    def order(): Int = Seq(1, 1, 1, 1, 2, 2, 3, 4)(rnd.nextInt(8))
    def bond(a: Int, b: Int): Unit =
      if (a != b && edges.add((math.min(a, b), math.max(a, b)))) {
        val o = order()
        adj(a) = adj(a) :+ ((b, o)); adj(b) = adj(b) :+ ((a, o))
      }
    val parts = 1 + rnd.nextInt(math.min(4, n))
    val cuts = (0 +: rnd.shuffle((1 until n).toList).take(parts - 1).sorted :+ n).distinct
    cuts.sliding(2).foreach { case Seq(lo, hi) =>
      (lo + 1 until hi).foreach(i => bond(i, lo + rnd.nextInt(i - lo)))
      (1 to rnd.nextInt(4)).foreach(_ => bond(lo + rnd.nextInt(hi - lo), lo + rnd.nextInt(hi - lo)))
    }
    adj.toVector
  }

  /** A ring of `n` atoms with every bond of one order: a single class. */
  private def ring(n: Int, o: Int): Vector[Vector[(Int, Int)]] =
    Vector.tabulate(n)(i => Vector(((i + 1) % n, o), ((i + n - 1) % n, o)))

  private def pad(r: Int): String = f"$r%09d"

  test("squash orders int keys like their zero-padded strings") {
    val rnd = new Random(7)
    (1 to 500).foreach { _ =>
      val n = 1 + rnd.nextInt(40)
      val keys = Array.fill(n) {
        Array(rnd.nextInt(5)) ++ Array.fill(rnd.nextInt(4))(Array(1 + rnd.nextInt(4), rnd.nextInt(5))).flatten
      }
      val strings = keys.map(k =>
        pad(k(0)) + "|" + k.drop(1).grouped(2).map(p => s"${p(0)}:${pad(p(1))}").mkString(","))
      assert(Smiles.squash(keys).toSeq == StringKeys.squash(strings).toSeq,
        keys.map(_.mkString(" ")).mkString("; "))
    }
  }

  test("refinement ranks random graphs like the string-keyed refinement") {
    val rnd = new Random(20261020)
    val graphs = (1 to 1500).map(_ => randomGraph(rnd)) ++
      (3 to 12).flatMap(n => (1 to 4).map(ring(n, _)))
    graphs.foreach { adj =>
      val n = adj.length
      // few labels, so that classes tie heavily
      val labels = rnd.nextInt(3) + 1
      val initial = Array.tabulate(n)(i => s"C|${rnd.nextInt(labels)}|${adj(i).length}")
      val idx = initial.distinct.sorted.zipWithIndex.toMap
      val ranks = Smiles.refine(adj, initial.map(idx))
      assert(ranks.toSeq == StringKeys.refine(adj, initial).toSeq, adj)

      // a stereo round: (rank, chiral descriptor, E/Z descriptor)
      val desc = Array.fill(n)((if (rnd.nextInt(4) == 0) 1 + rnd.nextInt(2) else 0,
        if (rnd.nextInt(4) == 0) 1 + rnd.nextInt(2) else 0))
      val stereo = Smiles.refine(adj,
        Smiles.squash(Array.tabulate(n)(i => Array(ranks(i), desc(i)._1, desc(i)._2))))
      assert(stereo.toSeq == StringKeys.refine(adj,
        Array.tabulate(n)(i => s"${pad(ranks(i))}|${desc(i)._1}:${desc(i)._2}")).toSeq, adj)

      // a tie-break round: lift one atom of the lowest tied rank
      ranks.groupBy(identity).collect { case (r, g) if g.length > 1 => r }
        .minOption.foreach { tie =>
          val r = ranks.indexOf(tie)
          val lifted = Smiles.refine(adj,
            Smiles.squash(Array.tabulate(n)(i => Array(ranks(i), if (i == r) 0 else 1))))
          assert(lifted.toSeq == StringKeys.refine(adj,
            Array.tabulate(n)(i => s"${pad(ranks(i))}|${if (i == r) 0 else 1}")).toSeq, adj)
        }
    }
  }

  test("canonical strings equal the golden table") {
    val src = Source.fromInputStream(
      getClass.getResourceAsStream("/smiles_canonical_golden.tsv"), UTF_8.name)
    val rows = try src.getLines().map(_.split("\t", -1)).toVector finally src.close()
    assert(rows.length >= 5000)
    assert(rows.forall(_.length == 2))
    // writings that need two-digit ring numbers are in the table
    assert(rows.exists(_(1).contains("%1")))
    val wrong = rows.filter(r => Smiles.canonical(r(0)).getOrElse("") != r(1))
    assert(wrong.isEmpty, s"${wrong.length} of ${rows.length} differ, first: " +
      wrong.take(5).map(r => s"${r(0)} -> ${Smiles.canonical(r(0))} != ${r(1)}").mkString("; "))
  }
}
