package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import graft.extract.{OrdWire, Smiles}

/** Minimal protobuf wire-format writer: the field numbers mirror the map in
  * the [[graft.extract.OrdWire]] scaladoc, so the decoder reads back exactly
  * what is written here. */
final class PbWriter {
  private val out = new ByteArrayOutputStream()

  def varint(v: Long): Unit = {
    var x = v
    while ((x & ~0x7fL) != 0) { out.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
    out.write(x.toInt)
  }
  private def tag(field: Int, wireType: Int): Unit = varint((field << 3 | wireType).toLong)
  def int(field: Int, v: Long): Unit = { tag(field, 0); varint(v) }
  def bytes(field: Int, b: Array[Byte]): Unit = { tag(field, 2); varint(b.length); out.write(b) }
  def str(field: Int, s: String): Unit = bytes(field, s.getBytes(UTF_8))
  def f32(field: Int, v: Float): Unit = {
    tag(field, 5)
    val i = java.lang.Float.floatToIntBits(v)
    (0 until 4).foreach(k => out.write((i >>> (8 * k)) & 0xff))
  }
  def msg(field: Int)(body: PbWriter => Unit): Unit = {
    val w = new PbWriter
    body(w)
    bytes(field, w.toByteArray)
  }
  def toByteArray: Array[Byte] = out.toByteArray
}

/** A small molecular graph over organic-subset atoms; `bonds` are
  * (a, b, order). */
final case class MolGraph(elems: Vector[String], bonds: Vector[(Int, Int, Int)]) {
  private val adj: Vector[Vector[(Int, Int)]] = elems.indices.toVector.map { a =>
    bonds.collect {
      case (x, y, o) if x == a => (y, o)
      case (x, y, o) if y == a => (x, o)
    }
  }

  /** One SMILES writing: depth-first from a random atom, neighbours in a
    * random order. Different draws give different, equivalent strings. */
  def smiles(rng: java.util.Random): String = {
    val n = elems.size
    val seen = Array.fill(n)(false)
    val children = Array.fill(n)(ArrayBuffer[(Int, Int)]())
    val closures = ArrayBuffer[(Int, Int)]()
    def dfs(a: Int, from: Int): Unit = {
      seen(a) = true
      val nbrs = scala.util.Random.javaRandomToRandom(rng).shuffle(adj(a))
      nbrs.foreach { case (b, o) =>
        if (!seen(b)) { children(a) += ((b, o)); dfs(b, a) }
        else if (b != from && !closures.contains((math.min(a, b), math.max(a, b))))
          closures += ((math.min(a, b), math.max(a, b)))
      }
    }
    val root = rng.nextInt(n)
    dfs(root, -1)
    val sb = new StringBuilder
    def emit(a: Int): Unit = {
      sb ++= elems(a)
      closures.zipWithIndex.foreach { case ((x, y), k) =>
        if (x == a || y == a) sb ++= (k + 1).toString
      }
      val cs = children(a)
      cs.zipWithIndex.foreach { case ((b, o), i) =>
        val bond = if (o == 2) "=" else ""
        if (i < cs.size - 1) { sb += '('; sb ++= bond; emit(b); sb += ')' }
        else { sb ++= bond; emit(b) }
      }
    }
    emit(root)
    sb.toString
  }
}

object MolGraph {
  private val valence = Map("C" -> 4, "N" -> 3, "O" -> 2, "S" -> 2, "Cl" -> 1)

  private def pickElem(rng: java.util.Random): String = {
    val u = rng.nextInt(100)
    if (u < 64) "C" else if (u < 78) "N" else if (u < 90) "O" else if (u < 95) "S" else "Cl"
  }

  /** A random tree of 2–9 atoms, sometimes closed into one ring of five or
    * more atoms, sometimes with one double bond off the ring. */
  def random(rng: java.util.Random): MolGraph = {
    val n = 2 + rng.nextInt(8)
    val elems = ArrayBuffer("C")
    val used = ArrayBuffer(0)
    val bonds = ArrayBuffer[(Int, Int, Int)]()
    val parent = ArrayBuffer(-1)
    while (elems.size < n) {
      val e = pickElem(rng)
      val open = elems.indices.filter(j => used(j) < valence(elems(j)))
      if (open.nonEmpty) {
        val j = open(rng.nextInt(open.size))
        val i = elems.size
        elems += e; used += 1; parent += j
        used(j) += 1
        bonds += ((j, i, 1))
      } else elems += "C" // unreachable for these valences; keeps the loop total
    }
    def path(a: Int, b: Int): Seq[Int] = { // tree path a→b as atom list
      def up(x: Int): List[Int] = if (x < 0) Nil else x :: up(parent(x))
      val pa = up(a); val pb = up(b)
      val common = pa.find(pb.contains).get
      pa.takeWhile(_ != common) ++ (common :: pb.takeWhile(_ != common).reverse)
    }
    var ring: Seq[Int] = Nil
    if (rng.nextInt(10) < 3) {
      val cands = for {
        a <- elems.indices; b <- elems.indices if a < b
        if used(a) < valence(elems(a)) && used(b) < valence(elems(b))
        if path(a, b).size >= 5
      } yield (a, b)
      if (cands.nonEmpty) {
        val (a, b) = cands(rng.nextInt(cands.size))
        bonds += ((a, b, 1)); used(a) += 1; used(b) += 1
        ring = path(a, b)
      }
    }
    if (rng.nextInt(10) < 3) {
      val cands = bonds.indices.filter { k =>
        val (a, b, _) = bonds(k)
        used(a) < valence(elems(a)) && used(b) < valence(elems(b)) &&
          !(ring.contains(a) && ring.contains(b))
      }
      if (cands.nonEmpty) {
        val k = cands(rng.nextInt(cands.size))
        val (a, b, _) = bonds(k)
        bonds(k) = (a, b, 2); used(a) += 1; used(b) += 1
      }
    }
    MolGraph(elems.toVector, bonds.toVector)
  }
}

/** Knobs of the seeded ORD corpus. */
final case class CorpusSpec(
    reactions: Int,
    files: Int,
    sizeSkew: Double,       // file i gets weight 1/(i+1)^sizeSkew
    vocabulary: Int,        // molecule equivalence classes
    zipf: Double,           // class r drawn with weight 1/(r+1)^zipf
    multiFormShare: Double, // share of classes written in 2–4 equivalent forms
    unresolvedShare: Double // share of molecule slots holding an unresolvable name
)

/** One generated molecule class: its written forms and the canonical string
  * the program computed for the first form at generation time. */
final case class MolClass(forms: Vector[String], canonical: Option[String])

/** A generated ORD corpus on disk plus everything the checks need. */
final case class OrdCorpus(
    dir: Path,
    spec: CorpusSpec,
    fileBytes: Long,
    classes: Vector[MolClass],
    solvents: Seq[String],
    usedClasses: Set[Int],
    occurrences: Long,
    distinctStrings: Seq[String]) {
  /** Canonical strings the extract output must hold, one per class used. */
  def expectedMolecules: Set[String] = usedClasses.flatMap(c => classes(c).canonical)
  def distinctRatio: Double = distinctStrings.size.toDouble / occurrences
}

object OrdCorpus {

  private final case class GenReaction(rxn: String, labelled: Seq[(Int, String)],
      products: Seq[(String, Option[Float])], tempC: Float, hours: Float,
      procedure: String, date: String)

  private def encode(r: GenReaction): Array[Byte] = {
    val w = new PbWriter
    w.msg(1) { id => id.int(1, 6); id.str(3, r.rxn) }
    r.labelled.zipWithIndex.foreach { case ((role, smi), i) =>
      w.msg(2) { e =>
        e.str(1, s"m$i")
        e.msg(2)(_.msg(1) { c => c.msg(1) { id => id.int(1, 2); id.str(3, smi) }; c.int(3, role) })
      }
    }
    w.msg(4)(_.msg(1) { t =>
      t.msg(1)(_.int(1, 1))
      t.msg(2) { sp => sp.f32(1, r.tempC); sp.int(3, 1) }
    })
    w.msg(5)(_.str(9, r.procedure))
    w.msg(8) { o =>
      o.msg(1) { t => t.f32(1, r.hours); t.int(3, 1) }
      r.products.foreach { case (smi, y) =>
        o.msg(3) { p =>
          p.msg(1) { id => id.int(1, 2); id.str(3, smi) }
          y.foreach(v => p.msg(3) { m => m.int(2, 3); m.msg(8)(_.f32(1, v)) })
        }
      }
    }
    w.msg(9)(_.msg(3)(_.str(1, r.date)))
    w.toByteArray
  }

  private def encodeDataset(name: String, id: String, rs: Seq[GenReaction]): Array[Byte] = {
    val w = new PbWriter
    w.str(1, name)
    rs.foreach(r => w.bytes(3, encode(r)))
    w.str(10, id)
    w.toByteArray
  }

  /** Decoded reaction equals the generated one on every field written. */
  private def sameAs(d: OrdWire.OrdReaction, g: GenReaction): Boolean =
    d.identifiers.map(i => (i.itype, i.value)) == Seq((6, g.rxn)) &&
      d.inputs.map(e => e.components.map(c => (c.role, c.ids.map(_.value)))) ==
        g.labelled.map { case (role, s) => Seq((role, Seq(s))) } &&
      d.products.map(p => (p.ids.map(_.value), p.yieldPct)) ==
        g.products.map { case (s, y) => (Seq(s), y.map(_.toDouble)) } &&
      d.tempValue.contains(g.tempC.toDouble) && d.timeValue.contains(g.hours.toDouble) &&
      d.procedureDetails.contains(g.procedure) && d.experimentStart.contains(g.date)

  private def cumulative(n: Int, s: Double): Array[Double] =
    (0 until n).map(r => 1.0 / math.pow(r + 1, s)).scanLeft(0.0)(_ + _).tail.toArray

  private def draw(cum: Array[Double], rng: java.util.Random): Int = {
    val u = rng.nextDouble() * cum.last
    val i = java.util.Arrays.binarySearch(cum, u)
    if (i >= 0) i else -i - 1
  }

  /** Classes with distinct canonical strings; the program's canonicaliser
    * decides which random graphs are the same molecule. */
  def molClasses(rng: java.util.Random, spec: CorpusSpec): Vector[MolClass] = {
    val seen = scala.collection.mutable.HashSet[String]()
    val out = ArrayBuffer[MolClass]()
    var attempts = 0
    while (out.size < spec.vocabulary && attempts < spec.vocabulary * 20) {
      attempts += 1
      val g = MolGraph.random(rng)
      val first = g.smiles(rng)
      val canon = Smiles.canonical(first)
      val key = canon.getOrElse("\u0000" + first)
      if (seen.add(key)) {
        val want = if (rng.nextDouble() < spec.multiFormShare) 2 + rng.nextInt(3) else 1
        val forms = ArrayBuffer(first)
        var tries = 0
        while (forms.size < want && tries < 12) {
          tries += 1
          val f = g.smiles(rng)
          if (!forms.contains(f)) forms += f
        }
        out += MolClass(forms.toVector, canon)
      }
    }
    out.toVector
  }

  /** Write `spec.files` gzipped `Dataset` files under `dir`, each
    * round-trip-checked through [[OrdWire.decodeDataset]] before use. */
  def write(dir: Path, seed: Long, spec: CorpusSpec): OrdCorpus = {
    val rng = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 17)
    val classes = molClasses(rng, spec)
    val cum = cumulative(classes.size, spec.zipf)
    val solventClasses = classes.indices.take(8).filter(classes(_).canonical.isDefined)
    val solvents = solventClasses.flatMap(classes(_).canonical)
    val names = (0 until 40).map(i => s"unk_${"abcdefghij"(i % 10)}${i}solution")
    val used = scala.collection.mutable.HashSet[Int]()
    val distinct = scala.collection.mutable.HashSet[String]()
    var occurrences = 0L

    def slot(): (String, Option[Int]) = {
      occurrences += 1
      val (s, c) =
        if (rng.nextDouble() < spec.unresolvedShare) (names(rng.nextInt(names.size)), None)
        else {
          val c = draw(cum, rng)
          val forms = classes(c).forms
          (forms(rng.nextInt(forms.size)), Some(c))
        }
      distinct += s
      (s, c)
    }

    def reaction(): GenReaction = {
      val reactants = Seq.fill(1 + rng.nextInt(3))(slot())
      val agents = Seq.fill(rng.nextInt(3))(slot())
      val products = Seq.fill(if (rng.nextInt(5) == 0) 2 else 1)(slot())
      (reactants ++ agents ++ products).flatMap(_._2).foreach(used += _)
      val rxn = Seq(reactants, agents, products).map(_.map(_._1).mkString(".")).mkString(">")
      val solventClass = solventClasses(rng.nextInt(solventClasses.size))
      used += solventClass
      val canonProducts = products.flatMap(_._2).flatMap(c => classes(c).canonical)
      val labProducts = canonProducts.zipWithIndex.map { case (s, i) =>
        (s, if (i == 0) Some((5 + rng.nextInt(900)) / 10f) else None)
      }
      GenReaction(rxn, Seq((3, classes(solventClass).canonical.get)), labProducts,
        tempC = rng.nextInt(150).toFloat, hours = (1 + rng.nextInt(48)).toFloat,
        procedure = s"Stirred for ${1 + rng.nextInt(48)} h then worked up.",
        date = f"${1 + rng.nextInt(12)}%02d/${1 + rng.nextInt(28)}%02d/${2000 + rng.nextInt(20)}")
    }

    // skewed file sizes: weights 1/(i+1)^skew, shuffled over file names
    val weights = (0 until spec.files).map(i => 1.0 / math.pow(i + 1, spec.sizeSkew))
    val sizes = {
      val raw = weights.map(w => math.max(1, (spec.reactions * w / weights.sum).toInt))
      val fix = spec.reactions - raw.sum
      scala.util.Random.javaRandomToRandom(rng).shuffle(raw.updated(0, raw.head + fix))
    }
    Files.createDirectories(dir)
    var bytes = 0L
    sizes.zipWithIndex.foreach { case (n, f) =>
      val rs = Seq.fill(n)(reaction())
      val raw = encodeDataset(f"uspto-grants-20${10 + f % 10}_0${1 + f % 9}", f"ord_dataset-$f%04d", rs)
      val decoded = OrdWire.decodeDataset(raw)
      require(decoded.size == rs.size && decoded.zip(rs).forall { case (d, g) => sameAs(d, g) },
        s"ORD wire round trip failed for file $f")
      val gz = new ByteArrayOutputStream()
      val z = new java.util.zip.GZIPOutputStream(gz)
      z.write(raw); z.close()
      val sub = dir.resolve(f"d${f % 4}%02d")
      Files.createDirectories(sub)
      Files.write(sub.resolve(f"ord_dataset-$f%04d.pb.gz"), gz.toByteArray)
      bytes += gz.size()
    }
    OrdCorpus(dir, spec, bytes, classes, solvents, used.toSet, occurrences,
      distinct.toSeq.sorted)
  }
}
