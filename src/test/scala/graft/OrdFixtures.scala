package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.util.Random

import graft.extract.OrdWire._

/** Protobuf wire encoder for the ORD fields [[graft.extract.OrdWire]]
  * decodes, with the field numbers of its scaladoc. `decodeDataset` of
  * `dataset(name, id, rs)` gives back `rs` for every reaction
  * [[OrdFixtures.randomReaction]] draws. */
object OrdWireWriter {

  private final class Out {
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
    def f32(field: Int, v: Double): Unit = {
      tag(field, 5)
      val i = java.lang.Float.floatToIntBits(v.toFloat)
      (0 until 4).foreach(k => out.write((i >>> (8 * k)) & 0xff))
    }
    def msg(field: Int)(body: Out => Unit): Unit = {
      val w = new Out
      body(w)
      bytes(field, w.toByteArray)
    }
    def toByteArray: Array[Byte] = out.toByteArray
  }

  private def compoundIds(w: Out, ids: Seq[CompoundId]): Unit =
    ids.foreach(id => w.msg(1) { m => m.int(1, id.itype); m.str(3, id.value) })

  def reaction(r: OrdReaction): Array[Byte] = {
    val w = new Out
    r.identifiers.foreach { id =>
      w.msg(1) { m => m.int(1, id.itype); m.str(3, id.value); m.int(4, if (id.isMapped) 1 else 0) }
    }
    r.inputs.foreach { e =>
      w.msg(2) { m =>
        m.str(1, e.key)
        m.msg(2)(ri => e.components.foreach { c =>
          ri.msg(1) { cm => compoundIds(cm, c.ids); cm.int(3, c.role) }
        })
      }
    }
    if (r.tempValue.isDefined || r.tempControl != 0)
      w.msg(4)(_.msg(1) { t =>
        if (r.tempControl != 0) t.msg(1)(_.int(1, r.tempControl))
        r.tempValue.foreach(v => t.msg(2) { sp => sp.f32(1, v); sp.int(3, r.tempUnits) })
      })
    r.procedureDetails.foreach(p => w.msg(5)(_.str(9, p)))
    if (r.timeValue.isDefined || r.products.nonEmpty)
      w.msg(8) { o =>
        r.timeValue.foreach(v => o.msg(1) { t => t.f32(1, v); t.int(3, r.timeUnits) })
        r.products.foreach { p =>
          o.msg(3) { pm =>
            compoundIds(pm, p.ids)
            p.yieldPct.foreach(y => pm.msg(3) { m => m.int(2, 3); m.msg(8)(_.f32(1, y)) })
          }
        }
      }
    r.experimentStart.foreach(s => w.msg(9)(_.msg(3)(_.str(1, s))))
    w.toByteArray
  }

  /** A `Dataset` message: name, the reactions, then the id (the decoder
    * reads name and id wherever they fall). */
  def dataset(name: String, id: String, rs: Seq[OrdReaction]): Array[Byte] = {
    val w = new Out
    w.str(1, name)
    rs.foreach(r => w.bytes(3, reaction(r)))
    w.str(10, id)
    w.toByteArray
  }

  def gzip(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val z = new java.util.zip.GZIPOutputStream(out)
    z.write(b); z.close()
    out.toByteArray
  }
}

/** Seeded ORD reactions and `.pb.gz` directories for hermetic tests. */
object OrdFixtures {

  private val vocab = Vector("CCO", "OCC", "C(C)O", "O", "[Pd]", "Cl[Pd]Cl", "[Fe]",
    "C", "[C]", "[H][H]", "c1ccccc1", "CC(=O)O", "[Na+].[Cl-]", "ClCCl", "C1CCOC1",
    "5", "", "[CH3:1]O", "[CH3:1]OC", "Z\uD835\uDC00", "Z", "nonsense(")
  private val names = Vector("ice", "Ice Water", "sodium chloride", "charcoal", "water")

  /** A reaction whose every field survives the wire: floats are f32
    * values, units only beside a value, and unset proto3 scalars are 0. */
  def randomReaction(rng: Random, dsName: String, dsId: String): OrdReaction = {
    def pick[A](xs: Vector[A]): A = xs(rng.nextInt(xs.size))
    def f32(): Double = (rng.nextInt(200000) / 64.0 - 500).toFloat.toDouble
    def ids(): Seq[CompoundId] = Seq.fill(rng.nextInt(3))(
      if (rng.nextInt(4) == 0) CompoundId(6, pick(names))
      else CompoundId(pick(Vector(2, 2, 2, 0, 8)), pick(vocab)))
    def opt[A](a: => A): Option[A] = if (rng.nextBoolean()) Some(a) else None
    val tempValue = opt(f32())
    val timeValue = opt(f32())
    OrdReaction(dsName, dsId,
      Seq.fill(rng.nextInt(3))(RxnIdentifier(pick(Vector(6, 6, 2)),
        Seq.fill(3)(pick(vocab)).mkString(">"), rng.nextBoolean())),
      Seq.fill(rng.nextInt(3))(InputEntry(s"in${rng.nextInt(9)}",
        Seq.fill(rng.nextInt(3))(Component(pick(Vector(0, 1, 2, 3, 4)), ids())))),
      Seq.fill(rng.nextInt(3))(Product(ids(), opt(f32()))),
      tempValue, if (tempValue.isDefined) rng.nextInt(4) else 0, pick(Vector(0, 1, 2, 6)),
      timeValue, if (timeValue.isDefined) rng.nextInt(5) else 0,
      opt(pick(Vector("stir", "over Charcoal", "", "filtered; \u00fc"))),
      opt(pick(Vector("12/31/1999", "03/15/2011", "bad date"))))
  }

  /** Writes `files` gzipped datasets under `dir`, file `i` (0-based) as
    * `<prefix>-i.pb.gz` with about `reactions / (i + 1)^skew` of the
    * reactions (at least one), so sizes are uneven like ORD's. The files
    * whose index is in `inSub` go into `dir/sub`. Returns every file with
    * its reactions. */
  def writeSkewedDir(dir: Path, seed: Long, files: Int, reactions: Int, skew: Double = 1.1,
      prefix: String = "uspto-grants-2016_07", inSub: Set[Int] = Set.empty)
      : Seq[(Path, Seq[OrdReaction])] = {
    val rng = new Random(seed)
    val weights = (0 until files).map(i => 1.0 / math.pow(i + 1, skew))
    (0 until files).map { i =>
      val n = math.max(1, math.round(reactions * weights(i) / weights.sum).toInt)
      val rs = Seq.fill(n)(randomReaction(rng, s"ds$i", s"id-$seed-$i"))
      val parent = if (inSub(i)) Files.createDirectories(dir.resolve("sub")) else dir
      val path = parent.resolve(s"$prefix-$i.pb.gz")
      Files.write(path, OrdWireWriter.gzip(OrdWireWriter.dataset(s"ds$i", s"id-$seed-$i", rs)))
      path -> rs
    }
  }
}
