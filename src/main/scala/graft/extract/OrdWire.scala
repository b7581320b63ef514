package graft.extract

import scala.collection.mutable.ArrayBuffer

/** Minimal protobuf wire-format reader for ORD `Dataset` messages.
  *
  * The protobuf wire format is a public specification (protobuf.dev/
  * programming-guides/encoding): a stream of (field-number, wire-type)
  * tagged values. We decode only the subtree the reference's extractor
  * consumes (/root/reference/orderly/extract/extractor.py; field inventory
  * in FIXTURES.md §1), with field numbers verified empirically against the
  * reference's checked-in `.pb.gz` test corpus:
  *
  * {{{
  * Dataset:        1=name  3=reactions(rep)  10=dataset_id
  * Reaction:       1=identifiers{1=type, 3=value, 4=is_mapped}
  *                 2=inputs entry{1=key, 2=ReactionInput{1=components}}
  *                 4=conditions{1=temperature{1=control{1=type},
  *                                            2=setpoint{1=value f32, 3=units}}}
  *                 5=notes{9=procedure_details}
  *                 8=outcomes(rep){1=reaction_time{1=value f32, 3=units},
  *                                 3=products(rep)}
  *                 9=provenance{3=experiment_start{1=value}}
  * Compound:       1=identifiers{1=type, 3=value}  3=reaction_role
  * ProductCompound:1=identifiers  3=measurements{2=type, 8=percentage{1=value f32}}
  * }}}
  *
  * Unknown fields are skipped by wire type — forward-compatible by
  * construction, like any generated protobuf reader. A length or varint
  * that runs past its enclosing message, and a field of wire type 3, 4, 6
  * or 7 (groups, or no wire type at all), throw `IllegalArgumentException`.
  */
object OrdWire {

  final case class CompoundId(itype: Int, value: String)
  final case class Component(role: Int, ids: Seq[CompoundId])
  final case class InputEntry(key: String, components: Seq[Component])
  final case class Product(ids: Seq[CompoundId], yieldPct: Option[Double])
  final case class RxnIdentifier(itype: Int, value: String, isMapped: Boolean)
  final case class OrdReaction(
      datasetName: String,
      datasetId: String,
      identifiers: Seq[RxnIdentifier],
      inputs: Seq[InputEntry],
      products: Seq[Product],
      tempValue: Option[Double], tempUnits: Int, tempControl: Int,
      timeValue: Option[Double], timeUnits: Int,
      procedureDetails: Option[String],
      experimentStart: Option[String])

  // ---- wire primitives -----------------------------------------------------

  /** A cursor over one message, `b(i until end)`. Every length read from
    * the wire is checked against the bytes left in the message, so corrupt
    * input throws instead of moving the cursor backwards (a decode that
    * never ends) or into a neighbouring message. */
  private final class Reader(val b: Array[Byte], var i: Int, val end: Int) {
    def hasNext: Boolean = i < end
    private def corrupt(what: String): Nothing =
      throw new IllegalArgumentException(
        s"corrupt protobuf: $what at byte $i of a message ending at byte $end")
    /** `n`, once it is known to fit in the rest of the message. */
    private def fits(n: Long): Int =
      if (n < 0 || n > end - i) corrupt(s"length $n")
      else n.toInt
    def varint(): Long = {
      var x = 0L; var s = 0
      while (true) {
        if (i >= end) corrupt("unterminated varint")
        val c = b(i) & 0xff; i += 1
        x |= (c & 0x7fL) << s; s += 7
        if ((c & 0x80) == 0) return x
      }
      x
    }
    def f32(): Float = {
      val p = i; i += fits(4)
      java.lang.Float.intBitsToFloat(
        (b(p) & 0xff) | (b(p + 1) & 0xff) << 8 | (b(p + 2) & 0xff) << 16 |
          (b(p + 3) & 0xff) << 24)
    }
    /** Returns (fieldNumber, wireType); positions reader at the payload. */
    def tag(): (Int, Int) = { val t = varint(); ((t >> 3).toInt, (t & 7).toInt) }
    def lenDelim(): Reader = {
      val n = fits(varint()); val r = new Reader(b, i, i + n); i += n; r
    }
    def str(): String = {
      val n = fits(varint())
      val s = new String(b, i, n, java.nio.charset.StandardCharsets.UTF_8)
      i += n; s
    }
    def skip(wt: Int): Unit = wt match {
      case 0 => varint()
      case 1 => i += fits(8)
      case 2 =>
        // NB: not `i += varint()` — Scala evaluates the lhs of `+=` before
        // the rhs, and varint() itself advances i.
        val n = fits(varint()); i += n
      case 5 => i += fits(4)
      // 3 and 4 are the deprecated groups, which ORD does not use; 6 and 7
      // are not wire types. Either way the field's length is unknown.
      case _ => corrupt(s"wire type $wt")
    }
  }

  // ---- ORD subtree decoders ------------------------------------------------

  private def compoundIds(r: Reader): CompoundId = {
    var t = 0; var v = ""
    while (r.hasNext) r.tag() match {
      case (1, 0) => t = r.varint().toInt
      case (3, 2) => v = r.str()
      case (_, wt) => r.skip(wt)
    }
    CompoundId(t, v)
  }

  private def component(r: Reader): Component = {
    val ids = ArrayBuffer[CompoundId]()
    var role = 0
    while (r.hasNext) r.tag() match {
      case (1, 2) => ids += compoundIds(r.lenDelim())
      case (3, 0) => role = r.varint().toInt
      case (_, wt) => r.skip(wt)
    }
    Component(role, ids.toSeq)
  }

  private def inputEntry(r: Reader): InputEntry = {
    var key = ""; val comps = ArrayBuffer[Component]()
    while (r.hasNext) r.tag() match {
      case (1, 2) => key = r.str()
      case (2, 2) =>
        val ri = r.lenDelim()
        while (ri.hasNext) ri.tag() match {
          case (1, 2) => comps += component(ri.lenDelim())
          case (_, wt) => ri.skip(wt)
        }
      case (_, wt) => r.skip(wt)
    }
    InputEntry(key, comps.toSeq)
  }

  private def product(r: Reader): Product = {
    val ids = ArrayBuffer[CompoundId]()
    var yld: Option[Double] = None
    while (r.hasNext) r.tag() match {
      case (1, 2) => ids += compoundIds(r.lenDelim())
      case (3, 2) => // ProductMeasurement
        val m = r.lenDelim()
        var mtype = 0; var pct = 0.0
        while (m.hasNext) m.tag() match {
          case (2, 0) => mtype = m.varint().toInt
          case (8, 2) => // Percentage{1=value f32}
            val p = m.lenDelim()
            while (p.hasNext) p.tag() match {
              case (1, 5) => pct = p.f32().toDouble
              case (_, wt) => p.skip(wt)
            }
          case (_, wt) => m.skip(wt)
        }
        // Reference loop overwrites: LAST type-3 measurement wins, and
        // proto3 accessors default an absent percentage.value to 0.0
        // (extractor.py:401-408).
        if (mtype == 3) yld = Some(pct)
      case (_, wt) => r.skip(wt)
    }
    Product(ids.toSeq, yld)
  }

  private def reaction(r: Reader, dsName: String, dsId: String): OrdReaction = {
    val idents = ArrayBuffer[RxnIdentifier]()
    val inputs = ArrayBuffer[InputEntry]()
    val products = ArrayBuffer[Product]()
    var tempV: Option[Double] = None; var tempU = 0; var tempC = 0
    var timeV: Option[Double] = None; var timeU = 0
    var proc: Option[String] = None; var expStart: Option[String] = None
    var outcomeSeen = false
    var spVal = 0.0; var rtVal = 0.0 // singular-message merge accumulators

    while (r.hasNext) r.tag() match {
      case (1, 2) => // ReactionIdentifier
        val m = r.lenDelim()
        var t = 0; var v = ""; var mapped = false
        while (m.hasNext) m.tag() match {
          case (1, 0) => t = m.varint().toInt
          case (3, 2) => v = m.str()
          case (4, 0) => mapped = m.varint() != 0
          case (_, wt) => m.skip(wt)
        }
        idents += RxnIdentifier(t, v, mapped)
      case (2, 2) => inputs += inputEntry(r.lenDelim())
      case (4, 2) => // conditions
        val c = r.lenDelim()
        while (c.hasNext) c.tag() match {
          case (1, 2) => // TemperatureConditions
            val tc = c.lenDelim()
            while (tc.hasNext) tc.tag() match {
              case (1, 2) => // control{1=type}
                val ct = tc.lenDelim()
                while (ct.hasNext) ct.tag() match {
                  case (1, 0) => tempC = ct.varint().toInt
                  case (_, wt) => ct.skip(wt)
                }
              case (2, 2) => // setpoint{1=value, 3=units}
                // proto3 presence is per-MESSAGE: a setpoint with units set
                // but value omitted (0.0 is not serialized) reads back as
                // value=0.0, not "no value" (extractor.py:426-443). The
                // accumulator persists across occurrences — repeated wire
                // fragments of a singular message MERGE (a later fragment
                // without the value field keeps the earlier value).
                val sp = tc.lenDelim()
                while (sp.hasNext) sp.tag() match {
                  case (1, 5) => spVal = sp.f32().toDouble
                  case (3, 0) => tempU = sp.varint().toInt
                  case (_, wt) => sp.skip(wt)
                }
                tempV = Some(spVal)
              case (_, wt) => tc.skip(wt)
            }
          case (_, wt) => c.skip(wt)
        }
      case (5, 2) => // notes{9=procedure_details}
        val n = r.lenDelim()
        while (n.hasNext) n.tag() match {
          case (9, 2) => proc = Some(n.str())
          case (_, wt) => n.skip(wt)
        }
      case (8, 2) => // outcomes: the reference reads rxn.outcomes[0] ONLY
        // for both products and reaction_time (extractor.py:390, 462-474);
        // later outcome messages are ignored entirely.
        val o = r.lenDelim()
        if (outcomeSeen) o.i = o.end
        else {
          outcomeSeen = true
          while (o.hasNext) o.tag() match {
            case (1, 2) => // reaction_time{1=value, 3=units}; proto3: an
              // absent value field inside a present message reads as 0.0,
              // and repeated fragments merge (accumulator persists)
              val t = o.lenDelim()
              while (t.hasNext) t.tag() match {
                case (1, 5) => rtVal = t.f32().toDouble
                case (3, 0) => timeU = t.varint().toInt
                case (_, wt) => t.skip(wt)
              }
              timeV = Some(rtVal)
            case (3, 2) => products += product(o.lenDelim())
            case (_, wt) => o.skip(wt)
          }
        }
      case (9, 2) => // provenance{3=experiment_start{1=value}}
        val p = r.lenDelim()
        while (p.hasNext) p.tag() match {
          case (3, 2) =>
            val es = p.lenDelim()
            while (es.hasNext) es.tag() match {
              case (1, 2) => expStart = Some(es.str())
              case (_, wt) => es.skip(wt)
            }
          case (_, wt) => p.skip(wt)
        }
      case (_, wt) => r.skip(wt)
    }
    OrdReaction(dsName, dsId, idents.toSeq, inputs.toSeq, products.toSeq,
      tempV, tempU, tempC, timeV, timeU, proc, expStart)
  }

  /** Decode a full (uncompressed) Dataset message into its reactions. */
  def decodeDataset(bytes: Array[Byte]): Seq[OrdReaction] = {
    var name = ""; var dsId = ""
    // reactions decode after the scan: name and id may follow them
    val reactions = ArrayBuffer[Reader]()
    val r = new Reader(bytes, 0, bytes.length)
    while (r.hasNext) r.tag() match {
      case (1, 2) => name = r.str()
      case (10, 2) => dsId = r.str()
      case (3, 2) => reactions += r.lenDelim()
      case (_, wt) => r.skip(wt)
    }
    reactions.map(reaction(_, name, dsId)).toSeq
  }

  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1 << 16)
    var n = in.read(buf)
    while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }
}
