package graft

import java.nio.file.{Files, Path}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.util.{Random, Try}

import graft.extract.{OrdSource, OrdWire}
import graft.extract.OrdWire.{OrdReaction, RxnIdentifier}

/** Corrupt ORD input fails, and names the file, instead of decoding
  * forever or decoding garbage. */
class OrdDecodeSpec extends SparkSpec {

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  // wire type 2 with the length varint 0xFFFFFFFA, which is -6 as an Int:
  // field 5 (unknown, skipped) and field 3 (a reaction)
  private val negativeUnknown = bytes(0x2A, 0xFA, 0xFF, 0xFF, 0xFF, 0x0F)
  private val negativeReaction = bytes(0x1A, 0xFA, 0xFF, 0xFF, 0xFF, 0x0F)

  /** name "ds", id "id", one reaction with one mapped identifier "A>B>C". */
  private val valid = {
    val ident = bytes(0x08, 0x06, 0x1A, 0x05) ++ "A>B>C".getBytes ++ bytes(0x20, 0x01)
    val reaction = bytes(0x0A, ident.length) ++ ident
    bytes(0x0A, 0x02) ++ "ds".getBytes ++ bytes(0x1A, reaction.length) ++ reaction ++
      bytes(0x52, 0x02) ++ "id".getBytes
  }

  /** The decode on another thread, so a decode that never ends fails the
    * test instead of hanging the suite. */
  private def decode(b: Array[Byte]): Try[Seq[OrdReaction]] =
    Await.result(Future(Try(OrdWire.decodeDataset(b))), 10.seconds)

  private def dirWith(name: String, content: Array[Byte]): Path = {
    val dir = Files.createTempDirectory("ord")
    Files.write(dir.resolve(name), content)
    dir
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("valid input decodes") {
    assert(decode(valid).get == Seq(OrdReaction("ds", "id",
      Seq(RxnIdentifier(6, "A>B>C", isMapped = true)), Nil, Nil,
      None, 0, 0, None, 0, None, None)))
  }

  test("negative lengths throw instead of looping") {
    for (b <- Seq(negativeUnknown, negativeReaction)) {
      val r = decode(b)
      assert(r.isFailure, r)
      assert(r.failed.get.getMessage.contains("length"), r)
    }
  }

  test("lengths past the enclosing message and cut varints throw") {
    // a reaction of 16 bytes with 2 left; a string of 9 bytes inside an
    // identifier of 2; a varint cut at the end of the data
    for (b <- Seq(bytes(0x1A, 0x10, 0x08, 0x06),
        bytes(0x1A, 0x04, 0x0A, 0x02, 0x1A, 0x09),
        bytes(0x0A, 0x02) ++ "ds".getBytes ++ bytes(0x18, 0xFF))) {
      assert(decode(b).isFailure, b.toSeq)
    }
    // a valid dataset cut one byte short
    assert(decode(valid.dropRight(1)).isFailure)
  }

  test("wire types 3, 4, 6 and 7 throw, at the top level and inside a reaction") {
    // byte 0 is the dataset name's tag, byte 6 the reaction's first
    // identifier tag; both are field 1 of wire type 2
    assert(valid(0) == 0x0A && valid(6) == 0x0A)
    for (wt <- Seq(3, 4, 6, 7); at <- Seq(0, 6)) {
      val b = valid.clone()
      b(at) = (0x08 | wt).toByte
      val r = decode(b)
      assert(r.isFailure && r.failed.get.getMessage.contains(s"wire type $wt"), (wt, at, r))
      val name = s"wire-type-$wt-at-$at.pb.gz"
      val dir = dirWith(name, OrdWireWriter.gzip(b))
      val e = intercept[Exception](OrdSource.readNested(spark, dir.toString).count())
      assert(messages(e).contains(name), messages(e))
    }
  }

  test("a corrupt or truncated file fails the scan with its path") {
    val corrupt = dirWith("corrupt-length.pb.gz", OrdWireWriter.gzip(negativeUnknown))
    val e1 = intercept[Exception](OrdSource.readNested(spark, corrupt.toString).count())
    assert(messages(e1).contains("corrupt-length.pb.gz"), messages(e1))
    val whole = OrdWireWriter.gzip(valid)
    val cut = dirWith("cut-short.pb.gz", whole.take(whole.length / 2))
    val e2 = intercept[Exception](OrdSource.readNested(spark, cut.toString).count())
    assert(messages(e2).contains("cut-short.pb.gz"), messages(e2))
    // the same valid bytes, whole, still read
    assert(OrdSource.readNested(spark, dirWith("whole.pb.gz", whole).toString).count() == 1)
  }

  test("seeded round trip: encode, gzip, gunzip and decode give the reactions back") {
    for (seed <- 0L until 200L) {
      val rng = new Random(seed)
      val rs = Seq.fill(rng.nextInt(12))(OrdFixtures.randomReaction(rng, s"ds$seed", s"id$seed"))
      val b = OrdWireWriter.gzip(OrdWireWriter.dataset(s"ds$seed", s"id$seed", rs))
      assert(OrdWire.decodeDataset(OrdWire.gunzip(b)) == rs, s"seed $seed")
    }
    // the hand-written bytes above are what the encoder writes
    assert(OrdWireWriter.dataset("ds", "id", decode(valid).get) sameElements valid)
  }

  test("a directory with no *.pb.gz file fails naming the directory and the glob") {
    val empty = Files.createTempDirectory("ord-empty")
    val other = dirWith("notes.pb", OrdWireWriter.gzip(valid))
    Files.write(other.resolve("_hidden.pb.gz"), OrdWireWriter.gzip(valid))
    Files.write(other.resolve(".hidden.pb.gz"), OrdWireWriter.gzip(valid))
    for (dir <- Seq(empty, other)) {
      val e = intercept[IllegalArgumentException](OrdSource.readNested(spark, dir.toString))
      assert(e.getMessage.contains(dir.toString) && e.getMessage.contains("*.pb.gz"),
        e.getMessage)
    }
  }

  test("a missing directory fails with Spark's PATH_NOT_FOUND, naming it") {
    val missing = Files.createTempDirectory("ord-gone").resolve("no-such-dir")
    val e = intercept[Exception](OrdSource.readNested(spark, missing.toString))
    assert(messages(e).contains("PATH_NOT_FOUND") && messages(e).contains(missing.toString),
      messages(e))
  }
}
