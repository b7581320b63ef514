package graft

import java.nio.file.{Files, Path}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.util.Try

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

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.GZIPOutputStream(out)
    z.write(b); z.close()
    out.toByteArray
  }

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

  test("a corrupt or truncated file fails the scan with its path") {
    val corrupt = dirWith("corrupt-length.pb.gz", gzip(negativeUnknown))
    val e1 = intercept[Exception](OrdSource.readNested(spark, corrupt.toString).count())
    assert(messages(e1).contains("corrupt-length.pb.gz"), messages(e1))
    val whole = gzip(valid)
    val cut = dirWith("cut-short.pb.gz", whole.take(whole.length / 2))
    val e2 = intercept[Exception](OrdSource.readNested(spark, cut.toString).count())
    assert(messages(e2).contains("cut-short.pb.gz"), messages(e2))
    // the same valid bytes, whole, still read
    assert(OrdSource.readNested(spark, dirWith("whole.pb.gz", whole).toString).count() == 1)
  }
}
