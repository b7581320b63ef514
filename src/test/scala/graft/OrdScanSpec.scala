package graft

import java.nio.file.{Files, Path}

import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.{Extract, ExtractConfig, IdentityChemistry, OrdSource, OrdWire}

/** The size-balanced batch ORD scan against the `binaryFile` scan it
  * replaced, on generated skewed directories, and its bin planner. */
class OrdScanSpec extends SparkSpec {

  private def counts(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) == want.schema.map(f => f.name -> f.dataType))
    assert(counts(got) == counts(want))
  }

  /** 16 skewed files (one in a subdirectory), 8 more under another name
    * (with a space in it), and files the listing must skip. */
  private lazy val (dir: Path, written: Seq[(Path, Seq[OrdWire.OrdReaction])]) = {
    val d = Files.createTempDirectory("ord-scan")
    val files =
      OrdFixtures.writeSkewedDir(d, 11L, files = 16, reactions = 1600, inSub = Set(5)) ++
        OrdFixtures.writeSkewedDir(d, 12L, files = 8, reactions = 300, skew = 2.0,
          prefix = "ord data-2019_03", inSub = Set(0, 7))
    val one = OrdWireWriter.gzip(OrdWireWriter.dataset("x", "y",
      Seq(OrdFixtures.randomReaction(new Random(1), "x", "y"))))
    Seq("_hidden.pb.gz", ".hidden.pb.gz", "notes.pb", "sub/skip.gz").foreach(n =>
      Files.write(d.resolve(n), one))
    (d, files)
  }

  test("readNested equals the binaryFile scan row for row, with the same columns") {
    val got = OrdSource.readNested(spark, dir.toString)
    val want = LegacyOrdScan.readNested(spark, dir.toString)
    assert(got.columns.toSeq == Seq("fileName", "rxnOrdinal", "datasetName", "datasetId",
      "identifiers", "inputs", "products", "tempValue", "tempUnits", "tempControl",
      "timeValue", "timeUnits", "procedureDetails", "experimentStart"))
    assertSameRows(got, want)
    assert(got.count() == written.map(_._2.size).sum)
    assert(got.select("fileName").distinct().count() == written.size)
    // the extract reads both alike, down to the output schema's nullability
    val (g, w) = Seq(got, want).map(Extract.extractReactions(_, ExtractConfig(),
      IdentityChemistry, Seq("O", "CCO"))) match { case Seq(a, b) => (a, b) }
    assert(g.schema == w.schema)
    assert(counts(g) == counts(w))
  }

  test("the contains and inverseContains filters select the same files as before") {
    for ((c, ic) <- Seq((Some("grants"), None), (None, Some("grants")),
        (Some("2019"), Some("-7.pb")), (Some("sub/"), None), (Some("absent"), None))) {
      val got = OrdSource.readReactions(spark, dir.toString, c, ic).toDF()
      val want = LegacyOrdScan.readReactions(spark, dir.toString, c, ic).toDF()
        .select(col("fileName"), col("rxnOrdinal"), col("r.*"))
      assertSameRows(got, want)
    }
    assert(OrdSource.readReactions(spark, dir.toString, Some("sub/")).toDF()
      .select("fileName").distinct().count() == 3)
  }

  test("the streaming scan gives the batch scan's rows and columns") {
    val q = OrdSource.readNestedStream(spark, dir.toString).writeStream
      .format("memory").queryName("ord_scan_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assertSameRows(spark.table("ord_scan_stream"), OrdSource.readNested(spark, dir.toString))
  }

  test("the scan runs in max(cores, bytes / maxPartitionBytes) balanced tasks") {
    val rs = OrdSource.readReactions(spark, dir.toString)
    assert(rs.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    val perTask = rs.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(perTask.forall(_ > 0) && perTask.sum == rs.count())
  }

  private def randomFiles(rng: Random): Seq[(String, Long)] = {
    val n = 1 + rng.nextInt(40)
    Seq.tabulate(n) { i =>
      val len = rng.nextInt(4) match {
        case 0 => 0L
        case 1 => 1000L
        case _ => (1e6 / math.pow(i + 1, 1 + rng.nextDouble())).toLong
      }
      s"f${rng.nextInt(1000)}-$i" -> len
    }
  }

  test("bin planner: every file in one bin, no empty bin, deterministic, bounded") {
    val rng = new Random(5)
    for (_ <- 0 until 500) {
      val files = randomFiles(rng)
      val k = 1 + rng.nextInt(files.size + 4)
      val bins = OrdSource.planBins(files, k)
      assert(bins.size == math.min(k, files.size))
      assert(bins.flatten.sorted == files.map(_._1).sorted)
      assert(bins.forall(_.nonEmpty), bins)
      assert(OrdSource.planBins(rng.shuffle(files), k) == bins)
      val size = files.toMap
      val total = files.map(_._2).sum
      val heaviest = bins.map(_.map(size).sum).max
      assert(heaviest <= total / bins.size + files.map(_._2).max, (files, k, bins))
    }
    assert(OrdSource.planBins(Nil, 4).isEmpty)
  }

  test("bin planner: largest first into the lightest bin, ties to the lowest index") {
    val files = Seq("a" -> 5L, "b" -> 5L, "c" -> 4L, "d" -> 3L, "e" -> 3L, "f" -> 0L)
    // a→0, b→1, c→2, d→2 (4 < 5), e→0 (5 = 5 < 7, lowest index), f→1
    assert(OrdSource.planBins(files, 3) == Seq(Seq("a", "e"), Seq("b", "f"), Seq("c", "d")))
  }
}

/** The batch scan as it was before the size-balanced bins, verbatim but
  * for names: `binaryFile` packs the files, each is decoded into a
  * (file, ordinal, reaction) row, and `readNested` flattens `r.*`. */
object LegacyOrdScan {

  final case class OrdFileReaction(
      fileName: String, rxnOrdinal: Int, r: OrdWire.OrdReaction)

  private def decodeFile(path: String, bytes: Array[Byte]): Seq[OrdFileReaction] = {
    val name = path.split('/').last.stripSuffix(".pb.gz")
    val reactions =
      try OrdWire.decodeDataset(OrdWire.gunzip(bytes))
      catch {
        case NonFatal(e) =>
          throw new java.io.IOException(s"cannot decode ORD file $path: $e", e)
      }
    reactions.zipWithIndex.map { case (r, i) => OrdFileReaction(name, i, r) }
  }

  def readReactions(spark: SparkSession, dir: String,
      contains: Option[String] = None,
      inverseContains: Option[String] = None): Dataset[OrdFileReaction] = {
    implicit val enc = Encoders.product[OrdFileReaction]
    var files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.pb.gz")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(col("path"), col("content"))
    contains.foreach(s => files = files.filter(col("path").contains(s)))
    inverseContains.foreach(s => files = files.filter(!col("path").contains(s)))
    files.as(Encoders.tuple(Encoders.STRING, Encoders.BINARY)).flatMap {
      case (path, bytes) => decodeFile(path, bytes)
    }
  }

  def readNested(spark: SparkSession, dir: String): DataFrame =
    readReactions(spark, dir).toDF()
      .select(col("fileName"), col("rxnOrdinal"), col("r.*"))
}
