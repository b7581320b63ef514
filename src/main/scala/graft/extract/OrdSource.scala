package graft.extract

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import graft.extract.OrdWire.{InputEntry, Product, RxnIdentifier}

/** S1/S2 — distributed ORD protobuf scan (SURVEY.md §2.1).
  *
  * Reference shape: joblib process-per-file loop over `.pb.gz` files
  * (extract/main.py:613-623, extractor.py:103-110). Spark shape: the driver
  * lists the files with the `binaryFile` source's own listing (recursive,
  * `pathGlobFilter`, hidden `_`/`.` files skipped) and applies the S2 name
  * filters (substring / inverse substring) to that list before any bytes
  * are read. It then packs the files into size-balanced tasks: ORD file
  * sizes are very uneven, and `binaryFile`'s own packing charges every file
  * 4 MB of `openCostInBytes`, so the largest files of a small corpus share
  * one split, which then holds most of the work. Each task reads its files
  * one at a time through Hadoop FS, gunzips and wire-decodes them, and
  * emits one [[NestedReaction]] per reaction. The packing gives up
  * `binaryFile`'s HDFS locality; the step is CPU-bound (decode and
  * canonicalisation), so balance matters more.
  */
object OrdSource {

  /** One reaction of one ORD file: the row of [[readNested]], and the row
    * type [[Extract.extractReactions]] reads. `fileName` is the file's name
    * without `.pb.gz`; `rxnOrdinal` the reaction's position in the file. */
  final case class NestedReaction(
      fileName: String, rxnOrdinal: Int,
      datasetName: String, datasetId: String,
      identifiers: Seq[RxnIdentifier],
      inputs: Seq[InputEntry],
      products: Seq[Product],
      tempValue: Option[Double], tempUnits: Int, tempControl: Int,
      timeValue: Option[Double], timeUnits: Int,
      procedureDetails: Option[String],
      experimentStart: Option[String])

  /** Built once: deriving a product encoder walks the case class by Scala
    * reflection, which is slow enough to show in a warm pass's planning. */
  private[graft] val nestedEncoder = Encoders.product[NestedReaction]

  private val pathAndBytes = Encoders.tuple(Encoders.STRING, Encoders.BINARY)

  private val glob = "*.pb.gz"

  /** The one (path, bytes) → reactions decode both the batch and streaming
    * sources share — keeps the IncrementalExtractSpec streaming==batch
    * invariant true by construction. A file that does not gunzip or decode
    * fails the job with its path in the message. */
  private def decodeFile(path: String, bytes: Array[Byte]): Seq[NestedReaction] = {
    val name = path.split('/').last.stripSuffix(".pb.gz")
    val reactions =
      try OrdWire.decodeDataset(OrdWire.gunzip(bytes))
      catch {
        case NonFatal(e) =>
          throw new java.io.IOException(s"cannot decode ORD file $path: $e", e)
      }
    reactions.zipWithIndex.map { case (r, i) =>
      NestedReaction(name, i, r.datasetName, r.datasetId, r.identifiers, r.inputs,
        r.products, r.tempValue, r.tempUnits, r.tempControl, r.timeValue, r.timeUnits,
        r.procedureDetails, r.experimentStart)
    }
  }

  /** Longest-processing-time-first packing (Graham 1969) of `(path, bytes)`
    * into `min(k, files)` bins: files by size descending, then path, each
    * into the bin with the fewest bytes (then the fewest files, then the
    * lowest index). Deterministic; no bin is empty, and the heaviest bin
    * holds at most total / bins + the largest file. */
  private[graft] def planBins(files: Seq[(String, Long)], k: Int): Seq[Seq[String]] = {
    val n = math.min(k, files.size)
    val bins = Array.fill(n)(ArrayBuffer.empty[String])
    // (bytes, files, index) of each bin; the head is the lightest
    val lightest = new java.util.PriorityQueue[(Long, Int, Int)](math.max(n, 1),
      Ordering[(Long, Int, Int)])
    (0 until n).foreach(i => lightest.add((0L, 0, i)))
    files.sortBy { case (path, len) => (-len, path) }.foreach { case (path, len) =>
      val (bytes, count, i) = lightest.poll()
      bins(i) += path
      lightest.add((bytes + len, count + 1, i))
    }
    bins.toSeq.map(_.toSeq)
  }

  /** `(path, bytes)` of every `*.pb.gz` under `dir`, after the S2 filters.
    * The listing is `binaryFile`'s, so it starts no Spark job; a missing
    * `dir` fails with Spark's `PATH_NOT_FOUND`, and a listing with no
    * matching file fails naming `dir`. */
  private def listFiles(spark: SparkSession, dir: String, contains: Option[String],
      inverseContains: Option[String]): Seq[(String, Long)] = {
    val listed = spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(dir)
      .inputFiles
    if (listed.isEmpty)
      throw new IllegalArgumentException(s"no $glob file under $dir")
    val conf = spark.sessionState.newHadoopConf()
    listed.toSeq
      // `binaryFile`'s `path` column form (Path.toString), which `inputFiles`
      // gives URI-escaped
      .map(f => new Path(new java.net.URI(f)))
      .filter(p => contains.forall(p.toString.contains) &&
        !inverseContains.exists(p.toString.contains))
      .map(p => p.toString -> p.getFileSystem(conf).getFileStatus(p).getLen)
  }

  /** Read every `*.pb.gz` under `dir` (recursively, like the reference's
    * directory layout) into one reaction per row, in
    * max(`defaultParallelism`, total bytes / `spark.sql.files.maxPartitionBytes`)
    * size-balanced tasks (at most one per file). */
  def readReactions(spark: SparkSession, dir: String,
      contains: Option[String] = None,
      inverseContains: Option[String] = None): Dataset[NestedReaction] = {
    val files = listFiles(spark, dir, contains, inverseContains)
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val k = math.max(spark.sparkContext.defaultParallelism,
      ((files.map(_._2).sum + maxBytes - 1) / maxBytes).toInt)
    val bins = planBins(files, k)
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val rdd = spark.sparkContext.parallelize(bins, math.max(bins.size, 1)).flatMap { bin =>
      bin.iterator.flatMap { file =>
        val p = new Path(file)
        val in = p.getFileSystem(conf.value).open(p)
        val bytes = try in.readAllBytes() finally in.close()
        decodeFile(file, bytes)
      }
    }
    spark.createDataset(rdd)(nestedEncoder)
  }

  /** The nested DataFrame view (FIXTURES.md §1 Spark ingest type). */
  def readNested(spark: SparkSession, dir: String): DataFrame =
    readReactions(spark, dir).toDF()

  /** binaryFile's fixed schema, needed explicitly by the streaming source. */
  private val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("modificationTime",
      org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("length",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("content",
      org.apache.spark.sql.types.BinaryType)))

  /** Streaming flavour of [[readNested]]: the same decode over a
    * `binaryFile` file-stream source, so newly-arrived `.pb.gz` files are
    * extracted incrementally (SURVEY.md §2.5's noted extension — the
    * reference re-runs its whole joblib loop; here checkpointed file
    * tracking processes each file exactly once).
    */
  def readNestedStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(col("path"), col("content"))
      .as(pathAndBytes)
      .flatMap { case (path, bytes) => decodeFile(path, bytes) }(nestedEncoder)
      .toDF()

  /** Incremental extract job: drain all unseen `.pb.gz` files under `inDir`
    * through the full extraction pipeline into a parquet sink, then stop
    * (`Trigger.AvailableNow`). State lives in `checkpointDir`, so re-running
    * after new files arrive appends ONLY their reactions — the operational
    * mode for continuous ORD ingest at scale (each micro-batch is the same
    * narrow, shuffle-free map as the batch path).
    */
  def incrementalExtract(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, cfg: ExtractConfig, chem: Chemistry,
      solventSet: Seq[String],
      replacements: Map[String, String] = Map.empty): Unit = {
    val nested = readNestedStream(spark, inDir)
    val extracted = Extract.extractReactions(nested, cfg, chem, solventSet,
      replacements)
    val q = extracted.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
