package graft.extract

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** S1/S2 — distributed ORD protobuf scan (SURVEY.md §2.1).
  *
  * Reference shape: joblib process-per-file loop over `.pb.gz` files
  * (extract/main.py:613-623, extractor.py:103-110). Spark shape: the
  * built-in `binaryFile` source lists and distributes the files
  * cluster-wide and with locality, then each task gunzips + wire-decodes
  * its datasets and flat-maps reactions. A task is not one file: like any
  * file source, `binaryFile` packs files into splits of up to
  * `maxPartitionBytes`, counting each file as at least `openCostInBytes`
  * (4 MB), so small files share a task (16 files of ~40 KB → 4 tasks on 4
  * cores) and a task's time follows the sizes of the files it drew. Filename filtering (S2: substring / inverse
  * substring, skip-known-duplicate) happens on the file listing via
  * `pathGlobFilter` / a path filter BEFORE any bytes are read.
  */
object OrdSource {

  final case class OrdFileReaction(
      fileName: String, rxnOrdinal: Int, r: OrdWire.OrdReaction)

  /** The one (path, bytes) → reactions decode both the batch and streaming
    * sources share — keeps the IncrementalExtractSpec streaming==batch
    * invariant true by construction. A file that does not gunzip or decode
    * fails the job with its path in the message. */
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

  /** Read every `*.pb.gz` under `dir` (2-level glob like the reference's
    * directory layout) into one reaction per row. */
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

  /** The nested DataFrame view (FIXTURES.md §1 Spark ingest type). */
  def readNested(spark: SparkSession, dir: String): DataFrame =
    readReactions(spark, dir).toDF()
      .select(col("fileName"), col("rxnOrdinal"), col("r.*"))

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

  /** Streaming flavour of [[readNested]]: the same decode pipeline over a
    * `binaryFile` file-stream source, so newly-arrived `.pb.gz` files are
    * extracted incrementally (SURVEY.md §2.5's noted extension — the
    * reference re-runs its whole joblib loop; here checkpointed file
    * tracking processes each file exactly once).
    */
  def readNestedStream(spark: SparkSession, dir: String): DataFrame = {
    implicit val enc = Encoders.product[OrdFileReaction]
    spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.pb.gz")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(col("path"), col("content"))
      .as(Encoders.tuple(Encoders.STRING, Encoders.BINARY))
      .flatMap { case (path, bytes) => decodeFile(path, bytes) }
      .toDF()
      .select(col("fileName"), col("rxnOrdinal"), col("r.*"))
  }

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
