package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.extract.{Extract, ExtractConfig, IdentityChemistry, OrdSource, Smiles, StructuralChemistry}
import graft.functions.XHash
import graft.operators.{CleanConfig, Cleaner, Fingerprints, NpySink, ReactionTable}

object Workloads {
  val names: Seq[String] = Seq("extract_ord", "clean_split", "registry_mix")

  /** `scale` shrinks the inputs (1 = the benchmark's sizes; the class
    * archive's training run uses small ones). */
  def apply(name: String, spark: SparkSession, seed: Long, scale: Double = 1.0): Workload =
    name match {
      case "extract_ord" => new ExtractOrd(spark, seed, scale)
      case "clean_split" => new CleanSplit(spark, seed, scale)
      case "registry_mix" => new RegistryMix(spark, seed, scale)
    }

  def scaled(n: Int, scale: Double, min: Int): Int = math.max(min, (n * scale).round.toInt)

  /** Run `body` in a span and return its result with its seconds. */
  def timedSpan[T](tracer: Tracer, name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = tracer.span(name)(body)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def persisted[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** The clean layers one at a time, each materialised so its span holds
    * only its own work: load, clean, split with train/test write, then the
    * test half through dense fingerprints and the `.npy` sink. Also checks
    * the counts the generator planted and the `.npy` file. */
  def cleanLayers(spark: SparkSession, tracer: Tracer, dir: Path, cfg: CleanConfig,
      planted: Planted, out: Path, nBits: Int): (Map[String, Double], Seq[String]) = {
    def layer[T](name: String)(body: => T): (T, Double) = timedSpan(tracer, s"materialised.$name")(body)
    val (raw, loadS) = layer("operators.load")(persisted(ReactionTable.load(spark, dir.toString)))
    val (cleaned, cleanS) = layer("operators.clean")(persisted(Cleaner.clean(raw, cfg)))
    val (test, splitS) = layer("operators.split") {
      val (tr, te) = Cleaner.splitWithLeakageMove(cleaned, cfg)
      tr.write.parquet(out.resolve("train").toString)
      te.write.parquet(out.resolve("test").toString)
      persisted(spark.read.parquet(out.resolve("test").toString))
    }
    val (fp, fpS) = layer("operators.fp")(persisted(Fingerprints.reactionFingerprintsDense(test, nBits)))
    val npy = out.resolve("test.npy")
    val (_, npyS) = layer("operators.npy_write")(NpySink.write(fp, npy.toString))
    // checks and planted counts, outside every span
    val testRows = test.count()
    val (npyRows, npyCols, _) = npyShapeAndCrc(npy)
    val npyFails =
      (if (npyRows != testRows || npyCols != 2 * nBits)
        Seq(s"npy shape ($npyRows, $npyCols), want ($testRows, ${2 * nBits})") else Nil) ++
        npySampleCheck(spark, test, npy, nBits)
    val kept = cleaned.count()
    val noRare = Cleaner.clean(raw, cfg.copy(minFrequencyOfOccurrence = 0)).count()
    val valid = planted.input - planted.invalidAlways - (if (cfg.consistentYield) planted.invalidYield else 0)
    val dedupRemoved = valid - noRare
    val rareRemoved = noRare - kept
    val seededTest = cleaned.filter(XHash.bucket(cfg.seed + "split", 100,
      col("original_index").cast("string")) >= (cfg.trainSize * 100).toInt).count()
    val leakMoved = seededTest - testRows
    val npyMb = Files.size(npy) / 1e6
    Seq(raw, cleaned, test, fp).foreach(_.unpersist())
    val fails = npyFails ++ Seq(
      if (dedupRemoved != planted.dups) Some(s"dedup removed $dedupRemoved rows, ${planted.dups} planted") else None,
      if (!cfg.mapRareMoleculesToOther && rareRemoved != planted.rare)
        Some(s"rare filter removed $rareRemoved rows, ${planted.rare} planted") else None,
      if (leakMoved < 0 || leakMoved > planted.leakPairs)
        Some(s"leakage move took $leakMoved test rows, ${planted.leakPairs} pairs planted") else None).flatten
    (Map("operators.load_s" -> loadS, "operators.clean_s" -> cleanS, "operators.split_s" -> splitS,
      "operators.dedup_removed_ratio" -> dedupRemoved.toDouble / planted.input,
      "operators.rare_removed_ratio" -> rareRemoved.toDouble / planted.input,
      "operators.leak_moved" -> leakMoved.toDouble,
      "operators.fp_s" -> fpS, "operators.npy_write_s" -> npyS,
      "operators.npy_mb_per_s" -> npyMb / npyS), fails)
  }

  /** (rows, columns, CRC-32 of the whole file) of an NPY v1.0 file. */
  def npyShapeAndCrc(path: Path): (Long, Long, String) = {
    val bytes = Files.readAllBytes(path)
    val hlen = (bytes(8) & 0xff) | (bytes(9) & 0xff) << 8
    val header = new String(bytes, 10, hlen, java.nio.charset.StandardCharsets.US_ASCII)
    val shape = """'shape': \((\d+), (\d+)\)""".r.findFirstMatchIn(header)
    val crc = new java.util.zip.CRC32()
    crc.update(bytes)
    shape.map(m => (m.group(1).toLong, m.group(2).toLong, java.lang.Long.toHexString(crc.getValue)))
      .getOrElse((-1L, -1L, "no-shape"))
  }

  /** First, middle and last `.npy` rows equal the expression-path
    * fingerprints of the same reactions under [[IdentityChemistry]]. */
  def npySampleCheck(spark: SparkSession, test: DataFrame, path: Path, nBits: Int): Seq[String] = {
    val ids = test.select(col("original_index").cast("long")).collect().map(_.getLong(0)).sorted
    if (ids.isEmpty) return Nil
    val positions = Seq(0, ids.length / 2, ids.length - 1).distinct
    val want = Fingerprints.reactionFingerprints(
        test.filter(col("original_index").isin(positions.map(ids): _*)), IdentityChemistry, nBits)
      .collect().map(r => r.get(0).asInstanceOf[Number].longValue -> r.getSeq[Int](1)).toMap
    val bytes = Files.readAllBytes(path)
    val base = 10 + ((bytes(8) & 0xff) | (bytes(9) & 0xff) << 8)
    val width = 2 * nBits
    positions.flatMap { p =>
      val bb = ByteBuffer.wrap(bytes, base + p * width * 8, width * 8).order(ByteOrder.LITTLE_ENDIAN)
      val got = Seq.fill(width)(bb.getLong())
      val exp = want.get(ids(p)).map(_.map(_.toLong))
      if (exp.contains(got)) None else Some(s"npy row $p differs from reactionFingerprints(IdentityChemistry)")
    }
  }

  /** Output checks on a (train, test) split of the cleaner. */
  def splitChecks(train: DataFrame, test: DataFrame, cfg: CleanConfig,
      expected: Long): Seq[String] = {
    val rxn = concat_ws(".", array_sort(concat(col("reactants"), col("products"))))
    val both = train.unionByName(test)
    val n = both.count()
    val leaks = train.select(rxn.as("k")).distinct()
      .join(test.select(rxn.as("k")).distinct(), "k").count()
    val conds = Seq("agents", "reagents", "solvents", "catalysts").filter(both.columns.contains)
    val key = concat_ws("\u0001", (Seq("reactants") ++ conds).map(c => concat_ws("\u0002", array_sort(col(c)))) :+
      concat_ws("\u0002", array_sort(zip_with(col("products"), col("yields"),
        (p, y) => concat_ws("\u0003", p, coalesce(y.cast("string"), lit("null")))))): _*)
    val dupKeys = both.groupBy(key.as("k")).count().filter(col("count") > 1).count()
    val limits = Seq("reactants" -> cfg.numReactant, "products" -> cfg.numProduct,
      "agents" -> cfg.numAgent, "solvents" -> cfg.numSolv, "catalysts" -> cfg.numCat,
      "reagents" -> cfg.numReag).filter { case (c, k) => k >= 0 && both.columns.contains(c) }
    val over = both.filter(limits.map { case (c, k) => size(col(c)) > k }.reduce(_ || _)).count()
    Seq(
      if (n != expected) Some(s"clean kept $n rows, planted inputs give $expected") else None,
      if (leaks != 0) Some(s"$leaks reaction hashes in both train and test") else None,
      if (dupKeys != 0) Some(s"$dupKeys duplicate dedup keys") else None,
      if (over != 0) Some(s"$over rows over the width limits") else None).flatten
  }
}

/** ORD files → nested reactions → extracted table → Parquet. */
final class ExtractOrd(spark: SparkSession, seed: Long, scale: Double) extends Workload {
  val name = "extract_ord"
  // 16 000 reactions: on 4 cores a warm pass is ~0.6 s of fixed cost plus
  // ~0.13 ms per reaction, and about two thirds of it runs inside the
  // extract job; larger corpora would not leave room for several timed
  // passes in the run budget
  private val spec = CorpusSpec(reactions = Workloads.scaled(16000, scale, 100), files = 16, sizeSkew = 1.1,
    vocabulary = Workloads.scaled(4800, scale, 50), zipf = 1.05, multiFormShare = 0.3, unresolvedShare = 0.03)
  private var corpus: OrdCorpus = _
  def inputRows: Long = spec.reactions
  // the JIT compiles for five or six warm passes (per-pass compiler CPU
  // 8, 4, 3, 2, 2 s, then ~1 s) while the pass time falls by a third
  override def extraWarmUps: Int = 5

  def generate(dir: Path): Unit = corpus = OrdCorpus.write(dir.resolve("ord"), seed, spec)

  def inputs: Seq[(String, Any)] = Seq("reactions" -> spec.reactions, "files" -> spec.files,
    "file_mb" -> corpus.fileBytes / 1e6, "classes" -> corpus.classes.size,
    "distinct_strings" -> corpus.distinctStrings.size, "occurrences" -> corpus.occurrences,
    "multi_form_share" -> spec.multiFormShare, "unresolved_share" -> spec.unresolvedShare)

  private def extract(nested: DataFrame): DataFrame =
    Extract.extractReactions(nested, ExtractConfig(), StructuralChemistry, corpus.solvents)

  def pass(ctx: PassCtx): Unit = ctx.op("extract", "extract") {
    val nested = ctx.span("extract.readNested")(OrdSource.readNested(spark, corpus.dir.toString))
    val out = ctx.span("extract.extractReactions")(extract(nested))
    ctx.span("extract.write")(out.write.parquet(ctx.path("extracted")))
  }

  def check(ctx: PassCtx, full: Boolean): Seq[OpCheck] = {
    val out = spark.read.parquet(ctx.path("extracted"))
    val rowsOut = out.count()
    val ragged = out.filter(size(col("products")) =!= size(col("yields"))).count()
    val fails = Seq(
      if (rowsOut != spec.reactions) Some(s"extracted $rowsOut rows of ${spec.reactions}") else None,
      if (ragged != 0) Some(s"$ragged rows with size(products) != size(yields)") else None).flatten
    val classFails =
      if (!full) Nil
      else {
        val got = out.select(explode(flatten(array(col("reactants"), col("agents"),
          col("solvents"), col("products")))).as("m")).distinct().collect().map(_.getString(0)).toSet
        val want = corpus.expectedMolecules
        val extra = got -- want
        val missing = want -- got
        Seq(
          if (extra.nonEmpty) Some(s"${extra.size} molecule strings outside the class canonicals, e.g. ${extra.take(3).mkString(" ")}") else None,
          if (missing.nonEmpty) Some(s"${missing.size} used classes missing, e.g. ${missing.take(3).mkString(" ")}") else None).flatten
      }
    Seq(OpCheck("extract", fails ++ classFails, Harness.digest(out)))
  }

  def layers(dir: Path, tracer: Tracer): (Map[String, Double], Seq[String]) = {
    Harness.resetChemistryMemo()
    val (nested, scanS) = Workloads.timedSpan(tracer, "materialised.extract.scan")(
      Workloads.persisted(OrdSource.readNested(spark, corpus.dir.toString)))
    val (_, extractS) = Workloads.timedSpan(tracer, "materialised.extract.extract")(
      extract(nested).write.parquet(dir.resolve("extracted").toString))
    nested.unpersist()
    val rowsOut = spark.read.parquet(dir.resolve("extracted").toString).count()
    val mols = corpus.distinctStrings
    val (unresolved, canonS) = Workloads.timedSpan(tracer, "materialised.extract.canonical")(
      mols.count(s => Smiles.canonical(s).isEmpty))
    val fails = if (rowsOut != spec.reactions) Seq(s"extracted $rowsOut rows of ${spec.reactions}") else Nil
    (Map(
      "extract.scan_s" -> scanS,
      "extract.scan_mb_per_s" -> corpus.fileBytes / 1e6 / scanS,
      "extract.extract_s" -> extractS,
      "extract.canon_us_per_mol" -> canonS * 1e6 / mols.size,
      "extract.canon_distinct_ratio" -> corpus.distinctRatio,
      "extract.reactions" -> spec.reactions.toDouble,
      "extract.rows_out" -> rowsOut.toDouble,
      "extract.unresolved_ratio" -> unresolved.toDouble / mols.size), fails)
  }
}

/** One run of the default clean config: load, clean, split with the
  * leakage move, train/test write. */
final class CleanSplit(spark: SparkSession, seed: Long, scale: Double) extends Workload {
  val name = "clean_split"
  // ~22 000 input rows: on 4 cores a warm pass is ~4.6 s of fixed cost
  // (tens of small jobs) plus ~0.16 ms per row, and about 70% of its wall
  // time runs inside the cleaner's Spark jobs, ~60 MB of it shuffled; the
  // cold warm-up pass (~19 s) bounds how large a run can be
  private val spec = WideSpec(rows = Workloads.scaled(20000, scale, 200), files = 12, trust = false, maxReactants = 3,
    maxProducts = 2, dupShare = 0.05, leakShare = 0.04, rareShare = 0.02,
    invalidShare = 0.02, conditionPool = 12)
  private val cfg = CleanConfig()
  private var dir: Path = _
  private var planted: Planted = _
  def inputRows: Long = planted.input

  def generate(d: Path): Unit = {
    dir = d.resolve("wide")
    planted = WideTables.write(spark, dir, seed, spec)
  }

  def inputs: Seq[(String, Any)] = planted.fields ++ Seq("files" -> spec.files)

  def pass(ctx: PassCtx): Unit = ctx.op("clean_split", "operators") {
    val raw = ctx.span("operators.load")(ReactionTable.load(spark, dir.toString))
    val cleaned = ctx.span("operators.clean")(Cleaner.clean(raw, cfg))
    val (train, test) = ctx.span("operators.split")(Cleaner.splitWithLeakageMove(cleaned, cfg))
    ctx.span("operators.write") {
      train.write.parquet(ctx.path("train"))
      test.write.parquet(ctx.path("test"))
    }
  }

  def check(ctx: PassCtx, full: Boolean): Seq[OpCheck] = {
    val train = spark.read.parquet(ctx.path("train"))
    val test = spark.read.parquet(ctx.path("test"))
    val expected = planted.expectedClean(cfg)
    val fails =
      if (full) Workloads.splitChecks(train, test, cfg, expected)
      else {
        val n = train.count() + test.count()
        if (n != expected) Seq(s"clean kept $n rows, planted inputs give $expected") else Nil
      }
    Seq(OpCheck("clean_split", fails, Harness.digest(train) + "/" + Harness.digest(test)))
  }

  def layers(d: Path, tracer: Tracer): (Map[String, Double], Seq[String]) =
    Workloads.cleanLayers(spark, tracer, dir, cfg, planted, d, nBits = 2048)
}

/** A fixed, named subset of the query registry over seeded star-schema
  * tables, one query after another in a seeded order. */
final class RegistryMix(spark: SparkSession, seed: Long, scale: Double) extends Workload {
  val name = "registry_mix"
  private val tableScale = 0.25 * scale
  /** Query → family. Streaming entries run `Trigger.AvailableNow` to
    * completion; no paced-trigger query is in the mix. */
  val mix: Seq[(String, String)] = Seq(
    "q01_agg_pricing" -> "relational",
    "q28_minhash_lsh_pairs" -> "dedup",
    "q91_editdist_neardup" -> "dedup",
    "q31_cosine_topk" -> "similarity",
    "q141_bfs_levels" -> "graph",
    "q145_stream_distinct" -> "streaming")
  private val order = scala.util.Random.javaRandomToRandom(new java.util.Random(seed)).shuffle(mix)
  private lazy val registry = SparkEntry.queries
  private var dir: Path = _
  def inputRows: Long = math.max(1L, (60000 * tableScale).round)

  def generate(d: Path): Unit = {
    dir = d.resolve("tables")
    RegistryTables.write(spark, dir, seed, tableScale)
  }

  def inputs: Seq[(String, Any)] = Seq("lineitem_rows" -> inputRows,
    "order" -> order.map(_._1).mkString(","))

  def pass(ctx: PassCtx): Unit = order.foreach { case (q, family) =>
    ctx.op(q, family)(registry(q)(spark, dir.toString).write.parquet(ctx.path(q)))
  }

  def check(ctx: PassCtx, full: Boolean): Seq[OpCheck] = ctx.ops.filter(_.ok).map { o =>
    OpCheck(o.name, Nil, Harness.digest(spark.read.parquet(ctx.path(o.name))))
  }.toSeq

  /** One pass with a span per query: busy seconds per query family and the
    * failed queries. */
  def layers(d: Path, tracer: Tracer): (Map[String, Double], Seq[String]) = {
    val ctx = new PassCtx(d, tracer)
    pass(ctx)
    val failed = ctx.ops.filterNot(_.ok)
    val busy = RegistryMix.families.map(f =>
      s"queries.${f}_s" -> ctx.ops.filter(o => o.ok && o.family == f).map(_.seconds).sum)
    (busy.toMap + ("queries.failed" -> failed.size.toDouble),
      failed.map(o => s"${o.name}: ${o.error.get}").toSeq)
  }
}

object RegistryMix {
  val families: Seq[String] = Seq("relational", "dedup", "similarity", "graph", "streaming")
}

