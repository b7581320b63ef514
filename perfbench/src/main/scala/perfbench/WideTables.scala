package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.CleanConfig

/** Knobs of a seeded wide reaction table, shaped like extract output. */
final case class WideSpec(
    rows: Int,            // base rows, before planted copies
    files: Int,
    trust: Boolean,       // catalyst/reagent columns instead of agents
    maxReactants: Int,
    maxProducts: Int,
    dupShare: Double,     // base rows written twice
    leakShare: Double,    // base rows given a twin with other conditions
    rareShare: Double,    // rows carrying a condition molecule seen 1–3 times
    invalidShare: Double, // rows every config drops (or cy configs drop)
    conditionPool: Int)   // frequent molecules per condition family

/** What the generator planted; the cleaner's output is checked against it. */
final case class Planted(input: Long, invalidAlways: Long, invalidYield: Long,
    dups: Long, rare: Long, leakPairs: Long) {
  /** Rows [[graft.operators.Cleaner.clean]] must keep under `cfg`. */
  def expectedClean(cfg: CleanConfig): Long =
    input - invalidAlways - (if (cfg.consistentYield) invalidYield else 0) - dups -
      (if (cfg.minFrequencyOfOccurrence > 0 && !cfg.mapRareMoleculesToOther) rare else 0)

  def fields: Seq[(String, Long)] = Seq("input_rows" -> input,
    "invalid_always" -> invalidAlways, "invalid_yield" -> invalidYield,
    "duplicates" -> dups, "rare_rows" -> rare, "leak_pairs" -> leakPairs)
}

object WideTables {

  private final case class Rxn(reactants: Seq[String], agents: Seq[String],
      reagents: Seq[String], catalysts: Seq[String], solvents: Seq[String],
      products: Seq[String], yields: Seq[Option[Double]], temp: Option[Double],
      hours: Double, procedure: String)

  /** Fixed-length base-4 spelling of `i` over C/N/O/S: unique per row. */
  private def tag(i: Int): String =
    (0 until 9).map(k => "CNOS"((i >> (2 * k)) & 3)).mkString

  private def pool(rng: java.util.Random, n: Int): Vector[String] = {
    val out = scala.collection.mutable.LinkedHashSet[String]()
    while (out.size < n) out += MolGraph.random(rng).smiles(rng)
    out.toVector
  }

  /** Write `spec.files` parquet files with ragged per-file widths under
    * `dir` (one `prefix_nnn` column per list slot, like the extract sink). */
  def write(spark: SparkSession, dir: Path, seed: Long, spec: WideSpec): Planted = {
    val rng = new java.util.Random(seed * 0x2545F4914F6CDD1DL + (if (spec.trust) 7 else 3))
    val shuffle = scala.util.Random.javaRandomToRandom(rng)
    val reactantPool = pool(rng, 400)
    val condPool = pool(rng, spec.conditionPool * 4).grouped(spec.conditionPool).toVector
    val Vector(agentPool, reagentPool, catalystPool, solventPool) = condPool
    def pick(p: Vector[String], n: Int): Seq[String] =
      shuffle.shuffle(p).take(n).sorted
    val rarePool = (0 until math.max(1, (2 * spec.rows * spec.rareShare).toInt)).map(i => s"[Rn]C${tag(i)}")

    def base(i: Int): Rxn = {
      val reactants = pick(reactantPool, 1 + rng.nextInt(spec.maxReactants))
      val nProducts = 1 + rng.nextInt(spec.maxProducts)
      val products = (0 until nProducts).map(k => s"${tag(i)}C(=O)${reactantPool(rng.nextInt(50))}$k")
      val yields = products.indices.map(k =>
        if (k == 0 && rng.nextInt(10) > 0) Some((5 + rng.nextInt(900)) / 10.0) else None)
      if (spec.trust)
        Rxn(reactants, Nil, pick(reagentPool, rng.nextInt(2)), pick(catalystPool, rng.nextInt(2)),
          pick(solventPool, 1 + rng.nextInt(2)), products, yields, Some(rng.nextInt(120).toDouble),
          1 + rng.nextInt(24), s"Procedure ${rng.nextInt(1000)}")
      else
        Rxn(reactants, pick(agentPool, rng.nextInt(3)), Nil, Nil,
          pick(solventPool, 1 + rng.nextInt(2)), products, yields,
          if (rng.nextInt(5) == 0) None else Some(rng.nextInt(120).toDouble),
          1 + rng.nextInt(24), s"Procedure ${rng.nextInt(1000)}")
    }

    val rows = ArrayBuffer[Rxn]()
    var invalidAlways, invalidYield, dups, rare, leaks = 0L
    var rareNext = 0
    (0 until spec.rows).foreach { i =>
      val r = base(i)
      val u = rng.nextDouble()
      val share = Seq(spec.invalidShare, spec.invalidShare, spec.rareShare, spec.dupShare, spec.leakShare)
        .scanLeft(0.0)(_ + _).tail
      if (u < share(0)) { // too many solvents or no products: dropped by every config
        invalidAlways += 1
        rows += (if (rng.nextBoolean()) r.copy(solvents = pick(solventPool, 3))
          else r.copy(products = Nil, yields = Nil))
      } else if (u < share(1)) { // yield over 100 %: dropped when consistent_yield is on
        invalidYield += 1
        rows += r.copy(yields = Some(100.5 + rng.nextInt(500)) +: r.yields.tail)
      } else if (u < share(2)) { // a rare condition molecule, used in 1–3 rows
        val k = 1 + rng.nextInt(3)
        (0 until k).foreach { j =>
          val m = rarePool(rareNext % rarePool.size)
          val rr = if (j == 0) r else base(spec.rows + rows.size)
          rows += (if (spec.trust) rr.copy(reagents = m +: rr.reagents.take(1))
            else rr.copy(agents = m +: rr.agents.take(2)))
          rare += 1
        }
        rareNext += 1
      } else if (u < share(3)) { // exact duplicate in the dedup key
        rows += r
        rows += r.copy(temp = Some(rng.nextInt(120).toDouble), procedure = "Repeated run.")
        dups += 1
      } else if (u < share(4)) { // same reaction, other conditions: a leak pair
        rows += r
        val other = shuffle.shuffle(solventPool.filterNot(r.solvents.contains)).take(1)
        rows += r.copy(solvents = other)
        leaks += 1
      } else rows += r
    }

    val order = shuffle.shuffle(rows.indices.toVector)
    val perFile = order.grouped(math.ceil(order.size.toDouble / spec.files).toInt).toSeq
    val families =
      if (spec.trust) Seq("reactant", "reagent", "catalyst", "solvent", "product")
      else Seq("reactant", "agent", "solvent", "product")
    def listOf(r: Rxn, fam: String): Seq[String] = fam match {
      case "reactant" => r.reactants
      case "agent" => r.agents
      case "reagent" => r.reagents
      case "catalyst" => r.catalysts
      case "solvent" => r.solvents
      case "product" => r.products
    }
    val staging = dir.resolveSibling(dir.getFileName.toString + "_staging")
    Files.createDirectories(dir)
    def writeFile(rs: Seq[Rxn], f: Int): Unit = {
      val widths = families.map(fam => fam -> rs.map(listOf(_, fam).size).max)
      val yWidth = rs.map(_.yields.size).max
      val schema = StructType(
        Seq(StructField("extracted_from_file", StringType),
          StructField("rxnOrdinal", IntegerType),
          StructField("rxn_str", StringType),
          StructField("is_mapped", BooleanType),
          StructField("temperature", DoubleType),
          StructField("rxn_time", DoubleType),
          StructField("procedure_details", StringType)) ++
          widths.flatMap { case (fam, w) => (0 until w).map(k => StructField(f"${fam}_$k%03d", StringType)) } ++
          (0 until yWidth).map(k => StructField(f"yield_$k%03d", DoubleType)))
      val file = f"ord_dataset-$f%04d"
      val data = rs.zipWithIndex.map { case (r, ord) =>
        val rxn = Seq(r.reactants, r.agents ++ r.reagents ++ r.catalysts, r.products)
          .map(_.mkString(".")).mkString(">")
        val lists = widths.flatMap { case (fam, w) => listOf(r, fam).map(s => s: Any).padTo(w, null) }
        val ys = r.yields.map(_.map(d => d: Any).orNull).padTo(yWidth, null)
        Row.fromSeq(Seq[Any](file, ord, rxn, false, r.temp.map(d => d: Any).orNull, r.hours,
          r.procedure) ++ lists ++ ys)
      }
      val out = staging.resolve(file)
      spark.createDataFrame(data.asJava, schema).coalesce(1).write.parquet(out.toString)
      val part = Files.list(out).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(s"$file.parquet"))
    }
    // one small Spark job per file, four at a time
    val writers = java.util.concurrent.Executors.newFixedThreadPool(4)
    val jobs = perFile.zipWithIndex.map { case (idx, f) =>
      writers.submit(new Runnable { def run(): Unit = writeFile(idx.map(rows), f) })
    }
    try jobs.foreach(_.get()) finally writers.shutdown()
    Harness.deleteTree(staging)
    Planted(rows.size, invalidAlways, invalidYield, dups, rare, leaks)
  }
}
