package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.XHash
import graft.operators._

/** Load → clean → split through the cleaner's Scala row functions against
  * the Column pipeline they replaced, kept verbatim below as
  * [[LegacyColumnClean]]. The inputs are seeded ragged wide files written
  * to a temporary directory (no reference data needed): null and sentinel
  * slots, null/NaN/negative/>100 yields, more yields than products and the
  * reverse, families some files lack, planted duplicates and the dedup-key
  * null-placement and boundary cases. Every config must give the same
  * tables row for row.
  *
  * Spark semantics the Scala side has to reproduce, each exercised below:
  *  - `concat_ws` skips null parts, so the dedup key writes a null element
  *    as \u0003 before joining, and the scramble hash leaves a null
  *    element (or row key) out of the hashed string.
  *  - `cast(array<double> as array<string>)` formats each yield with
  *    `Double.toString` ("1.0E-5", "1.2345678E7", "-0.0", "NaN").
  *  - `array_sort` orders strings by UTF-8 bytes (code point order) and
  *    puts nulls last, `sort_array` first; the reaction hash drops them
  *    in `concat_ws`, so the two sorts give the same hash.
  *  - `md5` gives lowercase hex, and the scramble sorts by that hex.
  *  - `original_index.cast("string")` is the decimal `Long.toString`.
  *  - Under ANSI mode `size(null)` is null, so a null list fails every
  *    size filter; `array_except` drops duplicates and treats null as a
  *    value.
  */
class CleanerParitySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val reactantPool = Seq("C", "CC", "O", "CO", "CCO", "N", "c1ccccc1", "Cl", "[Na+]")
  private val productPool = Seq("CCO", "CC(=O)O", "C", "CN", "c1ccncc1", "O")
  private val conditionPool = Seq("O", "CO", "ClCCl", "[Pd]", "CCN(CC)CC", "C1CCOC1")
  private val yieldPool: Seq[java.lang.Double] = Seq(null, 50.0, 12.5, 90.0, 0.1, 1e-5,
    33.333333333333336, -0.0, 0.0, 100.0, 1.2345678e7, -5.0, 150.0, Double.NaN)
  private val bad = Seq("N", "ClCCl")

  private def families(trust: Boolean) =
    if (trust) Seq("reactant", "reagent", "catalyst", "solvent", "product")
    else Seq("reactant", "agent", "solvent", "product")

  /** One wide file: per-family widths drawn per file, so files are ragged. */
  private def wideFile(trust: Boolean, f: Int, rng: Random): (StructType, Seq[Row]) = {
    val widths = families(trust).map { fam =>
      // a family some files lack entirely
      fam -> (if (fam == "solvent" && f == 1) 0 else 1 + rng.nextInt(3))
    }
    val yWidth = rng.nextInt(4)
    val schema = StructType(Seq(
      StructField("extracted_from_file", StringType),
      StructField("rxnOrdinal", IntegerType),
      StructField("rxn_str", StringType),
      StructField("is_mapped", BooleanType),
      StructField("procedure_details", StringType)) ++
      widths.flatMap { case (fam, w) => (0 until w).map(k => StructField(f"${fam}_$k%03d", StringType)) } ++
      (0 until yWidth).map(k => StructField(f"yield_$k%03d", DoubleType)))
    def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
    def slot(pool: Seq[String], rare: String): String = rng.nextInt(20) match {
      case 0 => null
      case 1 => "<missing>"
      case 2 => rare
      case _ => pick(pool)
    }
    def rowAt(i: Int): Row = {
      val lists = widths.flatMap { case (fam, w) =>
        val pool = fam match {
          case "reactant" => reactantPool
          case "product" => productPool
          case _ => conditionPool
        }
        Seq.fill(w)(slot(pool, s"[Rn]$fam$f$i"))
      }
      Row.fromSeq(Seq[Any](
        if (rng.nextInt(40) == 0) "<missing>" else s"ord-$f",
        i,
        if (rng.nextInt(15) == 0) "<missing>" else s"rxn$f-${rng.nextInt(50)}",
        pick(Seq[Any](true, false, null)),
        if (rng.nextInt(10) == 0) "<missing>" else s"procedure ${rng.nextInt(5)}") ++
        lists ++ Seq.fill(yWidth)(pick(yieldPool)))
    }
    val base = (0 until 70).map(rowAt)
    // exact copies in the dedup key, under other scalars
    val copies = (0 until 8).map { j =>
      val r = base(j * 5)
      Row.fromSeq(r.toSeq.updated(1, 100 + j).updated(4, "repeated run"))
    }
    (schema, base ++ copies)
  }

  /** Rows the dedup key must keep apart or collapse (DedupKeySpec's cases),
    * in a file of their own. */
  private def keyCases(trust: Boolean): (StructType, Seq[Row]) = {
    val cond = if (trust) "reagent" else "agent"
    val schema = StructType(Seq(
      StructField("extracted_from_file", StringType),
      StructField("rxnOrdinal", IntegerType),
      StructField("rxn_str", StringType),
      StructField("is_mapped", BooleanType),
      StructField("procedure_details", StringType),
      StructField("reactant_000", StringType), StructField("reactant_001", StringType),
      StructField("product_000", StringType), StructField("product_001", StringType),
      StructField(s"${cond}_000", StringType),
      StructField("yield_000", DoubleType), StructField("yield_001", DoubleType)))
    def row(i: Int, r: Seq[String], p: Seq[String], y: Seq[java.lang.Double]) =
      Row.fromSeq(Seq[Any]("keys", i, s"k$i", true, "p") ++ r.padTo(2, null) ++
        p.padTo(2, null) ++ Seq("O") ++ y.padTo(2, null))
    (schema, Seq(
      row(0, Seq("CC", "O"), Seq("CCO"), Seq(50.0)),
      row(1, Seq("C", "CO"), Seq("CCO"), Seq(50.0)),          // element boundary
      row(2, Seq("R"), Seq("P1", "P2"), Seq(50.0, null)),
      row(3, Seq("R"), Seq("P1", "P2"), Seq(null, 50.0)),     // null placement
      row(4, Seq("CC", "O"), Seq("CCO"), Seq(50.0)),          // true duplicate of 0
      row(5, Seq("CC", "O"), Seq("CCO"), Seq(null))))
  }

  private def writeWide(dir: Path, trust: Boolean, seed: Long): Unit = {
    val rng = new Random(seed)
    val files = (0 until 4).map(f => wideFile(trust, f, rng)) :+ keyCases(trust)
    val staging = Files.createTempDirectory(dir.getParent, "staging")
    files.zipWithIndex.foreach { case ((schema, rows), f) =>
      val out = staging.resolve(s"f$f")
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(out.toString)
      val part = Files.list(out).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(s"ord-$f.parquet"))
    }
    scala.reflect.io.Directory(staging.toFile).deleteRecursively()
  }

  private def withWide[T](trust: Boolean)(body: String => T): T = {
    val root = Files.createTempDirectory("graft_clean_parity_")
    try {
      val dir = Files.createDirectory(root.resolve("wide"))
      writeWide(dir, trust, if (trust) 17L else 5L)
      body(dir.toString)
    } finally scala.reflect.io.Directory(root.toFile).deleteRecursively()
  }

  /** Rows as strings, ordered by `original_index`: Row equality would call
    * two NaN yields different. */
  private def rows(df: DataFrame): Seq[String] =
    df.orderBy("original_index").collect().map(_.toString).toSeq

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)), what)
    val (g, w) = (rows(got), rows(want))
    assert(g.size == w.size, s"$what: ${g.size} rows, want ${w.size}")
    g.zip(w).foreach { case (a, b) => assert(a == b, what) }
  }

  /** New and legacy load → clean → split on one directory. */
  private def checkParity(dir: String, cfg: CleanConfig, what: String): Unit = {
    val raw = ReactionTable.load(spark, dir)
    val legacyRaw = LegacyColumnClean.load(dir)
    assertSame(raw, legacyRaw, s"$what: load")
    val cleaned = Cleaner.clean(raw, cfg)
    val legacy = LegacyColumnClean.clean(legacyRaw, cfg)
    assertSame(cleaned, legacy, s"$what: clean")
    assert(cleaned.count() > 0, what)
    val (train, test) = Cleaner.splitWithLeakageMove(cleaned, cfg)
    val (lTrain, lTest) = LegacyColumnClean.split(legacy, cfg)
    assertSame(train, lTrain, s"$what: train")
    assertSame(test, lTest, s"$what: test")
  }

  private def matrixCfg(trust: Boolean, cy: Boolean, mapRare: Boolean) =
    if (trust)
      CleanConfig(numReactant = 2, numProduct = 2, numAgent = 0, numCat = 1,
        numReag = 3, numSolv = 2, consistentYield = cy,
        minFrequencyOfOccurrence = 3, mapRareMoleculesToOther = mapRare)
    else
      CleanConfig(numReactant = 3, numProduct = 2, numAgent = 3,
        numSolv = 2, consistentYield = cy,
        minFrequencyOfOccurrence = 3, mapRareMoleculesToOther = mapRare)

  for (trust <- Seq(false, true)) {
    test(s"trust=$trust: every consistentYield × mapRare config matches the Column pipeline") {
      withWide(trust) { dir =>
        for (cy <- Seq(false, true); mapRare <- Seq(false, true))
          checkParity(dir, matrixCfg(trust, cy, mapRare),
            s"trust=$trust consistentYield=$cy mapRare=$mapRare")
      }
    }
  }

  test("moleculesToRemove under every BadNameMode, scramble off, no rare step") {
    withWide(trust = false) { dir =>
      for (mode <- Seq(CleanOps.NullifyIfMapped, CleanOps.DeleteAll, CleanOps.NullAll))
        checkParity(dir, matrixCfg(trust = false, cy = false, mapRare = false)
          .copy(moleculesToRemove = bad, badNameMode = mode), s"badNameMode=$mode")
      checkParity(dir, CleanConfig(scramble = false, minFrequencyOfOccurrence = 0,
        numCat = -1, numReag = -1), "scramble=false minFrequencyOfOccurrence=0")
    }
  }

  test("array-typed frames with null lists clean as the Column pipeline does") {
    def some(xs: String*): Option[Seq[String]] = Some(xs.toSeq)
    val none = Option.empty[Seq[String]]
    val df = Seq(
      (0L, some("CC", "O", "CC"), some("CCO"), some("N", null), some("O"), Option(Seq(Option(50.0))), Option(true)),
      (1L, some("CC", "N"), some("CCO"), none, some("O"), Option(Seq(Option(50.0))), Option(true)),
      (2L, some("CC", "N"), some("CCO"), some("O"), some("N"), Option(Seq(Option(50.0))), Option(false)),
      (3L, some("CC", "N"), some("CCO"), some("O"), some("ClCCl"), Option(Seq(Option(50.0))), Option.empty[Boolean]),
      (4L, some("C"), some("CO", "CC"), some(), some(), Option(Seq(Option(150.0))), Option(true)),
      (5L, some("C", null), some(null, "C"), some("N"), some(), Option(Seq.empty[Option[Double]]), Option(true)),
      (6L, some("CC"), some("CO", "O", "C"), some("O"), some(), Option.empty[Seq[Option[Double]]], Option(true)),
      (7L, some("CC"), some("CO"), some("O"), some("O"), Option(Seq(Option(1.0), Option(2.0))), Option(true)),
      (8L, some("N"), some("CO"), some("O"), some(), Option(Seq(None, Option(2.0))), Option(true)),
      (9L, none, some("CO"), some("O"), some(), Option(Seq(Option(2.0))), Option(false)))
      .toDF("original_index", "reactants", "products", "agents", "solvents", "yields", "is_mapped")
    val configs = Seq(CleanOps.NullifyIfMapped, CleanOps.DeleteAll, CleanOps.NullAll)
      .map(m => CleanConfig(numReactant = -1, numAgent = -1, numSolv = -1, consistentYield = false,
        minFrequencyOfOccurrence = 0, moleculesToRemove = bad, badNameMode = m)) ++
      Seq(CleanConfig(numAgent = -1, minFrequencyOfOccurrence = 0),
        CleanConfig(numSolv = -1, consistentYield = false, minFrequencyOfOccurrence = 2))
    for (cfg <- configs)
      assertSame(Cleaner.clean(df, cfg), LegacyColumnClean.clean(df, cfg), cfg.toString)
  }

  test("load keeps the extract's array-typed layout; neither shape fails naming the directory") {
    val root = Files.createTempDirectory("graft_clean_arrays_")
    try {
      val df = Seq(
        ("uspto-1", 0, "CC.O>>CCO", false, Seq("CC", "O"), Seq("N"), Seq("O"),
          Seq("CCO"), Seq(Option(50.0)), "<missing>"),
        ("uspto-1", 1, "CC.N>>CCN", false, Seq("CC", "N"), Seq("[Pd]"), Seq("CO"),
          Seq("CCN", "O"), Seq(Option(40.0), None), "stir"),
        ("uspto-2", 0, "<missing>", false, Seq("C"), Seq[String](), Seq("O"),
          Seq("CO"), Seq(None), "heat"))
        .toDF("extracted_from_file", "rxnOrdinal", "rxn_str", "is_mapped", "reactants",
          "agents", "solvents", "products", "yields", "procedure_details")
      val dir = root.resolve("extracted_ords").toString
      df.write.partitionBy("extracted_from_file").parquet(dir)
      val raw = ReactionTable.load(spark, dir)
      assert(raw.count() == 3)
      assert(raw.filter(col("rxn_str").isNull).count() == 1)
      assert(raw.filter(col("procedure_details").isNull).count() == 1)
      assert(raw.select("original_index").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
      val cleaned = Cleaner.clean(raw, CleanConfig(minFrequencyOfOccurrence = 0, numCat = -1,
        numReag = -1))
      // the third reaction has no agents but a solvent, so all three are kept
      assert(cleaned.count() == 3)
      assert(cleaned.filter(size(col("reactants")) === 0 || size(col("products")) === 0)
        .count() == 0)
      assert(cleaned.select(flatten(array(col("reactants"), col("products"))))
        .as[Seq[String]].collect().flatten.toSet ==
        Set("CC", "O", "N", "CCO", "CCN", "C", "CO"))

      val other = root.resolve("other").toString
      Seq((1, "x")).toDF("id", "name").write.parquet(other)
      val e = intercept[IllegalArgumentException](ReactionTable.load(spark, other))
      assert(e.getMessage.contains(other), e.getMessage)
    } finally scala.reflect.io.Directory(root.toFile).deleteRecursively()
  }

  test("dedup key and reaction hash are the Column forms' md5 hex") {
    // grouping alone cannot tell two injective keys apart, so compare the
    // strings themselves, on every loaded row
    withWide(trust = true) { dir =>
      val raw = LegacyColumnClean.load(dir)
      val lists = Seq("reactants", "products", "agents", "reagents", "solvents", "catalysts")
      val got = raw.select(Seq(LegacyColumnClean.dedupKey(raw), LegacyColumnClean.rxnHash,
          Cleaner.reactionHash, col("yields")) ++ lists.map(col): _*).collect()
      assert(got.length > 300)
      got.foreach { r =>
        val ls = lists.indices.map(i => r.getSeq[String](4 + i))
        assert(r.getString(0) == CleanOps.dedupKey(ls, r.getSeq[Any](3)), r)
        assert(r.getString(1) == r.getString(2), r)
      }
    }
  }

  /** The query executions of every action `body` runs, in order. The
    * listener bus is asynchronous, so a marker query closes the window. */
  private def actions(body: => Unit): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF("__marker").collect()
      val deadline = System.nanoTime() + 30e9.toLong
      def done = seen.asScala.exists(_.analyzed.output.exists(_.name == "__marker"))
      while (!done && System.nanoTime() < deadline) Thread.sleep(20)
      assert(done, "marker query never reached the listener")
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq.filterNot(_.analyzed.output.exists(_.name == "__marker"))
  }

  /** (expression nodes, higher-order functions, interpreted fallbacks). */
  private def exprCounts(plan: LogicalPlan): (Int, Int, Int) = {
    val es = plan.collect { case p => p.expressions.flatMap(_.collect { case e => e }) }.flatten
    (es.size, es.count(_.isInstanceOf[HigherOrderFunction]), es.count(_.isInstanceOf[CodegenFallback]))
  }

  test("plan lock: no higher-order functions; same exchanges, no more shuffle bytes") {
    withWide(trust = false) { dir =>
      val cfg = matrixCfg(trust = false, cy = true, mapRare = false)
      def run(load: => DataFrame, clean: DataFrame => DataFrame,
          split: DataFrame => (DataFrame, DataFrame)): Seq[QueryExecution] = actions {
        val (train, test) = split(clean(load))
        train.collect(); test.collect()
      }
      val now = run(ReactionTable.load(spark, dir), Cleaner.clean(_, cfg),
        Cleaner.splitWithLeakageMove(_, cfg))
      val old = run(LegacyColumnClean.load(dir), LegacyColumnClean.clean(_, cfg),
        LegacyColumnClean.split(_, cfg))
      def exchanges(qes: Seq[QueryExecution]) =
        qes.map(qe => collect(qe.executedPlan) { case e: Exchange => e }.size).sum
      def shuffled(qes: Seq[QueryExecution]) = qes.map(qe => collect(qe.executedPlan) {
        case e: ShuffleExchangeExec => e.metrics("shuffleBytesWritten").value }.sum).sum
      assert(now.size == old.size)
      assert(exchanges(now) == exchanges(old) && exchanges(now) > 0)
      // the families the wide files lack stay out of every shuffle
      assert(shuffled(now) <= shuffled(old), s"${shuffled(now)} > ${shuffled(old)}")
      val hofs = now.flatMap(_.optimizedPlan.collect { case p => p.expressions }.flatten
        .flatMap(_.collect { case h: HigherOrderFunction => h.prettyName }))
      assert(hofs.isEmpty, hofs.mkString(", "))

      // the expression trees themselves, with the rare step off so the
      // clean plan holds no checkpoint and the load plan is its own
      val c0 = cfg.copy(minFrequencyOfOccurrence = 0)
      val counts = Seq(
        "load" -> (exprCounts(ReactionTable.load(spark, dir).queryExecution.optimizedPlan),
          exprCounts(LegacyColumnClean.load(dir).queryExecution.optimizedPlan)),
        "clean" -> {
          val in = ReactionTable.load(spark, dir).localCheckpoint()
          (exprCounts(Cleaner.clean(in, c0).queryExecution.optimizedPlan),
            exprCounts(LegacyColumnClean.clean(in, c0).queryExecution.optimizedPlan))
        })
      counts.foreach { case (step, (n, o)) =>
        info(s"$step (nodes, higher-order, fallback): now $n, Column pipeline $o")
        assert(n._2 == 0 && n._3 < o._3, step)
      }
    }
  }

  /** The Column pipeline the Scala row functions replaced, verbatim. */
  private object LegacyColumnClean {
    private val componentPrefixes = ReactionTable.componentPrefixes

    private def widthOf(df: DataFrame, prefix: String): Seq[String] =
      df.columns.filter(_.matches(s"${prefix}_\\d{3}")).sorted.toSeq

    private def arrayFromWide(cols: Seq[Column], sentinel: String = "<missing>"): Column =
      filter(array(cols: _*), c => c.isNotNull && c =!= sentinel)

    def fromWide(wide: DataFrame): DataFrame = {
      var df = wide
      val prodCols = widthOf(df, "product")
      val yieldCols = widthOf(df, "yield")

      componentPrefixes.filterNot(_ == "product").foreach { p =>
        val cols = widthOf(df, p)
        df = df.withColumn(s"${p}s",
          if (cols.isEmpty) array().cast("array<string>")
          else arrayFromWide(cols.map(col)))
      }
      // products + yields: aligned collapse (E16 discipline)
      val prodArr =
        if (prodCols.isEmpty) array().cast("array<string>")
        else array(prodCols.map(col): _*)
      val yieldArr =
        if (yieldCols.isEmpty) array().cast("array<double>")
        else array(yieldCols.map(c => col(c).cast("double")): _*)
      val padded = concat(yieldArr,
        array_repeat(lit(null).cast("double"),
          greatest(lit(0), (size(prodArr) - size(yieldArr)).cast("int"))))
      val zipped = filter(
        zip_with(prodArr, padded, (p, y) => struct(p.as("p"), y.as("y"))),
        z => z.getField("p").isNotNull && z.getField("p") =!= "<missing>")
      df = df
        .withColumn("products", transform(zipped, z => z.getField("p")))
        .withColumn("yields", transform(zipped, z => z.getField("y")))

      df.drop((componentPrefixes.flatMap(p => widthOf(wide, p)) ++ yieldCols): _*)
    }

    def load(dir: String): DataFrame = {
      val wide = spark.read.option("mergeSchema", "true").parquet(dir)
      val arr = fromWide(wide)
      // replace the reference's sentinel with null in scalar string columns
      val restored = Seq("rxn_str", "procedure_details", "extracted_from_file")
        .filter(arr.columns.contains)
        .foldLeft(arr)((d, c) =>
          d.withColumn(c, when(col(c) === "<missing>", lit(null)).otherwise(col(c))))
      ReactionTable.addOriginalIndex(restored)
    }

    // CleanOps

    def handleBadNames(df: DataFrame, componentCols: Seq[String],
        badNames: Seq[String], mode: CleanOps.BadNameMode,
        isMapped: Column = col("is_mapped")): DataFrame = {
      val bad = typedLit(badNames)
      def anyBad: Column = componentCols
        .map(c => size(array_intersect(col(c), bad)) > 0)
        .reduce(_ || _)
      def strip(d: DataFrame): DataFrame =
        componentCols.foldLeft(d)((acc, c) =>
          acc.withColumn(c, array_except(col(c), bad)))
      mode match {
        case CleanOps.DeleteAll => df.filter(!anyBad)
        case CleanOps.NullAll => strip(df)
        case CleanOps.NullifyIfMapped =>
          val kept = df.filter(isMapped || !anyBad)
          componentCols.foldLeft(kept)((acc, c) =>
            acc.withColumn(c, when(isMapped, array_except(col(c), bad))
              .otherwise(col(c))))
      }
    }

    def renameCatalystOverflow(df: DataFrame, numCat: Int,
        catalysts: String = "catalysts", reagents: String = "reagents"): DataFrame =
      df.withColumn(reagents,
          concat(col(reagents), slice(col(catalysts), lit(numCat + 1),
            greatest(lit(0), size(col(catalysts)) - numCat))))
        .withColumn(catalysts, slice(col(catalysts), 1, numCat))

    def trimComponents(df: DataFrame, c: String, k: Int): DataFrame =
      if (k < 0) df else df.filter(size(col(c)) <= k)

    def requireNonEmpty(df: DataFrame, c: String): DataFrame =
      df.filter(size(col(c)) > 0)

    def requireAnyCondition(df: DataFrame, conditionCols: Seq[String]): DataFrame =
      df.filter(conditionCols.map(c => size(col(c))).reduce(_ + _) > 0)

    def dropNoopReactions(df: DataFrame,
        reactants: String = "reactants", products: String = "products"): DataFrame =
      df.filter(array_sort(array_distinct(col(reactants)))
        =!= array_sort(array_distinct(col(products))))

    def yieldConsistent(yields: Column): Column =
      forall(yields, y => y.isNull || (y >= 0 && y <= 100)) &&
        aggregate(yields, lit(0.0), (acc, y) => acc + coalesce(y, lit(0.0))) <= 100

    def filterYieldConsistent(df: DataFrame, c: String = "yields"): DataFrame =
      df.filter(yieldConsistent(col(c)))

    def mapRareToOtherArrays(df: DataFrame, cols: Seq[String], minFreq: Long,
        other: String = "other", maxLiteralSet: Int = 100000,
        rowKey: String = "original_index"): DataFrame =
      frequentSet(df, cols, minFreq, maxLiteralSet) match {
        case Some(fs) =>
          cols.foldLeft(df)((acc, c) => acc.withColumn(c,
            transform(col(c), x =>
              when(x.isNotNull && !array_contains(fs, x), lit(other)).otherwise(x))))
        case None =>
          Relational.mapRareToOtherArraysJoin(df, cols, minFreq, rowKey, other)
      }

    def removeRareRowsArrays(df: DataFrame, cols: Seq[String], minFreq: Long,
        maxLiteralSet: Int = 100000,
        rowKey: String = "original_index"): DataFrame =
      frequentSet(df, cols, minFreq, maxLiteralSet) match {
        case Some(fs) =>
          df.filter(!cols.map(c =>
            exists(coalesce(col(c), array().cast("array<string>")),
              x => x.isNotNull && !array_contains(fs, x))).reduce(_ || _))
        case None =>
          Relational.removeRareRowsArraysJoin(df, cols, minFreq, rowKey)
      }

    private def frequentSet(df: DataFrame, cols: Seq[String], minFreq: Long,
        maxLiteralSet: Int): Option[Column] = {
      val freq = CleanOps.valueCountsArrays(df, cols).filter(col("cnt") >= minFreq)
        .select("value")
      val rows = freq.limit(maxLiteralSet + 1).collect()
      if (rows.length > maxLiteralSet) None
      else Some(typedLit(rows.map(_.getString(0)).toSeq))
    }

    def scramble(arr: Column, seed: String, rowKey: Column): Column = {
      val keyed = transform(arr, (x, i) =>
        struct(md5(concat_ws("\u0001", lit(seed), rowKey, x, i)).as("h"), x.as("v")))
      transform(array_sort(keyed), s => s.getField("v"))
    }

    // Cleaner

    private val conditionCols = Seq("agents", "reagents", "solvents", "catalysts")

    private def presentConditionCols(df: DataFrame): Seq[String] =
      conditionCols.filter(df.columns.contains)

    private def componentCols(df: DataFrame): Seq[String] =
      (Seq("reactants", "products") ++ presentConditionCols(df))

    def dedupKey(df: DataFrame): Column = {
      def part(c: Column): Column =
        concat_ws("\u0002", transform(c, x => coalesce(x, lit("\u0003"))))
      md5(concat_ws("\u0001",
        componentCols(df).map(c => part(col(c))) :+
          part(col("yields").cast("array<string>")): _*))
    }

    private def seededDedup(df: DataFrame, cfg: CleanConfig): DataFrame =
      Relational.dedupKeepFirst(
        df.withColumn("__dk", dedupKey(df)),
        Seq("__dk"),
        Seq(XHash.bucketHash(cfg.seed, col("original_index").cast("string"))))
        .drop("__dk")

    def clean(dfIn: DataFrame, cfg: CleanConfig): DataFrame = {
      var df = dfIn
      val conds = presentConditionCols(df)

      if (cfg.moleculesToRemove.nonEmpty)
        df = handleBadNames(df, componentCols(df), cfg.moleculesToRemove,
          cfg.badNameMode)

      if (df.columns.contains("catalysts") && df.columns.contains("reagents")
        && cfg.numCat > 0)
        df = renameCatalystOverflow(df, cfg.numCat)

      df = trimComponents(df, "reactants", cfg.numReactant)
      df = trimComponents(df, "products", cfg.numProduct)
      if (df.columns.contains("agents"))
        df = trimComponents(df, "agents", cfg.numAgent)
      if (df.columns.contains("solvents"))
        df = trimComponents(df, "solvents", cfg.numSolv)
      if (df.columns.contains("catalysts"))
        df = trimComponents(df, "catalysts", cfg.numCat)
      if (df.columns.contains("reagents"))
        df = trimComponents(df, "reagents", cfg.numReag)

      df = requireNonEmpty(df, "reactants")
      df = requireNonEmpty(df, "products")
      df = requireAnyCondition(df, conds)
      df = dropNoopReactions(df)
      if (cfg.consistentYield) df = filterYieldConsistent(df, "yields")

      df = seededDedup(df, cfg)

      if (cfg.minFrequencyOfOccurrence > 0) {
        df = df.localCheckpoint()
        df =
          if (cfg.mapRareMoleculesToOther)
            seededDedup(
              mapRareToOtherArrays(df, conds, cfg.minFrequencyOfOccurrence), cfg)
          else
            removeRareRowsArrays(df, conds, cfg.minFrequencyOfOccurrence)
      }

      if (cfg.scramble) {
        Seq("reactants", "reagents", "solvents", "catalysts")
          .filter(df.columns.contains).foreach { c =>
            df = df.withColumn(c, scramble(col(c), cfg.seed + c,
              col("original_index").cast("string")))
          }
        val zipped = zip_with(col("products"), col("yields"),
          (p, y) => struct(p.as("p"), y.as("y")))
        val keyed = transform(zipped, (z, i) => struct(
          md5(concat_ws("\u0001", lit(cfg.seed + "products"),
            col("original_index").cast("string"), z.getField("p"), i)).as("h"),
          z.as("z")))
        val perm = transform(array_sort(keyed), s => s.getField("z"))
        df = df
          .withColumn("products", transform(perm, z => z.getField("p")))
          .withColumn("yields", transform(perm, z => z.getField("y")))
      }

      df.select(col("original_index") +:
        df.columns.filterNot(_ == "original_index").sorted.map(col): _*)
    }

    def rxnHash: Column = md5(concat_ws(".",
      array_sort(concat(col("reactants"), col("products")))))

    def split(df: DataFrame, cfg: CleanConfig): (DataFrame, DataFrame) = {
      val bucket = XHash.bucket(cfg.seed + "split", 100,
        col("original_index").cast("string"))
      val labelled = df.withColumn("__train", Relational.leakageTrain(
        bucket < (cfg.trainSize * 100).toInt, rxnHash)).localCheckpoint()
      (labelled.filter(col("__train")).drop("__train"),
        labelled.filter(!col("__train")).drop("__train"))
    }
  }
}
