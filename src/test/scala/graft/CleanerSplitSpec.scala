package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.functions.XHash
import graft.operators.{CleanConfig, Cleaner, Relational}

/** Clean → split on in-memory frames, without reference data: planted
  * duplicates, a rare tail, reaction hashes shared by rows on both sides
  * of the seeded split, and null leak keys. The single-window split and
  * leakage move must equal the semi/anti-join form it replaced (kept
  * below as the oracle), and the returned halves must read the split's
  * checkpoint rather than re-run the scan and shuffles. */
class CleanerSplitSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val base = 600    // distinct rows: 100 reactions x 3 condition sets + 300 singles
  private val dups = 40     // exact copies of base rows under new indexes
  private val rare = 25     // rows whose agent occurs once
  private val cfg = CleanConfig(minFrequencyOfOccurrence = 3)

  /** Below row 300, rows 3g..3g+2 share reaction g (reactants + products)
    * but differ in their agent, so they survive dedup and usually straddle
    * the split; the rows above have a reaction each. */
  private lazy val input: DataFrame = {
    def row(i: Long, g: Int, agent: String) =
      (i, Seq(s"R$g", s"Q${g % 7}"), Seq(s"P$g"), Seq(agent, s"B${g % 3}"),
        Seq(s"S${g % 4}"), Seq(50.0))
    val rows = (0 until base).map(i =>
      row(i.toLong, if (i < 300) i / 3 else i, s"A${i % 5}"))
    val copies = (0 until dups).map(j => rows(j * 7).copy(_1 = (base + j).toLong))
    val tail = (0 until rare).map(j => row((base + dups + j).toLong, j, s"rare$j"))
    (rows ++ copies ++ tail)
      .toDF("original_index", "reactants", "products", "agents", "solvents", "yields")
  }

  private def rxnHash: Column =
    md5(concat_ws(".", array_sort(concat(col("reactants"), col("products")))))

  /** The pre-window leakage move: semi/anti joins against distinct train keys. */
  private def joinLeakageMove(train: DataFrame, test: DataFrame, leakKey: Column)
      : (DataFrame, DataFrame) = {
    val trainKeys = train.select(leakKey.as("__lk")).distinct()
    val t = test.withColumn("__lk", leakKey)
    val moved = t.join(trainKeys, Seq("__lk"), "left_semi").drop("__lk")
    val kept = t.join(trainKeys, Seq("__lk"), "left_anti").drop("__lk")
    (train.unionByName(moved), kept)
  }

  private def joinSplit(df: DataFrame, c: CleanConfig): (DataFrame, DataFrame) = {
    val bucket = XHash.bucket(c.seed + "split", 100, col("original_index").cast("string"))
    val withSplit = df.withColumn("__train", bucket < (c.trainSize * 100).toInt)
    joinLeakageMove(withSplit.filter(col("__train")).drop("__train"),
      withSplit.filter(!col("__train")).drop("__train"), rxnHash)
  }

  private def byIndex(df: DataFrame): Seq[Row] = df.orderBy("original_index").collect().toSeq

  private def indexes(df: DataFrame): Set[Long] =
    df.select("original_index").as[Long].collect().toSet

  test("clean removes exactly the planted duplicates and rare rows") {
    assert(Cleaner.clean(input, cfg.copy(minFrequencyOfOccurrence = 0)).count() == base + rare)
    assert(Cleaner.clean(input, cfg).count() == base)
  }

  test("single-window split equals the semi/anti-join form row for row") {
    val cleaned = Cleaner.clean(input, cfg)
    val (train, test) = Cleaner.splitWithLeakageMove(cleaned, cfg)
    val (oTrain, oTest) = joinSplit(cleaned, cfg)
    assert(byIndex(train) == byIndex(oTrain))
    assert(byIndex(test) == byIndex(oTest))
    assert(train.columns.toSeq == cleaned.columns.toSeq)
    assert(test.columns.toSeq == cleaned.columns.toSeq)
    // the planted reactions really straddle the split: some test rows moved
    val seededTest = cleaned.filter(XHash.bucket(cfg.seed + "split", 100,
      col("original_index").cast("string")) >= (cfg.trainSize * 100).toInt).count()
    assert(seededTest > test.count())
    assert(test.count() > 0)
  }

  test("train and test partition the cleaned rows and share no reaction hash") {
    val cleaned = Cleaner.clean(input, cfg)
    val (train, test) = Cleaner.splitWithLeakageMove(cleaned, cfg)
    val (tr, te) = (indexes(train), indexes(test))
    assert((tr intersect te).isEmpty)
    assert((tr ++ te) == indexes(cleaned))
    val hashes = (df: DataFrame) => df.select(rxnHash).as[String].collect().toSet
    assert((hashes(train) intersect hashes(test)).isEmpty)
  }

  test("trainSize 0.0 and 1.0 and an empty input") {
    val cleaned = Cleaner.clean(input, cfg)
    val all = indexes(cleaned)
    val (tr0, te0) = Cleaner.splitWithLeakageMove(cleaned, cfg.copy(trainSize = 0.0))
    assert(tr0.count() == 0 && indexes(te0) == all)
    val (tr1, te1) = Cleaner.splitWithLeakageMove(cleaned, cfg.copy(trainSize = 1.0))
    assert(indexes(tr1) == all && te1.count() == 0)
    val empty = Cleaner.clean(input.limit(0), cfg)
    val (trE, teE) = Cleaner.splitWithLeakageMove(empty, cfg)
    assert(trE.count() == 0 && teE.count() == 0)
    assert(trE.columns.toSeq == empty.columns.toSeq)
  }

  test("remove-rare clean is already deduplicated") {
    val c = cfg.copy(scramble = false)
    val out = Cleaner.clean(input, c)
    val key = Seq("reactants", "products", "agents", "solvents", "yields")
    val again = Relational.dedupKeepFirst(out, key,
      Seq(XHash.bucketHash(c.seed, col("original_index").cast("string"))))
    assert(byIndex(again) == byIndex(out))
  }

  test("leakageMove: null keys never move; matches the join form") {
    val rows = Seq(
      (1L, Some("k1"), true), (2L, Some("k1"), false), (3L, Some("k2"), false),
      (4L, None, true), (5L, None, false), (6L, Some("k3"), true),
      (7L, Some("k3"), false), (8L, Some("k3"), false), (9L, None, false))
    val df = rows.toDF("id", "key", "side")
    val train = df.filter(col("side")).drop("side")
    val test = df.filter(!col("side")).drop("side")
    val ids = (d: DataFrame) => d.select("id").as[Long].collect().toSet
    val (nTrain, nTest) = Relational.leakageMove(train, test, col("key"))
    val (oTrain, oTest) = joinLeakageMove(train, test, col("key"))
    assert(ids(nTrain) == Set(1L, 2L, 4L, 6L, 7L, 8L))
    assert(ids(nTest) == Set(3L, 5L, 9L))
    assert(ids(nTrain) == ids(oTrain) && ids(nTest) == ids(oTest))
    assert(nTrain.columns.toSeq == train.columns.toSeq)
  }

  test("split halves read the checkpoint; clean+split keep at most 2 RDDs") {
    val root = Files.createTempDirectory("graft_clean_split_").toFile
    try {
      val dir = new java.io.File(root, "in").toString
      input.write.parquet(dir)
      val scanned = spark.read.parquet(dir)
      def cachedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val before = cachedIds
      val (train, test) = Cleaner.splitWithLeakageMove(Cleaner.clean(scanned, cfg), cfg)
      val added = cachedIds -- before
      assert(added.size <= 2, added.toString)
      for (half <- Seq(train, test)) {
        half.collect()
        val plan = half.queryExecution.executedPlan
        assert(collect(plan) { case e: Exchange => e }.isEmpty, plan.toString)
        assert(collect(plan) { case s: FileSourceScanExec => s }.isEmpty, plan.toString)
      }
      assert(train.count() + test.count() == base)
    } finally scala.reflect.io.Directory(root).deleteRecursively()
  }
}
