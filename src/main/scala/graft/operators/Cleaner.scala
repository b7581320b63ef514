package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{ArrayOps, XHash}

/** The reference's clean stage end-to-end (clean/cleaner.py:533-882 +
  * split 1375-1419), as one lazy DataFrame pipeline over the array-typed
  * reaction table. Config mirrors the CLI knobs 1:1 (SURVEY.md §7.1);
  * validation reproduces cleaner.py:1288-1300.
  *
  * Execution shape (vs the reference's fully-materialized pandas steps):
  * C2–C8 fuse into a single scan under whole-stage codegen; the only
  * shuffles are the dedup key exchange (C13), the value-counts aggregate
  * (C9), and one reaction-hash window for the split plus leakage move
  * (C19/C20). Each row is computed once: there are two materialisation
  * points, both `localCheckpoint`. [[Cleaner.clean]] checkpoints right
  * after the dedup when rare values are counted, so the frequent-set
  * collect and the rare filter read stored rows instead of re-running the
  * scan and the dedup shuffle. [[Cleaner.splitWithLeakageMove]] runs one
  * eager job that labels and stores every row, so writing train and test
  * only scans that checkpoint. Trade-off, the same the iterative loops
  * (Dedup, GraphOps, Similarity, TextOps) accept: checkpoint blocks live
  * on the executors without lineage, so losing an executor fails the job
  * instead of recomputing; Spark's ContextCleaner frees the blocks once
  * the returned frames are unreferenced.
  */
final case class CleanConfig(
    numReactant: Int = 5,
    numProduct: Int = 5,
    numAgent: Int = 5,
    numCat: Int = 0,
    numReag: Int = 0,
    numSolv: Int = 2,
    consistentYield: Boolean = true,
    minFrequencyOfOccurrence: Long = 100,
    mapRareMoleculesToOther: Boolean = false,
    moleculesToRemove: Seq[String] = Nil,
    badNameMode: CleanOps.BadNameMode = CleanOps.NullifyIfMapped,
    scramble: Boolean = true,
    trainSize: Double = 0.9,
    seed: String = "12345") {
  require(trainSize >= 0 && trainSize <= 1, "trainSize in [0,1]")
}

object Cleaner {

  private val conditionCols = Seq("agents", "reagents", "solvents", "catalysts")

  private def presentConditionCols(df: DataFrame): Seq[String] =
    conditionCols.filter(df.columns.contains)

  private def componentCols(df: DataFrame): Seq[String] =
    (Seq("reactants", "products") ++ presentConditionCols(df))

  /** Dedup key: all component lists plus (optionally) yields, like the
    * reference's subset columns (clean/cleaner.py:767-794). */
  private def dedupKey(df: DataFrame): Column = {
    // Null-safe, collision-free serialization: elements are joined with an
    // \u0002 separator (never present in SMILES/yield text) and nulls map to
    // an \u0003 sentinel BEFORE the join — concat_ws silently drops nulls,
    // which would otherwise collide ["50", null] with [null, "50"].
    def part(c: Column): Column =
      concat_ws("\u0002", transform(c, x => coalesce(x, lit("\u0003"))))
    md5(concat_ws("\u0001",
      componentCols(df).map(c => part(col(c))) :+
        part(col("yields").cast("array<string>")): _*))
  }

  /** C12+C13 — seeded-shuffle keep-first dedup (drop a *random* duplicate). */
  private def seededDedup(df: DataFrame, cfg: CleanConfig): DataFrame =
    Relational.dedupKeepFirst(
      df.withColumn("__dk", dedupKey(df)),
      Seq("__dk"),
      Seq(XHash.bucketHash(cfg.seed, col("original_index").cast("string"))))
      .drop("__dk")

  /** The full operator chain C2→C18 in reference order
    * (clean/cleaner.py:533-882). */
  def clean(dfIn: DataFrame, cfg: CleanConfig): DataFrame = {
    var df = dfIn
    val conds = presentConditionCols(df)

    // C2 — unresolved molecule names
    if (cfg.moleculesToRemove.nonEmpty)
      df = CleanOps.handleBadNames(df, componentCols(df), cfg.moleculesToRemove,
        cfg.badNameMode)

    // C3 — catalyst→reagent overflow (only with separate catalysts/reagents)
    if (df.columns.contains("catalysts") && df.columns.contains("reagents")
      && cfg.numCat > 0)
      df = CleanOps.renameCatalystOverflow(df, cfg.numCat)

    // C4 — width trims (row-filter semantics on arrays)
    df = CleanOps.trimComponents(df, "reactants", cfg.numReactant)
    df = CleanOps.trimComponents(df, "products", cfg.numProduct)
    if (df.columns.contains("agents"))
      df = CleanOps.trimComponents(df, "agents", cfg.numAgent)
    if (df.columns.contains("solvents"))
      df = CleanOps.trimComponents(df, "solvents", cfg.numSolv)
    if (df.columns.contains("catalysts"))
      df = CleanOps.trimComponents(df, "catalysts", cfg.numCat)
    if (df.columns.contains("reagents"))
      df = CleanOps.trimComponents(df, "reagents", cfg.numReag)

    // C5 — non-empty reactants and products
    df = CleanOps.requireNonEmpty(df, "reactants")
    df = CleanOps.requireNonEmpty(df, "products")
    // C6 — at least one condition component
    df = CleanOps.requireAnyCondition(df, conds)
    // C7 — reactants != products
    df = CleanOps.dropNoopReactions(df)
    // C8 — yield consistency
    if (cfg.consistentYield) df = CleanOps.filterYieldConsistent(df, "yields")

    // C12+C13
    df = seededDedup(df, cfg)

    // C9/C10/C11 — rare molecules across condition columns
    if (cfg.minFrequencyOfOccurrence > 0) {
      // the value counts and the rare rewrite/filter both read these rows
      df = df.localCheckpoint()
      df =
        if (cfg.mapRareMoleculesToOther)
          // C13 again — map-to-other rewrites values, so rows can collide
          seededDedup(
            CleanOps.mapRareToOtherArrays(df, conds, cfg.minFrequencyOfOccurrence), cfg)
        else
          // no re-dedup: keys are already unique and C11 only drops rows
          CleanOps.removeRareRowsArrays(df, conds, cfg.minFrequencyOfOccurrence)
    }

    // C15 — per-row scramble (agents keep metal-first order, products
    // co-permute yields: clean/cleaner.py:471-509)
    if (cfg.scramble) {
      Seq("reactants", "reagents", "solvents", "catalysts")
        .filter(df.columns.contains).foreach { c =>
          df = df.withColumn(c, ArrayOps.scramble(col(c), cfg.seed + c,
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

    // C18 — canonical column order
    df.select(col("original_index") +:
      df.columns.filterNot(_ == "original_index").sorted.map(col): _*)
  }

  /** C19 + C20 — seeded split plus leakage move. Returns (train, test);
    * the reaction hash is the `.`-joined sorted reactants+products
    * (clean/cleaner.py:885-945). One eager job: a single window over the
    * reaction hash labels each row ([[Relational.leakageTrain]]), and the
    * labelled rows are checkpointed, so both halves only scan stored rows. */
  def splitWithLeakageMove(df: DataFrame, cfg: CleanConfig): (DataFrame, DataFrame) = {
    val bucket = XHash.bucket(cfg.seed + "split", 100,
      col("original_index").cast("string"))
    val rxnHash = md5(concat_ws(".",
      array_sort(concat(col("reactants"), col("products")))))
    val labelled = df.withColumn("__train", Relational.leakageTrain(
      bucket < (cfg.trainSize * 100).toInt, rxnHash)).localCheckpoint()
    (labelled.filter(col("__train")).drop("__train"),
      labelled.filter(!col("__train")).drop("__train"))
  }
}
