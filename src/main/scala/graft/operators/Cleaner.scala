package graft.operators

import scala.collection.{immutable, mutable}

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, GenericRow, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.{ArrayOps, XHash}

/** The reference's clean stage end-to-end (clean/cleaner.py:533-882 +
  * split 1375-1419), as one lazy DataFrame pipeline over the array-typed
  * reaction table. Config mirrors the CLI knobs 1:1 (SURVEY.md §7.1);
  * validation reproduces cleaner.py:1288-1300.
  *
  * Execution shape (vs the reference's fully-materialized pandas steps):
  * the row-local steps are plain Scala functions over one row (the
  * [[CleanOps]] scalars), applied as typed `flatMap`s: C2–C8 plus the C13
  * dedup key in one pass after the load, and the C10/C11 rare step with the
  * C15 scramble in one pass after the value counts. The only shuffles are
  * the dedup key exchange (C13), the value-counts aggregate (C9, and its
  * join fallback past [[CleanOps.defaultMaxFrequentSet]] frequent values),
  * and one reaction-hash window for the split plus leakage move
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

  private def presentConditionCols(schema: StructType): Seq[String] =
    conditionCols.filter(schema.fieldNames.contains)

  /** The dedup subset's lists, in key order (clean/cleaner.py:767-794). */
  private def componentCols(schema: StructType): Seq[String] =
    Seq("reactants", "products") ++ presentConditionCols(schema)

  /** A row-local step over one row's values in `out`'s column order: it
    * rewrites them in place and returns false to drop the row. */
  private type RowStep = Array[Any] => Boolean

  /** Apply `step` to every row of `df` as one typed `flatMap`. `out` is
    * `df`'s schema, optionally with columns appended (null on entry). Lists
    * reach the step as immutable `Seq`s, wrapping the decoded arrays. */
  private def mapRows(df: DataFrame, out: StructType)(step: RowStep): DataFrame =
    df.flatMap { r =>
      val v = new Array[Any](out.length)
      var i = 0
      while (i < r.length) {
        v(i) = r.get(i) match {
          case a: mutable.ArraySeq[_] => immutable.ArraySeq.unsafeWrapArray(a.array)
          case x => x
        }
        i += 1
      }
      if (step(v)) Some(new GenericRow(v): Row) else None
    }(Encoders.row(out))

  /** `schema` with the columns `names` nullable when any of them is: a
    * step that reads several lists nulls them all when one is null. */
  private def jointlyNullable(schema: StructType, names: String*): StructType = {
    val n = schema.exists(f => names.contains(f.name) && f.nullable)
    StructType(schema.map(f => if (names.contains(f.name)) f.copy(nullable = n) else f))
  }

  private def withKey(schema: StructType): StructType =
    schema.add(StructField("__dk", StringType, nullable = false))

  /** Condition lists that are an empty-array literal in `df`'s optimized
    * plan: a family the wide files never had ([[ReactionTable.fromWide]]).
    * Every row step maps an empty list to itself, except C3, which can fill
    * the reagents, so these skip the row functions and no shuffle carries
    * them; [[clean]] puts the literal back at the end. */
  private def emptyLists(df: DataFrame, cfg: CleanConfig): Seq[String] = {
    val fillsReagents = cfg.numCat > 0 && df.columns.contains("catalysts")
    df.queryExecution.optimizedPlan match {
      case Project(exprs, _) => exprs.collect {
        case Alias(Literal(a: ArrayData, _), n) if a.numElements == 0 &&
            conditionCols.contains(n) && !(n == "reagents" && fillsReagents) => n
      }
      case _ => Nil
    }
  }

  /** C13 — the dedup key of the row into its last slot; `lists` are the
    * key's lists in order, an absent one read as empty. */
  private def keyStep(schema: StructType, lists: Seq[String]): RowStep = {
    val idx = lists.map(c => if (schema.fieldNames.contains(c)) schema.fieldIndex(c) else -1)
    val y = schema.fieldIndex("yields")
    v => {
      v(v.length - 1) = CleanOps.dedupKey(
        idx.map(i => if (i < 0) Nil else v(i).asInstanceOf[Seq[String]]),
        v(y).asInstanceOf[Seq[Any]])
      true
    }
  }

  /** C2–C8 in reference order (clean/cleaner.py:549-765), then the C13
    * dedup key over `keyLists`. */
  private def validStep(schema: StructType, keyLists: Seq[String], cfg: CleanConfig): RowStep = {
    def idx(c: String) = schema.fieldIndex(c)
    def has(c: String) = schema.fieldNames.contains(c)
    val comps = componentCols(schema).map(idx)
    val conds = presentConditionCols(schema).map(idx)
    val (r, p, y) = (idx("reactants"), idx("products"), idx("yields"))
    val bad = cfg.moleculesToRemove.toSet
    val mode = cfg.badNameMode
    val mapped = if (bad.nonEmpty && mode == CleanOps.NullifyIfMapped) idx("is_mapped") else -1
    val overflow =
      if (has("catalysts") && has("reagents") && cfg.numCat > 0)
        Some((idx("catalysts"), idx("reagents")))
      else None
    val widths = Seq("reactants" -> cfg.numReactant, "products" -> cfg.numProduct,
      "agents" -> cfg.numAgent, "solvents" -> cfg.numSolv, "catalysts" -> cfg.numCat,
      "reagents" -> cfg.numReag).collect { case (c, k) if has(c) => (idx(c), k) }
    val key = keyStep(schema, keyLists)
    v => {
      def list(i: Int) = v(i).asInstanceOf[Seq[String]]
      // C2 — unresolved molecule names
      val named = bad.isEmpty || (CleanOps.handleBadNames(comps.map(list),
          if (mapped < 0) null else v(mapped).asInstanceOf[java.lang.Boolean], bad, mode) match {
        case Some(ls) => comps.zip(ls).foreach { case (i, l) => v(i) = l }; true
        case None => false
      })
      named && {
        // C3 — catalyst→reagent overflow (only with separate catalysts/reagents)
        overflow.foreach { case (c, g) =>
          val (cs, gs) = CleanOps.catalystOverflow(list(c), list(g), cfg.numCat)
          v(c) = cs; v(g) = gs
        }
        // C4 widths, C5 non-empty, C6 a condition, C7 no no-op, C8 yields
        widths.forall { case (i, k) => CleanOps.withinWidth(list(i), k) } &&
          CleanOps.nonEmpty(list(r)) && CleanOps.nonEmpty(list(p)) &&
          CleanOps.anyCondition(conds.map(list)) &&
          !CleanOps.isNoop(list(r), list(p)) &&
          (!cfg.consistentYield || CleanOps.yieldConsistent(v(y).asInstanceOf[Seq[Any]])) &&
          key(v)
      }
    }
  }

  /** C15 — per-row scramble (clean/cleaner.py:471-509): agents keep their
    * metal-first order; products and yields as
    * [[CleanOps.scrambleProducts]] orders them. */
  private def scrambleStep(schema: StructType, cfg: CleanConfig): RowStep = {
    val lists = Seq("reactants", "reagents", "solvents", "catalysts")
      .filter(schema.fieldNames.contains).map(c => (schema.fieldIndex(c), cfg.seed + c))
    val (o, p, y) = (schema.fieldIndex("original_index"), schema.fieldIndex("products"),
      schema.fieldIndex("yields"))
    v => {
      val rowKey = if (v(o) == null) null else v(o).toString
      lists.foreach { case (i, seed) =>
        v(i) = ArrayOps.scramble(v(i).asInstanceOf[Seq[String]], seed, rowKey)
      }
      val (ps, ys) = CleanOps.scrambleProducts(v(p).asInstanceOf[Seq[String]],
        v(y).asInstanceOf[Seq[Any]], cfg.seed + "products", rowKey)
      v(p) = ps; v(y) = ys
      true
    }
  }

  /** C12+C13 — seeded-shuffle keep-first dedup (drop a *random* duplicate)
    * on the key in the last column, which it drops. */
  private def seededDedup(keyed: DataFrame, cfg: CleanConfig): DataFrame =
    Relational.dedupKeepFirst(keyed, Seq("__dk"),
      Seq(XHash.bucketHash(cfg.seed, col("original_index").cast("string"))))
      .drop("__dk")

  /** The full operator chain C2→C18 in reference order
    * (clean/cleaner.py:533-882). */
  def clean(dfIn: DataFrame, cfg: CleanConfig): DataFrame = {
    val keyLists = componentCols(dfIn.schema)
    val empty = emptyLists(dfIn, cfg)
    val in = dfIn.drop(empty: _*)
    // C3 and C15 null a list when its partner is null
    val schema = jointlyNullable(jointlyNullable(in.schema, "catalysts", "reagents"),
      "products", "yields")
    val conds = presentConditionCols(schema)
    // C2–C8, then C12+C13
    var df = seededDedup(mapRows(in, withKey(schema))(validStep(schema, keyLists, cfg)), cfg)

    // C9/C10/C11 — rare molecules across condition columns; the row steps
    // still to run after the dedup
    var steps = Seq.empty[RowStep]
    if (cfg.minFrequencyOfOccurrence > 0) {
      // the value counts and the rare rewrite/filter both read these rows
      df = df.localCheckpoint()
      val frequent = CleanOps.frequentValues(df, conds, cfg.minFrequencyOfOccurrence)
      val condIdx = conds.map(schema.fieldIndex)
      if (cfg.mapRareMoleculesToOther) {
        // C10, then C13 again — map-to-other rewrites values, so rows can collide
        val rewritten = frequent match {
          case Some(fs) =>
            val key = keyStep(schema, keyLists)
            mapRows(df, withKey(schema)) { v =>
              condIdx.foreach(i => v(i) = CleanOps.rareToOther(v(i).asInstanceOf[Seq[String]], fs))
              key(v)
            }
          case None =>
            mapRows(Relational.mapRareToOtherArraysJoin(df, conds,
              cfg.minFrequencyOfOccurrence, "original_index"), withKey(schema))(
              keyStep(schema, keyLists))
        }
        df = seededDedup(rewritten, cfg)
      } else frequent match {
        // C11 — no re-dedup: keys are already unique and C11 only drops rows
        case Some(fs) =>
          steps :+= ((v: Array[Any]) =>
            !condIdx.exists(i => CleanOps.hasRare(v(i).asInstanceOf[Seq[String]], fs)))
        case None =>
          df = Relational.removeRareRowsArraysJoin(df, conds,
            cfg.minFrequencyOfOccurrence, "original_index")
      }
    }

    // C15 — per-row scramble
    if (cfg.scramble) steps :+= scrambleStep(schema, cfg)
    val rowSteps = steps
    if (rowSteps.nonEmpty) df = mapRows(df, schema)(v => rowSteps.forall(_(v)))
    df = empty.foldLeft(df)((d, c) => d.withColumn(c, array().cast(dfIn.schema(c).dataType)))

    // C18 — canonical column order
    df.select(col("original_index") +:
      df.columns.filterNot(_ == "original_index").sorted.map(col): _*)
  }

  /** C19/C20 reaction hash (clean/cleaner.py:885-945): md5 of the
    * `.`-joined sorted reactants and products. `sort_array` is
    * code-generated, unlike the higher-order `array_sort`; where it puts
    * nulls does not matter, since `concat_ws` skips them. */
  def reactionHash: Column =
    md5(concat_ws(".", sort_array(concat(col("reactants"), col("products")))))

  /** C19 + C20 — seeded split plus leakage move. Returns (train, test).
    * One eager job: a single window over the [[reactionHash]] labels each
    * row ([[Relational.leakageTrain]]), and the labelled rows are
    * checkpointed, so both halves only scan stored rows. */
  def splitWithLeakageMove(df: DataFrame, cfg: CleanConfig): (DataFrame, DataFrame) = {
    val bucket = XHash.bucket(cfg.seed + "split", 100,
      col("original_index").cast("string"))
    val labelled = df.withColumn("__train", Relational.leakageTrain(
      bucket < (cfg.trainSize * 100).toInt, reactionHash)).localCheckpoint()
    (labelled.filter(col("__train")).drop("__train"),
      labelled.filter(!col("__train")).drop("__train"))
  }
}
