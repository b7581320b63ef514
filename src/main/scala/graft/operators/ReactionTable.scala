package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ArrayOps

/** C1 + the wide→array source codec: load the reference's numbered-column
  * parquet layout (`reactant_000, …`, SURVEY.md §1.2) into the array-typed
  * working representation (§7.1), unifying ragged per-file schemas the way
  * the reference's merge does (clean/cleaner.py:98-135: concat + fillna
  * sentinel + back to null). The array-typed table that the extract emits
  * loads as it is.
  *
  * `mergeSchema=true` performs the reference's width unification at scan
  * time. The collapse is one Scala function per row ([[collapse]],
  * [[collapseProducts]]) behind a projection that gathers each family's
  * slots into one array and casts the yields to double (Spark's cast
  * rules, not a copy of them). The sentinel restore of the scalar columns
  * is a plain Column projection in front of it, so the per-file count
  * below reads one column and skips the collapse. `original_index` lineage
  * comes from a window over (file, row-position) — deterministic, unlike
  * monotonically_increasing_id across repartitions.
  */
object ReactionTable {

  val componentPrefixes = Seq("reactant", "agent", "reagent", "solvent",
    "catalyst", "product")

  private val sentinel = "<missing>"

  /** Scalar string columns whose sentinel the load turns back into null. */
  private val restoredCols = Seq("rxn_str", "procedure_details", "extracted_from_file")

  private def widthOf(df: DataFrame, prefix: String): Seq[String] =
    df.columns.filter(_.matches(s"${prefix}_\\d{3}")).sorted.toSeq

  private def wideCols(df: DataFrame): Seq[String] =
    (componentPrefixes :+ "yield").flatMap(widthOf(df, _))

  /** One family's slots as a list: sentinel and null slots dropped. */
  def collapse(slots: Seq[String]): Seq[String] =
    slots.filter(s => s != null && s != sentinel)

  /** Products and their yields, aligned slot by slot (E16 discipline): the
    * yields are padded with nulls to the products' length, and a product
    * slot that is null or the sentinel is dropped with its yield. */
  def collapseProducts(products: Seq[String],
      yields: Seq[Any]): (Seq[String], Seq[Any]) = {
    val kept = products.indices.filter { i =>
      val p = products(i)
      p != null && p != sentinel
    }
    (kept.map(products), kept.map(i => if (i < yields.size) yields(i) else null))
  }

  /** Collapse `prefix_nnn` columns into one clean array per family with
    * [[collapse]] and [[collapseProducts]], as one typed `map`. Every
    * family gets a column; one the frame has no slots for is an empty-array
    * literal, which the optimizer keeps out of the row functions and
    * shuffles downstream (see [[Cleaner]]). */
  def fromWide(spark: SparkSession, wide: DataFrame): DataFrame = {
    def gathered(prefix: String, t: DataType): Column =
      array(widthOf(wide, prefix).map(c => col(c).cast(t)): _*).cast(ArrayType(t))
    def list(name: String, t: DataType) = StructField(name, ArrayType(t), nullable = false)
    val scalars = wide.columns.toSeq.diff(wideCols(wide))
      .filterNot(c => componentPrefixes.exists(p => c == s"${p}s") || c == "yields")
      .map(c => col(s"`$c`"))
    val families = componentPrefixes.filterNot(_ == "product")
    val present = families.filter(widthOf(wide, _).nonEmpty)
    val staged = wide.select(scalars ++ present.map(gathered(_, StringType)) ++
      Seq(gathered("product", StringType), gathered("yield", DoubleType)): _*)
    val (nScalars, nLists) = (scalars.size, present.size)
    val out = StructType(staged.schema.take(nScalars) ++
      present.map(p => list(s"${p}s", StringType)) ++
      Seq(list("products", StringType), list("yields", DoubleType)))
    val collapsed = staged.map { r =>
      val v = new Array[Any](out.length)
      var i = 0
      while (i < nScalars) { v(i) = r.get(i); i += 1 }
      while (i < nScalars + nLists) { v(i) = collapse(r.getSeq[String](i)); i += 1 }
      val (p, y) = collapseProducts(r.getSeq[String](i), r.getSeq[Any](i + 1))
      v(i) = p
      v(i + 1) = y
      new GenericRow(v): Row
    }(Encoders.row(out))
    collapsed.select(scalars ++ families.map(p =>
      if (present.contains(p)) col(s"${p}s")
      else array().cast(ArrayType(StringType)).as(s"${p}s")) ++
      Seq(col("products"), col("yields")): _*)
  }

  /** The reference's sentinel back to null in the scalar string columns. */
  private def restore(df: DataFrame): DataFrame =
    df.select(df.schema.map { f =>
      val c = col(s"`${f.name}`")
      if (restoredCols.contains(f.name) && f.dataType == StringType)
        when(c === sentinel, lit(null)).otherwise(c).as(f.name)
      else c
    }: _*)

  private def isArrayTyped(df: DataFrame): Boolean =
    Seq("reactants", "products").forall(c =>
      df.schema.find(_.name == c).exists(_.dataType.isInstanceOf[ArrayType]))

  /** Load a directory of per-file parquet into one array-typed reaction
    * table with `original_index` lineage. The files are either the wide
    * layout (collapsed by [[fromWide]]) or already array-typed, as the
    * extract writes them (lists kept); both get the sentinel restore. */
  def load(spark: SparkSession, dir: String): DataFrame = {
    val raw = restore(spark.read.option("mergeSchema", "true").parquet(dir))
    val table =
      if (wideCols(raw).nonEmpty) fromWide(spark, raw)
      else if (isArrayTyped(raw)) raw
      else throw new IllegalArgumentException(
        s"$dir holds neither wide reactant_nnn/product_nnn columns nor " +
          s"array-typed reactants and products; its columns: ${raw.columns.mkString(", ")}")
    // the collapse keeps every row, so the files count the same before it
    addOriginalIndex(table, raw)
  }

  /** Deterministic `original_index` without a global single-partition sort:
    * per-file row numbers (parallel windows) plus a broadcast per-file
    * offset computed from the (tiny) per-file counts — the scalable version
    * of the reference's running row number (clean/cleaner.py:112-114). */
  def addOriginalIndex(df: DataFrame): DataFrame = addOriginalIndex(df, df)

  /** [[addOriginalIndex]] with the per-file counts taken from `files`, a
    * frame with the same rows per `extracted_from_file` as `df` that is
    * cheaper to scan. */
  private def addOriginalIndex(df: DataFrame, files: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byFile = Window.partitionBy("extracted_from_file")
      .orderBy("rxn_str", "original_order_key")
    val keyed = df.withColumn("original_order_key",
      md5(concat_ws("|", df.columns.map(c => col(c).cast("string")): _*)))
    // one row per file: sorted on the driver as `orderBy` would (nulls
    // first, UTF-8 order), which saves a range-partitioning job
    val counts = files.groupBy("extracted_from_file")
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)(Ordering.Option(ArrayOps.Utf8Order).on(Option(_)))
    if (counts.isEmpty)
      return keyed.withColumn("original_index", lit(0L))
        .drop("original_order_key").filter(lit(false))
    val offsets = counts.scanLeft(("", 0L)) { case ((_, acc), (f, n)) =>
      (f, acc + n)
    }.sliding(2).map { case Array((_, off), (f, _)) => (f, off) }.toSeq
    // Broadcast join on the per-file offset table (one row per file): at
    // real ORD scale (100k+ files) a when-chain literal would be a 100k-deep
    // expression tree; the join stays a single BroadcastHashJoin.
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = offsets.toDF("__file", "__off")
    keyed
      .join(broadcast(offDf), keyed("extracted_from_file") <=> offDf("__file"), "left")
      .withColumn("original_index",
        coalesce(col("__off"), lit(0L)) + row_number().over(byFile) - 1)
      .drop("original_order_key", "__file", "__off")
  }
}
