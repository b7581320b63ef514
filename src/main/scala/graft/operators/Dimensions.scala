package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.Chemistry

/** E25/E26 + S4/S6 — small dimension-table builders around the extract
  * stage (extract/main.py:54-120, data/solvents.py).
  */
object Dimensions {

  /** E25 — merge per-file unresolved-name CSVs into one sorted distinct
    * list (extract/main.py:54-89). The reference writes a single-column
    * headerless pandas CSV; we read whatever glob matches and keep the
    * first column. */
  def mergeMoleculeNames(spark: SparkSession, glob: String): DataFrame =
    spark.read.option("header", "true").csv(glob)
      .select(col("*")).toDF("name")
      .filter(col("name").isNotNull && col("name") =!= "")
      .distinct()
      .orderBy("name")

  /** E26 — solvents dimension: melt the three name columns, lowercase,
    * canonicalise the SMILES, yield (a) the canonical-SMILES set and (b)
    * the name→SMILES replacement map (data/solvents.py:27-69). Both are
    * small by construction (≈615 rows) → collected and broadcast as
    * literals into the extract expressions.
    */
  def loadSolvents(spark: SparkSession, csvPath: String, chem: Chemistry)
      : (Seq[String], Map[String, String]) = {
    val raw = spark.read.option("header", "true").csv(csvPath)
      .withColumn("canon",
        udf((s: String) => chem.canonicalString(s)).apply(col("smiles")))
      .filter(col("canon").isNotNull)
    val set = raw.select("canon").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val nameCols = Seq("solvent_name_1", "solvent_name_2", "solvent_name_3")
    val melted = raw.select(
      explode(array(nameCols.map(c => struct(lower(col(c)).as("n"),
        col("canon").as("s"))): _*)).as("e"))
      .select(col("e.n"), col("e.s"))
      .filter(col("n").isNotNull && col("n") =!= "")
    val dict = melted.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    (set, dict)
  }

  /** C14 — multi-yield duplicate count (reporting only,
    * clean/cleaner.py:857-866): rows that are duplicates ignoring yields
    * but not when yields are included. */
  def multiYieldDuplicateCount(df: DataFrame, componentCols: Seq[String]): Long = {
    val withoutY = df.dropDuplicates(componentCols).count()
    val withY = df.dropDuplicates(componentCols :+ "yields").count()
    withY - withoutY
  }
}
