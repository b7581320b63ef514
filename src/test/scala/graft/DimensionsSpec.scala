package graft

import org.apache.spark.sql.functions._

import graft.extract.{IdentityChemistry, Smiles, StructuralChemistry}
import graft.operators.Dimensions

/** E25/E26/C14 — dimension builders against the reference's own packaged
  * data files, and E26 over a small CSV written here. */
class DimensionsSpec extends SparkSpec {
  import spark.implicits._

  test("E26: solvents dimension from the reference CSV") {
    val (set, dict) = Dimensions.loadSolvents(spark,
      "/root/reference/orderly/data/solvents.csv", IdentityChemistry)
    assert(set.size > 400)             // 615 rows, some shared SMILES
    assert(dict.size > set.size)       // several names per solvent
    assert(dict.contains("water") && dict("water") == "O")
    assert(dict.keys.forall(k => k == k.toLowerCase))
  }

  test("E26: solvents dimension from a hand-written CSV, StructuralChemistry") {
    val dir = java.nio.file.Files.createTempDirectory("solvents")
    val csv = dir.resolve("solvents.csv")
    java.nio.file.Files.writeString(csv, Seq(
      "solvent_name_1,solvent_name_2,solvent_name_3,smiles",
      "Ethanol,EtOH,,OCC",
      "ethyl alcohol,,,C(C)O", // an equivalent writing unifies
      "Junk,,,nonsense(", // unparsable: the row is dropped
      "WATER,,,O",
      "Mixed,,,CCl",
      "MIXED,,,CCCl" // the same name again: the last row wins
    ).mkString("", "\n", "\n"))
    val (set, dict) = Dimensions.loadSolvents(spark, csv.toString, StructuralChemistry)
    def canon(s: String): String = Smiles.canonical(s).get
    assert(canon("OCC") == canon("C(C)O"))
    assert(set == Seq(canon("OCC"), canon("O"), canon("CCl"), canon("CCCl")).sorted)
    assert(dict == Map(
      "ethanol" -> canon("OCC"), "etoh" -> canon("OCC"),
      "ethyl alcohol" -> canon("OCC"), "water" -> canon("O"),
      "mixed" -> canon("CCCl")))
  }

  test("E25: molecule-name merge is sorted distinct") {
    val names = Dimensions.mergeMoleculeNames(spark,
      "/root/reference/orderly/data/test_data/extracted_ord_test_data_dont_trust_labelling/molecule_names/*.csv")
      .as[String].collect().toSeq
    assert(names.nonEmpty)
    assert(names == names.sorted && names.distinct == names)
  }

  test("C14: multi-yield duplicate count") {
    val df = Seq(
      (Seq("A"), Seq("P"), Seq(Option(90.0))),
      (Seq("A"), Seq("P"), Seq(Option(80.0))), // dup ignoring yields only
      (Seq("B"), Seq("Q"), Seq(Option(10.0)))
    ).toDF("reactants", "products", "yields")
    assert(Dimensions.multiYieldDuplicateCount(df, Seq("reactants", "products")) == 1)
  }
}
