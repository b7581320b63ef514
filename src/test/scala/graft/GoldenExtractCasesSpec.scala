package graft

import org.apache.spark.sql.functions._

import graft.extract.{Extract, ExtractConfig, IdentityChemistry, OrdSource}
import graft.functions.Conversions
import graft.operators.Dimensions

/** Golden per-operator cases ported verbatim from the reference test suite
  * (/root/reference/tests/test_extract.py — values are data, SURVEY.md §5).
  * Chemistry-dependent expectation tables (E3/E4 canonical SMILES) are
  * gated behind a real canonicalizer and not ported; temperature, time and
  * merge-to-agents values are chemistry-free / already canonical.
  */
class GoldenExtractCasesSpec extends SparkSpec {
  import spark.implicits._

  private val ordDir = "/root/reference/orderly/data/test_data/ord_test_data"

  private lazy val nested = OrdSource.readNested(spark, ordDir)
    .withColumn("temperature", Conversions.temperatureToCelsius(
      col("tempValue"), col("tempUnits"), col("tempControl")))
    .withColumn("rxn_time", Conversions.rxnTimeToHours(
      col("timeValue"), col("timeUnits")))
    .select("fileName", "rxnOrdinal", "temperature", "rxn_time")
    .cache()

  private def scalarAt(file: String, idx: Int, c: String): Option[Double] =
    nested.filter(col("fileName") === file && col("rxnOrdinal") === idx)
      .select(c).collect()(0) match {
        case r if r.isNullAt(0) => None
        case r => Some(r.getDouble(0))
      }

  // test_temperature_extractor table (test_extract.py:511-523)
  Seq(
    ("ord_dataset-00005539a1e04c809a9a78647bea649c", 0, Some(110.0)),
    ("ord_dataset-0b70410902ae4139bd5d334881938f69", 0, None),
    ("ord_dataset-0bb2e99daa66408fb8dbd6a0781d241c", 0, Some(1100.0)),
    ("ord_dataset-0bf72e95d80743729fdbb8b57a4bc0c6", 0, None)
  ).foreach { case (f, i, want) =>
    test(s"E6 golden: $f#$i -> $want") {
      assert(scalarAt(f, i, "temperature") == want)
    }
  }

  // test_time_extractor table (test_extract.py:546-553)
  Seq(
    ("ord_dataset-00005539a1e04c809a9a78647bea649c", 0, None),
    ("ord_dataset-0b70410902ae4139bd5d334881938f69", 0, None),
    ("ord_dataset-0bb2e99daa66408fb8dbd6a0781d241c", 0, Some(0.17)),
    ("ord_dataset-0bf72e95d80743729fdbb8b57a4bc0c6", 0, None)
  ).foreach { case (f, i, want) =>
    test(s"E7 golden: $f#$i -> $want") {
      assert(scalarAt(f, i, "rxn_time") == want)
    }
  }

  // test_merge_to_agents table (test_extract.py:576-660, non-xfail rows;
  // solvents_set=None in the reference loads the packaged solvents.csv)
  private lazy val solventSet = Dimensions.loadSolvents(spark,
    "/root/reference/orderly/data/solvents.csv", IdentityChemistry)._1

  private val mergeCases = Seq(
    (Seq.empty[String],
      Seq("c1ccc(P(c2ccccc2)c2ccc3ccccc3c2-c2c(P(c3ccccc3)c3ccccc3)ccc3ccccc23)cc1",
        "O=C(/C=C/c1ccccc1)/C=C/c1ccccc1", "[Pd]"),
      Seq.empty[String], Seq("O=C([O-])[O-]", "[Cs+]"),
      Seq("[Pd]", "O=C(/C=C/c1ccccc1)/C=C/c1ccccc1", "O=C([O-])[O-]", "[Cs+]",
        "c1ccc(P(c2ccccc2)c2ccc3ccccc3c2-c2c(P(c3ccccc3)c3ccccc3)ccc3ccccc23)cc1"),
      Seq.empty[String]),
    (Seq("C1CCOC1"), Seq.empty[String], Seq("C1CCOC1", "C1CCOC1"),
      Seq.empty[String], Seq.empty[String], Seq("C1CCOC1")),
    (Seq("O"), Seq.empty[String], Seq("O"), Seq.empty[String],
      Seq.empty[String], Seq("O")),
    (Seq("c1ccccc1", "Cc1ccc(S(=O)(=O)O)cc1", "O"), Seq.empty[String],
      Seq("c1ccccc1"), Seq.empty[String],
      Seq("Cc1ccc(S(=O)(=O)O)cc1"), Seq("O", "c1ccccc1")),
    (Seq("c1ccccc1", "Cc1ccc(S(=O)(=O)O)cc1", "O"), Seq("[Pd]"),
      Seq("O", "CCO"), Seq("O=C([O-])[O-]"),
      Seq("[Pd]", "Cc1ccc(S(=O)(=O)O)cc1", "O=C([O-])[O-]"),
      Seq("CCO", "O", "c1ccccc1"))
  )

  test("E3 participation: mapped vs unmapped branches (extractor.py:244-296)") {
    val out = Seq(
      // mapped: unmapped LHS mol demotes to agents; [H][H] stays reactant
      (true, "[CH3:1]O.CC(=O)O.[H][H]>[Pd]>[CH3:1]OC"),
      // unmapped: EVERYTHING kept as written, partition preserved
      (false, "CO.CC(=O)O>[Pd].[H][H]>COC")
    ).map { case (m, rxn) =>
      val i = Extract.fromRxnStr(rxn, m, IdentityChemistry)
      m -> ((i.reactants, i.agents, i.products))
    }.toMap
    // mapped: CC(=O)O has no atom map -> agent; [CH3:1]OC mapped+not LHS -> product
    assert(out(true) == ((Seq("[CH3:1]O", "[H][H]"), Seq("CC(=O)O", "[Pd]"),
      Seq("[CH3:1]OC"))))
    // unmapped: no filtering; [H][H] moves from declared agents to reactants
    assert(out(false) == ((Seq("CC(=O)O", "CO", "[H][H]"), Seq("[Pd]"),
      Seq("COC"))))
  }

  test("use_labelling_if_extract_fails=false drops string-less reactions") {
    val ordDir = "/root/reference/orderly/data/test_data/ord_test_data"
    val nested = graft.extract.OrdSource.readNested(spark, ordDir)
      .filter(col("fileName").contains("00005539")).cache()
    val solvents = Seq("O", "CO")
    val fallback = Extract.extractReactions(
      nested, ExtractConfig(), IdentityChemistry, solvents).count()
    val strict = Extract.extractReactions(
      nested, ExtractConfig(useLabellingIfExtractFails = false),
      IdentityChemistry, solvents)
    assert(strict.filter(col("rxn_str").isNull).count() == 0)
    assert(strict.count() <= fallback)
  }

  mergeCases.zipWithIndex.foreach { case ((rxnAgents, cats, solvs, reags,
      wantAgents, wantSolvents), i) =>
    test(s"E12 merge_to_agents golden case $i") {
      val got = Extract.mergeToAgents(rxnAgents, cats ++ solvs ++ reags,
        solventSet.toSet, IdentityChemistry)
      assert(got._2 == wantAgents, s"agents: got ${got._2} want $wantAgents")
      assert(got._1 == wantSolvents, s"solvents: got ${got._1} want $wantSolvents")
    }
  }
}
