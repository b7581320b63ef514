package graft.cli

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.extract._
import graft.operators._

/** CLI entry points mirroring the reference's stage commands
  * (`python -m orderly.extract / orderly.clean / orderly.gen_fp`,
  * SURVEY.md §3), including the `*_config.json` audit-trail sinks (S8,
  * extract/main.py:597-610, clean/cleaner.py:1325-1347).
  *
  * Run via: `sbt "runMain graft.cli.ExtractMain <ordDir> <outDir>"` etc.
  */
object CliUtil {
  def writeConfigJson(outDir: String, name: String, kv: (String, Any)*): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val body = kv.map { case (k, v) =>
      val vs = v match {
        case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        case other => other.toString
      }
      s"""  "$k": $vs"""
    }.mkString("{\n", ",\n", "\n}")
    Files.writeString(Paths.get(s"$outDir/$name"), body)
  }
}

/** `orderly.extract` equivalent: ORD .pb.gz directory → array-typed parquet
  * partitioned by source file, plus the config audit. It extracts with
  * [[IdentityChemistry]] and the solvent set `O`, `CO`, `CCO`; it writes
  * neither the reference's wide layout nor its unresolved-names CSV. */
object ExtractMain {
  def main(args: Array[String]): Unit = {
    val Array(ordDir, outDir) = args.take(2)
    val trustLabelling = args.lift(2).exists(_.toBoolean)
    val spark = GraftSession.local()
    val cfg = ExtractConfig(trustLabelling = trustLabelling)
    val nested = OrdSource.readNested(spark, ordDir)
    val extracted = Extract.extractReactions(
      nested, cfg, IdentityChemistry, solventSet = Seq("O", "CO", "CCO"))
    extracted.write.mode("overwrite")
      .partitionBy("extracted_from_file")
      .parquet(s"$outDir/extracted_ords")
    CliUtil.writeConfigJson(outDir, "extract_config.json",
      "trust_labelling" -> cfg.trustLabelling,
      "consider_molecule_names" -> cfg.considerMoleculeNames,
      "include_unadded_labelled_molecules_as_agents" ->
        cfg.includeUnaddedLabelledMolecules,
      "use_labelling_if_extract_fails" -> cfg.useLabellingIfExtractFails,
      "ord_dir" -> ordDir)
    spark.stop()
  }
}

/** `orderly.clean` equivalent: extracted parquet → cleaned train/test. */
object CleanMain {
  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir) = args.take(2)
    val spark = GraftSession.local()
    val cfg = CleanConfig()
    val table = ReactionTable.load(spark, inDir)
    val cleaned = Cleaner.clean(table, cfg)
    if (cfg.trainSize > 0 && cfg.trainSize < 1) {
      val (train, test) = Cleaner.splitWithLeakageMove(cleaned, cfg)
      train.write.mode("overwrite").parquet(s"$outDir/train")
      test.write.mode("overwrite").parquet(s"$outDir/test")
    } else cleaned.write.mode("overwrite").parquet(s"$outDir/all")
    CliUtil.writeConfigJson(outDir, "clean_config.json",
      "num_reactant" -> cfg.numReactant, "num_product" -> cfg.numProduct,
      "num_agent" -> cfg.numAgent, "num_cat" -> cfg.numCat,
      "num_reag" -> cfg.numReag, "num_solv" -> cfg.numSolv,
      "consistent_yield" -> cfg.consistentYield,
      "min_frequency_of_occurrence" -> cfg.minFrequencyOfOccurrence,
      "map_rare_molecules_to_other" -> cfg.mapRareMoleculesToOther,
      "scramble" -> cfg.scramble, "train_size" -> cfg.trainSize,
      "seed" -> cfg.seed)
    spark.stop()
  }
}

/** `orderly.gen_fp` equivalent: cleaned parquet → fingerprint parquet. */
object GenFpMain {
  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir) = args.take(2)
    val nBits = args.lift(2).map(_.toInt).getOrElse(2048)
    val spark = GraftSession.local()
    val cleaned = spark.read.parquet(inDir)
    // scatter kernel: O(len + nBits) per row — the expression formulation
    // is quadratic-feeling at the reference's default 2048 bits
    Fingerprints.reactionFingerprintsDense(cleaned, nBits)
      .write.mode("overwrite").parquet(outDir)
    CliUtil.writeConfigJson(outDir, "fp_config.json",
      "fp_size" -> nBits, "input" -> inDir)
    spark.stop()
  }
}
