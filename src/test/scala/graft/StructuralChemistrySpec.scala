package graft

import org.apache.spark.sql.functions._

import graft.extract._

/** StructuralChemistry as a drop-in Chemistry implementation: Column-level
  * behavior, and the full extract pipeline running with it end-to-end.
  */
class StructuralChemistrySpec extends SparkSpec {
  import spark.implicits._

  test("canonicalize unifies equivalent writings at the Column level") {
    val df = Seq("OCC", "CCO", "C(C)O", "not a molecule").toDF("s")
    val canonicalize = udf((s: String) => StructuralChemistry.canonicalString(s))
    val out = df.select(canonicalize(col("s")).as("c"))
      .as[Option[String]].collect().toSeq
    assert(out(0) == out(1) && out(1) == out(2) && out(0).isDefined)
    assert(out(3).isEmpty)
  }

  test("the memo caches fill on scalar calls and empty under a reflective reset") {
    // the same reflection the benchmark uses to start each extract pass on
    // cold caches: clear every java.util.Map field of the module
    val cls = Class.forName("graft.extract.StructuralChemistry$")
    val module = cls.getField("MODULE$").get(null)
    def maps: Seq[java.util.Map[_, _]] =
      cls.getDeclaredFields.toSeq
        .filter(f => classOf[java.util.Map[_, _]].isAssignableFrom(f.getType))
        .flatMap { f =>
          f.setAccessible(true)
          f.get(module) match {
            case m: java.util.Map[_, _] => Some(m)
            case _ => None
          }
        }
    StructuralChemistry.canonicalString("CCO")
    StructuralChemistry.containsTransitionMetal("[Pd]")
    val filled = maps
    // one canonical cache and one metal cache, both reachable
    assert(filled.size == 2)
    assert(filled.exists(_.containsKey("CCO")))
    assert(filled.exists(_.containsKey("[Pd]")))
    filled.foreach(_.clear())
    assert(maps.forall(_.isEmpty))
    // a cleared cache refills with the same answers
    assert(StructuralChemistry.canonicalString("OCC") ==
      StructuralChemistry.canonicalString("C(C)O"))
    assert(StructuralChemistry.containsTransitionMetal("[Pd]"))
  }

  test("full golden corpus canonicalizes idempotently (55k real molecules)") {
    val dir = "/root/reference/orderly/data/test_data/ord_test_data"
    assume(new java.io.File(dir).exists(), "reference checkout not present")
    val nested = OrdSource.readNested(spark, dir)
    val out = Extract.extractReactions(
      nested, ExtractConfig(), StructuralChemistry,
      solventSet = Seq("O", "CO", "CCO", "C1CCOC1", "ClCCl"))
    assert(out.count() == 14798)
    // distributed idempotence sweep: canonical(canonical(m)) == canonical(m)
    // over every distinct molecule the pipeline emitted (real USPTO SMILES:
    // kekulized aromatics, stereo, charges, isotopes, the lot)
    val canonU = udf((s: String) => Smiles.canonical(s).orNull)
    val mols = out
      .select(explode(concat(
        col("reactants"), col("agents"), col("solvents"), col("products"))).as("m"))
      .filter(col("m").isNotNull).distinct()
    val notIdempotent = mols
      .withColumn("c1", canonU(col("m"))).filter(col("c1").isNotNull)
      .withColumn("c2", canonU(col("c1")))
      .filter(col("c2").isNull || col("c2") =!= col("c1"))
    assert(notIdempotent.count() == 0,
      notIdempotent.limit(5).collect().mkString("; "))
  }

  test("full extract pipeline runs with StructuralChemistry") {
    val nested = OrdSource.readNested(spark,
      "/root/reference/orderly/data/test_data/ord_test_data")
      .filter(col("fileName").contains("00005539"))
    val structural = Extract.extractReactions(
      nested, ExtractConfig(), StructuralChemistry,
      solventSet = Seq("O", "CO", "CCO", "C1CCOC1", "ClCCl"))
    val identity = Extract.extractReactions(
      nested, ExtractConfig(), IdentityChemistry,
      solventSet = Seq("O", "CO", "CCO", "C1CCOC1", "ClCCl"))
    // same reactions survive; canonicalization only rewrites molecule strings
    assert(structural.count() == identity.count())
    // structural canonicalization is idempotent over the extracted output
    val mols = structural
      .select(explode(concat(col("reactants"), col("products"))).as("m"))
      .filter(col("m").isNotNull).distinct().as[String].collect()
    val parseable = mols.flatMap(m => Smiles.canonical(m).map(m -> _))
    assert(parseable.nonEmpty)
    parseable.foreach { case (m, c) =>
      assert(Smiles.canonical(c).contains(c), s"not idempotent: $m")
    }
  }
}
