package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** The reference's cleaner matrix (tests/test_clean.py:849-1000: an
  * 8-combination grid over trust_labelling × consistent_yield ×
  * map_rare_to_other) ported as invariant checks over both golden corpora.
  */
class CleanerMatrixSpec extends SparkSpec {

  private val base =
    "/root/reference/orderly/data/test_data"
  private def corpus(trust: Boolean) =
    s"$base/extracted_ord_test_data_${if (trust) "trust_labelling" else "dont_trust_labelling"}/extracted_ords"

  private def cfgFor(trust: Boolean, consistentYield: Boolean, mapRare: Boolean) =
    if (trust)
      CleanConfig(numReactant = 2, numProduct = 1, numAgent = 0, numCat = 1,
        numReag = 2, numSolv = 2, consistentYield = consistentYield,
        minFrequencyOfOccurrence = 15, mapRareMoleculesToOther = mapRare)
    else
      CleanConfig(numReactant = 2, numProduct = 1, numAgent = 3, numCat = 0,
        numReag = 0, numSolv = 2, consistentYield = consistentYield,
        minFrequencyOfOccurrence = 15, mapRareMoleculesToOther = mapRare)

  for (trust <- Seq(false, true);
       cy <- Seq(false, true);
       mapRare <- Seq(false, true)) {
    test(s"matrix trust=$trust consistentYield=$cy mapRare=$mapRare") {
      val raw = ReactionTable.load(spark, corpus(trust))
      val cfg = cfgFor(trust, cy, mapRare)
      val out = Cleaner.clean(raw, cfg).cache()
      val n = out.count()
      assert(n > 0 && n < raw.count())
      // width invariants per the num_* knobs
      assert(out.filter(size(col("reactants")) > cfg.numReactant).count() == 0)
      assert(out.filter(size(col("products")) > cfg.numProduct).count() == 0)
      if (out.columns.contains("agents") && cfg.numAgent >= 0)
        assert(out.filter(size(col("agents")) > cfg.numAgent).count() == 0)
      if (out.columns.contains("catalysts") && trust)
        assert(out.filter(size(col("catalysts")) > cfg.numCat).count() == 0)
      // yields stay aligned through every path
      assert(out.filter(size(col("products")) =!= size(col("yields"))).count() == 0)
      // consistent_yield semantics
      if (cy) {
        val bad = out.select("yields").collect()
          .count(r => !CleanOps.yieldConsistent(r.getSeq[Any](0)))
        assert(bad == 0)
      }
      // map-rare leaves "other" placeholders instead of dropping rows
      if (mapRare) {
        val conds = Seq("agents", "reagents", "solvents", "catalysts")
          .filter(out.columns.contains)
        val withOther = out.filter(conds.map(c =>
          array_contains(col(c), "other")).reduce(_ || _)).count()
        assert(withOther > 0)
      }
      out.unpersist()
    }
  }
}
