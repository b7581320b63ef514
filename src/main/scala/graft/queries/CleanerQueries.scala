package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{ArrayOps, Conversions, Exact, XHash}
import graft.operators.{CleanOps, Relational}

/** Cleaning-stage operator coverage (SURVEY.md §2.3) plus the array/codec
  * layer (§2.2) on the driver test tables. Array-typed intermediates are
  * built from `documents.text` tokens / per-order lineitem collections so
  * every list-semantic of the reference is exercised with a DuckDB oracle.
  */
object CleanerQueries {

  private val stop = Seq("the", "a", "of")
  private val stopSqlList = stop.map(s => s"'$s'").mkString(", ")

  /** Shared tokenizer CTE fragment for oracles (must match ArrayOps.tokens). */
  private val toksCte =
    """WITH t AS (
      |  SELECT doc_id, lang, source,
      |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
      |  FROM documents)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // C10 — map-rare-to-other on a scalar dictionary column.
    QueryDef(
      "q11_rare_to_other",
      """SELECT p_partkey,
        |  CASE WHEN count(*) OVER (PARTITION BY p_type) >= 330
        |       THEN p_type ELSE 'other' END AS p_type_m
        |FROM part""".stripMargin) { (s, dir) =>
      Relational.mapRareToOther(Tables.part(s, dir), Seq("p_type"), 330)
        .select(col("p_partkey"), col("p_type").as("p_type_m"))
    },

    // C11 — remove rows containing rare values.
    QueryDef(
      "q12_remove_rare",
      """SELECT p_partkey, p_type FROM part
        |QUALIFY count(*) OVER (PARTITION BY p_type) >= 330""".stripMargin) { (s, dir) =>
      Relational.removeRareRows(Tables.part(s, dir), Seq("p_type"), 330)
        .select("p_partkey", "p_type")
    },

    // C12/C19 — seeded deterministic split assignment (md5 bucket, exactly
    // reproducible by the oracle; stable under any partitioning).
    QueryDef(
      "q13_split_assign",
      s"""SELECT o_orderkey,
         |  ${XHash.bucketSql("split12345", 100, "o_orderkey")} AS bucket,
         |  CASE WHEN ${XHash.bucketSql("split12345", 100, "o_orderkey")} < 90
         |       THEN 'train' ELSE 'test' END AS split
         |FROM orders""".stripMargin) { (s, dir) =>
      val b = Relational.splitBucket("split12345", col("o_orderkey"))
      Tables.orders(s, dir).select(
        col("o_orderkey"), b.as("bucket"),
        when(b < 90, "train").otherwise("test").as("split"))
    },

    // C20 — split-leakage move: test rows whose leak key (o_custkey) occurs
    // in train move to train (clean/cleaner.py:885-945, the reference's
    // 15-minute pandas hot spot → one window on the leak key here).
    QueryDef(
      "q14_leakage_move",
      s"""WITH o AS (
         |  SELECT o_orderkey, o_custkey,
         |    CASE WHEN ${XHash.bucketSql("split12345", 100, "o_orderkey")} < 90
         |         THEN 'train' ELSE 'test' END AS split
         |  FROM orders)
         |SELECT o_orderkey,
         |  CASE WHEN split = 'test' AND o_custkey IN
         |         (SELECT o_custkey FROM o WHERE split = 'train')
         |       THEN 'train' ELSE split END AS final_split
         |FROM o""".stripMargin) { (s, dir) =>
      val b = Relational.splitBucket("split12345", col("o_orderkey"))
      val o = Tables.orders(s, dir)
        .withColumn("split", when(b < 90, "train").otherwise("test"))
      val train = o.filter(col("split") === "train")
      val test = o.filter(col("split") === "test")
      val (newTrain, newTest) = Relational.leakageMove(train, test, col("o_custkey"))
      newTrain.select(col("o_orderkey"), lit("train").as("final_split"))
        .unionByName(newTest.select(col("o_orderkey"), lit("test").as("final_split")))
    },

    // C4 + E23 — component-count row filter and the array→numbered-wide
    // codec with the reference's "<missing>" sentinel.
    QueryDef(
      "q15_wide_codec",
      s"""$toksCte
         |SELECT doc_id,
         |  coalesce(toks[1], '<missing>') AS tok_000,
         |  coalesce(toks[2], '<missing>') AS tok_001,
         |  coalesce(toks[3], '<missing>') AS tok_002
         |FROM t WHERE len(toks) <= 60""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .withColumn("toks", ArrayOps.tokens(col("text")))
      CleanOps.trimComponents(docs, "toks", 60)
        .select(col("doc_id") +: ArrayOps.toWide(col("toks"), "tok", 3): _*)
    },

    // C5/C6 + E16-shape — non-empty-after-cleaning filter.
    QueryDef(
      "q16_nonempty_filter",
      s"""$toksCte
         |SELECT doc_id,
         |  cast(len(list_filter(toks, x -> x NOT IN ($stopSqlList))) as int) AS n_kept
         |FROM t
         |WHERE len(list_filter(toks, x -> x NOT IN ($stopSqlList))) > 0""".stripMargin) { (s, dir) =>
      val kept = filter(ArrayOps.tokens(col("text")),
        x => !x.isin(stop: _*))
      Tables.documents(s, dir)
        .withColumn("kept", kept)
        .filter(size(col("kept")) > 0)
        .select(col("doc_id"), size(col("kept")).as("n_kept"))
    },

    // C7 + E12/E18 — per-group sorted-distinct set comparison and
    // intersection (no-op-reaction filter shape).
    QueryDef(
      "q17_setops_filter",
      """SELECT l_orderkey, cast(len(list_intersect(rf, ls)) as int) AS n_common
        |FROM (SELECT l_orderkey,
        |        list_sort(list_distinct(list(l_returnflag))) AS rf,
        |        list_sort(list_distinct(list(l_linestatus))) AS ls
        |      FROM lineitem GROUP BY l_orderkey)
        |WHERE rf <> ls""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_returnflag"))).as("rf"),
          sort_array(collect_set(col("l_linestatus"))).as("ls"))
        .filter(col("rf") =!= col("ls"))
        .select(col("l_orderkey"),
          size(array_intersect(col("rf"), col("ls"))).as("n_common"))
    },

    // C8 — row-wise yield-consistency over an aligned array.
    QueryDef(
      "q18_yield_consistency",
      """SELECT l_orderkey, cast(list_sum(qs) as double) AS total_qty
        |FROM (SELECT l_orderkey, list(l_quantity) AS qs
        |      FROM lineitem GROUP BY l_orderkey)
        |WHERE list_aggregate(list_transform(qs,
        |        y -> CASE WHEN y IS NULL OR (y >= 0 AND y <= 50) THEN 0 ELSE 1 END),
        |      'sum') = 0
        |  AND list_sum(list_transform(qs, y -> coalesce(y, 0.0))) <= 100""".stripMargin) { (s, dir) =>
      val qs = col("qs")
      val consistent = forall(qs, y => y.isNull || (y >= 0 && y <= 50)) &&
        aggregate(qs, lit(0.0), (acc, y) => acc + coalesce(y, lit(0.0))) <= 100
      Tables.lineitem(s, dir)
        .groupBy("l_orderkey").agg(collect_list(col("l_quantity")).as("qs"))
        .filter(consistent)
        .select(col("l_orderkey"),
          aggregate(qs, lit(0.0), (acc, y) => acc + y).as("total_qty"))
    },

    // F4 — frequency-informed baseline: top-3 train combos, test accuracy
    // (condition_prediction/utils.py:211-237 — the author's "there MUST be
    // a way to do it more efficiently" loop → two aggregates + a semi join).
    QueryDef(
      "q19_freq_baseline",
      s"""WITH li AS (
         |  SELECT l_returnflag || '|' || l_linestatus AS combo,
         |    CASE WHEN ${XHash.bucketSql("fb", 100, "l_orderkey", "cast(l_linenumber as varchar)")} < 90
         |         THEN 'train' ELSE 'test' END AS split
         |  FROM lineitem),
         |top3 AS (
         |  SELECT combo FROM li WHERE split = 'train'
         |  GROUP BY combo ORDER BY count(*) DESC, combo LIMIT 3)
         |SELECT
         |  cast(count(*) FILTER (WHERE combo IN (SELECT combo FROM top3)) as bigint) AS matched,
         |  cast(count(*) as bigint) AS total,
         |  cast(count(*) FILTER (WHERE combo IN (SELECT combo FROM top3)) as double)
         |    / count(*) AS acc
         |FROM li WHERE split = 'test'""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .withColumn("combo", concat_ws("|", col("l_returnflag"), col("l_linestatus")))
        .withColumn("split",
          when(XHash.bucket("fb", 100, col("l_orderkey"),
            col("l_linenumber").cast("string")) < 90, "train").otherwise("test"))
      val top3 = li.filter(col("split") === "train")
        .groupBy("combo").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("combo").asc).limit(3)
        .select(col("combo"), lit(1).as("__hit"))
      // single pass over the test split: broadcast left join + two counts
      li.filter(col("split") === "test")
        .join(broadcast(top3), Seq("combo"), "left")
        .agg(count(when(col("__hit").isNotNull, 1)).as("matched"),
          count(lit(1)).as("total"))
        .select(col("matched"), col("total"),
          (col("matched").cast("double") / col("total")).as("acc"))
    },

    // F5 — grouped exact-match accuracy: sorted-multiset equality of two
    // per-user component sets (condition_prediction/utils.py:74-103).
    QueryDef(
      "q20_grouped_accuracy",
      """WITH a AS (SELECT user_id, list_sort(list_distinct(list(event_type))) AS pred
        |           FROM events WHERE day(ts) <= 15 GROUP BY user_id),
        |     b AS (SELECT user_id, list_sort(list_distinct(list(event_type))) AS truth
        |           FROM events WHERE day(ts) > 15 GROUP BY user_id)
        |SELECT cast(count(*) FILTER (WHERE pred = truth) as bigint) AS matched,
        |       cast(count(*) as bigint) AS total
        |FROM a JOIN b USING (user_id)""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val a = ev.filter(dayofmonth(col("ts")) <= 15).groupBy("user_id")
        .agg(sort_array(collect_set("event_type")).as("pred"))
      val b = ev.filter(dayofmonth(col("ts")) > 15).groupBy("user_id")
        .agg(sort_array(collect_set("event_type")).as("truth"))
      a.join(b, "user_id")
        .agg(count(when(col("pred") === col("truth"), 1)).as("matched"),
          count(lit(1)).as("total"))
    },

    // E6/E7 — unit-conversion CASE chain (exact multiply/add directions so
    // the oracle matches bit-for-bit; divide directions are spec-tested).
    QueryDef(
      "q21_unit_conversion",
      """SELECT event_id,
        |  cast(CASE event_type
        |    WHEN 'click' THEN cast(value as decimal(18,4)) * 1.8 + 32
        |    WHEN 'view' THEN cast(value as decimal(18,4)) + 273.15
        |    WHEN 'purchase' THEN cast(value as decimal(18,4)) * 60
        |    ELSE cast(value as decimal(18,4)) END as double) AS converted
        |FROM events""".stripMargin) { (s, dir) =>
      val v = Exact.dec(col("value"))
      Tables.events(s, dir).select(
        col("event_id"),
        when(col("event_type") === "click", Conversions.celsiusToFahrenheitExact(v))
          .when(col("event_type") === "view", Conversions.celsiusToKelvinExact(v))
          .when(col("event_type") === "purchase", v * 60)
          .otherwise(v)
          .cast("double").as("converted"))
    },

    // E9/E24 — format → parse round-trip of `%m/%d/%Y` dates.
    QueryDef(
      "q22_date_roundtrip",
      """SELECT cast(year(strptime(strftime(o_orderdate, '%m/%d/%Y'), '%m/%d/%Y')) as int) AS yr,
        |  cast(count(*) as bigint) AS cnt,
        |  min(strftime(o_orderdate, '%Y-%m-%d')) AS min_day
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir)
        .withColumn("us", date_format(col("o_orderdate"), "MM/dd/yyyy"))
        .withColumn("parsed", Conversions.parseUsDate(col("us")))
        .groupBy(year(col("parsed")).cast("int").as("yr"))
        .agg(count(lit(1)).as("cnt"),
          min(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("min_day"))
    },

    // E10 — broadcast replacements-dict lookup with identity fallback.
    QueryDef(
      "q23_replacements",
      """SELECT CASE event_type WHEN 'click' THEN 'tap'
        |                       WHEN 'view' THEN 'impression'
        |                       ELSE event_type END AS mapped,
        |  cast(count(*) as bigint) AS cnt
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(ArrayOps.applyReplacements(col("event_type"),
          Map("click" -> "tap", "view" -> "impression")).as("mapped"))
        .groupBy("mapped").agg(count(lit(1)).as("cnt"))
    },

    // E11/E16/E21 — alignment-preserving filter: tokens co-filtered with
    // their positions (the yield↔product alignment discipline).
    QueryDef(
      "q24_aligned_filter",
      s"""$toksCte
         |SELECT doc_id,
         |  cast(len(ki) as int) AS n_kept,
         |  coalesce(toks[ki[1]], '<none>') AS first_tok,
         |  cast(coalesce(ki[1], -1) as int) AS first_pos
         |FROM (SELECT doc_id, toks,
         |        list_filter(range(1, len(toks) + 1),
         |                    i -> toks[i] NOT IN ($stopSqlList)) AS ki
         |      FROM t)""".stripMargin) { (s, dir) =>
      val toks = ArrayOps.tokens(col("text"))
      val d = Tables.documents(s, dir).withColumn("toks", toks)
        .withColumn("ki", filter(
          sequence(lit(1), size(col("toks"))),
          i => !element_at(col("toks"), i).isin(stop: _*)))
      d.select(
        col("doc_id"),
        size(col("ki")).as("n_kept"),
        coalesce(try_element_at(col("toks"), try_element_at(col("ki"), lit(1))),
          lit("<none>")).as("first_tok"),
        coalesce(try_element_at(col("ki"), lit(1)), lit(-1)).cast("int").as("first_pos"))
    },

    // C15 — deterministic per-row scramble (seeded permutation via md5 sort
    // key, reproducible in the oracle via list(... ORDER BY hash)).
    QueryDef(
      "q25_scramble",
      s"""$toksCte,
         |u AS (SELECT doc_id, i, toks[i] AS tok,
         |        md5(concat('scr', chr(1), doc_id, chr(1), toks[i], chr(1), i - 1)) AS h
         |      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t))
         |SELECT doc_id, array_to_string(list(tok ORDER BY h, i)[1:5], '|') AS head5
         |FROM u GROUP BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir)
        .withColumn("toks", ArrayOps.tokens(col("text")))
      d.select(col("doc_id"),
        array_join(slice(ArrayOps.scramble(col("toks"), "scr", col("doc_id")), 1, 5), "|")
          .as("head5"))
    }
  )
}
