package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.XHash

/** Generic relational operators backing the reference's cleaning stage
  * (SURVEY.md §2.3). Each is a composable `DataFrame => DataFrame`-style
  * transform built from declarative Column expressions so Catalyst keeps
  * pushdown/pruning/codegen; none of them collects to the driver.
  */
object Relational {

  /** C13 — keep-first dedup (ref: clean/cleaner.py:767-794 `drop_duplicates
    * (keep="first")` after the C12 seeded shuffle at cleaner.py:796-804).
    *
    * Spark shape: `row_number` over a hash-partitioned window — one shuffle
    * on the dedup key, no global sort. `orderCols` carries the C12 "seeded
    * shuffle" semantic: ordering by [[XHash.bucketHash]] of the row key
    * reproduces "drop a random duplicate" deterministically at any
    * parallelism (numpy-stream parity is explicitly out of scope,
    * SURVEY.md §4.3).
    *
    * Scale note: partitionBy(subset) distributes by key hash; skewed dedup
    * keys are bounded by duplicate-group size, and AQE handles stragglers.
    * This replaces pandas' single-threaded global drop_duplicates.
    */
  def dedupKeepFirst(df: DataFrame, subset: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(subset.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** C12 — seeded-shuffle ordering key (ref: clean/cleaner.py:796-804).
    * Deterministic uniform pseudo-random key derived from the row key. */
  def shuffleKey(seed: String, keys: Column*): Column =
    XHash.bucketHash(seed, keys: _*)

  /** C19 — seeded train/test split assignment (ref: clean/cleaner.py:
    * 1375-1388, `default_rng(12345)` permutation + 90/10 slice). We assign
    * each row a uniform bucket in [0,100) from its key hash; `bucket <
    * trainPct` is the train set. Unlike `randomSplit`, this is stable under
    * repartitioning and cluster size, and the oracle can reproduce it.
    */
  def splitBucket(seed: String, keys: Column*): Column =
    XHash.bucket(seed, 100, keys: _*)

  /** C20 primitive — a row's train flag after the leakage move: true when
    * the row is train itself or any row sharing its leak key is. One
    * `max` over a window partitioned by the key, so the whole move is a
    * single exchange on the leak key, with no distinct and no join pair.
    * A null key never moves a row (SQL `IN` and join semantics: null
    * matches nothing); the window alone would group all nulls together,
    * hence the guard. */
  def leakageTrain(isTrain: Column, leakKey: Column): Column =
    when(leakKey.isNull, isTrain)
      .otherwise(max(isTrain).over(Window.partitionBy(leakKey)))

  /** C20 — split-leakage move (ref: clean/cleaner.py:885-945: reaction-hash
    * membership in both splits moves those test rows to train; the author
    * comment flags the pandas version as the 15-minute hot spot).
    *
    * Spark shape: train and test are unioned with a side flag and labelled
    * by [[leakageTrain]] — one shuffle on the leak key, replacing the O(n)
    * python set loop. Returns (train ++ movedTest, remainingTest).
    */
  def leakageMove(train: DataFrame, test: DataFrame, leakKey: Column)
      : (DataFrame, DataFrame) = {
    val labelled = train.withColumn("__side", lit(true))
      .unionByName(test.withColumn("__side", lit(false)))
      .withColumn("__train", leakageTrain(col("__side"), leakKey))
      .drop("__side")
    (labelled.filter(col("__train")).drop("__train"),
      labelled.filter(!col("__train")).drop("__train"))
  }

  /** C9 — cumulative value counts across several columns (ref:
    * clean/cleaner.py:318-339; re-used at plot/plotter.py:160-181). The
    * pandas version loops columns and adds Series.value_counts; the Spark
    * shape is a single melt (explode of an array literal of the columns)
    * into one hash aggregate — one shuffle, map-side partial aggregation.
    */
  def valueCounts(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(explode(array(cols.map(col): _*)).as("value"))
      .filter(col("value").isNotNull)
      .groupBy("value")
      .agg(count(lit(1)).as("cnt"))

  /** C10 — map-rare-to-"other" (ref: clean/cleaner.py:341-368). Values with
    * frequency < minFreq across `cols` are replaced by the literal "other".
    * Spark shape: compute the *frequent* set (usually small — it is the
    * distinct dictionary above a frequency floor), broadcast-join it per
    * column via a left join, coalesce to "other" on miss. For huge
    * dictionaries AQE falls back to shuffle join.
    */
  def mapRareToOther(df: DataFrame, cols: Seq[String], minFreq: Long,
      other: String = "other"): DataFrame = {
    val frequent = valueCounts(df, cols).filter(col("cnt") >= minFreq)
      .select(col("value").as("__freq_v"))
    cols.foldLeft(df) { (acc, c) =>
      acc.join(broadcast(frequent), acc(c) === col("__freq_v"), "left")
        .withColumn(c, when(col(c).isNotNull && col("__freq_v").isNull, lit(other))
          .otherwise(col(c)))
        .drop("__freq_v")
    }
  }

  /** C11 — remove rows containing any rare value (ref: clean/cleaner.py:
    * 370-396). Spark shape: left-anti join against the rare-value set per
    * column (semi-join pushes the set to the scan side when broadcastable).
    */
  def removeRareRows(df: DataFrame, cols: Seq[String], minFreq: Long): DataFrame = {
    val rare = valueCounts(df, cols).filter(col("cnt") < minFreq)
      .select(col("value").as("__rare_v"))
    cols.foldLeft(df) { (acc, c) =>
      acc.join(broadcast(rare), acc(c) === col("__rare_v"), "left_anti")
    }
  }

  /** C10 over array columns, at-scale form: join-based rare→other keyed by a
    * unique `rowKey` (original_index in the cleaner). Used when the frequent
    * set is too large to ship as a literal/broadcast set — fully distributed,
    * nothing collects to the driver. Per column: posexplode → left join the
    * frequent-value table → re-assemble in position order.
    */
  def mapRareToOtherArraysJoin(df: DataFrame, cols: Seq[String], minFreq: Long,
      rowKey: String, other: String = "other"): DataFrame = {
    val frequent = CleanOps.valueCountsArrays(df, cols)
      .filter(col("cnt") >= minFreq).select(col("value").as("__fv"))
    cols.foldLeft(df) { (acc, c) =>
      val pe = acc.select(col(rowKey).as("__k"),
          posexplode(col(c)).as(Seq("__p", "__v")))
        .join(frequent, col("__v") === col("__fv"), "left")
        .withColumn("__m",
          when(col("__v").isNotNull && col("__fv").isNull, lit(other))
            .otherwise(col("__v")))
        .groupBy("__k")
        .agg(transform(array_sort(collect_list(struct(col("__p"), col("__m")))),
          s => s.getField("__m")).as("__arr"))
      // empty arrays emit no exploded rows → no group → keep the original
      acc.join(pe, acc(rowKey) === pe("__k"), "left")
        .withColumn(c, coalesce(col("__arr"), col(c)))
        .drop("__k", "__arr")
    }
  }

  /** C11 over array columns, at-scale form: a row is dropped iff any of its
    * values fails a semi-join against the frequent-value table. One explode +
    * one anti join + one anti join — no driver-side set.
    * Null-array semantics match the literal path (CleanOps): a null list
    * contributes no values and never dooms its row by itself.
    */
  def removeRareRowsArraysJoin(df: DataFrame, cols: Seq[String], minFreq: Long,
      rowKey: String): DataFrame = {
    val frequent = CleanOps.valueCountsArrays(df, cols)
      .filter(col("cnt") >= minFreq).select(col("value").as("__fv"))
    // coalesce each column: flatten(array(...)) is null when ANY sub-array
    // is null, which would mask rare values in the SIBLING columns of a
    // row with one null list
    val flat = flatten(array(cols.map(c =>
      coalesce(col(c), array().cast("array<string>"))): _*))
    val badKeys = df.select(col(rowKey).as("__k"), explode(flat).as("__v"))
      .filter(col("__v").isNotNull)
      .join(frequent, col("__v") === col("__fv"), "left_anti")
      .select("__k").distinct()
    df.join(badKeys, df(rowKey) === badKeys("__k"), "left_anti")
  }

  /** F10 — popularity top-k (ref: plot/plotter.py:289-369). Deterministic
    * tie-break on the value itself so the result set is stable. */
  def topK(df: DataFrame, by: Column, tieBreak: Column, k: Int): DataFrame =
    df.orderBy(by.desc, tieBreak.asc).limit(k)

  /** Exact stratified sampling: keep ceil(n_s · pct/100) rows of each
    * stratum, chosen by deterministic hash order (so the sample is stable
    * under repartitioning and reproducible by the oracle). `rn ≤ ceil(n·p)`
    * is evaluated integer-only as `(rn−1)·100 < n·pct`.
    *
    * Unlike a Bernoulli hash-threshold sample (`bucket < pct`, see
    * [[splitBucket]]), the per-stratum counts here are exact, which
    * class-balanced training-set construction needs.
    *
    * Two-pass hash-histogram implementation — NO whole-stratum sort. The
    * 60-bit row hash's top 12 bits form 4096 order-preserving buckets;
    * pass 1 histograms (stratum, bucket) with a map-side-combining
    * aggregate (≤4096 rows per stratum), a tiny cumulative-sum window over
    * the histogram locates each stratum's boundary bucket, and pass 2 keeps
    * buckets strictly below the boundary outright — only the boundary
    * bucket itself (~n_s/4096 rows) is row_number-ranked. A giant stratum
    * never lands on a single reducer; selection is bit-identical to the
    * full sort: global rank = rows-below-bucket + in-bucket rank.
    */
  def stratifiedSample(df: DataFrame, strata: Seq[String], pct: Int,
      seed: String, tieBreak: Seq[Column], hashKeys: Column*): DataFrame =
    // keep iff rank·100 < n·pct, i.e. rank < ceil(n·pct/100) — integer-only
    hashRankKeep(df, strata, seed, tieBreak, hashKeys: _*)(
      (rank0, n) => rank0 * 100 < n * pct)

  /** Per-group deterministic cap: keep at most `maxPerGroup` rows of each
    * group, chosen by seeded hash order — the source-rebalancing step a
    * corpus-mix pipeline runs before training (no web domain may contribute
    * more than N documents). Same two-pass hash-histogram execution as
    * [[stratifiedSample]]: a giant group never lands on one reducer.
    */
  def capPerGroup(df: DataFrame, groups: Seq[String], maxPerGroup: Long,
      seed: String, tieBreak: Seq[Column], hashKeys: Column*): DataFrame =
    hashRankKeep(df, groups, seed, tieBreak, hashKeys: _*)(
      (rank0, _) => rank0 < maxPerGroup)

  /** Shared two-pass core: keep each row iff `keep(rank0, n)` where `rank0`
    * is the row's 0-based rank within its group under deterministic
    * (hash, tieBreak) order and `n` the group size. `keep` MUST be monotone
    * in rank0 (kept ranks form a prefix) — both callers are threshold
    * predicates.
    *
    * Execution — NO whole-group sort: the 60-bit row hash's top 12 bits
    * form 4096 order-preserving buckets; pass 1 histograms (group, bucket)
    * with a map-side-combining aggregate (≤4096 rows per group), a tiny
    * cumulative-sum window over the histogram locates each group's boundary
    * bucket, and pass 2 keeps buckets strictly below the boundary outright —
    * only the boundary bucket itself (~n/4096 rows) is row_number-ranked.
    * Selection is bit-identical to the full sort: global rank =
    * rows-below-bucket + in-bucket rank.
    */
  private def hashRankKeep(df: DataFrame, groups: Seq[String], seed: String,
      tieBreak: Seq[Column], hashKeys: Column*)(
      keep: (Column, Column) => Column): DataFrame = {
    val part = groups.map(col)
    // group sizes via a map-side-combining aggregate — NOT a
    // count-over-partition window
    val counts = df.groupBy(part: _*).agg(count(lit(1)).as("__n"))
    val withH = df.withColumn("__h", XHash.bucketHash(seed, hashKeys: _*))
      .withColumn("__b", shiftright(col("__h"), 48))
    // pass 1: order-preserving bucket histogram + boundary location.
    // Long arithmetic throughout: counts are longs, so threshold products
    // and the rank predicates never touch 32-bit overflow (groups past
    // ~21M rows).
    val hist = withH.groupBy((part :+ col("__b")): _*)
      .agg(count(lit(1)).as("__bc"))
      .withColumn("__cum", sum(col("__bc")).over(
        Window.partitionBy(part: _*).orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(counts, groups)
      .withColumn("__below", col("__cum") - col("__bc"))
      // bucket's last row kept → whole bucket kept
      .withColumn("__fullKeep", keep(col("__cum") - 1, col("__n")))
      // bucket's first row kept → bucket at least partially kept
      .withColumn("__anyKeep", keep(col("__below"), col("__n")))
      .select((part :+ col("__b") :+ col("__below") :+ col("__n") :+
        col("__fullKeep") :+ col("__anyKeep")): _*)
    // pass 2: histogram is tiny (groups × ≤4096) → broadcast it
    val tagged = withH.join(broadcast(hist), groups :+ "__b")
    val keptFull = tagged.filter(col("__fullKeep"))
    val boundary = tagged.filter(col("__anyKeep") && !col("__fullKeep"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy((part :+ col("__b")): _*)
          .orderBy((col("__h") +: tieBreak): _*)))
      .filter(keep(col("__below") + col("__rn") - 1, col("__n")))
    val outCols = part ++ df.columns.filterNot(groups.contains).map(col)
    keptFull.select(outCols: _*).unionAll(boundary.select(outCols: _*))
  }

  /** Temperature-weighted source resampling (α = 0.5): downsample each
    * source so the sampled mixture follows p_s^α instead of the raw p_s —
    * the standard rebalancing a multilingual / multi-source training mix
    * applies so giant sources stop drowning small ones. Keep probability
    * per source is f_s = √(n_min / n_s) (∝ p_s^(α−1), normalized so the
    * smallest source keeps everything); a row survives iff its seeded
    * 60-bit hash < ⌊f_s · 2^60⌋, so the sample is deterministic, stable
    * under repartitioning, and oracle-reproducible.
    *
    * Execution: per-source counts are a map-side-combined aggregate
    * (≤ #sources rows), the min is a bounded unpartitioned window over that
    * tiny frame, and the thresholds broadcast back onto the corpus — one
    * narrow filter pass over the big side, no shuffle of the corpus itself.
    *
    * α is fixed at 0.5 because `sqrt` is IEEE-754 correctly rounded in both
    * the JVM and DuckDB (bit-identical thresholds); a general `pow(x, 1−α)`
    * is not guaranteed correctly rounded across libms and could flip a
    * boundary row between engines.
    */
  def temperatureResample(df: DataFrame, source: String, seed: String,
      hashKeys: Column*): DataFrame = {
    val counts = df.groupBy(source).agg(count(lit(1)).as("__ns"))
      .withColumn("__nmin", min(col("__ns")).over(Window.partitionBy()))
      // 2^60 is exactly representable; ⌊√(nmin/ns)·2^60⌋ is deterministic
      .withColumn("__thr",
        floor(sqrt(col("__nmin").cast("double") / col("__ns").cast("double"))
          * lit(1152921504606846976.0)).cast("long"))
      .select(col(source), col("__thr"))
    // the hash is 60-bit (< 2^60), so the min source's thr = 2^60 keeps all
    df.join(broadcast(counts), source)
      .filter(XHash.bucketHash(seed, hashKeys: _*) < col("__thr"))
      .drop("__thr")
  }

  /** Distributed exact prefix sum of `w` in ascending `key` order, WITHOUT
    * a global-order window (Window.orderBy with no partition collapses the
    * whole table onto one reducer — the canonical scale-killer). Instead:
    * order-aligned range buckets (key div (max div B + 1) is monotone in
    * key and lands in [0, B)), a per-bucket running window, and a B-row
    * bucket-offset table that broadcasts back. The only single-partition
    * work is the B-row offsets window. Keys must be non-negative and
    * unique; `w` non-negative integers. The divide-first bucket id is
    * overflow-safe for the full non-negative int64 key range — the
    * multiply-first form (key·B div (max+1)) overflows once key·B > 2^63,
    * i.e. max > ~2.9e17 at 32 buckets, the same class the grouped op
    * fixed for wide composite keys. Adds `__cum` (inclusive prefix sum). */
  def prefixSumOrdered(df: DataFrame, key: String, w: String,
      buckets: Int = 32): DataFrame = {
    val mk = df.agg(max(col(key)).as("__mk"))
    val bucketed = df.crossJoin(broadcast(mk))
      .withColumn("__b", expr(s"$key div (__mk div $buckets + 1)"))
      .drop("__mk")
    val wIn = Window.partitionBy("__b").orderBy(key)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inner = bucketed.withColumn("__in", sum(col(w)).over(wIn))
    val offs = bucketed.groupBy("__b").agg(sum(col(w)).as("__bw"))
      .withColumn("__off",
        coalesce(sum(col("__bw")).over(Window.orderBy("__b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__off"))
    inner.join(broadcast(offs), Seq("__b"))
      .withColumn("__cum", col("__in") + col("__off"))
      .drop("__b", "__in", "__off")
  }

  /** Systematic weighted sampling (survey-sampling style): walk the
    * cumulative-weight axis and keep every row whose weight interval
    * crosses a multiple of stride T = total div `target` — deterministic,
    * exactly weight-proportional inclusion, no transcendental priorities
    * (A-ES needs u^(1/w); this needs only integer division). The corpus-
    * mixing primitive when sampling must be reproducible across engines
    * and runs. Built on [[prefixSumOrdered]], so no global-order window.
    */
  def systematicSample(df: DataFrame, key: String, w: String,
      target: Long): DataFrame = {
    val withCum = prefixSumOrdered(df, key, w)
    val tot = df.agg(sum(col(w)).as("__total"))
    withCum.crossJoin(broadcast(tot))
      .withColumn("__t", expr(s"__total div $target"))
      .filter(expr(s"__cum div __t > (__cum - $w) div __t"))
      .drop("__total", "__t")
  }

  /** Per-group [[prefixSumOrdered]]: exact running sum of `w` in ascending
    * `key` order WITHIN each group, by the same order-aligned bucket
    * decomposition — a `Window.partitionBy(group).orderBy(key)` would put
    * each whole group on one reducer, catastrophic for a hot group. Group
    * cardinality is assumed bounded (a category/type axis): the bucket-
    * offset table is ≤ groups·buckets rows and broadcasts. Unlike the
    * global op, `w` may be SIGNED (interval sweeps carry −1 deltas); keys
    * must be unique within their group. Adds `__cum`. */
  def prefixSumOrderedBy(df: DataFrame, groups: Seq[String], key: String,
      w: String, buckets: Int = 32): DataFrame = {
    val gcols = groups.map(col)
    val mk = df.groupBy(gcols: _*)
      .agg(min(col(key)).as("__mn"), max(col(key)).as("__mk"))
    // divide-first bucket id: the naive `(key - mn) * buckets div span`
    // overflows int64 once the key span exceeds 2^63/buckets (~2.9e17 at
    // 32 buckets) — real for wide composite order keys (value * 2^42 +
    // id). `(key - mn) div (span div buckets + 1)` stays within the key's
    // own magnitude, lands in [0, buckets), and is order-monotone, which
    // is all the decomposition needs (boundaries may shift; empty buckets
    // were always allowed).
    val bucketed = df.join(broadcast(mk), groups)
      .withColumn("__b",
        expr(s"($key - __mn) div ((__mk - __mn) div $buckets + 1)"))
      .drop("__mn", "__mk")
    val wIn = Window.partitionBy((gcols :+ col("__b")): _*).orderBy(col(key))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inner = bucketed.withColumn("__in", sum(col(w)).over(wIn))
    val offs = bucketed.groupBy((gcols :+ col("__b")): _*)
      .agg(sum(col(w)).as("__bw"))
      .withColumn("__off",
        coalesce(sum(col("__bw")).over(
          Window.partitionBy(gcols: _*).orderBy(col("__b"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select((gcols :+ col("__b") :+ col("__off")): _*)
    inner.join(broadcast(offs), groups :+ "__b")
      .withColumn("__cum", col("__in") + col("__off"))
      .drop("__b", "__in", "__off")
  }

  /** Per-group distributed `lead` in ascending `key` order WITHOUT a
    * per-group global window (the usual `lead` over
    * `Window.partitionBy(group).orderBy(key)` lands each whole group on
    * one reducer) — the ordered-neighbor companion to
    * [[prefixSumOrderedBy]], same order-aligned bucket decomposition.
    * `lead` runs inside each (group, bucket); each bucket's LAST row takes
    * the first row of the group's next non-empty bucket from a
    * ≤groups·buckets-row "firsts" table (the only windowed-whole object,
    * broadcast back). Keys must be unique within their group; `value` is
    * carried alongside. Adds `__nextKey`, `__nextVal` (null at each
    * group's end). */
  def leadOrderedBy(df: DataFrame, groups: Seq[String], key: String,
      value: String, buckets: Int = 32): DataFrame = {
    val gcols = groups.map(col)
    val mk = df.groupBy(gcols: _*)
      .agg(min(col(key)).as("__mn"), max(col(key)).as("__mk"))
    val bucketed = df.join(broadcast(mk), groups)
      .withColumn("__b",
        // divide-first form: see prefixSumOrderedBy (int64-safe for wide keys)
        expr(s"($key - __mn) div ((__mk - __mn) div $buckets + 1)"))
      .drop("__mn", "__mk")
    val wIn = Window.partitionBy((gcols :+ col("__b")): _*).orderBy(col(key))
    val inner = bucketed
      .withColumn("__nk", lead(col(key), 1).over(wIn))
      .withColumn("__nv", lead(col(value), 1).over(wIn))
    // keys are unique per group, so min(struct(key, value)) IS the first
    // row of each (group, bucket); `lead` over this tiny table finds the
    // next non-empty bucket's first row, skipping empty buckets
    val firsts = bucketed.groupBy((gcols :+ col("__b")): _*)
      .agg(min(struct(col(key), col(value))).as("__f"))
    val nexts = firsts
      .withColumn("__nf", lead(col("__f"), 1).over(
        Window.partitionBy(gcols: _*).orderBy(col("__b"))))
      .select((gcols :+ col("__b") :+ col("__nf")): _*)
    inner.join(broadcast(nexts), groups :+ "__b")
      .withColumn("__nextKey", coalesce(col("__nk"), col("__nf").getField(key)))
      // value may be legitimately null — gate on the KEY, never coalesce
      .withColumn("__nextVal",
        when(col("__nk").isNotNull, col("__nv"))
          .otherwise(col("__nf").getField(value)))
      .drop("__b", "__nk", "__nv", "__nf")
  }

  /** [[prefixSumOrderedBy]] + [[leadOrderedBy]] fused into ONE bucket
    * decomposition — the sweep-line shape wants both (running concurrency
    * AND segment length to the next point), and composing the two
    * stand-alone ops re-buckets, re-windows, and re-materializes the
    * input once each. Here the in-bucket running sum and in-bucket lead
    * share a single Window node; the bucketed input persists because the
    * offsets table, the firsts table, and the row-level window each
    * consume it (at 100 TB the sweep points are an already-aggregated
    * compact table, not the corpus). Signed `w`, keys unique per group.
    * Adds `__cum` and `__nextKey` (null at each group's end). */
  def sweepOrderedBy(df: DataFrame, groups: Seq[String], key: String,
      w: String, buckets: Int = 32): DataFrame = {
    val gcols = groups.map(col)
    val mk = df.groupBy(gcols: _*)
      .agg(min(col(key)).as("__mn"), max(col(key)).as("__mk"))
    val bucketed = df.join(broadcast(mk), groups)
      .withColumn("__b",
        // divide-first form: see prefixSumOrderedBy (int64-safe for wide keys)
        expr(s"($key - __mn) div ((__mk - __mn) div $buckets + 1)"))
      .drop("__mn", "__mk")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wIn = Window.partitionBy((gcols :+ col("__b")): _*).orderBy(col(key))
    val inner = bucketed
      .withColumn("__in", sum(col(w)).over(
        wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__nk", lead(col(key), 1).over(wIn))
    val offs = bucketed.groupBy((gcols :+ col("__b")): _*)
      .agg(sum(col(w)).as("__bw"), min(col(key)).as("__fk"))
      .withColumn("__off",
        coalesce(sum(col("__bw")).over(
          Window.partitionBy(gcols: _*).orderBy(col("__b"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__nf", lead(col("__fk"), 1).over(
        Window.partitionBy(gcols: _*).orderBy(col("__b"))))
      .select((gcols :+ col("__b") :+ col("__off") :+ col("__nf")): _*)
    inner.join(broadcast(offs), groups :+ "__b")
      .withColumn("__cum", col("__in") + col("__off"))
      .withColumn("__nextKey", coalesce(col("__nk"), col("__nf")))
      .drop("__b", "__in", "__off", "__nk", "__nf")
  }

  /** Peak concurrent intervals per group (sweep line): each interval
    * [start, end) decomposes into a +1 delta at `start` and a −1 at `end`,
    * deltas at one instant net together first (so a session ending exactly
    * when another starts never double-counts), and the running sum over
    * the per-group time axis is the concurrency profile. The running sum
    * rides [[prefixSumOrderedBy]] — no per-group single-reducer window —
    * and the peak plus its EARLIEST attainment instant come from one
    * `max(struct)` aggregate (lexicographic: max concurrency, then max
    * negated time = min time; the first attainment always sits on a
    * positive-net point, so netting never hides it). Start/end must be
    * integral instants with start < end. Output: (group, peak,
    * peak_start). */
  def maxConcurrency(iv: DataFrame, group: String, startCol: String,
      endCol: String, buckets: Int = 32): DataFrame = {
    val pts = iv.select(col(group), col(startCol).cast("long").as("__t"),
        lit(1L).as("__d"))
      .unionByName(iv.select(col(group), col(endCol).cast("long").as("__t"),
        lit(-1L).as("__d")))
    val net = pts.groupBy(col(group), col("__t")).agg(sum(col("__d")).as("__nd"))
    prefixSumOrderedBy(net, Seq(group), "__t", "__nd", buckets)
      .groupBy(col(group))
      .agg(max(struct(col("__cum").as("c"), (-col("__t")).as("nt"))).as("m"))
      .select(col(group), col("m.c").as("peak"), (-col("m.nt")).as("peak_start"))
  }

  /** Point-in-interval join WITHOUT a nested loop. A bare `p BETWEEN lo
    * AND hi` join has no equi-key, so Spark plans BroadcastNestedLoopJoin
    * (or worse, CartesianProduct) — O(|points|·|intervals|) comparisons,
    * the classic range-join scale-killer. Binning restores an equi-key:
    * every interval is replicated onto each `binWidth`-sized bin it
    * overlaps (`sequence(lo div W, hi div W)` + explode), every point maps
    * to its single bin, and the join becomes a hash equi-join on the bin
    * with the exact containment predicate left as a residual filter. Each
    * qualifying pair meets exactly once (the point's one bin), so no
    * dedup pass is needed. Cost: interval replication factor is
    * span/W + 1 — pick `binWidth` near the typical interval span so the
    * build side stays ~2×. Columns `pCol`,`loCol`,`hiCol` must be
    * integral and non-null. */
  def binnedIntervalJoin(points: DataFrame, pCol: String,
      intervals: DataFrame, loCol: String, hiCol: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val iv = intervals.withColumn("__bin",
      explode(sequence(expr(s"cast($loCol as bigint) div $binWidth"),
        expr(s"cast($hiCol as bigint) div $binWidth"))))
    val pt = points.withColumn("__bin",
      expr(s"cast($pCol as bigint) div $binWidth"))
    pt.join(iv, Seq("__bin"))
      .filter(col(pCol) >= col(loCol) && col(pCol) <= col(hiCol))
      .drop("__bin")
  }

  /** Interval×interval OVERLAP join (`a.lo ≤ b.hi AND b.lo ≤ a.hi`) —
    * the temporal/genomic pairing [[binnedIntervalJoin]] can't express
    * (that one joins points to intervals). Same bin decomposition: both
    * sides replicate onto the `binWidth`-sized bins they cover and meet
    * in a hash equi-join on (`keys`..., bin) + residual overlap filter.
    * An overlapping pair shares EVERY bin covering its intersection, so
    * the pair is kept only in the bin of `greatest(a.lo, b.lo)` — exact
    * dedup with no distinct (no re-shuffle of the matched pairs).
    * Replication factor = ceil(span/binWidth)+1 per row: size binWidth
    * near the typical interval span. Bounds must be integral and
    * column names disjoint across the two sides. */
  def binnedOverlapJoin(left: DataFrame, lLo: String, lHi: String,
      right: DataFrame, rLo: String, rHi: String,
      keys: Seq[String], binWidth: Long): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    def binned(df: DataFrame, lo: String, hi: String) =
      df.withColumn("__bin", explode(sequence(
        expr(s"cast($lo as bigint) div $binWidth"),
        expr(s"cast($hi as bigint) div $binWidth"))))
    binned(left, lLo, lHi).join(binned(right, rLo, rHi), keys :+ "__bin")
      .filter(col(lLo) <= col(rHi) && col(rLo) <= col(lHi))
      .filter(col("__bin") ===
        expr(s"greatest(cast($lLo as bigint), cast($rLo as bigint)) div $binWidth"))
      .drop("__bin")
  }

  /** Skew-busting salted join: join `big` (skewed on `key`) against `small`
    * by replicating `small` `saltFactor` times and deterministically
    * scattering each big-side row across the salt range. AQE's skew-join
    * split handles moderate skew automatically; this is the explicit tool
    * for pathological keys (one key = 30% of a 100 TB fact table), where a
    * single reducer would otherwise own the whole key.
    *
    * The salt is a hash of the whole row (via all columns), so the result
    * is deterministic and identical to the unsalted join.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      saltFactor: Int): DataFrame = {
    val salted = big.withColumn("__salt",
      pmod(xxhash64(big.columns.map(col): _*), lit(saltFactor)))
    val replicated = small.crossJoin(
      broadcast(small.sparkSession.range(saltFactor).toDF("__salt")))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** CDC-style snapshot diff: compare two versions of a table by a content
    * digest column, emitting one row per differing key with status
    * `added` (key only in the new version), `removed` (only in the old),
    * or `changed` (present in both, digests differ). The incremental-
    * refresh primitive for a periodically re-crawled corpus: downstream
    * stages reprocess the diff, never the snapshot.
    *
    * Scale shape: digests are computed map-side by the caller (this method
    * sees (id, digest) pairs only — full content never shuffles), and the
    * comparison is ONE full outer hash join on the key. Unchanged keys are
    * filtered before the result materializes.
    */
  def snapshotDiff(old: DataFrame, newer: DataFrame, id: String,
      digest: String): DataFrame = {
    val o = old.select(col(id).as("__oid"), col(digest).as("__od"))
    val n = newer.select(col(id).as("__nid"), col(digest).as("__nd"))
    o.join(n, col("__oid") === col("__nid"), "full_outer")
      .filter(col("__oid").isNull || col("__nid").isNull ||
        col("__od") =!= col("__nd"))
      .select(coalesce(col("__oid"), col("__nid")).as(id),
        when(col("__oid").isNull, "added")
          .when(col("__nid").isNull, "removed")
          .otherwise("changed").as("status"))
  }

  /** Apply a CDC change batch to a snapshot — the MERGE INTO / Delta
    * change-data-feed primitive, inverse of [[snapshotDiff]]: `changes`
    * carries full payload rows tagged `opCol` ∈ {'I','U','D'} with a
    * `versionCol` ordering concurrent changes to one key (latest wins,
    * including a late D beating an earlier U). Result = snapshot rows
    * whose key has no winning D/U, plus the winning U/I payloads.
    *
    * Scale shape: latest-wins is one window over the CHANGE batch (small
    * relative to the snapshot); the snapshot is touched by exactly one
    * left_anti hash join on the key — broadcastable when the batch is,
    * and never rewritten where Delta/Iceberg would rewrite only matched
    * files. Change payloads must share the snapshot's schema plus the two
    * control columns. */
  def applyCdc(snapshot: DataFrame, changes: DataFrame, key: String,
      opCol: String, versionCol: String): DataFrame = {
    val latest = dedupKeepFirst(changes, Seq(key), Seq(col(versionCol).desc))
    val survivors = snapshot.join(
      latest.filter(col(opCol).isin("D", "U")).select(key),
      Seq(key), "left_anti")
    survivors.unionByName(
      latest.filter(col(opCol).isin("U", "I")).drop(opCol, versionCol))
  }

  /** SCD2 history from two snapshots: versioned (key, digest, valid_from,
    * valid_to) rows where unchanged keys keep one open row, changed keys
    * close the old version at `d1` and open a new one, and removed/added
    * keys close/open accordingly. The [[snapshotDiff]] full outer join with
    * version emission instead of status flags — ONE hash join on the key,
    * each output row born map-side from the joined row (the 0–2 fan-out is
    * an explode, not another shuffle).
    *
    * Version boundaries are integer epoch days (`d0` = old snapshot's day,
    * `d1` = new one's); open rows carry a null `valid_to`.
    */
  def scd2FromSnapshots(old: DataFrame, newer: DataFrame, id: String,
      digest: String, d0: Int, d1: Int): DataFrame = {
    val o = old.select(col(id).as("__oid"), col(digest).as("__od"))
    val n = newer.select(col(id).as("__nid"), col(digest).as("__nd"))
    val openNull = lit(null).cast("int")
    val rows =
      when(col("__od").isNull,
        array(struct(col("__nd").as("d"), lit(d1).as("f"), openNull.as("t"))))
      .when(col("__nd").isNull,
        array(struct(col("__od").as("d"), lit(d0).as("f"), lit(d1).as("t"))))
      .when(col("__od") === col("__nd"),
        array(struct(col("__od").as("d"), lit(d0).as("f"), openNull.as("t"))))
      .otherwise(array(
        struct(col("__od").as("d"), lit(d0).as("f"), lit(d1).as("t")),
        struct(col("__nd").as("d"), lit(d1).as("f"), openNull.as("t"))))
    o.join(n, col("__oid") === col("__nid"), "full_outer")
      .select(coalesce(col("__oid"), col("__nid")).as(id),
        explode(rows).as("__v"))
      .select(col(id), col("__v.d").as(digest),
        col("__v.f").as("valid_from"), col("__v.t").as("valid_to"))
  }

  /** Time-series densification: given per-(key, dayIdx) observations,
    * emit EVERY day in each key's [min, max] span — missing days get the
    * zero row, and `ffillCols` carry the last observed value forward.
    *
    * The dense day axis is generated per key from its own span (a
    * `sequence` + `explode`, fan-out = span length — no driver-side
    * calendar, no cross join against a global date dimension), then one
    * left join pulls the observations back and a per-key ordered window
    * forward-fills. The window partitions by the series key, so
    * parallelism is the number of series, not one global sort.
    *
    * `dayIdx` is an integer day number (epoch-day style): integer axes
    * sidestep the date/timestamp type mismatches between engines.
    */
  def gapFillDaily(daily: DataFrame, key: String, dayIdx: String,
      zeroCols: Seq[String], ffillCols: Seq[String]): DataFrame = {
    val spans = daily.groupBy(key).agg(
      min(col(dayIdx)).as("__d0"), max(col(dayIdx)).as("__d1"))
    val dense = spans.select(col(key),
      explode(sequence(col("__d0"), col("__d1"))).as(dayIdx))
    val w = Window.partitionBy(key).orderBy(dayIdx)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = dense.join(daily, Seq(key, dayIdx), "left")
    val zeroed = zeroCols.foldLeft(joined)((d, c) =>
      d.withColumn(c, coalesce(col(c), lit(0L))))
    ffillCols.foldLeft(zeroed)((d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  /** Per-group STRICT-prefix running max in ascending `key` order — for
    * each row, `max(v)` over the rows of its group with a strictly
    * smaller key (null when none exist) — by the same order-aligned
    * bucket decomposition as [[prefixSumOrderedBy]]: an exclusive
    * in-bucket window + a ≤groups·buckets-row exclusive cross-bucket
    * offset table that broadcasts back. A
    * `Window.partitionBy(group).orderBy(key)` would put each whole group
    * on one reducer — this never materializes a per-group global order.
    * Keys must be unique within their group (pre-aggregate to one row
    * per key first — strictness is defined on keys, not rows). The
    * dominance primitive behind 2-D skyline/Pareto pruning. Adds
    * `__pmax` (nullable). */
  def strictPrefixMaxOrderedBy(df: DataFrame, groups: Seq[String],
      key: String, v: String, buckets: Int = 32): DataFrame = {
    val gcols = groups.map(col)
    val mk = df.groupBy(gcols: _*)
      .agg(min(col(key)).as("__mn"), max(col(key)).as("__mk"))
    val bucketed = df.join(broadcast(mk), groups)
      .withColumn("__b",
        // divide-first form: see prefixSumOrderedBy (int64-safe for wide keys)
        expr(s"($key - __mn) div ((__mk - __mn) div $buckets + 1)"))
      .drop("__mn", "__mk")
    val wIn = Window.partitionBy((gcols :+ col("__b")): _*).orderBy(col(key))
      .rowsBetween(Window.unboundedPreceding, -1)
    val inner = bucketed.withColumn("__in", max(col(v)).over(wIn))
    val offs = bucketed.groupBy((gcols :+ col("__b")): _*)
      .agg(max(col(v)).as("__bm"))
      .withColumn("__off",
        max(col("__bm")).over(Window.partitionBy(gcols: _*).orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select((gcols :+ col("__b") :+ col("__off")): _*)
    // greatest() skips nulls: null only when neither an in-bucket
    // predecessor nor a preceding bucket exists — the group's key minimum
    inner.join(broadcast(offs), groups :+ "__b")
      .withColumn("__pmax", greatest(col("__in"), col("__off")))
      .drop("__b", "__in", "__off")
  }

  /** BOTH as-of directions in one pass: per group in ascending `key`
    * order, `__pmax` = max(v) over strictly-smaller keys and `__smin` =
    * min(v) over strictly-larger keys (nulls in `v` never contribute —
    * max/min skip them, which is what lets a readings∪grid stack carry
    * null `v` on grid rows). Same order-aligned bucket decomposition as
    * [[strictPrefixMaxOrderedBy]], but the forward and backward frames
    * share ONE in-bucket sort (identical partition+order spec → Spark
    * collapses both frames into a single Window operator) and ONE
    * ≤groups·buckets offset table carrying both directions' cross-bucket
    * extrema. Versus running the prefix pass twice on a negated copy
    * (q157's old shape) this halves the scans of the input AND deletes
    * the prevs⋈nexts re-join entirely. Keys unique per group. */
  def strictNeighborsOrderedBy(df: DataFrame, groups: Seq[String],
      key: String, v: String, buckets: Int = 32): DataFrame = {
    val gcols = groups.map(col)
    val mk = df.groupBy(gcols: _*)
      .agg(min(col(key)).as("__mn"), max(col(key)).as("__mk"))
    val bucketed = df.join(broadcast(mk), groups)
      .withColumn("__b",
        // divide-first form: see prefixSumOrderedBy (int64-safe for wide keys)
        expr(s"($key - __mn) div ((__mk - __mn) div $buckets + 1)"))
      .drop("__mn", "__mk")
    val wPre = Window.partitionBy((gcols :+ col("__b")): _*)
      .orderBy(col(key)).rowsBetween(Window.unboundedPreceding, -1)
    val wSuf = Window.partitionBy((gcols :+ col("__b")): _*)
      .orderBy(col(key)).rowsBetween(1, Window.unboundedFollowing)
    val inner = bucketed
      .withColumn("__ip", max(col(v)).over(wPre))
      .withColumn("__is", min(col(v)).over(wSuf))
    val offs = bucketed.groupBy((gcols :+ col("__b")): _*)
      .agg(max(col(v)).as("__bm"), min(col(v)).as("__bn"))
      .withColumn("__op",
        max(col("__bm")).over(Window.partitionBy(gcols: _*).orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__os",
        min(col("__bn")).over(Window.partitionBy(gcols: _*).orderBy(col("__b"))
          .rowsBetween(1, Window.unboundedFollowing)))
      .select((gcols :+ col("__b") :+ col("__op") :+ col("__os")): _*)
    inner.join(broadcast(offs), groups :+ "__b")
      .withColumn("__pmax", greatest(col("__ip"), col("__op")))
      .withColumn("__smin", least(col("__is"), col("__os")))
      .drop("__b", "__ip", "__is", "__op", "__os")
  }

  /** Per-group 2-D Pareto frontier: the rows not STRICTLY dominated on
    * (minimize `key`, maximize `v`) — q dominates p iff q.key ≤ p.key,
    * q.v ≥ p.v, and they differ in at least one coordinate; equal points
    * never dominate each other. Two bounded passes, no quadratic
    * dominance join and no global sort: (1) a combining `max(v)` per
    * (group, key) — any row below its key's best is dominated at equal
    * key; (2) [[strictPrefixMaxOrderedBy]] over the per-key bests — a
    * survivor is on the frontier iff every strictly-cheaper key has a
    * strictly smaller best `v` (the classic sorted-staircase test,
    * distributed). Output: one row per frontier point
    * (groups..., key, v). `key` integral, `v` orderable, both non-null. */
  def paretoFrontier2d(df: DataFrame, groups: Seq[String], key: String,
      v: String, buckets: Int = 32): DataFrame = {
    val gcols = groups.map(col)
    val best = df.groupBy((gcols :+ col(key)): _*).agg(max(col(v)).as(v))
    strictPrefixMaxOrderedBy(best, groups, key, v, buckets)
      .filter(col("__pmax").isNull || col("__pmax") < col(v))
      .drop("__pmax")
  }
}
