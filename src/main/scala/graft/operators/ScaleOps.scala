package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale mechanics for 100 TB operation (SURVEY.md §4 100 TB notes):
  * bucketed materialization for shuffle-free co-located joins, and
  * deterministic salting for skewed keys. These are library utilities —
  * the demos stay declarative, but a production pipeline applies these at
  * the points where a key's cardinality profile demands it.
  */
object ScaleOps {

  /** Write-side distribution (r18, guide §6 small files — the bucketed
    * sibling of [[writePartitioned]]'s r17 fix): a bucketed write with
    * no distribution makes EVERY upstream task write one file per
    * bucket it holds rows for — N tasks × B buckets files (the r18 x59
    * store measured 3 upstream tasks × 8 buckets = 24 fragments per
    * write at demo scale; at corpus scale N is the full shuffle width).
    * Every probe/join then opens N×B files and every REFRESH relists
    * them. A REBALANCE hint on the bucket columns hash-partitions the
    * rows by `keys` into `spark.sql.shuffle.partitions` partitions (not
    * into B), and AQE coalesces adjacent partitions to the advisory size
    * and can SPLIT a fat one. Each writer task still writes one file per
    * bucket id it holds, so the file count is bounded by the number of
    * pre-coalesce partitions, not pinned at B (locally, where AQE
    * coalesces to one task, it comes out at B). Bucketed reads accept
    * several files per bucket, so the layout stays valid, and write
    * parallelism is sized by data volume rather than capped at B.
    */
  private def bucketAligned(df: DataFrame, keys: Seq[String]): DataFrame =
    df.hint("rebalance", keys.map(col): _*)

  /** Materialize `df` bucketed by `keys` so downstream equi-joins and
    * aggregations on those keys read pre-partitioned data with NO
    * exchange: both sides of a join bucketed to the same count on the
    * join keys co-locate bucket-for-bucket. This is the batch analogue
    * of co-partitioned storage — at 100 TB the exchange this avoids is
    * the dominant cost of a fact-fact join. The write is distributed by
    * [[bucketAligned]].
    *
    * `path` makes the table EXTERNAL at that location (callers that must
    * not write into the session warehouse dir — e.g. demos running from
    * a repo checkout — pass an explicit scratch path).
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      keys: Seq[String], sortCols: Seq[String] = Nil,
      path: Option[String] = None): Unit = {
    val w0 = bucketAligned(df, keys)
      .write.mode("overwrite").bucketBy(buckets, keys.head, keys.tail: _*)
    val w1 = if (sortCols.nonEmpty) w0.sortBy(sortCols.head, sortCols.tail: _*) else w0
    val w2 = path.fold(w1)(p => w1.option("path", p))
    w2.format("parquet").saveAsTable(table)
  }

  /** APPEND into an existing table created by [[writeBucketed]] — the
    * index-maintenance half of an incremental ingestion loop: new rows
    * land in the bucket files their keys hash to, so the store keeps
    * its exchange-free co-located-join property without ever rewriting
    * the existing data. The bucket spec must match the table's
    * (declared again here; Spark verifies and fails fast on drift —
    * silently appending with a different spec would quietly break the
    * co-location the store exists for). At 100 TB this is the contract
    * that makes a crawl loop O(batch) per arrival instead of O(corpus).
    */
  def appendBucketed(df: DataFrame, table: String, buckets: Int,
      keys: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    // same write-side distribution as [[writeBucketed]]: each append
    // adds files bounded by the pre-coalesce partitions instead of
    // tasks × buckets fragments — over a crawl loop's lifetime the
    // difference compounds into the store's whole listing cost
    val w0 = bucketAligned(df, keys)
      .write.mode("append").bucketBy(buckets, keys.head, keys.tail: _*)
    val w1 = if (sortCols.nonEmpty) w0.sortBy(sortCols.head, sortCols.tail: _*) else w0
    w1.format("parquet").saveAsTable(table)
  }

  /** Materialize `df` hive-partitioned by `partitionCols` (e.g. a date
    * bucket): queries filtering on those columns prune at the DIRECTORY
    * level — at 100 TB a day-grain query then touches 1/365th of the
    * files, before any row is read. Pick partition columns of bounded
    * cardinality (date, region), never high-cardinality keys (file-per-
    * value explosion); bucket WITHIN partitions for join co-location.
    *
    * Output file sizing (r17, guide §6): without a write-side
    * distribution, EVERY upstream task writes one file per partition
    * value it happens to hold — N scan tasks × D days = N·D small files
    * at corpus scale (the listing/open cost then hits every reader,
    * twice). The REBALANCE hint shuffles by the partition columns and
    * lets AQE split oversized and coalesce undersized groups to the
    * advisory partition size, so each partition directory gets a few
    * well-sized files and a hot day cannot straggle a single writer
    * (which a plain `repartition(partitionCols)` would — one task per
    * value). Data-identical; at demo scale AQE coalesces the exchange
    * to one task, so the local bench cost is one ~MB shuffle.
    */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.hint("rebalance", partitionCols.map(col): _*)
      .write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Two-phase aggregation with a deterministic salt: phase 1 aggregates
    * on (keys × salt) so a hot key's rows spread over `saltBuckets`
    * reducers; phase 2 re-aggregates the partials on the true keys.
    * Correct for re-aggregable aggregates (sum/count/min/max — pass the
    * partial→final pairs). `saltFrom` should be a high-cardinality column
    * (row id); the salt is a hash, never an RNG, so runs are reproducible.
    */
  def saltedAgg(df: DataFrame, keys: Seq[String], saltFrom: Column,
      saltBuckets: Int, partials: Seq[(String, Column)],
      finals: Seq[(String, Column)]): DataFrame = {
    val salted = df.withColumn("__salt", pmod(hash(saltFrom), lit(saltBuckets)))
    val phase1 = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(partials.head._2.as(partials.head._1),
        partials.tail.map { case (n, c) => c.as(n) }: _*)
    phase1
      .groupBy(keys.map(col): _*)
      .agg(finals.head._2.as(finals.head._1),
        finals.tail.map { case (n, c) => c.as(n) }: _*)
  }

  /** Key-distribution diagnostic: the top-`topK` heaviest values of a
    * prospective shuffle key with counts and frequency share — the
    * measurement that DECIDES whether [[saltedAgg]]/[[saltedJoin]] are
    * needed (a key whose top value holds >1/shuffle-partitions of the
    * rows will straggle). Scale: one map-side-combinable count per key,
    * then a distributed TakeOrdered for the top-K (never a global sort
    * of all keys); the total rides the already-aggregated counts.
    */
  def keySkewProfile(df: DataFrame, key: Column, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val counts = df.groupBy(key.as("key")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    val order = Seq(col("cnt").desc, col("key").asc)
    val top = counts.orderBy(order: _*).limit(topK)
    // row_number over the ≤ topK surviving rows only (the unpartitioned
    // window is bounded by topK, never by the key cardinality)
    top.withColumn("rank",
        row_number().over(Window.orderBy(order: _*)).cast("long"))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("key"), col("cnt"),
        (col("cnt").cast("double") / col("total").cast("double")).as("share"))
  }

  /** Skew-safe equi-join of a large fact against a small-but-not-tiny
    * dimension: the fact side gets a deterministic salt in [0, n), the
    * dimension replicates n-fold, and the join key becomes (key, salt) —
    * a hot key's fact rows land on n reducers instead of one. Use when
    * the dim is too big to broadcast and AQE's skew split isn't enough.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      saltBuckets: Int, saltFrom: Column,
      joinType: String = "inner"): DataFrame = {
    val saltedFact = fact.withColumn("__salt", pmod(hash(saltFrom), lit(saltBuckets)))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    saltedFact.join(saltedDim, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Z-order (Morton) interleave of two non-negative integer columns —
    * the multi-dimensional data-CLUSTERING key: sort/range-partition a
    * table by `zOrderValue(x, y, bits)` and rows close in BOTH
    * dimensions land in the same partitions, so per-file min/max stats
    * prune selective predicates on EITHER column (a single-column sort
    * clusters only its own column). This is the layout step behind
    * "OPTIMIZE ZORDER BY" in lakehouse engines, expressed as a pure
    * codegen'd integer column usable with `repartitionByRange` + write.
    *
    * Bit k of `x` lands at z-bit 2k, bit k of `y` at 2k+1 — a plain
    * sum of shifted bit tests, exactly replayable in any SQL engine
    * ([[zOrderSql]] emits the same formula as text). Inputs must be in
    * [0, 2^bits); callers bucket raw values first (e.g. `pmod`, or
    * value div cell-width for range domains).
    */
  def zOrderValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    (0 until bits).map { k =>
      shiftright(x.cast("long"), k).bitwiseAND(lit(1L)) * lit(1L << (2 * k)) +
        shiftright(y.cast("long"), k).bitwiseAND(lit(1L)) * lit(1L << (2 * k + 1))
    }.reduce(_ + _)
  }

  /** The identical formula as SQL text (for oracles / other engines):
    * `xExpr`/`yExpr` are SQL expressions for the bucketed coordinates.
    */
  def zOrderSql(xExpr: String, yExpr: String, bits: Int): String = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    (0 until bits).map { k =>
      s"((($xExpr) >> $k) & 1) * ${1L << (2 * k)}" +
        s" + ((($yExpr) >> $k) & 1) * ${1L << (2 * k + 1)}"
    }.mkString(" + ")
  }
}
