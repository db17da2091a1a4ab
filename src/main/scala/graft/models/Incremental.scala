package graft.models

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** dbt `incremental` materialization analog: a model that, after its first
  * full build, processes only newly-arrived source data and folds it into
  * the existing table (reference surface: dbt materializations —
  * `dbt_project.yml:17-22` configures view/table; incremental is the third
  * strategy a production dbt project grows into, dispositioned here).
  *
  * Strategies (dbt names):
  *  - [[Append]]: insert the delta — immutable event logs;
  *  - [[Merge]]: upsert on a unique key — delta rows replace same-key rows;
  *  - [[InsertOverwrite]]: replace exactly the partitions present in the
  *    delta — THE 100 TB shape: a late-data re-run rewrites only the
  *    affected partition directories (dynamic partition overwrite), never
  *    the whole table, and re-running the same batch is idempotent.
  *
  * Scale: the existing table is never shuffled by Append/InsertOverwrite
  * (pure metadata + delta write). Merge anti-joins existing against the
  * delta's keys — one key-shuffle (or a broadcast when the delta is small),
  * the same plan at any table size; production deployments push this into
  * a transactional format's MERGE INTO, which is this algebra storage-side.
  */
object Incremental {

  sealed trait Strategy
  case object Append extends Strategy
  final case class Merge(uniqueKey: Seq[String]) extends Strategy
  /** Needs at least one partition column: without one there is no
    * partition to overwrite, and the partitioned write would turn into a
    * column-less round-robin rebalance of the whole table.
    */
  final case class InsertOverwrite(partitionBy: Seq[String]) extends Strategy {
    require(partitionBy.nonEmpty,
      "InsertOverwrite needs at least one partition column; use Append or " +
        "Merge for an unpartitioned table")
  }

  /** `is_incremental()` watermark idiom: the max of `col` already loaded,
    * collected eagerly to the driver (a single scalar from a small
    * aggregate job — never row data) so the delta filter is a literal and
    * the source scan can prune partitions with it.
    */
  def maxWatermark(existing: DataFrame, colName: String): Option[Any] = {
    val row = existing.agg(org.apache.spark.sql.functions.max(colName)).head()
    if (row.isNullAt(0)) None else Some(row.get(0))
  }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** One `dbt run` of an incremental model materialized at `path`.
    * `build(isIncremental, existing)` is the model body: on the first run
    * it receives `(false, None)` and must produce the full table; on
    * later runs `(true, Some(existing))` and must produce only the delta.
    * Returns the materialized table, re-read from storage.
    *
    * `fullRefresh` is dbt's `--full-refresh` flag: the run takes the
    * FIRST-BUILD path regardless of what exists at `path` —
    * `is_incremental()` reports false, the body must produce the full
    * table, and the static overwrite replaces the whole directory (for
    * InsertOverwrite that includes partitions the rebuild no longer
    * emits — exactly dbt's drop-and-rebuild, and the escape hatch after
    * a schema or logic change that incremental folding can't express).
    */
  def run(spark: SparkSession, path: String, strategy: Strategy,
      fullRefresh: Boolean = false)(
      build: (Boolean, Option[DataFrame]) => DataFrame): DataFrame = {
    // Partitioned writes REBALANCE by the partition columns first (r18,
    // guide §6 — the same write-side distribution as ScaleOps
    // .writePartitioned's r17 fix): without it every upstream task
    // writes one file per partition value it holds — N tasks × D values
    // small files per run, compounding each incremental batch, and
    // every later `existing` re-read (the is_incremental() path reads
    // the table every run) pays the listing/open cost. AQE sizes the
    // exchange, so a hot partition splits across writers instead of
    // straggling one. Data-identical. Unpartitioned writes stay
    // distribution-free: adding an exchange to a pass-through full
    // rewrite would shuffle the whole table for nothing.
    def partitionedWrite(df: DataFrame, parts: Seq[String]): Unit =
      df.hint("rebalance",
          parts.map(org.apache.spark.sql.functions.col): _*)
        .write.partitionBy(parts: _*).mode("overwrite").parquet(path)
    if (fullRefresh || !exists(spark, path)) {
      val full = build(false, None)
      strategy match {
        case InsertOverwrite(parts) => partitionedWrite(full, parts)
        case _ => full.write.mode("overwrite").parquet(path)
      }
    } else {
      val existing = spark.read.parquet(path)
      val delta = build(true, Some(existing))
      strategy match {
        case Append =>
          delta.write.mode("append").parquet(path)
        case Merge(key) =>
          // upsert = keep existing rows whose key is absent from the
          // delta, union the delta. The merged frame is pinned off the
          // table's files (localCheckpoint) before the overwrite — Spark
          // refuses (correctly) to overwrite a path a lazy plan still
          // reads. A transactional format replaces this with MERGE INTO.
          val kept = existing.join(
            delta.select(key.map(org.apache.spark.sql.functions.col): _*),
            key, "left_anti")
          val merged = kept.unionByName(delta).localCheckpoint(true)
          merged.write.mode("overwrite").parquet(path)
        case InsertOverwrite(parts) =>
          // The delta is pinned off the table's files before the write:
          // the model body may derive it FROM `existing` (late-data
          // models re-read affected partitions), and Spark correctly
          // refuses to overwrite a path a lazy plan still reads. The
          // delta is batch-sized by contract, so the checkpoint is
          // bounded; a transactional format's MERGE/REPLACE WHERE makes
          // both the pin and the swap storage-side.
          val pinned = delta.localCheckpoint(true)
          // dynamic mode: only partitions present in the delta are
          // replaced (static mode would silently truncate the whole
          // table). The conf must hold at write execution, but it also
          // changes the semantics of every OTHER partitioned overwrite
          // in the session — so set/restore around this one write (the
          // write is synchronous).
          val key = "spark.sql.sources.partitionOverwriteMode"
          val before = spark.conf.getOption(key)
          spark.conf.set(key, "dynamic")
          try partitionedWrite(pinned, parts)
          finally before match {
            case Some(v) => spark.conf.set(key, v)
            case None => spark.conf.unset(key)
          }
      }
    }
    spark.read.parquet(path)
  }
}
