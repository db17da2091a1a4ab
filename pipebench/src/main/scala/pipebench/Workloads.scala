package pipebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.models.{FictionBankSql, GenericTests, SqlDag}
import graft.operators.{CorpusClean, Sampling, ScaleOps, TextDedup}
import graft.sources.Tables

/** What a workload's units see: the session, the spans, the generated
  * inputs (`data`) with their expected outputs, a scratch directory of
  * this session's own (`work`), and the session's cores, which is also
  * the `threads` SqlDag.build runs with.
  */
final class Ctx(val spark: SparkSession, val spans: Spans, val data: String,
    val work: String, val expected: JsonNode, val cores: Int)

/** One workload. A unit is the timed piece: one build or one curation
  * pass. `check` runs after the unit, outside its time.
  */
trait Workload {
  /** Input rows one unit processes. */
  def inputRows: Long

  /** Units run and discarded at the end of set-up, before any is
    * measured: the first unit is mostly JIT compilation and Spark's code
    * generation, and the next ones still speed up.
    */
  def warmups: Int

  def unit(u: Int): Any

  /** Mismatches between the unit's outputs and the expected ones. */
  def check(u: Int, out: Any): Seq[String]

  /** Where the Python side checks this unit's outputs, if it does. */
  def checkDir(u: Int): Option[String] = None

  /** Releases what the benchmark itself pinned for a unit's check. */
  def release(): Unit = ()
}

object Workload {
  val Names: Seq[String] = Seq("dag_build", "corpus_curate")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "dag_build" => new DagBuild(ctx)
    case "corpus_curate" => new CorpusCurate(ctx)
  }

  /** A data test whose frame carries the benchmark's test tag, so the
    * listener can tell test actions from materializations.
    */
  def test(name: String, config: GenericTests.TestConfig = GenericTests.TestConfig())(
      frame: Map[String, DataFrame] => DataFrame): GenericTests.DataTest =
    GenericTests.DataTest(name, b => frame(b).alias(Main.TestTag + name), config)

  /** localCheckpoint through the operators' own cut, remembering the
    * persisted RDDs it created so they can be released.
    */
  def cut(df: DataFrame, pinned: mutable.Set[Int]): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = TextDedup.eagerCut(df)
    pinned ++= sc.getPersistentRDDs.keySet.diff(before)
    out
  }

  def unpin(spark: SparkSession, pinned: mutable.Set[Int]): Unit = {
    pinned.foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
    pinned.clear()
  }

  def differ[T](what: String, got: T, want: T): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, expected $want")

  def differSeq[T](what: String, got: Seq[T], want: Seq[T]): Seq[String] =
    if (got == want) Nil
    else Seq(s"$what: ${got.size} rows, expected ${want.size}; " +
      s"${got.diff(want).take(3).mkString(", ")} unexpected, " +
      s"${want.diff(got).take(3).mkString(", ")} missing")
}

/** The paper's pipeline: `SqlDag.build` over the reference's four SQL
  * models with generic tests, including the warn-severity grain test
  * that stores its failures. The marts are compared with DuckDB by the
  * Python side (`checkDir`).
  */
final class DagBuild(ctx: Ctx) extends Workload {
  import ctx._
  import SqlDag._
  import Workload.test

  private val grain = "grain_agg_monthly_loans"
  private val models = Seq(
    SqlModel("stg_loans", FictionBankSql.StgLoans, View),
    SqlModel("stg_loan_payments", FictionBankSql.StgLoanPayments, View),
    SqlModel("fct_loan_details", FictionBankSql.FctLoanDetails, Table),
    SqlModel("agg_monthly_loans", FictionBankSql.AggMonthlyLoans, Table))
  private val tests = Map(
    "stg_loans" -> Seq(
      test("unique_stg_loans_loan_id")(b => GenericTests.unique(b("stg_loans"), "loan_id")),
      test("not_null_stg_loans_loan_id")(b => GenericTests.notNull(b("stg_loans"), "loan_id"))),
    "stg_loan_payments" -> Seq(
      test("unique_payments_payment_id")(b =>
        GenericTests.unique(b("stg_loan_payments"), "payment_id")),
      test("relationships_payments_loan_id")(b =>
        GenericTests.relationships(b("stg_loan_payments"), "loan_id", b("stg_loans"), "loan_id")),
      test("accepted_values_payment_status")(b =>
        GenericTests.acceptedValues(b("stg_loan_payments"), "payment_status",
          Seq("completed", "late", "missed")))),
    "fct_loan_details" -> Seq(
      test("not_null_fct_loan_type_name")(b =>
        GenericTests.notNull(b("fct_loan_details"), "loan_type_name"))),
    "agg_monthly_loans" -> Seq(
      test(grain, GenericTests.TestConfig(severity = "warn", storeFailures = true))(b =>
        GenericTests.unique(b("agg_monthly_loans"), "month", "loan_type_name"))))

  def inputRows: Long = expected.get("input_rows").asLong
  // units are short and driver-bound; the JIT still spends more CPU than
  // the unit's own tasks on the first five
  def warmups: Int = 5

  private def warehouse(u: Int) = s"$work/u$u"

  def unit(u: Int): Any = {
    val seeds = spans("sources", "Tables.seedCsv") {
      Map(
        "raw_loans" -> Tables.seedCsv(spark, s"$data/raw_loans.csv", Tables.rawLoansSchema),
        "raw_loan_payments" -> Tables.seedCsv(spark, s"$data/raw_loan_payments.csv",
          Tables.rawLoanPaymentsSchema),
        "loan_types" -> Tables.seedCsv(spark, s"$data/loan_types.csv", Tables.loanTypesSchema))
    }
    spans("models", "SqlDag.build") {
      new SqlDag(spark, warehouse(u)).build(models, seeds, tests, threads = cores,
        storeDir = Some(s"${warehouse(u)}/${Main.TestStore}"))
    }
  }

  /** Every node builds; every test passes except the grain test, which
    * warns on the reference's fan-out bug.
    */
  def check(u: Int, out: Any): Seq[String] = {
    val r = out.asInstanceOf[BuildResult]
    val statuses = r.nodes.flatMap(n => (n.name -> n.status) +: n.tests.map(t => t.name -> t.status))
    val want = (models.map(_.name) ++ tests.values.flatten.map(_.name))
      .map(n => n -> (if (n == grain) "warn" else if (models.exists(_.name == n)) "success" else "pass"))
    Workload.differSeq("build statuses", statuses.sorted, want.sorted)
  }

  override def checkDir(u: Int): Option[String] = Some(warehouse(u))
}

/** What a corpus_curate unit leaves for its check. */
final case class Curated(quality: DataFrame, exact: DataFrame,
    pairs: DataFrame, clusters: DataFrame, written: String)

/** ROADMAP pipeline (b): quality filter and exact dedup, MinHash-LSH
  * pairs, dedup clusters, a domain mixture and a partitioned write. The
  * exact-dedup survivors and the pairs are cut (localCheckpoint) inside
  * their spans, because later stages and the check read them again; the
  * mixture is not cut, so the partitioned write runs it and the check
  * reads the written files.
  */
final class CorpusCurate(ctx: Ctx) extends Workload {
  import ctx._

  private val threshold = expected.get("threshold").asDouble
  private val weights = expected.get("weights").fields.asScala
    .map(e => e.getKey -> e.getValue.asInt).toMap
  private val pinned = mutable.Set.empty[Int]
  private def cut(df: DataFrame) = Workload.cut(df, pinned)

  def inputRows: Long = expected.get("input_rows").asLong
  // after the first, a unit is within about 15% of the later ones
  def warmups: Int = 1

  def unit(u: Int): Any = {
    val docs = spans("sources", "Tables.table")(Tables.table(spark, data, "documents"))
    val stages = spans("operators", "CorpusClean.stages") {
      CorpusClean.stages(docs, "doc_id", "text", "lang", threshold, Map.empty,
        materializeCut = cut)
    }
    val pairs = spans("operators", "TextDedup.minhashLshPairs") {
      cut(TextDedup.minhashLshPairs(stages.exactKept, "doc_id", "text", threshold))
    }
    val clusters = spans("operators", "TextDedup.dedupClusters")(TextDedup.dedupClusters(pairs))
    val mixed = spans("operators", "Sampling.mixToTarget") {
      val dropped = clusters.filter(col("node") =!= col("cluster_id")).select(col("node").as("doc_id"))
      Sampling.mixToTarget(stages.exactKept.join(dropped, Seq("doc_id"), "left_anti"),
        col("doc_id"), "lang", weights)
    }
    val path = s"$work/u$u/mixed"
    spans("operators", "ScaleOps.writePartitioned")(ScaleOps.writePartitioned(mixed, path, Seq("lang")))
    Curated(stages.quality, stages.exactKept, pairs, clusters, path)
  }

  def check(u: Int, out: Any): Seq[String] = {
    val o = out.asInstanceOf[Curated]
    val ids = (df: DataFrame, c: String) => df.select(col(c)).collect().map(_.getLong(0)).toSeq.sorted
    val longs = (k: String) => expected.get(k).elements.asScala.map(_.asLong).toSeq
    Workload.differ("quality rows", o.quality.count(), expected.get("quality").asLong) ++
      Workload.differ("exact-dedup rows", o.exact.count(), expected.get("exact").asLong) ++
      Workload.differSeq("near-dup pairs",
        o.pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted,
        expected.get("pairs").elements.asScala.map(p => (p.get(0).asLong, p.get(1).asLong)).toSeq.sorted) ++
      Workload.differSeq("clusters",
        o.clusters.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted,
        expected.get("clusters").fields.asScala.map(e => (e.getKey.toLong, e.getValue.asLong)).toSeq.sorted) ++
      Workload.differSeq("written mixture", ids(spark.read.parquet(o.written), "doc_id"), longs("mixed").sorted)
  }

  override def release(): Unit = Workload.unpin(spark, pinned)
}
