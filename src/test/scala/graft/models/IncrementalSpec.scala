package graft.models

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Incremental-materialization semantics per strategy: first-run
  * bootstrap, append, merge upsert (update + insert + untouched), dynamic
  * partition overwrite (only delta partitions replaced; re-run idempotent),
  * and the maxWatermark is_incremental() idiom.
  */
class IncrementalSpec extends SparkSpec {

  import spark.implicits._

  private var n = 0

  /** Fixed per-test scratch path under target/, cleared before use — no
    * litter across repeated test runs.
    */
  private def tmp(): String = {
    n += 1
    val root = java.nio.file.Paths.get("target", "tmp", s"incr_spec_$n")
    if (Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq
        .reverse.foreach(Files.deleteIfExists(_))
    }
    root.resolve("t").toString
  }

  private def rows(df: DataFrame): Set[(String, Long)] =
    df.select("k", "v").as[(String, Long)].collect().toSet

  test("append: first run bootstraps full, later runs add the delta") {
    val path = tmp()
    val r1 = Incremental.run(spark, path, Incremental.Append) { (inc, _) =>
      assert(!inc); Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    }
    assert(rows(r1) === Set(("a", 1L), ("b", 2L)))
    val r2 = Incremental.run(spark, path, Incremental.Append) { (inc, existing) =>
      assert(inc && existing.isDefined)
      Seq(("c", 3L)).toDF("k", "v")
    }
    assert(rows(r2) === Set(("a", 1L), ("b", 2L), ("c", 3L)))
  }

  test("merge: delta rows replace same-key rows, others untouched") {
    val path = tmp()
    Incremental.run(spark, path, Incremental.Merge(Seq("k"))) { (_, _) =>
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    }
    val r2 = Incremental.run(spark, path, Incremental.Merge(Seq("k"))) { (_, _) =>
      Seq(("b", 20L), ("c", 3L)).toDF("k", "v")
    }
    assert(rows(r2) === Set(("a", 1L), ("b", 20L), ("c", 3L)))
  }

  test("full refresh: drop-and-rebuild regardless of existing state") {
    val path = tmp()
    Incremental.run(spark, path, Incremental.Append) { (_, _) =>
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    }
    // --full-refresh: is_incremental() false, body rebuilds from
    // scratch, prior rows do NOT survive (append would keep them)
    val r = Incremental.run(spark, path, Incremental.Append,
        fullRefresh = true) { (inc, existing) =>
      assert(!inc && existing.isEmpty)
      Seq(("z", 9L)).toDF("k", "v")
    }
    assert(rows(r) === Set(("z", 9L)))
    // a partitioned full refresh also drops partitions the rebuild no
    // longer emits (static overwrite of the whole directory)
    val p2 = tmp()
    val strat = Incremental.InsertOverwrite(Seq("p"))
    Incremental.run(spark, p2, strat) { (_, _) =>
      Seq(("d1", "a", 1L), ("d2", "b", 2L)).toDF("p", "k", "v")
    }
    val r2 = Incremental.run(spark, p2, strat, fullRefresh = true) { (_, _) =>
      Seq(("d2", "b", 20L)).toDF("p", "k", "v")
    }
    assert(r2.select("p", "k", "v").as[(String, String, Long)]
      .collect().toSet === Set(("d2", "b", 20L)))
    // after the refresh, incremental runs resume normally
    val r3 = Incremental.run(spark, p2, strat) { (inc, _) =>
      assert(inc); Seq(("d3", "c", 3L)).toDF("p", "k", "v")
    }
    assert(r3.select("p", "k", "v").as[(String, String, Long)]
      .collect().toSet === Set(("d2", "b", 20L), ("d3", "c", 3L)))
  }

  test("insert_overwrite: only the delta's partitions are replaced; re-run is idempotent") {
    val path = tmp()
    def table(ps: (String, String, Long)*): DataFrame =
      ps.toSeq.toDF("p", "k", "v")
    val strat = Incremental.InsertOverwrite(Seq("p"))
    Incremental.run(spark, path, strat) { (_, _) =>
      table(("d1", "a", 1L), ("d2", "b", 2L))
    }
    // delta touches only d2 → d1 must survive, d2 fully replaced
    val r2 = Incremental.run(spark, path, strat) { (_, _) =>
      table(("d2", "b", 20L))
    }
    def all(df: DataFrame): Set[(String, String, Long)] =
      df.select("p", "k", "v").as[(String, String, Long)].collect().toSet
    assert(all(r2) === Set(("d1", "a", 1L), ("d2", "b", 20L)))
    // identical re-run → identical table (append would double-count)
    val r3 = Incremental.run(spark, path, strat) { (_, _) =>
      table(("d2", "b", 20L))
    }
    assert(all(r3) === Set(("d1", "a", 1L), ("d2", "b", 20L)))
  }

  test("insert_overwrite refuses an empty partition list") {
    val e = intercept[IllegalArgumentException] {
      Incremental.InsertOverwrite(Nil)
    }
    assert(e.getMessage.contains("partition column"))
  }

  test("maxWatermark returns the loaded high-water mark (None on all-null)") {
    val df = Seq(1L, 5L, 3L).toDF("ts")
    assert(Incremental.maxWatermark(df, "ts") === Some(5L))
    val empty = df.filter(col("ts") > 100)
    assert(Incremental.maxWatermark(empty, "ts") === None)
  }
}
