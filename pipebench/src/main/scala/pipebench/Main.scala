package pipebench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.pipebench.Bus
import org.apache.spark.sql.SparkSession

import graft.plans.{FanoutLint, GraftExtensions}
import graft.sources.Tables

/** Runs one workload in one process and writes what it measured as JSON
  * (`--out`); `run.py` turns that into the benchmark's metrics.
  *
  * Set-up is timed from process start: JVM start, the session, its
  * bootstrap, the workload's own state and the workload's warm-up units
  * ([[Workload.warmups]]), which are discarded. Then units run
  * closed-loop, one client, until their summed time reaches `--seconds`
  * (and at least [[MinUnits]] ran). Every unit's outputs are checked
  * after it, outside its time. With `--trace 1` the listeners are
  * registered and every other measured unit runs traced, the rest
  * untraced, which gives the tracing overhead from one run.
  */
object Main {
  val TestTag = "pipebench_test_"
  val TestStore = "pipebench_test_failures"
  val MinUnits = 2

  final case class Opts(workload: String, seconds: Double, trace: Boolean,
      data: String, work: String, out: String, cores: Int)

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv("work"), kv("out"), kv("cores").toInt)
    require(Workload.Names.contains(o.workload), s"unknown workload ${o.workload}")
    o
  }

  private def session(o: Opts, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[${o.cores}]")
      .appName("pipebench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this process (`VmHWM`), in MB. */
  private def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val expected = new ObjectMapper().readTree(new File(s"${o.data}/expected.json"))
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val spans = new Spans
    val probe = if (o.trace) Some(new Probe(TestTag, TestStore)) else None
    val spark = session(o, o.work)
    Tables.bootstrap(spark)
    probe.foreach { p =>
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
    }
    val wl = Workload(o.workload, new Ctx(spark, spans, o.data, o.work, expected, o.cores))
    val units = mutable.ArrayBuffer.empty[Map[String, Any]]

    def runUnit(kind: String): Double = {
      val u = units.size
      val traced = kind == "traced"
      val sc = spark.sparkContext
      probe.foreach { p => Bus.drain(sc); p.take(); p.on = traced }
      if (traced) FanoutLint.clear()
      spans.on = traced
      spans.unit = u
      val start = Clock.ms
      val cpuStart = cpu.getProcessCpuTime
      val out = Try(spans("bench", "unit")(wl.unit(u)))
      val seconds = (Clock.ms - start) / 1000
      val cpuSeconds = (cpu.getProcessCpuTime - cpuStart) / 1e9
      spans.on = false
      val seen = probe.map { p => Bus.drain(sc); p.on = false; p.take() }
      val findings = FanoutLint.recentFindings.size
      val problems = out match {
        case Failure(e) => Seq(s"unit threw $e")
        case Success(r) => Try(wl.check(u, r)).fold(e => Seq(s"check threw $e"), identity)
      }
      wl.release()
      // a full collection between units (outside their time) empties the
      // old generation of the unit's garbage, so the heap's high-water
      // mark, and with it VmHWM, does not grow with the number of units,
      // and lets Spark's ContextCleaner drop what the unit no longer
      // references before storage is counted
      System.gc()
      Bus.drain(sc)
      val storage = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      val layers = for (s <- seen if traced) yield {
        val unitSpans = spans.all.filter(_.unit == u)
        Layers.metrics(unitSpans.find(_.name == "unit").get, unitSpans, s, o.cores,
          storage, findings)
      }
      problems.foreach(p => System.err.println(s"unit $u: $p"))
      units += Map("id" -> u, "kind" -> kind, "seconds" -> seconds, "cpu_s" -> cpuSeconds,
        "problems" -> problems, "check_dir" -> (if (out.isSuccess) wl.checkDir(u) else None),
        "layers" -> layers)
      seconds
    }

    (0 until wl.warmups).foreach(_ => runUnit("warmup"))
    val setup = (Clock.ms - processStart) / 1000

    var timed, n = 0.0
    while (timed < o.seconds || n < MinUnits) {
      timed += runUnit(if (o.trace && n % 2 == 0) "traced" else "plain")
      n += 1
    }
    val result = Map(
      "workload" -> o.workload, "cores" -> o.cores,
      "input_rows" -> wl.inputRows, "setup_s" -> setup,
      "peak_rss_mb" -> peakRssMb, "units" -> units.toSeq,
      "spans" -> spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "unit" -> s.unit, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end)))
    spark.stop()
    Files.writeString(Paths.get(o.out), Json(result))
  }
}
