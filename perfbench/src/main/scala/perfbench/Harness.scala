package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.{Db, GraftSession}
import graft.plans.{RuntimeOrderSwitchRule, SampleStore, UctJoinReorderRule, WcojJoinRule}
import graft.queries.{DynamicOracles, OperatorGates, Q}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** One benchmark run in one JVM: set up once, check every
  * workload query once, then time round(seconds / pass time) whole passes
  * over the workload, at least one, in a closed loop with one client. The
  * seed permutes the order of each pass. Writes `harness.json` (and, traced,
  * `spans.jsonl`) into the run directory; `perfbench/run.py` turns those
  * into the metrics.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *                --cores N --data DIR --run-dir DIR
  */
object Harness {

  final case class Exec(pass: Int, query: String, traced: Boolean, seconds: Double,
                        cycle: Double, error: Option[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val runDir = Paths.get(opt("run-dir")).toAbsolutePath
    // the engine leaves its scratch root behind on exit; the caller removes it
    Files.writeString(runDir.resolve("scratch_root"), graft.Scratch.root)
    new Harness(workload, seed, seconds, traced, cores, opt("data"), runDir).run()
  }

  /** Nominal time of one pass: a run of `seconds` makes
    * round(seconds / PassSeconds) whole passes, so its sample count never
    * depends on how fast the engine is. */
  val PassSeconds = 6.0

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
      .filter(_ >= 0).sum

  private def cpuNanos: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"
}

final class Harness(workload: Workloads.Workload, seed: Long, seconds: Double,
                    traced: Boolean, cores: Int, dataDir: String, runDir: Path) {
  import Harness._

  private val spans = mutable.ArrayBuffer[Map[String, Any]]()

  /** The run's one set-up: session, catalog and fixtures. `total_s` is
    * timed from JVM start, so it also holds JVM start and class loading. */
  private def setUp(): (SparkSession, Map[String, Double]) = {
    val jvmStart = System.nanoTime() - ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val t0 = System.nanoTime()
    val spark = GraftSession.create(cores.toString)
    val t1 = System.nanoTime()
    val db = Db(spark, dataDir)
    Db.tableNames.foreach(n => if (n == "events") db.events else db.table(n))
    val t2 = System.nanoTime()
    OperatorGates.ensureFixtures(spark, dataDir)
    val t3 = System.nanoTime()
    (spark, Map("session_s" -> (t1 - t0) / 1e9, "catalog_s" -> (t2 - t1) / 1e9,
      "fixtures_s" -> (t3 - t2) / 1e9, "total_s" -> (t3 - jvmStart) / 1e9))
  }

  def run(): Unit = {
    val phase = mutable.LinkedHashMap[String, Double]()
    var mark = System.nanoTime()
    def lap(name: String): Unit = {
      val now = System.nanoTime(); phase(name) = (now - mark) / 1e9; mark = now
    }
    val (spark, setup) = setUp()
    lap("setup_s")
    val sampleDirs = Iterator.from(0).map(i => runDir.resolve(s"sample-cache-$i").toString)
    spark.conf.set("spark.graft.uct.sampleDiskCacheDir", sampleDirs.next())
    val queries = Workloads.queries(workload)
    def order(pass: Int): Seq[Q] = new scala.util.Random(seed * 1009L + pass).shuffle(queries)

    /** Outside the timed span: a cold workload plans every execution from
      * empty caches; a traced execution also resets the rules' telemetry. */
    def prepare(tracing: Boolean): Unit = {
      if (workload.coldPlans) {
        SampleStore.clear()
        UctJoinReorderRule.clearCache()
        spark.conf.set("spark.graft.uct.sampleDiskCacheDir", sampleDirs.next())
      }
      if (tracing) {
        UctJoinReorderRule.lastStats = None
        RuntimeOrderSwitchRule.clearLog()
        WcojJoinRule.clearStats()
      }
    }

    // correctness: every query once, in the workload's own order so that
    // every run reaches the timed loop with the same JIT warm-up behind it
    val checks = queries.map { q =>
      prepare(tracing = false)
      val error = try {
        q.fn(spark, dataDir).coalesce(1).write.mode("overwrite")
          .parquet(runDir.resolve("check").resolve(q.name).toString)
        None
      } catch { case NonFatal(e) => Some(message(e)) }
      q.name -> error
    }
    lap("check_s")
    val dynamic = DynamicOracles.snapshot
    val checkJson = checks.map { case (name, error) =>
      val sql = queries.find(_.name == name).get.sql.orElse(dynamic.get(name))
        .filterNot(_.contains(graft.Scratch.root))
      Map("name" -> name, "error" -> error, "sql" -> sql)
    }

    val tracer = if (traced) Some(new Tracer(spark)) else None

    /** One execution, timed from `Q.fn` to the last row drained. `cycle`
      * also counts what tracing adds after it: installing the listeners,
      * draining the bus and building the spans. */
    def execute(q: Q, pass: Int, tracing: Boolean): Exec = {
      prepare(tracing)
      val c0 = System.nanoTime()
      if (tracing) {
        // the previous execution's events must not reach this one's listeners
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        tracer.get.install()
      }
      val before = if (tracing) counters() else Map.empty[String, Long]
      val marks = mutable.ArrayBuffer(System.nanoTime())
      var df: DataFrame = null
      val error = try {
        df = q.fn(spark, dataDir)
        marks += System.nanoTime()
        df.queryExecution.executedPlan
        marks += System.nanoTime()
        SQLExecution.withNewExecutionId(df.queryExecution, Some(q.name)) {
          df.queryExecution.toRdd.foreach(_ => ())
        }
        marks += System.nanoTime()
        None
      } catch { case NonFatal(e) => Some(message(e)) }
      val end = System.nanoTime()
      while (marks.size < 4) marks += end
      if (tracing) {
        val after = counters()
        val uct = UctJoinReorderRule.lastStats
        val attrs = after.map { case (k, v) => k -> (v - before(k)) } ++ Map(
          "pass" -> pass, "query" -> q.name, "error" -> error,
          "uct_sample_ms" -> uct.map(_.sampleMs).getOrElse(0.0),
          "uct_search_ms" -> uct.map(_.searchMs).getOrElse(0.0),
          "switches" -> RuntimeOrderSwitchRule.recentSwitches.size,
          "wcoj_routes" -> WcojJoinRule.lastRoute.size)
        spans ++= tracer.get.spans(s"${workload.name}:$pass:${q.name}", marks.toSeq,
          Option(df).map(_.queryExecution).orNull, attrs)
        tracer.get.remove()
      }
      Exec(pass, q.name, tracing, (marks(3) - marks(0)) / 1e9,
        (System.nanoTime() - c0) / 1e9, error)
    }

    val passes = math.max(1, math.round(seconds / PassSeconds).toInt)

    /** A traced run executes every query twice in a row, traced and not, in
      * alternating order: adjacent pairs see the same JIT and cache state,
      * so their difference is the cost of tracing. */
    val cpu0 = cpuNanos
    val t0 = System.nanoTime()
    val execs = (1 to passes).flatMap { pass =>
      order(pass).zipWithIndex.flatMap { case (q, i) =>
        val modes = if (!traced) Seq(false) else if ((pass + i) % 2 == 0) Seq(false, true) else Seq(true, false)
        modes.map(execute(q, pass, _))
      }
    }
    val loop = Map("wall_s" -> (System.nanoTime() - t0) / 1e9,
      "cpu_s" -> (cpuNanos - cpu0) / 1e9, "passes" -> passes,
      "executions" -> execs.map(e => Map("pass" -> e.pass, "query" -> e.query,
        "traced" -> e.traced, "seconds" -> e.seconds, "cycle_s" -> e.cycle,
        "error" -> e.error)))

    lap("loops_s")
    val heapMb = retainedHeapMb()

    val result = Map(
      "workload" -> workload.name, "seed" -> seed, "cores" -> cores,
      "setup" -> setup, "checks" -> checkJson, "loop" -> loop,
      "phases" -> phase,
      "retained_heap_mb" -> heapMb,
      "order_cache_entries" -> UctJoinReorderRule.cacheSize)
    if (traced) Files.writeString(runDir.resolve("spans.jsonl"),
      spans.map(json.writeValueAsString).mkString("", "\n", "\n"))
    Files.writeString(runDir.resolve("harness.json"), json.writeValueAsString(result))
    spark.stop()
  }

  /** Heap in use after full collections. Spark's ContextCleaner frees
    * broadcast and shuffle blocks only after a collection has found their
    * handles unreachable, so collect until the figure stops falling. */
  private def retainedHeapMb(): Double = {
    def used(): Long = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var best = used()
    var rounds = 1
    var last = best
    while (rounds < 8 && { last = used(); last < best * 0.99 }) { best = last; rounds += 1 }
    math.min(best, last) / 1e6
  }

  private def counters(): Map[String, Long] = Map(
    "sample_scans" -> SampleStore.scanCount,
    "sample_hits" -> SampleStore.hitCount,
    "sample_disk_hits" -> SampleStore.diskHitCount,
    "sample_scan_ms" -> SampleStore.scanMillis,
    "harness_ms" -> graft.streaming.HarnessClock.millis,
    "gc_ms" -> gcMillis)
}
