package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.VectorMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** The benchmark's JVM side. `run.py` launches it once per run and reads
  * the raw samples it writes to `<work>/result.json`; all statistics and
  * all output checks are made on the Python side, outside this JVM.
  *
  *   Main run --workload batch|ingest --seed N --seconds S --trace 0|1
  *            --tables DIR --work DIR --cpus N
  *            [--data DIR --landing DIR --files-per-trigger N]   (ingest)
  *   (--tables holds one directory of test tables per scale: sf0.001,
  *   sf0.01, sf0.1)
  *   Main oracles --out FILE
  *   Main plan --tables DIR --sf sf0.01 --row q_bpe_ids_bytes --work DIR --cpus N
  */
object Main {
  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def writeJson(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)

  def main(args: Array[String]): Unit = {
    val cmd = args.head
    val o = Opts(args.tail.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    cmd match {
      case "oracles" => dumpOracles(o("out"))
      case "run"     => run(o)
      case "plan"    => plan(o)
      case other     => sys.error(s"unknown command $other")
    }
  }

  /** The repo's DuckDB oracle texts plus the constants the shingle-join
    * checks and the ingest expectations need. */
  def dumpOracles(out: String): Unit = {
    import graft.operators.DedupOps
    writeJson(out, VectorMap(
      "oracles" -> SparkEntry.oracleSql,
      "tiers" -> VectorMap.from(Rows.tiers.map(t =>
        t.name -> VectorMap("sf" -> t.sf, "modules" -> VectorMap.from(t.modules)))),
      "constants" -> VectorMap(
        "jaccard_threshold" -> DedupOps.jaccardThreshold,
        "containment_ppm" -> DedupOps.containmentPpm)))
  }

  /** Print the physical plan a timed pass executes for one row (the
    * noop write) next to the plan `graft.Bench`'s `count()` executes. */
  def plan(o: Opts): Unit = {
    val spark = session(o)
    val plans = mutable.ArrayBuffer[String]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans += qe.executedPlan.treeString
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })
    val df = SparkEntry.queries(o("row"))(spark, s"${o("tables")}/${o("sf")}")
    noop(df)
    df.count()
    PerfbenchBridge.drain(spark.sparkContext) // the listener is called async
    println(s"== ${o("row")}: noop write (timed pass)\n${plans.headOption.getOrElse("?")}")
    println(s"== ${o("row")}: count()\n${plans.lift(1).getOrElse("?")}")
    stop(spark)
  }

  // ------------------------------------------------------------ session

  def session(o: Opts): SparkSession = {
    val cpus = o("cpus").toInt
    val work = o("work")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Tables.tune(s)
    graft.functions.GraftFunctions.register(s)
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Progress on stderr (run.py keeps it in the run's log). */
  def say(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Set-ups per run; their median is the run's set-up time. */
  val nSetups = 3

  /** Set-up times of one run. `start` is the cold start: from JVM start
    * to the end of the first set-up (class loading, the first function
    * registration, the first q1). `setups` has one sample per set-up,
    * each from the session build to the end of its q1, the first one
    * included. */
  final case class SetupTimes(start: Double, setups: Seq[Double])

  /** Set up [[nSetups]] times and keep the last session. One set-up is: build
    * the session, register graft's functions, and run the flagship
    * query (TPC-H q1, `SparkEntry.entry`'s) on the warm-up tables. */
  def setups(o: Opts): (SparkSession, SetupTimes) = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val samples = mutable.ArrayBuffer[Double]()
    var start = 0.0
    var s: SparkSession = null
    for (i <- 0 until nSetups) {
      if (s != null) stop(s)
      val t0 = now()
      s = session(o)
      noop(graft.operators.AnalyticsOps.q1PricingSummary(s, s"${o("tables")}/sf0.001"))
      samples += secs(t0)
      if (i == 0) start = (System.currentTimeMillis() - jvmStartMs) / 1e3
      say(f"setup $i: ${samples.last}%.2f s")
    }
    say(f"cold start: $start%.2f s")
    (s, SetupTimes(start, samples.toSeq))
  }

  def run(o: Opts): Unit = {
    val result = o("workload") match {
      case "ingest" => Ingest.run(o)
      case "batch"  => runBatch(o)
      case other    => sys.error(s"unknown workload $other")
    }
    writeJson(s"${o("work")}/result.json", result)
  }

  // ------------------------------------------------------ batch workloads

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def runBatch(o: Opts): VectorMap[String, Any] = {
    val modules = Rows.modules
    val rows = modules.flatMap(_._2)
    val fns = rows.map(r => r -> SparkEntry.queries(r)).toMap
    val sfOf = Rows.tiers.flatMap(t => t.modules.flatMap(_._2).map(_ -> t.sf)).toMap
    def dirOf(r: String) = s"${o("tables")}/${sfOf(r)}"
    val traced = o("trace") == "1"
    val seed = o("seed").toLong

    val (spark, setup) = setups(o)
    val sc = spark.sparkContext
    val listener = if (traced) Some(new LayerListener) else None
    listener.foreach(sc.addSparkListener)

    val errors = mutable.LinkedHashMap[String, String]()
    val failures = mutable.Map[String, Int]().withDefaultValue(0)
    // (pass, row) -> seconds; a failed execution has no sample
    val lat = mutable.LinkedHashMap[(Int, String), Double]()
    val passGc = mutable.ArrayBuffer[Double]()
    val outDir = s"${o("work")}/out"

    // Pass 0 is the first touch of the data (codegen, JIT, artifact
    // training) and writes each row's full result to parquet for the
    // checks; later passes run with the artifacts in the session cache
    // and time the noop sink, which also computes every output column.
    def onePass(p: Int): Unit = {
      val order = new Random(seed * 1000003L + p).shuffle(rows)
      val gc0 = gcSeconds()
      order.foreach { r =>
        val g = s"$p/$r"
        if (traced) sc.setJobGroup(g, g, interruptOnCancel = false)
        spark.catalog.clearCache()
        val t0 = now()
        try {
          val df = fns(r)(spark, dirOf(r))
          if (p == 0) df.write.mode("overwrite").parquet(s"$outDir/first/$r") else noop(df)
          lat((p, r)) = secs(t0)
          say(f"pass $p $r ${lat((p, r))}%.3f")
        } catch { case e: Throwable =>
          failures(r) += 1
          errors.getOrElseUpdate(r,
            s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
        }
        finally if (traced) sc.clearJobGroup()
      }
      passGc += gcSeconds() - gc0
    }

    onePass(0)
    val seconds = o("seconds").toDouble
    val t0 = now()
    var passes = 0
    while (passes == 0 || secs(t0) < seconds) {
      System.gc()
      passes += 1
      onePass(passes)
    }

    // everything below is outside the timed passes
    val layers = listener.map { l =>
      PerfbenchBridge.drain(sc)
      batchLayers(l, modules, lat, passes, passGc.toSeq, spark)
    }
    // Rows of the artifact modules take another path once their artifact
    // is cached: write their outputs once more, untimed, with the session
    // cache as the steady passes left it, so that the path timed is also
    // checked. Traced runs add their probe rows.
    val probes = if (traced) Rows.traceProbes else Nil
    val again = modules.filter(m => Rows.artifactModules.contains(m._1))
      .flatMap(_._2).map(r => r -> sfOf(r))
    val steadyOutputs = (again ++ probes).flatMap { case (r, sf) =>
      spark.catalog.clearCache()
      try {
        SparkEntry.queries(r)(spark, s"${o("tables")}/$sf")
          .write.mode("overwrite").parquet(s"$outDir/steady/$r")
        Some(r -> Seq(sf, s"$outDir/steady/$r"))
      } catch { case e: Throwable =>
        errors.getOrElseUpdate(r, s"steady output: ${e.toString.take(300)}"); None }
    }.toMap
    stop(spark)

    val steady = (1 to passes)
    VectorMap(
      "workload" -> "batch",
      "rows" -> rows,
      "passes" -> (passes + 1),
      "start_s" -> setup.start,
      "setup_s" -> setup.setups,
      "first_pass_s" -> rows.flatMap(r => lat.get((0, r))).sum,
      "pass_s" -> steady.map(p => rows.flatMap(r => lat.get((p, r))).sum),
      "op_s" -> steady.flatMap(p => rows.flatMap(r => lat.get((p, r)))),
      "failures" -> failures.toMap,
      "errors" -> errors.toMap,
      "outputs" -> VectorMap(
        "first" -> rows.filter(r => lat.contains((0, r)))
          .map(r => r -> Seq(sfOf(r), s"$outDir/first/$r")).toMap,
        "steady" -> steadyOutputs),
      "checked_again" -> again.map(_._1),
      "probes" -> probes.map(_._1),
      "layers" -> layers.getOrElse(VectorMap.empty))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  def batchLayers(l: LayerListener, modules: Rows.Modules,
      lat: mutable.Map[(Int, String), Double], passes: Int, passGc: Seq[Double],
      spark: SparkSession): VectorMap[String, Double] = {
    val steady = 1 to passes
    def inPass(p: Int, rows: Set[String])(g: String): Boolean = {
      val i = g.indexOf('/')
      i > 0 && g.substring(0, i) == p.toString && rows(g.substring(i + 1))
    }
    val perModule = modules.flatMap { case (m, rs) =>
      val set = rs.toSet
      val works = steady.map(p => l.sum(inPass(p, set)))
      val base = Seq(
        s"$m.s" -> median(steady.map(p => rs.flatMap(r => lat.get((p, r))).sum)),
        s"$m.jobs" -> median(works.map(_.jobs.toDouble)),
        s"$m.task_s" -> median(works.map(_.taskNs / 1e9)),
        s"$m.shuffle_bytes" -> median(works.map(_.shuffleBytes.toDouble)))
      val first =
        if (Rows.artifactModules.contains(m)) Seq(s"$m.first_s" -> rs.flatMap(r => lat.get((0, r))).sum)
        else Nil
      base ++ first
    }
    val all = modules.flatMap(_._2).toSet
    val passWork = steady.map(p => l.sum(inPass(p, all)))
    val engine = Seq(
      "spark.stages" -> median(passWork.map(_.stages.toDouble)),
      "spark.tasks" -> median(passWork.map(_.tasks.toDouble)),
      "spark.spill_bytes" -> median(passWork.map(_.spillBytes.toDouble)),
      "jvm.gc_s" -> median(passGc.drop(1)),
      "SessionCache.held_bytes" -> heldBytes(spark),
      "Tables.input_bytes" -> median(passWork.map(_.inputBytes.toDouble)),
      "Tables.input_rows" -> median(passWork.map(_.inputRows.toDouble)),
      "trace.pass_s" -> median(steady.map(p => lat.collect { case ((`p`, _), t) => t }.sum)))
    VectorMap.from(perModule ++ engine)
  }

  /** Block-manager bytes (memory + disk) of every persisted or
    * checkpointed RDD still held by the session. */
  def heldBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble
}
