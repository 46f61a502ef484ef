package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's JVM side: builds one local session, runs a workload's
  * passes (warm-up, then timed until the time budget is spent), forces
  * and fingerprints every call's output, runs the oracle-checked queries
  * untimed, and writes a JSON report for run.py.
  *
  * Args: --workload W --seed N --data DIR --work DIR --seconds S --warmup N
  *       --min-passes N --trace 0|1 --report FILE --oracle-out DIR
  */
object PerfBench {
  private val clockBase = System.currentTimeMillis() - System.nanoTime() / 1e6
  /** Wall clock in epoch ms with sub-ms resolution, on the listener's clock. */
  def nowMs: Double = clockBase + System.nanoTime() / 1e6

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val trace = o("trace") == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .config("spark.local.dir", s"${o("work")}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val recorder = new Recorder(spark)
    val wl = Workloads(o("workload"), spark, o("data"), o("work"))

    val passes = mutable.ArrayBuffer.empty[String]
    val firstDigest = mutable.Map.empty[String, String]
    def pass(index: Int, warmup: Boolean, traced: Boolean): Unit = {
      graft.operators.ModelStore.clearBoxcoxMemo()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // every pass starts from a collected heap, so one pass's garbage
      // is not collected on the next pass's clock
      System.gc()
      if (traced) recorder.attach()
      val gc0 = gcMs; val cg0 = WholeStageCodegenExec.codeGenTime
      val pl0 = recorder.planningTotalMs
      val (steal0, total0) = procStat(); val cpu0 = processCpuNs
      val start = nowMs
      val calls = wl.calls.map { c =>
        val t0 = nowMs
        val (digest, error) =
          try (fingerprint(c.run()), "")
          catch { case e: Throwable => ("", s"${e.getClass.getName}: ${e.getMessage}".take(300)) }
        val t1 = nowMs
        val ok = error.isEmpty && firstDigest.getOrElseUpdate(c.name, digest) == digest
        if (error.isEmpty && !ok)
          System.err.println(s"[perfbench] ${c.name}: output digest changed between passes")
        if (error.nonEmpty) System.err.println(s"[perfbench] ${c.name} failed: $error")
        Json.obj("name" -> c.name, "layer" -> c.layer, "start_ms" -> t0, "end_ms" -> t1,
          "digest" -> digest, "ok" -> ok, "error" -> error)
      }
      val end = nowMs
      val cpuMs = (processCpuNs - cpu0) / 1e6
      val (steal1, total1) = procStat()
      if (traced) recorder.detach()
      passes += Json.obj("index" -> index, "warmup" -> warmup, "traced" -> traced,
        "start_ms" -> start, "end_ms" -> end, "cpu_ms" -> cpuMs,
        "steal_pct" -> (if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0),
        "gc_ms" -> (gcMs - gc0), "codegen_ms" -> (WholeStageCodegenExec.codeGenTime - cg0) / 1e6,
        "planning_ms" -> (recorder.planningTotalMs - pl0), "calls" -> Json.Raw(calls.mkString("[", ",", "]")))
    }

    val warmup = o("warmup").toInt
    (0 until warmup).foreach(i => pass(i, warmup = true, traced = trace))
    val setupS = (nowMs - jvmStartMs) / 1000.0
    // Timed passes until the budget is spent. A traced run alternates
    // untraced and traced passes in ABBA order, so the tracing overhead
    // is measured within one process and the passes still getting faster
    // as the JIT warms do not favour either side.
    val budgetMs = o("seconds").toDouble * 1000
    val minPasses = o("min-passes").toInt
    val t0 = nowMs
    var i = 0
    while (i < minPasses || nowMs - t0 < budgetMs) {
      pass(warmup + i, warmup = false, traced = trace && (i % 4 == 1 || i % 4 == 2))
      i += 1
    }

    // Every third seed checks one oracle query, rotating through the
    // workload's queries: over a set of seeds each is checked, at a
    // fraction of the cost per run (the digests are checked every run).
    val seed = o("seed").toLong
    val oracle =
      if (Math.floorMod(seed, 3L) != 0) Nil
      else Seq(wl.oracleQueries(Math.floorMod(seed / 3, wl.oracleQueries.size.toLong).toInt))
    val report = Json.obj(
      "workload" -> o("workload"), "cpus" -> cpus, "setup_s" -> setupS,
      "peak_rss_mib" -> peakRssMib, "oracle_queries" -> oracle,
      "passes" -> Json.Raw(passes.mkString("[", ",", "]")),
      "jobs" -> Json.Raw(if (trace) recorder.jobsJson else "[]"))
    Files.writeString(Paths.get(o("report")), report)
    // Untimed: the matching oracle queries on the same tables, written by
    // graft.Verify (which reuses this session and stops it) for the
    // DuckDB compare in run.py.
    if (oracle.nonEmpty) graft.Verify.main(Array(o("data"), o("oracle-out")) ++ oracle)
    else spark.stop()
  }

  /** Order-insensitive fingerprint of a call's output. A DataFrame is
    * forced by one aggregate that consumes every column (the benchmark's
    * sink); doubles are compared at float precision, so the last-ulp
    * noise of a reordered floating-point sum does not read as a change. */
  def fingerprint(x: Any): String = x match {
    case df: DataFrame =>
      val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
      val cols = named.schema.fields.map(f => canonical(f.dataType, col(f.name)))
      val h = xxhash64(cols.toIndexedSeq: _*)
      val r = named.agg(count(lit(1)), sum(pmod(h, lit(2147483647L))), bit_xor(h)).head()
      s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}:${Option(r.get(2)).getOrElse(0)}"
    case other => other.toString.hashCode.toHexString
  }

  private def hasFloating(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => hasFloating(e)
    case StructType(fs) => fs.exists(f => hasFloating(f.dataType))
    case MapType(k, v, _) => hasFloating(k) || hasFloating(v)
    case _ => false
  }

  private def canonical(dt: DataType, c: Column): Column = dt match {
    case DoubleType | FloatType => c.cast(FloatType)
    case ArrayType(e, _) if hasFloating(e) => transform(c, x => canonical(e, x))
    case s: StructType if hasFloating(s) =>
      struct(s.fields.toIndexedSeq.map(f => canonical(f.dataType, c.getField(f.name)).as(f.name)): _*)
    case m: MapType =>
      val entries = array_sort(map_entries(c))
      canonical(ArrayType(StructType(Seq(StructField("key", m.keyType),
        StructField("value", m.valueType)))), entries)
    case _: UserDefinedType[_] => to_json(struct(c))
    case _ => c
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  /** Cumulative (steal, total) jiffies of the host, a diagnostic only. */
  private def procStat(): (Long, Long) = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  } catch { case _: Exception => (0L, 0L) }

  private def peakRssMib: Double = try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  } catch { case _: Exception => 0.0 }
}
