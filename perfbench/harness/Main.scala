package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one fresh JVM.
  *
  * Args: <workload> <inputsDir> <dataDir> <checkDir> <seconds> <trace 0|1>
  *       <resultJson>
  *
  * Phases: session start, workload setup (store builds, then one check
  * round whose outputs land under `checkDir` for the launcher to
  * compare, then one warm-up round), then "READY" on stdout, then timed
  * rounds of the workload's operations until `seconds` have passed
  * (whole rounds only). Everything the program writes stays under
  * `dataDir`. The result JSON holds the raw per-round and per-operation
  * figures; the launcher turns them into metrics. */
object Main {

  /** One named operation of a workload. `run` does the measured work;
    * `check` does the same work for the check round and writes what
    * the launcher compares. */
  final case class Op(name: String, run: Trace => Unit,
                      check: (Trace, String) => Unit)

  trait Workload {
    def prepare(spark: SparkSession, tr: Trace): Unit
    def ops: Seq[Op]
    /** Untimed reset between rounds, so every round does the same work. */
    def beforeRound(): Unit = ()
    /** Untimed per-round figures read after the check round. */
    def facts(spark: SparkSession): Map[String, Double] = Map.empty
    def checkRound(spark: SparkSession, tr: Trace, checkDir: String): Unit =
      ops.foreach { op =>
        tr.span("check." + op.name, op.name)(op.check(tr, checkDir))
      }
  }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
      finally s.close()
    }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  private def procStatus(key: String): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** user+sys CPU seconds of this process, as the OS accounts it. */
  def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9

  /** Memory the program controls, in MB: the peak resident set less
    * the pre-touched heap (code cache, metaspace, thread stacks, direct
    * and native buffers), and the heap still live after a full GC. */
  def memorySample(): (Double, Double) = {
    val peakRssMb = procStatus("VmHWM") / 1024.0
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage
    (peakRssMb - heap.getCommitted / 1048576.0, heap.getUsed / 1048576.0)
  }

  /** Phase marks on stderr, in seconds since JVM start. */
  private def phase(name: String): Unit = System.err.println(
    f"[perfbench] $name done at ${java.lang.management.ManagementFactory
      .getRuntimeMXBean.getUptime / 1000.0}%.2f s")

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, dataDir, checkDir, secondsS, traceS,
      resultPath) = args
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(Paths.get(dataDir))
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      // the session conf of graft.Bench
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "262144")
      // run isolation: every path the program writes is under dataDir,
      // except Spark's scratch space (shuffle and spill files, removed
      // whenever the JVM happens to collect their owners), which sits
      // beside it in the same run directory and is not counted in
      // written_bytes
      .config("spark.sql.warehouse.dir", s"$dataDir/warehouse")
      .config("spark.local.dir",
        Paths.get(dataDir).toAbsolutePath.getParent.resolve("local").toString)
    if (traced) Trace.configure(b)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$dataDir/rdd_checkpoints")
    val tr = if (traced) Trace.live(spark) else Trace.off
    phase("session")

    val wl: Workload = workload match {
      case "resale_pipeline" => new ResaleWorkload(spark, inputs, dataDir)
      case "gate_mix" => Gates.workload(spark, inputs)
    }

    // ---- setup: store builds, then the check round: every operation
    // runs once, cold, and writes what the launcher compares under
    // checkDir
    val prepT0 = System.nanoTime()
    tr.span("setup.prepare", "")(wl.prepare(spark, tr))
    val prepareS = (System.nanoTime() - prepT0) / 1e9
    val storeBytes = dirBytes(new File(s"$dataDir/warehouse"))
    phase("prepare")
    val checkErr = mutable.LinkedHashMap[String, String]()
    Files.createDirectories(Paths.get(checkDir))
    try tr.span("setup.check_round", "")(wl.checkRound(spark, tr, checkDir))
    catch { case e: Throwable =>
      checkErr("check_round") =
        Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
    }
    val facts = if (traced && checkErr.isEmpty) wl.facts(spark) else Map.empty
    phase("check_round")
    // one more untimed round: the second run of each operation still
    // compiles much of its code path, which made the first timed round
    // the slowest by a tenth
    wl.beforeRound()
    tr.span("setup.warmup", "")(wl.ops.foreach(op =>
      try op.run(tr) catch { case _: Throwable => () }))
    phase("warmup")
    val ledgerBefore = Gates.ledgerRuns()
    System.gc()
    println("PERFBENCH_READY")
    System.out.flush()

    // ---- timed pass: whole rounds until `seconds` have elapsed
    val roundS = mutable.ArrayBuffer[Double]()
    val roundCpu = mutable.ArrayBuffer[Double]()
    val opS = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val failedOps = mutable.LinkedHashMap[String, String]()
    var failedCount = 0
    var memory: Option[(Double, Double)] = None
    tr.startTimed()
    val passT0 = System.nanoTime()
    while (roundS.isEmpty || (System.nanoTime() - passT0) / 1e9 < seconds) {
      wl.beforeRound()
      val c0 = cpuSeconds()
      val r0 = System.nanoTime()
      tr.span("round", s"round${roundS.size}") {
        wl.ops.foreach { op =>
          val t0 = System.nanoTime()
          try tr.span("op", op.name)(op.run(tr))
          catch { case e: Throwable =>
            failedCount += 1
            failedOps.getOrElseUpdate(op.name,
              Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
          }
          opS.getOrElseUpdate(op.name, mutable.ArrayBuffer()) +=
            (System.nanoTime() - t0) / 1e9
        }
      }
      roundS += (System.nanoTime() - r0) / 1e9
      roundCpu += cpuSeconds() - c0
      // sampled after the first round, so that it does not depend on
      // how many rounds fit; the traced run samples after the pass, as
      // its full GC would count in jvm.gc_s
      if (memory.isEmpty && !traced) memory = Some(memorySample())
    }
    tr.stopTimed()
    val (offHeapPeakMb, liveHeapMb) = memory.getOrElse(memorySample())
    val writtenBytes = dirBytes(new File(dataDir))
    val timedStoreBuilds = Gates.ledgerRuns() - ledgerBefore
    val layer = tr.layerMetrics(roundS.size, cores)

    tr.writeSpans(resultPath.stripSuffix(".json") + ".trace.json")

    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    root.put("workload", workload)
    root.put("cores", cores)
    root.put("rounds", roundS.size)
    root.put("ops_per_round", wl.ops.size)
    root.put("failed", failedCount)
    val fo = root.putObject("failed_ops")
    failedOps.foreach { case (k, v) => fo.put(k, v) }
    val ce = root.putObject("check_errors")
    checkErr.foreach { case (k, v) => ce.put(k, v) }
    val ra = root.putArray("round_s"); roundS.foreach(v => ra.add(v))
    val ca = root.putArray("round_cpu_s"); roundCpu.foreach(v => ca.add(v))
    val oo = root.putObject("op_s")
    opS.foreach { case (k, vs) =>
      val a = oo.putArray(k); vs.foreach(v => a.add(v)) }
    root.put("off_heap_peak_mb", offHeapPeakMb)
    root.put("live_heap_mb", liveHeapMb)
    root.put("written_bytes", writtenBytes)
    root.put("prepare_s", prepareS)
    root.put("store_bytes", storeBytes)
    root.put("timed_store_builds", timedStoreBuilds)
    val lm = root.putObject("layer")
    layer.foreach { case (k, v) => lm.put(k, v) }
    facts.foreach { case (k, v) => lm.put(k, v) }
    om.writerWithDefaultPrettyPrinter().writeValue(new File(resultPath), root)
    spark.stop()
  }
}
