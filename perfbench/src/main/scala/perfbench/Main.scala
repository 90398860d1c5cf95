package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It runs one workload and writes every raw
  * sample (operation timings, phases, and in traced passes the recorded
  * jobs, stages, tasks and plans) to one JSON file; `run.py` turns that
  * file into metrics.
  *
  *   perfbench.Main gen <dataRoot>
  *   perfbench.Main run <workload> <dataRoot> <workDir> <seed> <seconds> <trace>
  */
object Main {
  /** Set-up is repeated this many times per run. The first also pays the
    * JVM's cold start; `setup_s` is the median of the others.
    */
  val SetupReps = 4
  /** Untimed passes before the timed ones; a traced run makes one more,
    * because its U T T U order cancels only a linear drift, and the pass
    * after the first still runs up to 10% slower than the ones after it.
    */
  val WarmPasses = 1
  /** The pass metrics are medians over at least this many timed passes. */
  val MinTimedPasses = 3
  /** A run starts no pass beyond its minimum after this many seconds of
    * JVM time, so the command stays inside its time limit on a loaded
    * machine.
    */
  val HardStopS = 130.0

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.default.parallelism", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Sessions.quietBoundedWindowWarn()
    spark
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("gen", dataRoot) =>
      val spark = session(s"$dataRoot/gen")
      try Workload.generate(spark, dataRoot) finally spark.stop()
    case Seq("run", workload, data, work, seed, seconds, trace) =>
      val out = run(workload, data, work, seed.toLong, seconds.toDouble, trace == "1")
      Files.write(Paths.get(work, "raw.json"),
        new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(out))
    case _ =>
      System.err.println("usage: perfbench.Main gen <dataRoot> | " +
        "run <workload> <dataRoot> <workDir> <seed> <seconds> <trace 0|1>")
      sys.exit(2)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  /** Time the JIT compiler threads have spent compiling. */
  private def jitS(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  /** CPU nanoseconds of each live Java thread: the driver and the executor
    * threads, without the JIT compiler and GC threads, which are hidden.
    */
  private def threadCpu(): Map[Long, Long] = {
    val t = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val ids = t.getAllThreadIds
    ids.zip(t.getThreadCpuTime(ids)).filter(_._2 > 0).toMap
  }
  /** Java-thread CPU seconds since `before`, over the threads alive now. */
  private def threadCpuSince(before: Map[Long, Long]): Double =
    threadCpu().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9

  /** Heap bytes allocated by each live Java thread. */
  private def threadAlloc(): Map[Long, Long] = {
    val t = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val ids = t.getAllThreadIds
    ids.zip(t.getThreadAllocatedBytes(ids)).filter(_._2 > 0).toMap
  }
  /** MB allocated by Java threads since `before`, over the threads alive now. */
  private def threadAllocSince(before: Map[Long, Long]): Double =
    threadAlloc().map { case (id, b) => b - before.getOrElse(id, 0L) }.sum / 1048576.0

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def run(workload: String, data: String, work: String, seed: Long, seconds: Double,
      trace: Boolean): Map[String, Any] = {
    val jvmStart = System.nanoTime()
    // JVM uptime at the end of each step of the run, for the time budget.
    val steps = mutable.LinkedHashMap.empty[String, Double]
    def step(name: String): Unit =
      steps(name) = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val spark = session(work)
    step("session")
    val sc = spark.sparkContext
    val w = Workload(workload, spark, data, seed)
    val ids = new AtomicLong()

    // Set-up, repeated; the last repetition's inputs are the ones used.
    val setupS = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      w.setup(Paths.get(work, s"setup-$i"))
      (System.nanoTime() - t0) / 1e9
    }
    step("setup")
    w.reference()
    step("reference")

    def runPass(p: Int, checkPass: Boolean, rec: Option[Recorder]): Map[String, Any] = {
      rec.foreach { r => sc.addSparkListener(r); spark.listenerManager.register(r) }
      val gc0 = gcMs()
      val classes0 = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
      val ops = w.pass(p, checkPass).map { op =>
        val ctx = new OpCtx(sc, ids)
        val jit0 = jitS()
        val cpu0 = threadCpu()
        val alloc0 = threadAlloc()
        val t0 = System.nanoTime()
        val (ok, err, check) =
          try { val c = op.run(ctx); (true, "", c) }
          catch { case e: Throwable =>
            (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300), () => ()) }
        val t1 = System.nanoTime()
        val jit1 = jitS()
        val cpu1 = threadCpuSince(cpu0)
        val alloc1 = threadAllocSince(alloc0)
        // Outside the timed region: output checks, then release of the
        // operation's materialized blocks, as graft.Bench does per repeat.
        if (ok) try check() catch { case e: Throwable =>
          ctx.problems += s"check failed: ${e.getClass.getSimpleName}: ${e.getMessage}" }
        graft.queries.Q.releaseMaterialized(spark)
        Map("name" -> op.name, "kind" -> op.kind, "ok" -> ok, "error" -> err,
          "start_ms" -> Clock.ms(t0), "end_ms" -> Clock.ms(t1),
          "thread_cpu_s" -> cpu1, "alloc_mb" -> alloc1, "jit_s" -> (jit1 - jit0),
          "phases" -> ctx.phases.map(ph => Map("id" -> ph.id, "name" -> ph.name,
            "start_ms" -> ph.startMs, "end_ms" -> ph.endMs)).toSeq,
          "extra" -> ctx.extra.toMap, "problems" -> ctx.problems.toSeq)
      }
      val events = rec.map { r =>
        org.apache.spark.PerfbenchBus.drain(sc, 60000L)
        sc.removeSparkListener(r)
        spark.listenerManager.unregister(r)
        r.drain()
      }
      val gcS = (gcMs() - gc0) / 1000.0
      // Full collections after every pass, outside the timed region: each
      // pass starts from the same heap, and the heap it leaves shows what
      // the program retains. The second one runs after Spark's
      // ContextCleaner has dropped the blocks of the broadcasts and RDDs
      // that the first one found unreachable.
      System.gc()
      Thread.sleep(250)
      System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      Map("pass" -> p, "traced" -> rec.isDefined,
        "gc_s" -> gcS, "heap_after_mb" -> heapMb,
        "classes_loaded" -> (ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount - classes0),
        "ops" -> ops) ++ events.map("events" -> _)
    }

    // The untimed warm pass pays class loading, codegen and cold caches,
    // about 1.2 to 2 times a later pass (the first merge in a JVM too), and
    // digests the query outputs. With the JIT limited to C1 (see run.py)
    // the pass after it is within about 10% of the ones that follow.
    val warmPasses = if (trace) WarmPasses + 1 else WarmPasses
    val warm = (0 until warmPasses).map(p => runPass(p, checkPass = p == 0, None))
    step("warm")
    // Timed passes: at least MinTimedPasses, then more while the next one is
    // predicted to end within `seconds`. A traced run interleaves untraced
    // and traced passes as U T T U ..., at least four, so the tracing
    // overhead is measured on the same JVM and inputs and a linear drift
    // across passes (JIT warm-up, table growth) cancels out.
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def jvmS = (System.nanoTime() - jvmStart) / 1e9
    val minPasses = if (trace) 4 else MinTimedPasses
    var p = warmPasses
    while (passes.size < minPasses ||
        (elapsed * (passes.size + 1) / passes.size <= seconds && jvmS < HardStopS)) {
      val i = p - warmPasses
      val traced = trace && (i % 4 == 1 || i % 4 == 2)
      passes += runPass(p, checkPass = false, if (traced) Some(new Recorder) else None)
      p += 1
    }
    step("timed")
    val finalProblems = try w.finalCheck() catch { case e: Throwable =>
      Seq(s"final check failed: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val out = Map("workload" -> workload, "seed" -> seed, "trace" -> trace,
      "setup_s" -> setupS, "measured_s" -> elapsed,
      "warm" -> warm, "passes" -> passes.toSeq, "final_problems" -> finalProblems,
      "peak_rss_mb" -> peakRssMb(), "steps_uptime_s" -> { step("final"); steps.toMap })
    spark.stop()
    out
  }
}
