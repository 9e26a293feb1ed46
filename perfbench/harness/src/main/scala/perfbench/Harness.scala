package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.dedup.DedupCache

/** Closed-loop, single-client runner for one workload. Reads the inputs
  * the Python side generated, sets up `setupReps` times, runs a fixed
  * number of ops, then writes a raw result JSON (op latencies, process
  * cpu, retained heap, per-layer metrics when traced) for `run.py` to
  * check and summarize.
  *
  * Usage: Harness <workload> <inputsDir> <workDir> <ops> <capSeconds>
  *   <trace 0|1> <threads> <setupReps> <resultJson>
  */
object Harness {

  final class Ctx(val spark: SparkSession, val tr: Tracer, val inputs: String,
      val work: String, val nOps: Int, val capSeconds: Double, val setupReps: Int) {
    val setupS = mutable.ArrayBuffer[Double]()
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val extra = mutable.LinkedHashMap[String, Any]()
    val layers = mutable.LinkedHashMap[String, Double]()
    val errors = mutable.ArrayBuffer[String]()
    var failed = 0
    var capped = false
    var scratchPeak = 0L
    var timedStart = 0L
    var timedEnd = 0L
    var cpuStart = 0L
    var cpuEnd = 0L
    /** Closed loop over the same `nOps` ops whatever the program's speed,
      * so every program measures the same work. No op starts after
      * `capSeconds`, a guard only a much slower program reaches. */
    def more(done: Int): Boolean = done < nOps && {
      capped = (System.nanoTime() - timedStart) / 1e9 >= capSeconds
      !capped
    }
    private var jvmMs = (0L, 0L)
    /** Records a finished op with the JIT and GC time since the previous
      * one; in a traced phase, also samples the scratch on disk, before
      * Spark's cleaner drops the op's shuffle files. */
    def done(op: Map[String, Any]): Unit = {
      val (jit, gc) = jvmTimesMs()
      ops += op ++ Map("jit_ms" -> (jit - jvmMs._1), "gc_ms" -> (gc - jvmMs._2))
      jvmMs = (jit, gc)
      if (tr.active) scratchPeak = math.max(scratchPeak, scratchBytes(spark)._1)
    }
    def beginTimed(): Unit = {
      jvmMs = jvmTimesMs(); cpuStart = cpuNs(); timedStart = System.nanoTime()
    }
    def endTimed(): Unit = { timedEnd = System.nanoTime(); cpuEnd = cpuNs() }
    /** The timed phases: untraced, then (with tracing on) the same ops
      * again on fresh state, traced. */
    def phases: Seq[Boolean] = if (tr.enabled) Seq(false, true) else Seq(false)
    def fail(where: String, e: Throwable): Unit = {
      failed += 1
      errors += s"$where: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    }
  }

  /** Total JIT compilation and GC time of this JVM so far, in ms. */
  def jvmTimesMs(): (Long, Long) = (
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum)

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Copies a directory tree (a landed table) to `to`. */
  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.toList.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, nOps, cap, trace, threads, reps, out) = args
    val n = threads.toInt
    val spark = graft.GraftSession(s"local[$n]", n)
    val ready = System.currentTimeMillis()
    val ctx = new Ctx(spark, new Tracer(spark.sparkContext, trace == "1"), inputs, work,
      nOps.toInt, cap.toDouble, reps.toInt)
    workload match {
      case "integrate" => Integrate.run(ctx)
      case "crawl_delta" => CrawlDelta.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    // retained heap: what the timed phase left reachable. Spark's
    // ContextCleaner drops the blocks of unreachable RDDs asynchronously
    // after a GC finds them, so collect, let it run, collect again.
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(200); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    ctx.layers ++= stateMetrics(ctx)
    if (ctx.tr.enabled) {
      writeJson(Paths.get(work, "spans.json"), ctx.tr.dump)
    }
    val result = Map(
      "workload" -> workload,
      "session_ready_ms" -> ready,
      "setup_reps_s" -> ctx.setupS.toSeq,
      "timed_s" -> (ctx.timedEnd - ctx.timedStart) / 1e9,
      "cpu_s" -> (ctx.cpuEnd - ctx.cpuStart) / 1e9,
      "heap_retained_mb" -> heapMb,
      "ops" -> ctx.ops.toSeq,
      "failed" -> ctx.failed,
      "capped" -> ctx.capped,
      "errors" -> ctx.errors.toSeq,
      "extra" -> ctx.extra.toMap,
      "layers" -> ctx.layers.toMap,
      "stamp" -> Map(
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "master" -> spark.sparkContext.master,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "available_processors" -> Runtime.getRuntime.availableProcessors()))
    writeJson(Paths.get(out), result)
    spark.stop()
  }

  /** Scratch on disk as (total, Spark's local dir, JVM temp dir). The
    * local dir holds the block manager's shuffle files and disk-backed
    * checkpoint blocks; the temp dir, the session's warehouse. */
  def scratchBytes(spark: SparkSession): (Long, Long, Long) = {
    val local = spark.sparkContext.getConf.get("spark.local.dir").split(",")
      .map(d => liveBytes(Paths.get(d.trim))).sum
    val tmp = liveBytes(Paths.get(sys.props("java.io.tmpdir")))
    (local + tmp, local, tmp)
  }

  /** Process-lifetime state left behind by the timed phase, after GC.
    * `state.scratch_bytes` is the peak over traced ops: the cleaner
    * deletes shuffle files once a GC finds them unreachable. */
  def stateMetrics(ctx: Ctx): Map[String, Double] = {
    val sc = ctx.spark.sparkContext
    val blocks = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val (total, local, tmp) = scratchBytes(ctx.spark)
    Map(
      "state.memo_entries" -> DedupCache.size.toDouble,
      "state.blocks_held_bytes" -> blocks.toDouble,
      "state.scratch_bytes" -> ctx.scratchPeak.toDouble,
      "state.scratch_retained_bytes" -> total.toDouble,
      "state.local_dir_retained_bytes" -> local.toDouble,
      "state.tmpdir_retained_bytes" -> tmp.toDouble)
  }

  // ------------------------------------------------------------ file helpers

  def dirFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  def dirBytes(p: Path): Long = dirFiles(p).map(Files.size).sum

  /** [[dirBytes]] of a tree Spark's cleaner may be deleting from: walk
    * again when a file vanishes mid-walk. */
  @annotation.tailrec
  def liveBytes(p: Path): Long = {
    val n = try Some(dirBytes(p)) catch {
      case _: java.io.UncheckedIOException | _: java.nio.file.NoSuchFileException => None
    }
    n match { case Some(b) => b case None => liveBytes(p) }
  }

  def dataFiles(p: Path): Seq[Path] = dirFiles(p).filter { f =>
    val n = f.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
  }

  def readJson(p: String): JValue =
    JsonMethods.parse(new String(Files.readAllBytes(Paths.get(p)), "UTF-8"))

  def writeJson(p: Path, v: AnyRef): Unit =
    Files.write(p, Serialization.write(v)(DefaultFormats).getBytes("UTF-8"))

  /** The workload's set-up calls, repeated `setupReps` times and timed
    * per repetition (the result reports their median). */
  def timeSetup(ctx: Ctx)(rep: Int => Unit): Unit =
    (0 until ctx.setupReps).foreach { r =>
      val t0 = System.nanoTime()
      rep(r)
      ctx.setupS += (System.nanoTime() - t0) / 1e9
    }

  /** Waits, up to 15 s, until the JIT compiles less than 10 ms in half a
    * second, so the timed ops do not pay for compiling what the warm-up
    * made hot. */
  def settle(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 15000000000L
    var last = jit.getTotalCompilationTime
    var busy = true
    while (busy && System.nanoTime() < deadline) {
      Thread.sleep(500)
      val now = jit.getTotalCompilationTime
      busy = now - last >= 10
      last = now
    }
  }

  /** Set-up work done once per run (warm-up ops, initial state); its
    * time adds to the set-up total. Warm-up ops run on inputs the timed
    * phase never sees, so timed ops run on a warm JVM without finding
    * their own results cached. */
  def setupOnce[A](ctx: Ctx)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = body
    val prev = ctx.extra.getOrElse("setup_once_s", 0.0).asInstanceOf[Double]
    ctx.extra("setup_once_s") = prev + (System.nanoTime() - t0) / 1e9
    a
  }
}
